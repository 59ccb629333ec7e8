package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{Q, SparkEntry, Tables}
import graft.book.{BookMetrics, BookQueries, BookSql, SyntheticBook}
import graft.impact.ImpactQueries
import graft.io.BookIO
import graft.jobs.MetricsJob
import graft.streaming.StreamingMetrics
import graft.streaming.StreamingMetrics.{BarTick, VpinTick}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** Benchmark harness that runs inside one JVM: times the Spark session
  * set-up several times, runs the first pass (whose outputs are written
  * for the checks), then a fixed number of timed passes.
  *
  * Writes one JSON record of raw measurements; all statistics are
  * computed by `run.py`.
  *
  * Arguments (all required): --workload --data --work --out --seconds --trace
  */
object Harness {

  /** `local[Cores]`; `Tables.localSession` sets the shuffle partitions to
    * the same number.
    */
  val Cores = 4
  /** Set-ups per run: the first is cold (class loading, JIT), the rest warm. */
  val Setups = 3
  /** Wall seconds of a typical pass: `--seconds` over it, rounded, is the
    * number of timed passes, so that number depends only on `--seconds`,
    * never on how fast the program runs. The first pass is the only
    * untimed warm-up (README.md: budget).
    */
  val NominalPassS = 7.0

  final case class Conf(workload: String, data: String, work: String, out: String,
                        seconds: Double, trace: Boolean)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble, m("trace") == "1")
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
    .toSeq

  /** Starts a new peak interval of the old generation. */
  private def resetPeakHeap(): Unit = oldGen.foreach(_.resetPeakUsage())

  /** Peak old-generation use since the last reset: the high-water mark of
    * objects that outlived a young collection during the pass.
    */
  private def peakOldBytes(): Long = oldGen.map(_.getPeakUsage.getUsed).sum

  /** Heap in use after a full collection: the state a pass leaves behind. */
  private def liveHeapBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def progressRecord(p: StreamingQueryProgress): Map[String, Any] = Map(
    "run_id" -> p.runId.toString, "batch" -> p.batchId,
    "rows" -> p.numInputRows,
    "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
    "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
    "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)

  private def dirBytes(f: File): (Int, Long) =
    if (!f.exists()) (0, 0L)
    else if (f.isFile) (1, f.length())
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes)
      .foldLeft((0, 0L)) { case ((n, b), (n2, b2)) => (n + n2, b + b2) }

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  /** Context handed to a workload: session, tracer and run settings. */
  final class Ctx(val spark: SparkSession, val t: Tracer, val conf: Conf) {
    def dataPath(name: String): String = s"${conf.data}/$name"
    /** Wall time of every call of the current pass (build plus action). */
    val callMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

    /** Where the current pass writes its outputs for the check; None for
      * passes whose outputs go to the noop sink.
      */
    var dump: Option[String] = None

    /** Build span around a call into a layer, exec span around the action:
      * a noop write (the whole plan runs, nothing is kept), or a parquet
      * write of the result to `dump/out` on the checked pass.
      */
    def runCall(name: String, out: String)(build: => DataFrame): Unit = t.span(name, "call") {
      val t0 = System.nanoTime()
      val df = t.span(name, "build")(build)
      t.span(name, "exec")(dump match {
        case Some(d) => df.write.mode("overwrite").parquet(s"$d/$out")
        case None => df.write.format("noop").mode("overwrite").save()
      })
      callMs += (System.nanoTime() - t0) / 1e6
      if (t.enabled) {
        val infos = spark.sparkContext.getRDDStorageInfo
        t.attr("cache_blocks", infos.map(_.numCachedPartitions).sum)
        t.attr("cache_bytes", infos.map(i => i.memSize + i.diskSize).sum)
      }
      spark.catalog.clearCache()
    }
  }

  /** One workload: the inputs registered during set-up, an optional
    * untimed preparation, the pass, and the check of the first pass's
    * outputs.
    */
  trait Workload {
    def tables: Seq[String]
    def recording: Boolean = false
    def prepare(c: Ctx): Unit = ()
    def pass(c: Ctx, id: Int): Unit
    /** Writes the oracle SQL of every dumped output under `dump`;
      * returns the checks made inside the JVM.
      */
    def check(c: Ctx, dump: String): Map[String, Any]
  }

  private def writeOracle(dump: String, oracle: collection.Map[String, String]): Unit =
    Files.write(Paths.get(dump, "oracle_sql.json"), Json(oracle).getBytes("UTF-8"))

  /** The paper's core path: the metrics job over the many-series
    * recording (per-row Column expressions and Window operators), the
    * book/impact queries that stand for its other time sinks (the
    * deep-book `functions` kernel, AsOf joins), and the streaming
    * twins of q176/q181 replaying the book into file sinks.
    */
  object LobScaled extends Workload {
    val depth = 10
    val rvWindow = 20
    val tables = Seq("events")
    override def recording = true
    val names = Seq("q50_deep_book_array", "q25_asof_match")
    def queries: Seq[Q] = {
      val byName = (BookQueries.all ++ ImpactQueries.all).map(q => q.name -> q).toMap
      names.map(byName)
    }

    override def prepare(c: Ctx): Unit = StreamLeg.prepare(c)

    def pass(c: Ctx, id: Int): Unit = {
      c.runCall("jobs.MetricsJob.run", "metrics_job")(
        MetricsJob.run(c.spark, c.dataPath("recording.parquet"), depth, rvWindow))
      queries.foreach(q => c.runCall(s"query.${q.name}", q.name)(q.run(c.spark, c.conf.data)))
      StreamLeg.pass(c, id)
    }

    def check(c: Ctx, dump: String): Map[String, Any] = {
      val oracle = mutable.Map(queries.flatMap(q => q.oracle.map(q.name -> _)): _*)
      // q11's row-metric formulas (its DuckDB mirror), at the recording's depth
      oracle("metrics_job") =
        s"""SELECT raw_nonce, ${BookSql.spread} AS spread, ${BookSql.mid} AS mid,
           |${BookSql.relSpreadBpsStrict} AS relative_spread_bps,
           |${BookSql.microprice} AS microprice,
           |${BookSql.micropriceImbalanceBps} AS microprice_imbalance_bps,
           |${BookSql.imbalanceL1} AS imbalance_l1,
           |${BookSql.imbalanceDepthK(depth)} AS imbalance_k,
           |${BookSql.notionalDepth("bid", depth)} AS notional_bid_k,
           |${BookSql.notionalDepth("ask", depth)} AS notional_ask_k
           |FROM recording ORDER BY raw_nonce""".stripMargin
      writeOracle(dump, oracle)
      StreamLeg.check(c)
    }
  }

  object CatalogIterative extends Workload {
    val tables = Seq("embeddings", "documents")
    val names = Seq("q161_graph_beam_search", "q165_knn_label_propagation",
      "q177_dup_graph_triangles")
    private def queries = {
      val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
      names.map(byName)
    }

    def pass(c: Ctx, id: Int): Unit =
      queries.foreach(q => c.runCall(s"query.${q.name}", q.name)(q.run(c.spark, c.conf.data)))

    def check(c: Ctx, dump: String): Map[String, Any] = {
      writeOracle(dump, queries.flatMap(q => q.oracle.map(q.name -> _)).toMap)
      Map.empty
    }
  }

  /** Streaming leg of [[LobScaled]]: replays the generated book as a
    * fixed backlog of parquet files through the streaming twins of q176
    * and q181 into file sinks (fresh checkpoints every pass, drained with
    * `Trigger.AvailableNow` and a fixed files-per-trigger, so every pass
    * runs the same batches), then reads the sinks back through BookIO and
    * writes each twin's final rows.
    */
  object StreamLeg {
    val files = 2
    val filesPerTrigger = 1
    private val barEnc = Encoders.product[BarTick]
    private val vpinEnc = Encoders.product[VpinTick]
    private var lastPass = -1
    /** The pass whose sinks are kept and checked: the first one. */
    private val checkedPass = 0

    private def root(c: Ctx) = s"${c.conf.work}/stream"
    private def backlog(c: Ctx) = s"${root(c)}/backlog"

    def prepare(c: Ctx): Unit = {
      val spark = c.spark
      // q176/q181's own tick derivation, in seq order
      val ticks = SyntheticBook.fromEvents(Tables(spark, c.conf.data, "events"), 5)
        .withColumn("mid", BookMetrics.mid(col("best_bid"), col("best_ask")))
        .filter(col("mid").isNotNull)
        .select(col("sym"), col("seq"), expr("ts_us div 3600000000").as("bar"), col("mid"),
          (coalesce(col("bid1_size"), lit(0.0)) + coalesce(col("ask1_size"), lit(0.0)))
            .cast("long").as("vol"))
        .orderBy("seq")
      val rows = ticks.collect()
      val schema = ticks.schema
      val per = (rows.length + files - 1) / files
      val dir = new File(backlog(c)); dir.mkdirs()
      val base = System.currentTimeMillis() - 3600000L
      rows.grouped(per).zipWithIndex.foreach { case (slice, i) =>
        val tmp = s"${root(c)}/tmp-$i"
        spark.createDataFrame(slice.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new File(tmp).listFiles().find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
        val dst = new File(dir, f"b$i%04d.parquet")
        Files.move(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
        // the file source takes files in modification-time order
        dst.setLastModified(base + i * 1000L)
        deleteRec(new File(tmp))
      }
    }

    private def drain(c: Ctx, name: String, ds: DataFrame, id: Int): Unit = {
      val sink = s"${root(c)}/$name-$id.parquet"
      val q = c.t.span(name, "exec") {
        val q = ds.writeStream.format("parquet")
          .option("checkpointLocation", s"${root(c)}/$name-$id.ckpt")
          .option("path", sink)
          .trigger(Trigger.AvailableNow())
          .start()
        c.t.bindGroup(q.runId.toString)
        q.awaitTermination()
        q
      }
      StreamLeg.progress ++= q.recentProgress.map(progressRecord)
    }

    val progress: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty

    private def source(c: Ctx): DataFrame =
      c.spark.readStream.schema(barEnc.schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toLong)
        .parquet(backlog(c))

    /** Reads a sink back through BookIO and keeps each key's final row. */
    private def consolidate(c: Ctx, name: String, id: Int,
                            keys: Seq[String], order: Seq[String]): Unit = {
      val raw = c.t.span("io.BookIO.readAny", "build")(
        BookIO.readAny(c.spark, s"${root(c)}/$name-$id.parquet"))
      val others = raw.columns.filterNot(keys.contains)
      val fin = raw.groupBy(keys.map(col): _*)
        .agg(max_by(struct(others.map(col): _*), struct(order.map(col): _*)).as("r"))
        .select((keys.map(col) :+ col("r.*")): _*)
      c.t.span("io.BookIO.writeAnyWithFallback", "exec")(
        BookIO.writeAnyWithFallback(fin, s"${root(c)}/$name-final-$id.parquet"))
    }

    def pass(c: Ctx, id: Int): Unit = {
      c.t.span("streaming.bars", "call") {
        val ds = c.t.span("StreamingMetrics.streamOhlcBars", "build")(
          StreamingMetrics.streamOhlcBars(source(c).as(barEnc)).toDF())
        drain(c, "bars", ds, id)
      }
      c.t.span("streaming.vpin", "call") {
        val ds = c.t.span("StreamingMetrics.streamVpin", "build")(
          StreamingMetrics.streamVpin(source(c).select("sym", "seq", "mid", "vol").as(vpinEnc))
            .toDF())
        drain(c, "vpin", ds, id)
      }
      c.t.span("io.consolidate", "call") {
        consolidate(c, "bars", id, Seq("sym", "bar"), Seq("nTicks"))
        consolidate(c, "vpin", id, Seq("sym", "bucket"), Seq("finalized", "bucketVol"))
      }
      if (c.t.enabled) {
        val written = Seq("bars", "vpin").flatMap(n => Seq(s"$n-$id.parquet", s"$n-final-$id.parquet"))
          .map(p => dirBytes(new File(s"${root(c)}/$p"))._2).sum
        c.t.attr("io_write_bytes", written)
      }
      // the previous pass's sinks and checkpoints are no longer needed
      if (lastPass > checkedPass) Seq("bars", "vpin").foreach { n =>
        Seq(s"$n-$lastPass.parquet", s"$n-$lastPass.ckpt", s"$n-final-$lastPass.parquet")
          .foreach(p => deleteRec(new File(s"${root(c)}/$p")))
      }
      lastPass = id
    }

    def check(c: Ctx): Map[String, Any] = {
      val id = checkedPass
      val spark = c.spark
      def rows(p: String) = spark.read.parquet(s"${root(c)}/$p").collect()
      val bars = rows(s"bars-final-$id.parquet").map { r =>
        (r.getAs[String]("sym"), r.getAs[Long]("bar")) ->
          Seq(r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
            r.getAs[Double]("close"), r.getAs[Long]("nTicks"), r.getAs[Long]("l1Volume"),
            Option(r.getAs[java.lang.Double]("barVwap")).map(_.doubleValue()))
      }.toMap
      val q176 = SparkEntry.queries("q176_ohlc_bars")(spark, c.conf.data).collect().map { r =>
        (r.getAs[String]("sym"), r.getAs[Long]("bar")) ->
          Seq(r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
            r.getAs[Double]("close"), r.getAs[Long]("n_ticks"), r.getAs[Long]("l1_volume"),
            Option(r.getAs[java.lang.Double]("bar_vwap")).map(_.doubleValue()))
      }.toMap
      val vpin = rows(s"vpin-final-$id.parquet").map { r =>
        (r.getAs[String]("sym"), r.getAs[Long]("bucket")) ->
          Seq(r.getAs[Long]("buyVol"), r.getAs[Long]("sellVol"), r.getAs[Long]("imbalance"),
            r.getAs[Long]("bucketVol"),
            Option(r.getAs[java.lang.Long]("vpinPermille")).map(_.longValue()))
      }.toMap
      val q181 = SparkEntry.queries("q181_vpin_toxicity")(spark, c.conf.data).collect().map { r =>
        (r.getAs[String]("sym"), r.getAs[Long]("bucket")) ->
          Seq(r.getAs[Long]("buy_vol"), r.getAs[Long]("sell_vol"), r.getAs[Long]("imbalance"),
            r.getAs[Long]("bucket_vol"),
            Option(r.getAs[java.lang.Long]("vpin_permille")).map(_.longValue()))
      }.toMap
      spark.catalog.clearCache()
      def diff[K, V](a: Map[K, V], b: Map[K, V]) = (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k))
      Map(
        "stream_bars_vs_q176" -> Map("rows" -> q176.size, "mismatched" -> diff(bars, q176)),
        "stream_vpin_vs_q181" -> Map("rows" -> q181.size, "mismatched" -> diff(vpin, q181)))
    }
  }

  /** Reads and decodes every column of every row once. */
  private def scanAll(df: DataFrame): Unit =
    df.selectExpr("bit_xor(xxhash64(*))").collect()

  /** Session start plus the first read and registration of every input. */
  private def setup(conf: Conf, w: Workload, traced: Boolean,
                    listener: EngineListener): (SparkSession, Tracer) = {
    val spark = Tables.localSession(Cores)
    spark.sparkContext.setCheckpointDir(s"${conf.work}/ckpt")
    val t = new Tracer(spark.sparkContext)
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener.queryListener)
      listener.enabled = true
      t.enabled = true
    }
    t.span("setup", "pass") {
      w.tables.foreach { name =>
        val df = t.span("Tables.apply", "build")(Tables(spark, conf.data, name))
        df.createOrReplaceTempView(name)
        t.span("Tables.apply", "exec")(scanAll(df))
      }
      if (w.recording) {
        val df = t.span("io.BookIO.readAny", "build")(
          BookIO.readAny(spark, s"${conf.data}/recording.parquet"))
        df.createOrReplaceTempView("recording")
        t.span("io.BookIO.readAny", "exec")(scanAll(df))
      }
    }
    (spark, t)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val w: Workload = conf.workload match {
      case "lob_scaled" => LobScaled
      case "catalog_iterative" => CatalogIterative
    }
    new File(conf.work).mkdirs()
    val listener = new EngineListener
    val out = mutable.LinkedHashMap[String, Any]("workload" -> conf.workload, "cores" -> Cores)

    // set-up, repeated; every repetition but the last is torn down again
    val setups = mutable.ArrayBuffer.empty[Double]
    var session: (SparkSession, Tracer) = null
    for (i <- 1 to Setups) {
      val last = i == Setups
      val t0 = System.nanoTime()
      session = setup(conf, w, conf.trace && last, listener)
      val wall = (System.nanoTime() - t0) / 1e9
      if (!last) {
        session._1.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      setups += wall
    }
    val (spark, t) = session
    out("setup_s") = setups.toSeq
    System.err.println(setups.map(s => f"$s%.3f").mkString("[perfbench] setup_s ", ",", ""))
    val ctx = new Ctx(spark, t, conf)
    val tp = System.nanoTime()
    w.prepare(ctx)
    if (conf.trace) listener.settle(spark.sparkContext)
    System.err.println(f"[perfbench] prepare ${(System.nanoTime() - tp) / 1e9}%.3f s")

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var failedMsg = Option.empty[String]
    def runPass(id: Int, kind: String, traced: Boolean): Unit = {
      t.enabled = traced; listener.enabled = traced; t.pass = id
      StreamLeg.progress.clear(); ctx.callMs.clear()
      resetPeakHeap()
      val (j0, g0, c0, w0) = (jitMs(), gcMs(), cpuNs(), System.nanoTime())
      val ok = try { t.span("pass", "pass")(w.pass(ctx, id)); true } catch {
        case NonFatal(e) =>
          failedMsg = Some(s"pass $id: ${e.getClass.getName}: ${e.getMessage}".take(2000))
          System.err.println(failedMsg.get); e.printStackTrace(); false
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      val (jit, gc) = (jitMs() - j0, gcMs() - g0)
      val peak = peakOldBytes()
      if (traced) listener.settle(spark.sparkContext)
      val ck = dirBytes(new File(s"${conf.work}/ckpt"))
      val live = liveHeapBytes()
      System.err.println(f"[perfbench] pass $id%d $kind%s wall=$wall%.3f s cpu=$cpu%.3f s " +
        f"jit=${jit / 1e3}%.1f s " +
        ctx.callMs.map(ms => f"$ms%.0f").mkString("calls(ms)=", ",", ""))
      passes += Map("id" -> id, "kind" -> kind, "traced" -> traced, "ok" -> ok,
        "wall_s" -> wall, "cpu_s" -> cpu, "jit_ms" -> jit, "gc_ms" -> gc,
        "peak_old_b" -> peak, "live_heap_b" -> live, "ckpt_files" -> ck._1, "ckpt_b" -> ck._2,
        "stream_progress" -> StreamLeg.progress.toSeq, "call_ms" -> ctx.callMs.toSeq)
    }

    val dump = s"${conf.work}/dump"
    new File(dump).mkdirs()
    var id = 0
    // the first pass writes its outputs for the check (as a one-shot job
    // writes its results); every later pass uses the noop sink
    ctx.dump = Some(dump)
    runPass(id, "first", conf.trace); id += 1
    ctx.dump = None
    // a fixed number of timed passes at fixed positions (passes 1..timed);
    // a traced run alternates traced and untraced passes (tracing overhead)
    val timed = math.max(2, math.round(conf.seconds / NominalPassS).toInt)
    for (n <- 0 until timed) { runPass(id, "timed", conf.trace && n % 2 == 0); id += 1 }

    // checks of the first pass's outputs, untimed
    t.enabled = false; listener.enabled = false
    val tc = System.nanoTime()
    val checks = try w.check(ctx, dump) catch {
      case NonFatal(e) =>
        failedMsg = Some(s"check: ${e.getClass.getName}: ${e.getMessage}".take(2000))
        e.printStackTrace(); Map("check_error" -> failedMsg.get)
    }
    System.err.println(f"[perfbench] check ${(System.nanoTime() - tc) / 1e9}%.3f s")
    out("passes") = passes.toSeq
    out("jvm_checks") = checks
    out("dump") = dump
    out("error") = failedMsg
    if (conf.trace) {
      out("spans") = t.spans.toSeq.map(_.toMap)
      out("group_alias") = t.groupAlias.toMap
      out ++= listener.drain()
    }
    Files.write(Paths.get(conf.out), Json(out).getBytes("UTF-8"))
    spark.stop()
  }
}
