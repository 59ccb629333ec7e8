package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming-at-scale receipt — the round-14 advice item: the stateful
  * twins are spec-proven at toy cardinality; this main replays a
  * ~million-row file stream through two of them and records the
  * operational numbers a fleet operator actually watches
  * (StreamingQueryProgress): per-trigger wall, input rows/sec, and
  * state-store row/byte ceilings.
  *
  * Legs:
  *   - `neardedup` — [[StreamingMetrics.streamNearDedup]]: stream-static
  *     band join against the sf0.1 base corpus signatures + exact
  *     verify + `dropDuplicatesWithinWatermark`. State = the emitted
  *     pair horizon only (watermark-bounded), never the corpus.
  *   - `kmv` — [[StreamingMetrics.streamKmvSketch]]: per-source KMV
  *     distinct sketch via `flatMapGroupsWithState`; state = K mins per
  *     source, O(sources·K) regardless of stream length.
  *
  * Usage (direct JVM or sbt):
  *   tools/run_main.sh graft.streaming.StreamScaleProbe \
  *     <scaleDocsDir> <baseSfDir> [nRows=1000000] [filesPerTrigger=8]
  * Prints one JSON line per leg. The replay dir is derived
  * deterministically from the corpus (doc_id < nRows, 1 ms event-time
  * spacing, 32 files) and reused if present.
  */
object StreamScaleProbe {

  private case class LegStats(rows: Long, triggers: Int, wallSec: Double,
                              maxBatchMs: Long, stateRowsMax: Long,
                              stateBytesMax: Long, outRows: Long,
                              phaseMaxMs: Map[String, Long],
                              triggerMs: Seq[Long])

  private def drain(q: StreamingQuery, t0: Long,
                    outCount: => Long): LegStats = {
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val progs = q.recentProgress.filter(_.numInputRows > 0)
    val state = progs.flatMap(_.stateOperators)
    val out = outCount
    q.stop()
    // per-phase ceilings (addBatch = the actual joins/aggregation work;
    // walCommit/commitOffsets = checkpoint fsyncs; queryPlanning = the
    // per-micro-batch IncrementalExecution replan) — the breakdown that
    // says whether a slow trigger is operator work or engine overhead
    val phases = progs.flatMap { p =>
      import scala.jdk.CollectionConverters._
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    // the full per-trigger series (arrival order): lets a reader split
    // first-trigger warmup (broadcast build, codegen) from steady state
    // and spot an ambient-load spike hitting one isolated trigger
    val perTrigger = progs.map(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.longValue)
        .getOrElse(0L)).toSeq
    LegStats(
      rows = progs.map(_.numInputRows).sum,
      triggers = progs.length,
      wallSec = wall,
      maxBatchMs = perTrigger.foldLeft(0L)(math.max),
      stateRowsMax = state.map(_.numRowsTotal).foldLeft(0L)(math.max),
      stateBytesMax = state.map(_.memoryUsedBytes).foldLeft(0L)(math.max),
      outRows = out,
      phaseMaxMs = phases,
      triggerMs = perTrigger)
  }

  private def json(leg: String, n: Long, s: LegStats): String = {
    val ph = s.phaseMaxMs.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    // "warmed": both legs run one untimed single-file micro-batch first
    // (codegen + static-side build excluded from the timed series), so
    // wall_sec/rows_per_sec are steady-state figures — NOT comparable to
    // the r15/r16 receipts, whose leg-1 trigger 1 carried compilation
    f"""{"probe":"stream_scale","leg":"$leg","n_requested":$n,"warmed":true,""" +
      f""""rows":${s.rows},"triggers":${s.triggers},""" +
      f""""wall_sec":${s.wallSec}%.1f,""" +
      f""""rows_per_sec":${s.rows / math.max(s.wallSec, 1e-9)}%.0f,""" +
      f""""max_trigger_ms":${s.maxBatchMs},""" +
      f""""state_rows_max":${s.stateRowsMax},""" +
      f""""state_bytes_max":${s.stateBytesMax},"out_rows":${s.outRows},""" +
      f""""trigger_ms":${s.triggerMs.mkString("[", ",", "]")},""" +
      f""""phase_max_ms":$ph}"""
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: StreamScaleProbe <scaleDocsDir> <baseSfDir> [nRows] [filesPerTrigger]")
    val scaleDir = args(0)
    val baseDir = args(1)
    val nRows = if (args.length > 2) args(2).toLong else 1000000L
    val fpt = if (args.length > 3) args(3).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession(cpus)

    // deterministic replay dir: nRows docs, 1 ms event-time spacing,
    // `files` parquet files => ceil(files/fpt) triggers. FILE COUNT IS
    // THE PARALLELISM LEVER: a micro-batch's pre-shuffle stage gets one
    // task per input file, so 32 files at fpt=8 ran the signature
    // compute as 8 tasks of ~31 k docs (~6 s/task — the real cause of
    // the 8-9 s triggers across r15/r16 probes, NOT the static side:
    // the phase breakdown pinned addBatch and the cost was invariant to
    // rows/trigger). 256 files at fpt=64 keeps the same 250 k
    // rows/trigger as ~4 k-doc tasks — ingestion file sizing is exactly
    // the knob a fleet deployment turns.
    val files = if (args.length > 4) args(4).toInt else 256
    // ... and file PACKING is the other half of the same lever: the file
    // source coalesces small files up to maxPartitionBytes (128 MB
    // default), so even a 256-file replay planned ~2 tasks per 140 MB
    // trigger. 4 MB splits put a 250 k-row trigger at ~35 tasks — the
    // compute actually fans out across the box.
    spark.conf.set("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
    val replay = new java.io.File(
      s"target/stream_replay_${nRows}_f$files").getAbsolutePath
    if (!new java.io.File(s"$replay/_SUCCESS").exists()) {
      spark.read.parquet(s"$scaleDir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
        .filter(col("doc_id") < nRows)
        .withColumn("ts_us", col("doc_id") * 1000L)
        .repartition(files)
        .write.mode("overwrite").parquet(replay)
    }
    val schema = spark.read.parquet(replay).schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", fpt).parquet(replay)
    def ckpt(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"ssp-$tag")
      d.toString
    }

    // leg 1: ingestion near-dedup against the static base corpus
    val base = graft.Tables(spark, baseDir, "documents")
      .select(col("doc_id"), col("text"))
    // Codegen/JIT warmup (round 17, the §1 methodology every timed main
    // here already follows — Bench/PlanCost warm on sf0.001 first): the
    // probe's first trigger used to carry whole-stage-codegen compilation
    // of the verify pipeline plus the first broadcast build — a fixed
    // ~2 s invariant to rows-per-trigger (r16/r17 series: trigger 1 at
    // 4.2-4.4 s vs 1.7-2.9 s steady state) — which made max_trigger_ms
    // report compiler latency, not ingestion. Run the IDENTICAL query
    // over one replay file first, untimed: codegen classes and the
    // persisted static side (CacheManager dedupes the identical logical
    // plan) are then warm, and the timed leg measures steady-state
    // triggers. Every per-trigger time still lands in the receipt, so a
    // reader can see there is no hidden cold tail.
    // warm dir: ONE replay file, rebuilt fresh each run (delete+recopy —
    // a stale copy from a previous differently-shaped replay would replay
    // the wrong file or fail on a schema change)
    val warmDir = locally {
      val fs = Option(new java.io.File(replay).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      require(fs.nonEmpty, s"replay dir $replay holds no parquet files")
      val f0 = fs.min
      val d = new java.io.File(s"$replay-warm1")
      // recursive, and throws if anything is left: a flat per-file
      // delete skipped subdirectories and ignored failed deletes, so the
      // copy below could land next to (or fail on) a stale file
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
      val tgt = new java.io.File(d, new java.io.File(f0).getName)
      java.nio.file.Files.createDirectories(d.toPath)
      java.nio.file.Files.copy(java.nio.file.Paths.get(f0), tgt.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      d.getAbsolutePath
    }
    locally {
      val w = StreamingMetrics.streamNearDedup(
          spark.readStream.schema(schema).parquet(warmDir)
            .select(col("doc_id"), col("text"), col("ts_us")),
          base)
        .writeStream.outputMode("append").format("memory")
        .queryName("ssp_nd_warm").option("checkpointLocation", ckpt("ndw"))
        .start()
      // one micro-batch (the single copied file) compiles every stage
      w.processAllAvailable(); w.stop()
    }
    val t1 = System.nanoTime()
    val q1 = StreamingMetrics.streamNearDedup(
        stream().select(col("doc_id"), col("text"), col("ts_us")), base)
      .writeStream.outputMode("append").format("memory")
      .queryName("ssp_neardedup").option("checkpointLocation", ckpt("nd"))
      .start()
    println(json("neardedup", nRows,
      drain(q1, t1, spark.table("ssp_neardedup").count())))

    // leg 2: per-source KMV distinct sketch (48-bit doc fingerprints)
    import spark.implicits._
    def kmvOver(src: org.apache.spark.sql.DataFrame) =
      StreamingMetrics.streamKmvSketch(src
        .select(col("source"),
          expr("conv(substr(md5(CAST(text AS BINARY)), 1, 12), 16, 10)")
            .cast("long").as("h"))
        .as[StreamingMetrics.KmvRow])
    // same warmup methodology as leg 1 (round 18 — previously only leg 1
    // was warmed, so the two legs' receipts measured different things)
    locally {
      val w = kmvOver(spark.readStream.schema(schema).parquet(warmDir))
        .writeStream.outputMode("append").format("memory")
        .queryName("ssp_kmv_warm").option("checkpointLocation", ckpt("kmvw"))
        .start()
      w.processAllAvailable(); w.stop()
    }
    val t2 = System.nanoTime()
    val q2 = kmvOver(stream())
      .writeStream.outputMode("append").format("memory")
      .queryName("ssp_kmv").option("checkpointLocation", ckpt("kmv"))
      .start()
    println(json("kmv", nRows, drain(q2, t2, spark.table("ssp_kmv").count())))

    spark.stop()
  }
}
