package graft

import graft.io.{NioLocalFileSystem, NioLocalFs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Engine-wide contract: `events.ts` is a LONG of epoch-nanoseconds.
  * The driver's parquet has carried two physical encodings across rounds —
  * TIMESTAMP(NANOS) (readable as LONG via
  * `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(micros) (read as
  * timestamp/timestamp_ntz) — so [[apply]] normalizes any timestamp-typed
  * `ts` to epoch-nanos at load. DuckDB oracles keep using `epoch_us(ts)`
  * on the raw file, which agrees with `ts div 1000` here in both cases.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `spreadOk = true` opts a caller into the [[spread]] input-parallelism
    * floor. OPT-IN, per measured access pattern (round 17, min-of-3
    * same-window A/B at sf0.1):
    *   - single-pass CPU-dense scan consumers WIN big — per-row kernels
    *     (shingle/md5 folds over text, 64-dim dot products) directly above
    *     a 1-task scan are the wall-clock bound (q36 1.50→0.84 s, q54
    *     3.85→2.05, q147 2.51→0.62, q138 2.43→0.86, q113 2.57→1.55, q67
    *     1.81→0.99, q102 1.22→0.60);
    *   - light-per-row consumers LOSE — their heavy work already runs
    *     post-shuffle in parallel, so the extra exchange plus 32-way task
    *     fan-out of a tiny frame is pure cost (q51 0.43→1.04, q124
    *     0.59→1.23, q39 1.08→1.66);
    *   - iterative consumers (NN-descent/beam/LPA) LOSE — they join the
    *     small frame dozens of times and every tiny stage becomes
    *     cores-many tasks (q166 2.96→5.00, q161 2.15→3.70).
    * Only the measured winners opt in; the default leaves the scan alone.
    */
  def apply(spark: SparkSession, sfDir: String, name: String,
            spreadOk: Boolean = false): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // every query path may use the Exact fast-sum / ordered-dot kernels;
    // registration is an idempotent registry put, so doing it here keeps
    // call sites clean
    graft.functions.DecSum.ensureRegistered(spark)
    graft.functions.OrdDot.ensureRegistered(spark)
    graft.functions.JaroWinkler.ensureRegistered(spark)
    val df = normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))
    if (spreadOk) spread(df) else df
  }

  /** Input-parallelism floor (optimization guide §2.5, "input skew: one
    * huge unsplittable file ... repartition immediately after the read").
    *
    * The driver's test tables are single-row-group parquet files, so a
    * bare scan plans ONE non-empty task and every per-row expression
    * evaluated directly above it runs on one core while the other 31
    * idle (measured: q54's three Lloyd passes were 1-task stages of
    * 0.8–0.95 s each, CPU ≈ wall). When the scan plans fewer partitions
    * than the session's parallelism AND the frame is big enough for
    * per-row work to matter (≥ 256 KB — below that the added exchange
    * costs more than any compute it could spread), repartition
    * round-robin once right after the read. At any real deployment scale
    * (100 TB ⇒ tens of thousands of splits) `parts >= cores`, the gate
    * never fires, and the scan is untouched — this is a floor, not a
    * tuning constant. Values are unaffected: round-robin repartition is
    * deterministic under retries (sortBeforeRepartition, SPARK-23207)
    * and every catalog query is partition-count independent (the driver
    * re-runs the bench at a different core count). SPARK_GRAFT_SCAN_SPREAD=0
    * disables the floor (A/B measurement hook).
    *
    * Gate cost/caveat: `df.rdd.getNumPartitions` physically plans the
    * scan (no job runs — ms of driver work per opted-in load), and the
    * count it reads depends on session split confs
    * (`spark.sql.files.maxPartitionBytes` etc.), so a session that
    * lowers them (StreamScaleProbe sets 4 MB) can plan more splits and
    * not trip the floor — correct behavior (the scan is then already
    * parallel), noted so the gate's session-dependence is explicit.
    */
  def spread(df: DataFrame): DataFrame = {
    if (sys.env.get("SPARK_GRAFT_SCAN_SPREAD").contains("0")) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= 262144 && df.rdd.getNumPartitions < cores)
      df.repartition(cores)
    else df
  }

  /** Engine contract: `ts` is epoch-nano LONG. Converts a timestamp-typed
    * `ts` (micros-annotated parquet) to that contract; a no-op when the
    * column is already LONG (nanosAsLong path or our own writes) or
    * absent. timestamp_ntz carries no zone; the session runs UTC, so the
    * cast-to-timestamp reinterprets the same wall-clock micros. Works on
    * batch and streaming frames alike (pure projection).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == TimestampType || f.dataType == TimestampNTZType =>
        df.withColumn(
          "ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }

  /** Entries of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf read once per
    * JVM at the first codegen; one entry per generated class and
    * classloader). Spark's default of 100 is below one pass of a single
    * workload: the iterative vec/text loop (q161+q165+q177) touches ~290
    * entries and the LOB path ~190, so the LRU evicted every class before
    * its reuse and each repeated pass Janino-compiled ~90–160 classes
    * again and JIT-warmed them from scratch.
    *
    * Measured over the full catalog at sf0.001 on `local[4]`: the largest
    * single query touches 172 entries (q166), the median query 31, one
    * pass over all 184 queries 3,343; an entry holds ~31 KB of live heap.
    * 1000 keeps any query or workload above warm with room to spare and
    * caps the cache at ~31 MB; only a JVM that loops over the whole
    * catalog would need ~3,400 entries (~100 MB).
    */
  val CodegenCacheEntries = 1000

  /** Local session for tests/benchmarks: tuned for local[N] (shuffle
    * partitions = cores, AQE on, UTC). On a real cluster the same code
    * runs unchanged; only master/memory configs differ. Every session
    * the repo builds (Bench, Verify, the probes, the test JVM) comes from
    * here, so all of them get the same codegen reuse settings and the
    * same local filesystem.
    *
    * `file:` goes through [[graft.io.NioLocalFileSystem]] (`FileSystem`)
    * and [[graft.io.NioLocalFs]] (`FileContext`, which Spark's streaming
    * checkpoint manager uses). Spark ships without libhadoop, so Hadoop's
    * stock local filesystem forks `chmod` for every file, `.crc` file and
    * directory it creates and `readlink` on every link-status lookup of a
    * checkpoint rename. A JFR count over one `lob_scaled` benchmark run
    * (4 vCPU) found 1,922 process starts, 616 per timed pass, ~2 ms each;
    * with these classes it found 15, none of them `chmod` or `readlink`,
    * and the median micro-batch fell from 588 to 289 ms. `.crc`
    * checksums, rename-without-overwrite and the permission bits on disk
    * are the same as with the stock classes.
    */
  def localSession(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // superseded iterative-loop checkpoints are deleted as their RDDs
      // are GC'd (must be in the conf at context creation — see util.Ckpt)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Each streaming query runs on a cloned session; with artifact
      // isolation on (the Spark 4 default) that clone gets its own
      // executor classloader, the classloader is part of the codegen
      // cache key, and so every restart of a streaming twin recompiled
      // its classes (12 of the OHLC twin's 13) while the stale entries
      // pinned the dead loaders until evicted. The engine never adds
      // per-session jars or artifacts, so one shared loader loses nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // fork-free local `file:` IO for FileSystem and FileContext (above)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
