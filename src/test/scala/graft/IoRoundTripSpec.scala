package graft

import graft.io.BookIO
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** S6↔S8 round trip: golden-format CSV written by the engine reads back
  * byte-compatibly (10-dp strings, blank-for-NULL ≡ NULL-on-read).
  */
class IoRoundTripSpec extends SparkTestBase {

  test("golden CSV write → read round trip preserves values and NULLs") {
    val src = BookIO.readFlatCsv(spark, "/root/reference/data/ws_bybit_ETHUSDTUSDT_d5_5s_5hz.csv")
    val out = Files.createTempDirectory("roundtrip").toString
    BookIO.writeGoldenCsv(src.coalesce(1), out)
    val back = BookIO.readFlatCsv(spark, out)
    assert(back.columns.toSeq === src.columns.toSeq)
    assert(back.count() === src.count())
    // cell-level equality incl. NULLs (raw_nonce column is all blank)
    assert(src.exceptAll(back).count() === 0 && back.exceptAll(src).count() === 0)
    val nulls = back.filter(col("raw_nonce").isNull).count()
    assert(nulls === back.count())
  }

  test("append summary sink: header only when new, rows accumulate across runs") {
    import spark.implicits._
    val path = Files.createTempDirectory("summary").toString + "/runs/summary.csv"
    val run1 = Seq(("buy", 50.0, 49.9)).toDF("side", "target_qty", "filled_qty")
    val run2 = Seq(("sell", 25.0, 25.0), ("buy", 10.0, 10.0))
      .toDF("side", "target_qty", "filled_qty")
    BookIO.appendSummaryCsv(run1, path)
    BookIO.appendSummaryCsv(run2, path)
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    assert(lines.size === 4, "one header + three data rows")
    assert(lines.get(0) === "side,target_qty,filled_qty")
    assert(lines.get(1) === "buy,50.0,49.9")
    assert(lines.get(3) === "buy,10.0,10.0")
  }

  test("parquet sink round trip: schema types, values and NULL levels survive") {
    // S7 direct check (record.py's parquet sink): typed columns stay
    // typed (no string round-trip like CSV), NULL book levels stay NULL
    val src = graft.streaming.Recorder.synthesizeBook(spark.range(2000).toDF("value"), 5)
    val out = Files.createTempDirectory("pq-roundtrip").toString + "/book.parquet"
    src.write.mode("overwrite").parquet(out)
    val back = BookIO.readAny(spark, out)
    // parquet reads come back nullable; names + types must round-trip exactly
    assert(back.schema.map(f => f.name -> f.dataType) === src.schema.map(f => f.name -> f.dataType),
      "parquet must preserve column names and types")
    assert(back.count() === 2000)
    assert(src.exceptAll(back).count() === 0 && back.exceptAll(src).count() === 0)
    val srcNulls = src.filter(col("bid1_price").isNull).count()
    assert(srcNulls > 0 && back.filter(col("bid1_price").isNull).count() === srcNulls)
  }

  test("readAny dispatches by extension and rejects unknown ones") {
    assert(BookIO.readAny(spark, "/root/reference/data/ETH_bybit_L2_60s.parquet").count() === 60)
    intercept[IllegalArgumentException] {
      BookIO.readAny(spark, "/tmp/whatever.json")
    }
  }

  test("writeAnyWithFallback: parquet when possible, golden CSV when not") {
    import spark.implicits._
    val df = Seq((1L, 2.5), (2L, -0.125)).toDF("k", "v")
      .withColumn("v", when(col("k") === 2, lit(null)).otherwise(col("v")))
    // happy path: parquet lands at the requested path
    val okDir = Files.createTempDirectory("fallback-ok").toString + "/out.parquet"
    val wrote = BookIO.writeAnyWithFallback(df, okDir)
    assert(wrote === okDir && BookIO.readAny(spark, wrote).count() === 2)
    // failure path (record.py:126-138): inject a deterministic parquet
    // writer failure — the exact Spark analog of the reference's
    // "pyarrow unavailable" — and assert the chain lands at the
    // .csv-renamed path with golden 10-dp doubles, "" NULLs, and no
    // partial parquet dir
    val dir = Files.createTempDirectory("fallback-csv").toString
    val fell = withBrokenParquet(BookIO.writeAnyWithFallback(df.coalesce(1), s"$dir/out.parquet"))
    assert(fell === s"$dir/out.csv")
    assert(!new java.io.File(s"$dir/out.parquet").exists(),
      "failed parquet attempt must not leave a partial dir behind")
    val back = BookIO.readAny(spark, fell)
    assert(back.columns.toSeq === Seq("k", "v"))
    val rows = back.orderBy("k").collect()
    assert(rows(0).getString(1) === "2.5000000000", "fmt10 golden formatting")
    assert(rows(1).isNullAt(1), "NULL renders as blank -> NULL on read-back")
  }

  /** Runs `body` with a parquet writer that fails at task time: the
    * brotli codec is valid config but its jar is not on the classpath.
    */
  private def withBrokenParquet[T](body: => T): T = {
    val codecKey = "spark.sql.parquet.compression.codec"
    val prevCodec = spark.conf.get(codecKey)
    spark.conf.set(codecKey, "brotli")
    try body finally spark.conf.set(codecKey, prevCodec)
  }

  private def csvText(dir: String): String =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv")).sortBy(_.getName)
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).mkString

  test("golden CSV round trip on a synthesized book: NULL levels, blank raw_nonce, CSV fallback") {
    // the golden round trip above on a book built here, so the writers
    // run in every environment
    val book = graft.streaming.Recorder.synthesizeBook(spark.range(600).toDF("value"), 5)
      .withColumn("raw_nonce", lit(null).cast("string"))
      .coalesce(1)
    val golden = book.select(book.schema.fields.toSeq.map { f =>
      if (f.dataType == DoubleType) BookIO.fmt10(col(f.name)).as(f.name)
      else col(f.name).cast("string").as(f.name)
    }: _*)
    val base = Files.createTempDirectory("roundtrip-synth").toString
    BookIO.writeGoldenCsv(golden, s"$base/recording")
    val src = BookIO.readFlatCsv(spark, s"$base/recording")
    BookIO.writeGoldenCsv(src.coalesce(1), s"$base/out")
    val back = BookIO.readFlatCsv(spark, s"$base/out")
    assert(back.columns.toSeq === book.columns.toSeq)
    assert(back.count() === 600)
    assert(src.exceptAll(back).count() === 0 && back.exceptAll(src).count() === 0)
    assert(back.filter(col("raw_nonce").isNull).count() === 600, "raw_nonce is all blank")
    val nullLevels = book.filter(col("bid1_price").isNull).count()
    assert(nullLevels > 0 && back.filter(col("bid1_price").isNull).count() === nullLevels)
    // the parquet→CSV fallback renders the typed book byte for byte as
    // the golden sink does
    val fell = withBrokenParquet(BookIO.writeAnyWithFallback(book, s"$base/book.parquet"))
    assert(fell === s"$base/book.csv")
    assert(!new java.io.File(s"$base/book.parquet").exists())
    assert(csvText(fell) === csvText(s"$base/recording"))
  }

  test("writeAnyWithFallback clears a path the failed write could not replace") {
    import spark.implicits._
    val df = Seq((1L, 2.5)).toDF("k", "v")
    // a dangling symlink at the target: parquet cannot create its dir
    // there, and the fallback must not leave the link next to the CSV
    val dir = Files.createTempDirectory("fallback-link").toString
    val link = Files.createSymbolicLink(Paths.get(s"$dir/out.parquet"), Paths.get(s"$dir/gone"))
    assert(BookIO.writeAnyWithFallback(df.coalesce(1), link.toString) === s"$dir/out.csv")
    assert(!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
    assert(BookIO.readAny(spark, s"$dir/out.csv").count() === 1)
  }

  test("writeAnyWithFallback raises, with the parquet error attached, when the path cannot be cleared") {
    import spark.implicits._
    val df = Seq((1L, 2.5)).toDF("k", "v")
    // a regular file where the parent dir should be: the parquet write
    // fails and so does any removal at the path (ENOTDIR), root or not
    val dir = Files.createTempDirectory("fallback-stuck").toString
    Files.createFile(Paths.get(s"$dir/file"))
    val e = intercept[java.nio.file.FileSystemException](
      BookIO.writeAnyWithFallback(df.coalesce(1), s"$dir/file/out.parquet"))
    assert(e.getFile === s"$dir/file/out.parquet", "the removal failed, not the CSV leg")
    assert(e.getSuppressed.nonEmpty, "the parquet failure rides along")
  }
}
