package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flat-book table IO (SURVEY.md §2.1 S6-S10): CSV with the reference's
  * conventions (header, blanks for NULL, 10-decimal fixed-point floats —
  * `record.py:70-84`, `metrics_cli.py:60-66`) and Parquet with native
  * types. Extension dispatch mirrors `_read_any` (`impact_vwap.py:94-100`).
  */
object BookIO {

  /** Read a flat recording CSV with every column as STRING (the
    * reference's readers see strings too; blanks become NULL).
    */
  def readFlatCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** Extension dispatch: .csv vs .parquet/.pq. */
  def readAny(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".csv")) readFlatCsv(spark, path)
    else if (path.endsWith(".parquet") || path.endsWith(".pq")) spark.read.parquet(path)
    else throw new IllegalArgumentException(s"unsupported extension: $path")

  /** 10-decimal fixed-point golden formatting; NULL → "" (note
    * `format_string` itself renders SQL NULL as the string "null").
    */
  def fmt10(c: Column): Column =
    when(c.isNotNull, format_string("%.10f", c)).otherwise(lit(""))

  /** Write a golden-format CSV (single file semantics are the caller's
    * choice via coalesce; all columns already strings).
    */
  def writeGoldenCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").option("emptyValue", "").csv(path)

  /** Parquet-with-CSV-fallback sink (`record.py:126-138`): the reference
    * tries pyarrow, then fastparquet, and finally warns + writes golden
    * CSV at the `.csv`-renamed path. Spark has one parquet writer, so
    * the chain collapses to try-parquet-else-CSV; returns the path
    * actually written so callers can dispatch reads via [[readAny]].
    * The CSV leg renders through [[writeGoldenCsv]] after [[fmt10]]
    * formatting of double columns — byte-identical to the S6 sink.
    */
  def writeAnyWithFallback(df: DataFrame, path: String): String =
    try {
      df.write.mode("overwrite").parquet(path)
      path
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"parquet write failed (${e.getMessage}); falling back to CSV")
        // an overwrite-mode failure can leave a deleted/partial dir at
        // `path`; remove it so a later readAny of a stale parquet path
        // can't see a corrupt artifact. Whatever is there goes (a dir, or
        // a file or dangling link the write could not replace), and a
        // failed removal raises, with the parquet error attached, rather
        // than leave the artifact next to a CSV.
        val left = new java.io.File(path)
        try {
          if (left.isDirectory) org.apache.commons.io.FileUtils.deleteDirectory(left)
          else java.nio.file.Files.deleteIfExists(left.toPath)
        } catch {
          case scala.util.control.NonFatal(d) => d.addSuppressed(e); throw d
        }
        val csvPath = path.replaceAll("\\.(parquet|pq)$", "") + ".csv"
        val stringified = df.schema.fields.foldLeft(df) { (acc, f) =>
          f.dataType match {
            case org.apache.spark.sql.types.DoubleType |
                 org.apache.spark.sql.types.FloatType =>
              acc.withColumn(f.name, fmt10(col(f.name).cast("double")))
            case _ => acc
          }
        }
        writeGoldenCsv(stringified, csvPath)
        csvPath
    }

  /** S11 accumulating summary sink (`impact_twap_cli.py:51-57`): append
    * the frame's rows to ONE growing CSV, writing the header only when
    * the file does not exist yet. Driver-side by design — run summaries
    * are O(runs) one-line rows, not a distributed dataset; simple values
    * only (no quoting), nulls render as "".
    */
  def appendSummaryCsv(df: DataFrame, path: String): Unit = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val sb = new StringBuilder
    if (!Files.exists(p)) sb.append(df.columns.mkString(",")).append('\n')
    df.collect().foreach { r =>
      sb.append(df.columns.indices
        .map(i => if (r.isNullAt(i)) "" else r.get(i).toString).mkString(","))
        .append('\n')
    }
    Files.write(p, sb.toString.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
