package graft

import graft.io.{BookIO, NioLocalFileSystem, NioLocalFs}
import graft.streaming.StreamingMetrics
import graft.streaming.StreamingMetrics.BarTick
import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** The session's local IO starts no `chmod` or `readlink` process.
  *
  * Hadoop's stock local filesystem, without libhadoop, forks `chmod` for
  * every file, `.crc` file and directory it creates and `readlink` on
  * every link-status lookup of a `FileContext` rename (about 300 forks
  * per streaming twin run). The JVM's own flight recorder lists every
  * process this JVM starts (`jdk.ProcessStart`); each case counts those
  * that name its temp dir, so processes of other suites never count.
  */
class ForkGuardSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("fork-guard")

  /** Runs `body` and returns the `chmod`/`readlink` commands started
    * meanwhile that name `dir`.
    */
  private def shellForks(dir: String)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val dump = Files.createTempFile(root, "process-start", ".jfr")
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter { c =>
          val exe = c.takeWhile(_ != ' ').split('/').last
          (exe == "chmod" || exe == "readlink") && c.contains(dir)
        }
    } finally rec.close()
  }

  private def assertNoForks(forks: Seq[String]): Unit =
    assert(forks.isEmpty, s"${forks.size} shell processes, e.g. ${forks.take(3).mkString("; ")}")

  private def ticks =
    Seq.tabulate(64)(i => BarTick(s"S${i % 4}", i.toLong, i / 16L, 100.0 + i, 10L + i)).toDF()

  test("the session's file: filesystems are the fork-free ones") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(new Path(root.toUri).getFileSystem(conf).getClass === classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root.toUri, conf).getDefaultFileSystem.getClass ===
      classOf[NioLocalFs])
  }

  test("a parquet write through BookIO forks no chmod") {
    val dir = Files.createDirectory(root.resolve("write")).toString
    val out = s"$dir/ticks.parquet"
    val forks = shellForks(dir) {
      assert(BookIO.writeAnyWithFallback(ticks.repartition(2), out) === out)
    }
    assertNoForks(forks)
    assert(new java.io.File(out).list().exists(_.endsWith(".parquet.crc")),
      "the parquet files keep their checksums")
    assert(BookIO.readAny(spark, out).count() === 64)
  }

  test("a reliable Dataset.checkpoint forks no chmod") {
    val dir = Files.createDirectory(root.resolve("checkpoint")).toString
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    // a Some(prev) restores as a fresh subdirectory of prev, which stays
    // inside the directory util.Ckpt removes at shutdown
    val forks =
      try shellForks(dir) {
        sc.setCheckpointDir(dir)
        assert(ticks.checkpoint().count() === 64)
      } finally sc.setCheckpointDir(prev.orNull)
    assertNoForks(forks)
  }

  test("an AvailableNow drain of the OHLC twin into a parquet sink forks no chmod or readlink") {
    val dir = Files.createDirectory(root.resolve("stream")).toString
    val backlog = s"$dir/ticks"
    ticks.repartition(2).write.parquet(backlog)
    val schema = spark.read.parquet(backlog).schema
    val forks = shellForks(dir) {
      StreamingMetrics.streamOhlcBars(spark.readStream.schema(schema).parquet(backlog).as[BarTick])
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$dir/bars")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    assertNoForks(forks)
    assert(spark.read.parquet(s"$dir/bars").count() > 0, "the sink received bars")
    assert(new java.io.File(s"$dir/ckpt/commits").list().exists(_.endsWith(".crc")),
      "checkpoint commits keep their checksums")
  }
}
