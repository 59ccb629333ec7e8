package graft.tools

/** Time specific catalog queries (driver-bench conditions, noop sink):
  * `sbt "Test/runMain graft.tools.TimeQ q01_pricing_summary ..."`.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Tables.localSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    (1 to 2).foreach { round =>
      args.foreach { name =>
        val q = graft.SparkEntry.catalog.find(_.name == name)
          .getOrElse(sys.error(s"unknown query $name"))
        val t0 = System.nanoTime()
        q.run(spark, dir).write.format("noop").mode("overwrite").save()
        println(f"[timeq] r$round $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
