package graft.tools
object PeekPlan {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Tables.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      val q = graft.SparkEntry.catalog.find(_.name == name).get
      println(s"===== $name =====")
      println(q.run(spark, dir).queryExecution.executedPlan.toString.take(8000))
    }
    spark.stop()
  }
}
