package graft.tools

/** Stage-level profile of the q48 dedup pipeline: signatures+bands,
  * candidate join, verify join, connected components, final join.
  * Run: `sbt "Test/runMain graft.tools.ProfQ48"`.
  */
object ProfQ48 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Tables.localSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $name%-30s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    import org.apache.spark.sql.functions._
    graft.functions.TextKernels.ensureRegistered(spark)
    val docs = graft.Tables(spark, dir, "documents")
    // mirror of TextQueries.dedupCandidates stages, timed separately
    val N = 8
    val sig = docs.withColumn("sig", expr(s"minhash_spans(text, $N, 4)"))
    t("signatures (noop)") { sig.write.format("noop").mode("overwrite").save() }
    val (cand, bands) = {
      val m = classOf[graft.text.TextQueries.type].getDeclaredMethod(
        "dedupCandidates", classOf[org.apache.spark.sql.DataFrame])
      m.setAccessible(true)
      m.invoke(graft.text.TextQueries, docs)
        .asInstanceOf[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]
    }
    val candC = t("bands+candidates") { cand.cache().count() }
    println(s"[prof] n_candidates = $candC")
    val txt = docs.select(col("doc_id"), col("text"))
    val ver = cand
      .join(txt.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
      .join(txt.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
      .withColumn("ov", expr(s"shingle_overlap(ta, tb, $N)"))
      .filter(col("ov.n_union") > 0 &&
        col("ov.n_inter").cast("double") / col("ov.n_union") >= 0.8)
      .select("id_a", "id_b")
    val verC = t("verify join") { ver.cache().count() }
    println(s"[prof] n_verified_edges = $verC")
    val (labels, rounds) = t("connected components") {
      graft.graph.ConnectedComponents.label(ver, docs.select(col("doc_id")))
    }
    println(s"[prof] cc rounds = $rounds")
    t("final group join") {
      val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("group_size"))
      labels.join(sizes, "comp").write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
