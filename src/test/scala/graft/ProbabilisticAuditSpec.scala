package graft

import graft.rel.RelationalQueries
import graft.text.TextQueries
import org.apache.spark.sql.functions._

/** Probabilistic-structure audits: the HLL register sketch (q110), the
  * shuffle-skew planner (q111), and the Bloom decontamination screen
  * (q112). q111 is pinned against a full pure-Scala recompute; q110 and
  * q112 against the defining mathematical invariants of their sketches
  * (harmonic-fold consistency, no-false-negative) plus an independent
  * recompute of the exact sides from the kernel's own hash stream.
  */
class ProbabilisticAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // ------------------------------------------------------------- q110
  private lazy val q110Out = TextQueries.q110.run(spark, dir).cache()

  /** (source, v) pairs from the same kernel the query uses. */
  private lazy val srcHashes: Map[String, Set[Long]] = {
    Tables(spark, dir, "documents")
      .select(col("source"), explode(expr("shingle_hash48(text, 8)")).as("v"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
  }

  test("q110: hll_est matches a pure-Scala register fold per source") {
    val rows = q110Out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getString(0)
      val hs = srcHashes(src)
      assert(r.getLong(1) === hs.size.toLong, s"$src n_exact")
      val regs = Array.fill(64)(0L)
      hs.foreach { v =>
        val idx = (v % 64).toInt
        val suf = v / 64
        val rho = if (suf == 0) 43L else 43L - java.lang.Long.toBinaryString(suf).length
        if (rho > regs(idx)) regs(idx) = rho
      }
      val sScaled = regs.map(m => 1L << (43 - m)).sum
      val est = 3193052135805681664L / (125L * sScaled)
      assert(r.getAs[Long]("s_scaled") === sScaled, s"$src s_scaled")
      assert(r.getAs[Long]("hll_est") === est, s"$src hll_est")
      assert(r.getAs[Long]("n_empty_regs") === regs.count(_ == 0L).toLong, s"$src empty regs")
    }
  }

  test("q110: estimate error stays inside 5 sigma of the m=64 HLL bound") {
    // sigma ~ 1.04/sqrt(64) = 0.13 relative; 5 sigma = 650 permille.
    assert(q110Out.where(col("err_permille") > 650).count() === 0)
  }

  // ------------------------------------------------------------- q111
  test("q111: bucket table matches a pure-Scala recompute from lineitem") {
    val counts = Tables(spark, dir, "lineitem")
      .groupBy("l_suppkey").agg(count(lit(1)).as("cnt"))
      .collect().map(_.getLong(1))
    val nTotal = counts.sum
    val expected = counts.groupBy(c => java.lang.Long.toBinaryString(c).length.toLong)
      .map { case (b, cs) =>
        val rows = cs.sum
        val mx = cs.max
        (b, (cs.length.toLong, rows, rows * 1000 / nTotal, mx, (mx + 999) / 1000))
      }
    val got = RelationalQueries.q111.run(spark, dir).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val (nk, nr, share, mx, salt) = expected(r.getLong(0))
      assert(r.getLong(1) === nk)
      assert(r.getLong(2) === nr)
      assert(r.getLong(3) === share)
      assert(r.getLong(4) === mx)
      assert(r.getLong(5) === salt)
    }
  }

  // ------------------------------------------------------------- q112
  private lazy val q112Out = TextQueries.q112.run(spark, dir).cache()

  test("q112: Bloom never false-negatives and accounting is consistent") {
    val rows = q112Out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (hits, truth, fp) =
        (r.getAs[Long]("n_bloom_hits"), r.getAs[Long]("n_true_hits"), r.getAs[Long]("n_false_pos"))
      assert(hits >= truth, s"${r.getString(0)}: bloom missed a true hit")
      assert(fp === hits - truth)
      assert(truth <= r.getAs[Long]("n_shingles"))
      val fpPm = r.getAs[Any]("fp_permille")
      if (fpPm != null) {
        val v = fpPm.asInstanceOf[Long]
        assert(v >= 0 && v <= 1000)
      }
    }
  }

  test("q112: exact contamination side matches a pure-Scala semi-join") {
    // Rebuild the train/eval split and exact hit counts from the kernel's
    // own (doc_id, v) stream; the Bloom filter cannot change this side.
    val docHashes = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), explode(expr("shingle_hash48(text, 8)")).as("v"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val isTrain = (id: Long) => (id * 2654435761L) % 1000 < 900
    val trainV = docHashes.collect { case (id, _, v) if isTrain(id) => v }.toSet
    val evalRows = docHashes.filterNot { case (id, _, _) => isTrain(id) }
    val expected = evalRows.groupBy(_._2).map { case (src, xs) =>
      src -> (xs.map(_._1).distinct.length.toLong, xs.length.toLong,
        xs.count { case (_, _, v) => trainV.contains(v) }.toLong)
    }
    val got = q112Out.collect().map(r =>
      r.getString(0) -> (r.getAs[Long]("n_eval_docs"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_true_hits"))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (src, e) => assert(got(src) === e, src) }
  }

  test("q112: broadcast-bitmap bloom side matches a pure-Scala position-set probe") {
    // Round 18 rewrote the bloom side (set-bit table + 4-way exploded pos
    // shuffle join → one broadcast bitmap + map-side probe). This pins the
    // new path to the filter's DEFINITION — the k=4 md5 positions of every
    // distinct train shingle, recomputed independently of Spark's md5/conv
    // expressions — so a bitmap indexing or shift bug cannot hide behind
    // the (looser) no-false-negative invariant above.
    val docHashes = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), explode(expr("shingle_hash48(text, 8)")).as("v"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val isTrain = (id: Long) => (id * 2654435761L) % 1000 < 900
    def pos(r: Int, v: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$r#$v".getBytes("UTF-8"))
      // first 12 hex chars of the digest = first 6 bytes
      java.lang.Long.parseLong(d.take(6).map("%02x".format(_)).mkString, 16) % 16777216L
    }
    val bits: Set[Long] = docHashes.collect { case (id, _, v) if isTrain(id) => v }
      .toSet.flatMap((v: Long) => (0 to 3).map(r => pos(r, v)))
    val expected = docHashes.filterNot { case (id, _, _) => isTrain(id) }
      .groupBy(_._2).map { case (src, xs) =>
        src -> xs.count { case (_, _, v) => (0 to 3).forall(r => bits(pos(r, v))) }.toLong
      }
    val got = q112Out.collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_bloom_hits")).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (src, e) => assert(got(src) === e, src) }
  }
}
