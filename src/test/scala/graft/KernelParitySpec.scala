package graft

import org.apache.spark.sql.functions._

/** Adversarial parity for the native text kernels: on a corpus of
  * degenerate and non-ASCII strings (empty, shorter than the shingle
  * width, repeated, multi-byte code points, supplementary-plane emoji),
  * every kernel must equal the HOF/Catalyst formulation it replaced —
  * the same contract the DuckDB oracle pins on the (ASCII) test corpus,
  * extended to the full Unicode input space.
  */
class KernelParitySpec extends SparkTestBase {

  private val N = 8

  private lazy val docs = {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(7)
    val alphabets = Seq("ab", "abcdefgh", "äöüßéñ", "日本語テキスト", "a b\tc\nd")
    val weird = Seq(
      "", "a", "short", "aaaaaaaaaaaaaaaaaaaa", "exactly8", "exactly8exactly8",
      "😀😁😂 emoji 😀😁 text",
      "mixed ascii und Ümläute 混合テキスト here")
    val rand = (0 until 40).map { i =>
      val a = alphabets(i % alphabets.size)
      (0 until (1 + rnd.nextInt(60))).map(_ => a(rnd.nextInt(a.length))).mkString
    }
    (weird ++ rand).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").cache()
  }

  private def assertNoDiff(bad: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val rows = bad.limit(3).collect()
    assert(rows.isEmpty, s"$what mismatch on: ${rows.mkString("; ")}")
  }

  test("shingle_agg ≡ array_distinct/md5-vote formulation on unicode + degenerate text") {
    val shingles = expr(
      s"array_distinct(transform(sequence(1, greatest(length(text) - ${N - 1}, 1)), i -> substring(text, i, $N)))")
    val votes = (1 to 32).map(j =>
      expr(s"aggregate(sh, 0, (acc, s) -> acc + IF(substring(md5(CAST(s AS BINARY)), $j, 1) >= '8', 1, -1))").as(s"v$j"))
    val hof = docs.withColumn("sh", shingles)
      .select(col("doc_id") +: size(col("sh")).cast("long").as("nd") +:
        greatest(length(col("text")) - lit(N - 1), lit(1)).cast("long").as("np") +: votes: _*)
      .withColumn("sim", (1 to 32).map(j =>
        when(col(s"v$j") > 0, lit(1L << (j - 1))).otherwise(lit(0L))).reduce(_ + _))
      .select("doc_id", "nd", "np", "sim")
    val kern = docs.withColumn("sa", expr(s"shingle_agg(text, $N)"))
    assertNoDiff(
      kern.join(hof, "doc_id").filter(
        !(col("sa.n_distinct") <=> col("nd")) ||
          !(col("sa.n_positions") <=> col("np")) ||
          !(col("sa.simhash") <=> col("sim"))),
      "shingle_agg")
  }

  test("shingle_agg simhash64 ≡ per-bit md5-digest-vote formulation") {
    val shingles = expr(
      s"array_distinct(transform(sequence(1, greatest(length(text) - ${N - 1}, 1)), i -> substring(text, i, $N)))")
    // bit b = 4j + k votes on bit k of hex digit j's value
    val votes = (0 until 64).map { b =>
      val j = b / 4 + 1
      val k = b % 4
      expr(s"aggregate(sh, 0, (acc, s) -> acc + IF(" +
        s"shiftright(CAST(conv(substring(md5(CAST(s AS BINARY)), $j, 1), 16, 10) AS INT), $k) & 1 = 1" +
        s", 1, -1))").as(s"w$b")
    }
    val hof = docs.withColumn("sh", shingles)
      .select(col("doc_id") +: votes: _*)
      .withColumn("sim64", (0 until 64).map(b =>
        when(col(s"w$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _))
      .select("doc_id", "sim64")
    val kern = docs.withColumn("k64", expr(s"shingle_agg(text, $N).simhash64"))
    assertNoDiff(
      kern.join(hof, "doc_id").filter(!(col("k64") <=> col("sim64"))),
      "shingle_agg.simhash64")
  }

  test("minhash_spans ≡ salted md5 span-min formulation") {
    val raw = expr(
      s"transform(sequence(1, greatest(length(text) - ${N - 1}, 1)), i -> substring(text, i, $N))")
    def spanMin(k: Int, j: Int) = expr(
      s"array_min(transform(sh, s -> substring(md5(CAST(concat(s, '#$k') AS BINARY)), ${1 + 8 * j}, 8)))")
    val hof = docs.withColumn("sh", raw)
      .select(col("doc_id") +: (for { k <- 0 to 3; j <- 0 to 3 }
        yield spanMin(k, j).as(s"e${4 * k + j}")): _*)
    val kern = docs.withColumn("sig", expr(s"minhash_spans(text, $N, 4)"))
      .select(col("doc_id") +: (0 to 15).map(i =>
        element_at(col("sig"), i + 1).as(s"g$i")): _*)
    val cond = (0 to 15).map(i => !(col(s"e$i") <=> col(s"g$i"))).reduce(_ || _)
    assertNoDiff(hof.join(kern, "doc_id").filter(cond), "minhash_spans")
  }

  test("shingle_overlap ≡ array_intersect/array_union sizes") {
    val sh = expr(
      s"array_distinct(transform(sequence(1, greatest(length(text) - ${N - 1}, 1)), i -> substring(text, i, $N)))")
    val a = docs.withColumn("sh", sh).as("a")
    val b = docs.withColumn("sh", sh).as("b")
    val pairs = a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("id"), col("a.text").as("ta"), col("b.text").as("tb"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("hi"),
        size(array_union(col("a.sh"), col("b.sh"))).cast("long").as("hu"))
      .withColumn("ov", expr(s"shingle_overlap(ta, tb, $N)"))
    assertNoDiff(
      pairs.filter(!(col("ov.n_inter") <=> col("hi")) || !(col("ov.n_union") <=> col("hu"))),
      "shingle_overlap")
  }

  test("shingle_hash48 ≡ sorted conv(md5-prefix) formulation on unicode + degenerate text") {
    // the kernel's order is first-occurrence; compare as SORTED sets
    val kernel = expr(s"array_sort(shingle_hash48(text, $N))")
    val recipe = expr(
      s"array_sort(transform(array_distinct(transform(" +
        s"sequence(1, greatest(length(text) - ${N - 1}, 1)), i -> substring(text, i, $N))), " +
        "sh -> CAST(conv(substr(md5(sh), 1, 12), 16, 10) AS BIGINT)))")
    val bad = docs.select(col("doc_id"), kernel.as("k"), recipe.as("r"))
      .filter(not(col("k") === col("r")))
    assertNoDiff(bad, "shingle_hash48")
  }

  test("sorted_inter_count ≡ size(array_intersect) on all doc pairs") {
    val sh = docs.select(col("doc_id"),
      expr(s"array_sort(shingle_hash48(text, $N))").as("sh"))
    val pairs = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
        expr("sorted_inter_count(a.sh, b.sh)").as("k"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("r"))
    assertNoDiff(pairs.filter(col("k") =!= col("r")), "sorted_inter_count")
    // non-degenerate check: some pair must actually intersect
    assert(pairs.filter(col("k") > 0).count() > 0)
  }

  test("rolling_hash ≡ per-window Horner slice+aggregate formulation") {
    val M = 1000000007L; val B = 131L
    val hof = docs
      .withColumn("codes",
        expr("transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))"))
      .withColumn("fp", expr(s"aggregate(codes, CAST(0 AS BIGINT), (acc, c) -> (acc * $B + c) % $M)"))
      .withColumn("wins", expr(
        s"""transform(sequence(1, greatest(length(text) - 7, 1)), i ->
           aggregate(slice(codes, i, 8), CAST(0 AS BIGINT), (acc, c) -> (acc * $B + c) % $M))"""))
      .select("doc_id", "fp", "wins")
    val kern = docs.withColumn("rh", expr("rolling_hash(text, 8, 131, 1000000007)"))
      .select(col("doc_id"), col("rh.doc_fp").as("kfp"), col("rh.wins").as("kwins"))
    assertNoDiff(
      hof.join(kern, "doc_id").filter(
        !(col("fp") <=> col("kfp")) || !(col("wins") <=> col("kwins"))),
      "rolling_hash")
  }

  test("char_grams ≡ transform/substring formulation on unicode + degenerate text") {
    val hofExpr = expr(
      s"transform(sequence(1, greatest(length(text) - ${N - 1}, 1)), i -> substring(text, i, $N))")
    assertNoDiff(
      docs.select(col("doc_id"), hofExpr.as("h"),
          expr(s"char_grams(text, $N)").as("k"))
        .filter(!(col("h") <=> col("k"))),
      "char_grams")
  }

  test("ord_dot ≡ aggregate/zip_with left fold, bit-exact, incl. degenerate arrays") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(11)
    def arr(n: Int): Seq[java.lang.Float] =
      (0 until n).map(_ => java.lang.Float.valueOf((rnd.nextFloat() - 0.5f) * 100f))
    val cases: Seq[(Long, Seq[java.lang.Float], Seq[java.lang.Float])] =
      (0L until 40L).map(i => (i, arr(64), arr(64))) ++ Seq(
        (100L, Seq.empty, Seq.empty),                           // empty → 0.0
        (101L, arr(5), arr(8)),                                 // ragged → null
        (102L, arr(3).updated(1, null: java.lang.Float), arr(3)), // null elem → null
        (103L, Seq(java.lang.Float.valueOf(-0.0f)), Seq(java.lang.Float.valueOf(0.0f))), // signed zero
        (104L, Seq(java.lang.Float.valueOf(Float.MaxValue)), Seq(java.lang.Float.valueOf(Float.MaxValue))))
    val df = cases.toDF("id", "a", "b").cache()
    val hof = expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    assertNoDiff(
      df.select(col("id"), hof.as("h"), expr("ord_dot(a, b)").as("k"))
        .filter(!(col("h") <=> col("k"))),
      "ord_dot vs HOF")
    // bit-identity, not just numeric equality: +0.0 vs −0.0 must agree
    val bits = df.select(col("id"), hof.as("h"), expr("ord_dot(a, b)").as("k"))
      .collect()
    bits.foreach { r =>
      val (h, k) = (r.get(1), r.get(2))
      if (h != null && k != null)
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ===
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          s"bit mismatch on id=${r.getLong(0)}")
    }
    // norm flavor: ord_dot(a, a) ≡ the single-array square fold
    val hofN = expr("aggregate(a, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    assertNoDiff(
      df.select(col("id"), hofN.as("h"), expr("ord_dot(a, a)").as("k"))
        .filter(!(col("h") <=> col("k"))),
      "ord_dot(a,a) vs square fold")
  }

  test("jaro_winkler ≡ DuckDB jaro_winkler_similarity on pinned probes") {
    // values captured from DuckDB 1.0 (the oracle engine) — the kernel's
    // contract is BIT equality with these, incl. the 0.7 boost threshold,
    // the min(prefix,4) cap, integer transposition halving (the
    // 'abcdef'/'bcadef' odd-k case), and 0.0 on empty input
    val sess = spark
    import sess.implicits._
    val pinned = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abc", "xyz", 0.0),
      ("a", "", 0.0),
      ("", "", 0.0),
      ("ab", "ab", 1.0),
      ("CRATE", "TRACE", 0.7333333333333334),
      ("aaaaaaaaab", "aaaaaaaaba", 0.98),
      ("prefix_long_match", "prefix_long_mbtch", 0.9764705882352941),
      ("ab", "ba", 0.0),
      ("kitten", "sitting", 0.746031746031746),
      ("x", "xy", 0.8500000000000001),
      ("abcdefgh", "abcdefgh_longer_tail", 0.88),
      ("aaxxxxxxxx", "aayyyyyyyy", 0.4666666666666666), // jaro ≤ 0.7 → no bonus
      ("abcdef", "bcadef", 0.9444444444444445)) // odd mismatch count → t = 1
    Tables(spark, "/root/testdata/sf0.001", "region") // registers the kernel
    val got = pinned.map(_._1).zip(pinned.map(_._2)).toDF("a", "b")
      .selectExpr("jaro_winkler(a, b) AS jw").collect().map(_.getDouble(0))
    pinned.map(_._3).zip(got).zip(pinned).foreach { case ((e, g), (a, b, _)) =>
      assert(java.lang.Double.doubleToRawLongBits(e) ===
        java.lang.Double.doubleToRawLongBits(g),
        s"jaro_winkler('$a','$b') = $g, DuckDB pins $e")
    }
    // null propagation + arity error
    val n = Seq(("x", Option.empty[String])).toDF("a", "b")
      .selectExpr("jaro_winkler(a, b)").collect()(0)
    assert(n.isNullAt(0))
    intercept[Exception] { spark.sql("SELECT jaro_winkler('a')").collect() }
  }
}
