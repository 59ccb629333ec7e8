package graft.sql

import graft.SparkEntry

/** SQL-surface ≡ catalog parity sweep at an arbitrary scale directory.
  *
  * SqlSurfaceSpec pins every [[SqlSurface.texts]] entry that is not
  * itself a catalog entry ([[graft.Q.sql]]) row-for-row at
  * the sf0.001 gate scale; this main re-runs the same compare at any
  * scale (sf0.01 / sf0.1 / a ScaleBench corpus) so the surface's
  * equivalence claim carries a receipt beyond the spec scale — larger
  * data exercises different plan shapes (real exchanges, AQE
  * coalescing, skew paths) that a 60-row input cannot.
  *
  * Usage: `sbt "runMain graft.sql.SqlParity <sfDir>"`. Prints one line
  * per query (`OK`/`MISMATCH` + row count) and a summary; exits 1 on
  * any mismatch.
  *
  * Contract: the row-for-row zip compare relies on every text ending in
  * a TIE-FREE total ORDER BY (the catalog's `Q.presentSorted`
  * determinism contract — every surface text mirrors its catalog
  * query's presentation sort, which always includes a unique key). A
  * text with a tie-permitting sort would flake here; SqlSurfaceSpec's
  * gate-scale compare would catch it first.
  */
object SqlParity {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Tables.localSession(cpus.toInt)

    var fails = 0
    // optional second arg: comma-separated subset for targeted re-proof
    val subset = if (args.length > 1) Some(args(1).split(",").toSet) else None
    // a text-backed catalog entry is its own text: nothing to compare
    val merged = SparkEntry.catalog.filter(_.isText).map(_.name).toSet
    val names = SqlSurface.texts.keys.toSeq.sorted
      .filter(n => !merged(n) && subset.forall(_.contains(n)))
    for (name <- names) {
      val t0 = System.nanoTime()
      val outcome =
        try {
          val cat = SparkEntry.catalog.find(_.name == name)
            .getOrElse(sys.error(s"$name not in catalog"))
          // text first: it must not read the program's presentSorted cache
          val b = SqlSurface.run(spark, sfDir, name).collect()
          spark.catalog.clearCache()
          val a = cat.run(spark, sfDir).collect()
          spark.catalog.clearCache()
          if (a.length != b.length) s"MISMATCH rows ${a.length} vs ${b.length}"
          else {
            val bad = a.iterator.zip(b.iterator).zipWithIndex
              .find { case ((x, y), _) => x != y }
            bad.map { case ((x, y), i) => s"MISMATCH row $i: $x vs $y" }
              .getOrElse(s"OK rows=${a.length}")
          }
        } catch {
          // NonFatal only: an OOM or JVM fault must kill the sweep, not
          // masquerade as a per-query ERROR line in a green-looking run
          case scala.util.control.NonFatal(e) =>
            s"ERROR ${String.valueOf(e.getMessage).take(200)}"
        }
      if (!outcome.startsWith("OK")) fails += 1
      println(f"[parity] $name%-32s $outcome (${(System.nanoTime() - t0) / 1e9}%.1fs)")
    }
    println(s"[parity] total=${names.size} fails=$fails sfDir=$sfDir")
    spark.stop()
    if (fails > 0) sys.exit(1)
  }
}
