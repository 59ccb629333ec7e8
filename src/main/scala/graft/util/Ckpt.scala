package graft.util

import org.apache.spark.SparkContext

/** Reliable-checkpoint directory management for the iterative operators
  * (NN-descent generations, beam hops, connected-components rounds, the
  * memoized shared subplans).
  *
  * Two leaks this closes, because reliable checkpoints survive session
  * exit by design:
  *   1. WITHIN a run: every superseded generation's files. Handled by
  *      `spark.cleaner.referenceTracking.cleanCheckpoints=true` (set in
  *      every session builder — it must be in the conf at context
  *      creation), which lets the ContextCleaner delete a checkpoint's
  *      files once its RDD is garbage-collected.
  *   2. ACROSS runs: the per-context UUID directory itself (the cleaner
  *      never removes files still referenced at shutdown, e.g. the
  *      session-lifetime memos). Handled by a JVM shutdown hook that
  *      removes this context's checkpoint directory recursively.
  *
  * A checkpoint keeps no partitioning. Under AQE the plan that
  * `Dataset.checkpoint()` runs reports UnknownPartitioning, so the
  * checkpointed frame's scan does too: a `repartition(k).checkpoint()`
  * frame is exchanged on `k` again by a window or aggregation keyed on
  * `k` (seen in the final plan of a window over such a frame). An
  * operator that wants one exchange per loop step must put the
  * repartition and every consumer of it inside the checkpointed query,
  * as `VectorQueries.beamVisited` does.
  */
object Ckpt {

  /** Idempotent per context: set the checkpoint dir under
    * java.io.tmpdir/graft-ckpt if none is configured, and register the
    * shutdown-time removal of the context's own (UUID-suffixed)
    * directory. A caller-provided checkpoint dir is respected and NOT
    * auto-deleted.
    */
  def ensureDir(sc: SparkContext): Unit = synchronized {
    if (sc.getCheckpointDir.isEmpty) {
      sc.setCheckpointDir(new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-ckpt").getAbsolutePath)
      sc.getCheckpointDir.foreach { d =>
        val path = // fs-qualified ("file:/…") or plain, depending on Hadoop conf
          try {
            val u = new java.net.URI(d)
            if (u.getScheme == null || u.getScheme == "file") u.getPath else null
          } catch { case _: java.net.URISyntaxException => d }
        if (path != null) {
          val f = new java.io.File(path)
          Runtime.getRuntime.addShutdownHook(new Thread(() => delRec(f)))
        }
      }
    }
  }

  private def delRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delRec))
    f.delete(); ()
  }
}
