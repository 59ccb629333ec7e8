package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The native Catalyst functions of this package, in one list. Each kernel
  * object declares its SQL names and builders once, in its
  * `registrations`; [[all]] concatenates them, [[graft.GraftExtensions]]
  * injects them into sessions built with the extension, and [[register]]
  * puts them into a live session.
  */
object Kernels {
  type Registration = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** The registration of the SQL function `name`, built by `build`;
    * `cls` is the expression class it reports.
    */
  private[functions] def kernel(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): Registration =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  // lazy: each object's `registrations` calls `kernel` while this object
  // may still be initializing
  lazy val all: Seq[Registration] =
    DecSum.registrations ++ DecDot8.registrations ++ OrdDot.registrations ++
      DeepBookAgg.registrations ++ SynthLadder.registrations ++
      RollingHash.registrations ++ ExactTopK.registrations ++
      LshBandCodes.registrations ++ LshBandCodesMd5.registrations ++
      JaroWinkler.registrations ++ LevBytes.registrations ++
      AHashBands.registrations ++ TextKernels.registrations

  /** Puts every kernel the session's function registry lacks. A clone of
    * a session copies its registry, but `newSession()` starts from the
    * built-ins, so each entry point calls this on the session it runs
    * in. Names already present are left as they are: a second call
    * replaces nothing and logs nothing.
    */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
    val reg = spark.asInstanceOf[ClassicSession].sessionState.functionRegistry
    all.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }
}
