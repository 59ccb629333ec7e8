package graft

import java.nio.file.Files

import graft.functions.Kernels
import graft.streaming.StreamingMetrics
import graft.streaming.StreamingMetrics.{LinkRow, WmLinkRow}
import graft.vec.{IvfServe, ShardedGraphBuild}
import org.apache.spark.sql.{Encoders, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import scala.util.Try

/** The kernel registry: every native function is declared once in
  * [[Kernels.all]], `GraftExtensions` injects all of them, a second
  * [[Kernels.register]] replaces nothing, and every catalog entry and
  * every public entry point that registers analyzes in a session that
  * starts without the kernels (`newSession()` copies no function
  * registry), so no deleted per-use registration was needed.
  */
class GraftExtensionsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val names = Kernels.all.map(_._1.funcName)

  private def registry(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry

  /** A session on the test context whose function registry holds none of the kernels. */
  private def fresh(): SparkSession = {
    val s = spark.newSession()
    assert(Kernels.all.forall(k => !registry(s).functionExists(k._1)))
    s
  }

  /** Runs `body`, naming `label` in any failure. */
  private def named(label: String)(body: => Unit): Unit =
    Try(body).failed.foreach(e => fail(s"$label: $e", e))

  test("every kernel exposes a (identifier, info, builder) registration") {
    assert(names.distinct === names)
    assert(names.size === 19)
    val lits = Seq[Expression](Literal(1), Literal(2), Literal(3), Literal(4))
    Kernels.all.foreach { case (id, info, build) =>
      assert(info.getName === id.funcName)
      // the builder of the reported class, at the first arity it accepts
      val built = (1 to 4).iterator.flatMap(n => Try(build(lits.take(n))).toOption).nextOption()
      assert(built.exists(Class.forName(info.getClassName).isInstance), id.funcName)
    }
  }

  test("the extension function set covers every name the library registers") {
    val injected = Seq.newBuilder[String]
    val recording = new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new GraftExtensions()(recording)
    assert(injected.result() === names)
  }

  test("a second register replaces no builder, and a name already present stays") {
    val s = fresh()
    val reg = registry(s)
    val (keepId, keepInfo, _) = Kernels.all.head
    val mine: Seq[Expression] => Expression = _.head
    reg.registerFunction(keepId, keepInfo, mine)
    Kernels.register(s)
    val first = Kernels.all.map(k => reg.lookupFunctionBuilder(k._1).get)
    Kernels.register(s)
    Kernels.all.zip(first).foreach { case ((id, _, build), b) =>
      val now = reg.lookupFunctionBuilder(id).get
      assert(now eq b, id)
      assert(now eq (if (id == keepId) mine else build), id)
    }
  }

  test("every catalog entry builds and analyzes in a session without the kernels") {
    SparkEntry.catalog.foreach { q =>
      named(q.name) { q.run(fresh(), dir).queryExecution.assertAnalyzed() }
      spark.catalog.clearCache()
    }
  }

  test("every public entry point that registers analyzes in a session without the kernels") {
    // inputs read straight from parquet, so no table load registers first
    def vec(s: SparkSession) = {
      val en = s.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
        .withColumn("n2", aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")))
      val cent = en.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("cvec"))
      val probes = en.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding"), col("n2"))
      val edges = en.select(col("vec_id").as("src"), (col("vec_id") + 1).as("nbr"))
      (en, cent, probes, edges)
    }
    def stream(s: SparkSession, schema: String) =
      s.readStream.schema(schema).parquet(Files.createTempDirectory("kernels").toString)
    def clean(s: SparkSession) =
      s.range(4).select(col("id").as("c_key"), concat(lit("title "), col("id")).as("title"))
    val entries: Seq[(String, SparkSession => Unit)] = Seq(
      "coarseCentroids" -> { s =>
        val (en, _, _, _) = vec(s)
        ShardedGraphBuild.coarseCentroids(en.select("vec_id", "embedding"), 2, 1, 1)
          .queryExecution.assertAnalyzed()
      },
      "buildSharded" -> { s =>
        val (en, cent, _, _) = vec(s)
        ShardedGraphBuild.buildSharded(en, cent, k = 2, kAlt = 0, rounds = 1, sample = 2)
          .queryExecution.assertAnalyzed()
      },
      "buildLshInit" -> { s =>
        val (en, cent, _, _) = vec(s)
        ShardedGraphBuild.buildLshInit(en, cent, k = 2, kAlt = 0, rounds = 1, sample = 2)
          .queryExecution.assertAnalyzed()
      },
      "hybridAudit" -> { s =>
        val (en, cent, _, edges) = vec(s)
        ShardedGraphBuild.hybridAudit(en, edges, cent, beam = 2, hops = 1, rk = 2, nProbes = 4)
          .queryExecution.assertAnalyzed()
      },
      "serve" -> { s =>
        val (en, cent, probes, _) = vec(s)
        IvfServe.serve(en, cent, probes, 1, 2).queryExecution.assertAnalyzed()
      },
      "ivfSweepAudit" -> { s =>
        val (en, cent, _, _) = vec(s)
        assert(IvfServe.ivfSweepAudit(en, cent, Seq(1), rk = 2, nProbes = 4).nonEmpty)
      },
      "streamNearDedup" -> { s =>
        val base = s.range(2).select(col("id").as("doc_id"),
          concat(lit("a base corpus document number "), col("id")).as("text"))
        StreamingMetrics.streamNearDedup(
          stream(s, "doc_id LONG, text STRING, ts_us LONG"), base).queryExecution.assertAnalyzed()
      },
      "streamLinkage" -> { s =>
        val dirty = stream(s, Encoders.product[LinkRow].schema.toDDL).as(Encoders.product[LinkRow])
        StreamingMetrics.streamLinkage(dirty, clean(s)).queryExecution.assertAnalyzed()
      },
      "streamLinkageWatermarked" -> { s =>
        val dirty = stream(s, Encoders.product[WmLinkRow].schema.toDDL)
          .as(Encoders.product[WmLinkRow])
        StreamingMetrics.streamLinkageWatermarked(dirty, clean(s)).queryExecution.assertAnalyzed()
      })
    entries.foreach { case (name, run) => named(name) { run(fresh()) } }
    spark.catalog.clearCache()
  }
}
