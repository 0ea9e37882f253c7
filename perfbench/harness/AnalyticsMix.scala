package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.SparkEntry
import graft.util.CacheScope

/** `analytics_mix`: one closed-loop client runs a fixed list of declared
  * queries (SparkEntry.queries) in a seeded order per pass, each through
  * the noop sink, until the time budget is spent. One operation is one
  * query execution. */
object AnalyticsMix {
  import Main.{mean, rmrf, seconds, timed}

  /** The mix: (declared query, operator module it exercises), one query
    * per operators.* module, none of them gate-only. */
  val Mix: Seq[(String, String)] = Seq(
    "t04_join_chain" -> "Relational", "x103_retention_cohorts" -> "TimeSeries",
    "x301_powerlaw_alpha" -> "Graph", "t37_stats_agg" -> "Profiling",
    "x142_welch_ttest" -> "Evaluation", "x124_croston" -> "Forecast",
    "x208_basket_profile" -> "Retail", "x264_hll_grouped" -> "Sketch",
    "x63_stratified_sample" -> "Sampling", "t34_cosine_topk" -> "Similarity",
    "x58_vocabulary" -> "TextAnalysis", "x40_exact_dedup" -> "Dedup")

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collect(p) { case e: ShuffleExchangeLike => e }.size
  }

  def run(spark: SparkSession, rec: Recorder, a: Args, o: Outcome): Unit = {
    val unknown = Mix.map(_._1).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"mix names no declared query: ${unknown.mkString(", ")}")
    val gated = Mix.map(_._1).filter(SparkEntry.gateOnly.contains)
    require(gated.isEmpty, s"mix names gate-only queries: ${gated.mkString(", ")}")

    // ── one-time state (persisted indexes etc.), as a deployment has ─
    o.stateS = timed {
      Mix.foreach { case (q, _) => SparkEntry.benchSetup.get(q).foreach(_(spark, a.in)) }
    }._2

    // ── warm-up: each query's first result, kept for the oracle check ─
    val resDir = s"${a.out}/results"
    rmrf(resDir)
    o.warmupS = timed {
      Mix.foreach { case (q, _) =>
        try SparkEntry.queries(q)(spark, a.in).coalesce(1).write.mode("overwrite")
          .parquet(s"$resDir/$q")
        catch { case e: Exception => System.err.println(s"[perfbench] $q first run failed: $e") }
        finally CacheScope.sweep(spark)
      }
    }._2
    Files.createDirectories(Paths.get(resDir))
    Files.writeString(Paths.get(resDir, "oracle_sql.json"), Json.render(
      Mix.flatMap { case (q, _) => SparkEntry.oracleSql.get(q).map(q -> _) }.toMap))
    Files.writeString(Paths.get(resDir, "dumped.json"), Json.render(Mix.map(_._1)))

    // ── measured passes ────────────────────────────────────────────
    val rng = new scala.util.Random(a.seed)
    val planS = mutable.ArrayBuffer.empty[Double]
    val execS = mutable.ArrayBuffer.empty[Double]
    val exchanges = mutable.ArrayBuffer.empty[Double]
    val byModule = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var passes = 0
    var spent = 0.0
    var n = 0
    while (passes == 0 || spent < a.seconds) {
      rng.shuffle(Mix).foreach { case (q, module) =>
        val runId = s"p$passes:$q"
        o.attempted += 1
        val t0 = System.nanoTime()
        try {
          rec.inGroup(s"q:$runId") {
            rec.span("queries.execute", runId) { id =>
              val df = rec.span("queries.plan", runId, id) { _ =>
                val df = SparkEntry.queries(q)(spark, a.in)
                if (rec.enabled) exchanges += Plans.exchanges(df.queryExecution.executedPlan)
                df
              }
              val t1 = System.nanoTime()
              rec.span(s"operators.$module", runId, id) { _ =>
                df.write.format("noop").mode("overwrite").save()
              }
              if (rec.enabled) {
                planS += (t1 - t0) / 1e9
                execS += seconds(t1)
                byModule(module) += seconds(t1)
              }
            }
          }
          val s = seconds(t0)
          o.sample(runId, s)
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
          spent += s
          n += 1
        } catch {
          case e: Exception =>
            spent += seconds(t0)
            o.failed += runId
            System.err.println(s"[perfbench] $runId failed: $e")
        } finally CacheScope.sweep(spark)
      }
      passes += 1
      o.probeHeap()
    }
    o.items = n
    o.report ++= Seq("passes" -> passes, "mix_size" -> Mix.size,
      "query_median_s" -> perQuery.map { case (q, xs) => q -> Main.median(xs.toSeq) }.toMap)

    if (rec.enabled) {
      o.layers("queries.plan_s") = mean(planS.toSeq)
      o.layers("queries.exec_s") = mean(execS.toSeq)
      o.layers("queries.exchanges") = mean(exchanges.toSeq)
      Mix.map(_._2).distinct.foreach(m => o.layers(s"queries.exec_s.$m") = byModule(m) / passes)
      o.layers ++= rec.sparkLayers("q:", n)
    }
  }
}
