package graft.m5

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.YamlConfig

/** The M5 DAG under the reference's REAL objective (`full.yaml:4`
  * `objective: tweedie`) — previously a declared divergence, now routed
  * to [[graft.ml.TweedieGbt]]. Pins (a) the tweedie path end-to-end
  * through train → model save/load → predict → submission, and (b) the
  * VERDICT-r10-requested forecast-delta study vs the squared-loss
  * objective of the same loop, so the objective choice is measured, not
  * silent. */
class M5TweedieSpec extends SparkSpec {

  private lazy val inputDir = {
    val d = Files.createTempDirectory("m5in-tw").toString
    MiniM5Fixture.write(d)
    d
  }

  /** Mini-fixture scale: 5 rows per leaf instead of LightGBM's 20. */
  private val smallLeaves = Map[String, Object]("min_child_samples" -> Int.box(5))

  private def pipeline(objective: Option[String],
      numLeaves: Option[Int] = None,
      extra: Map[String, Object] = Map.empty): (M5Pipeline, String) = {
    val outDir = Files.createTempDirectory("m5out-tw").toString
    val base = MiniM5Fixture.config(inputDir, outDir)
    val lgb = new java.util.HashMap[String, Object](
      base("lgb_params").asInstanceOf[java.util.Map[String, Object]])
    objective.foreach { o =>
      lgb.put("objective", o)
      lgb.put("n_estimators", Int.box(8))
      lgb.put("early_stopping_rounds", Int.box(8))
      lgb.put("tweedie_variance_power", Double.box(1.1))
    }
    numLeaves.foreach(n => lgb.put("num_leaves", Int.box(n)))
    extra.foreach { case (k, v) => lgb.put(k, v) }
    val cfg = base.updated("lgb_params", lgb: Object)
    (new M5Pipeline(spark, YamlConfig.fromMap(cfg)), outDir)
  }

  test("tweedie objective runs the full DAG; forecast delta vs squared loss is measured") {
    val (tw, twOut) = pipeline(Some("tweedie"))
    val report = tw.run(log = _ => ())
    assert(report.ran.size == 23, report.ran.mkString(", "))

    val preds = spark.read.parquet(s"$twOut/predictions.parquet")
    assert(preds.count() == 2 * 6 * 7 * 2) // stores × items × days × weeks
    // log link: every tweedie forecast strictly positive — the property
    // the reference's objective choice buys on intermittent demand
    assert(preds.filter(col("pred_units_sold") <= 0).isEmpty,
      "tweedie predictions must be strictly positive")

    // rerun memoization must hold on this path too
    val report2 = tw.run(log = _ => ())
    assert(report2.ran.isEmpty, s"rerun must skip everything: ${report2.ran}")

    // ── forecast-delta study (VERDICT r10 item 7) ──────────────────
    val (sq, sqOut) = pipeline(None) // fixture default: squared loss
    sq.run(log = _ => ())
    val sqPreds = spark.read.parquet(s"$sqOut/predictions.parquet")
      .withColumnRenamed("pred_units_sold", "pred_sq")
    val joined = preds.join(sqPreds, Seq("id", "date", "pred_date"))
    assert(joined.count() == preds.count(), "prediction grids must align")
    val row = joined.agg(
      avg(abs(col("pred_units_sold") - col("pred_sq"))).as("mad"),
      avg(col("pred_units_sold")).as("mean_tw"),
      avg(col("pred_sq")).as("mean_sq")).head()
    val (mad, meanTw, meanSq) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
    info(f"forecast delta tweedie vs squared: mean|Δ|=$mad%.4f, " +
      f"mean(tweedie)=$meanTw%.4f, mean(squared)=$meanSq%.4f, " +
      f"relative=${mad / math.max(meanSq.abs, 1e-9)}%.2f")
    // the objectives MUST diverge materially on intermittent demand —
    // if they agreed, the declared divergence would have been free and
    // this path pointless; if they disagree wildly (>10× the level),
    // something is broken in the link/scale handling
    assert(mad > 1e-6, "objectives cannot be identical on this data")
    assert(mad < 10 * math.max(meanSq.abs, 1.0),
      s"tweedie forecasts are on the wrong scale: mean|Δ|=$mad vs level $meanSq")
  }

  test("histogram fitter (LightGBM split finding + learned missing routing) runs the DAG; delta vs sentinel path measured") {
    val (hist, histOut) = pipeline(Some("tweedie"), extra = smallLeaves)
    val report = hist.run(log = _ => ())
    assert(report.ran.size == 23, report.ran.mkString(", "))
    val preds = spark.read.parquet(s"$histOut/predictions.parquet")
    assert(preds.count() == 2 * 6 * 7 * 2)
    assert(preds.filter(col("pred_units_sold") <= 0).isEmpty,
      "tweedie predictions must be strictly positive")
  }

  test("leaf-wise growth (num_leaves, LightGBM's frontier) runs the full DAG") {
    val (lw, lwOut) = pipeline(Some("tweedie"), numLeaves = Some(8),
      extra = smallLeaves)
    val report = lw.run(log = _ => ())
    assert(report.ran.size == 23, report.ran.mkString(", "))
    val preds = spark.read.parquet(s"$lwOut/predictions.parquet")
    assert(preds.count() == 2 * 6 * 7 * 2)
    assert(preds.filter(col("pred_units_sold") <= 0).isEmpty,
      "tweedie predictions must be strictly positive")
  }

  test("full.yaml verbatim routes to the leaf-wise histogram fitter by default") {
    // the reference's real parameter block (full.yaml:4-14) with only
    // n_estimators scaled down — NO histogram key anywhere, exactly
    // what a user porting the yaml would run. Since r13 fromLgbParams
    // must take the LightGBM-parity path on its own: num_leaves: 50,
    // min_child_weight: 300 and colsample_bytree: 0.8 all map.
    val lgb = Map[String, Any](
      "objective" -> "tweedie", "n_estimators" -> 8,
      "learning_rate" -> 0.1, "subsample" -> 0.8,
      "colsample_bytree" -> 0.8, "max_depth" -> 8,
      "num_leaves" -> 50, "min_child_weight" -> 300,
      "metric" -> "rmse", "verbose" -> 10)
    val tp = graft.ml.TweedieGbt.fromLgbParams(lgb)
    // histogram trees are the only fitter: asking for the removed
    // Spark ML one fails, any other histogram value is ignored
    intercept[IllegalArgumentException](
      graft.ml.TweedieGbt.fromLgbParams(lgb + ("histogram" -> false)))
    assert(graft.ml.TweedieGbt.fromLgbParams(lgb + ("histogram" -> true)) == tp)
    assert(tp.numLeaves == 50 && tp.maxDepth == 8)
    assert(tp.minChildWeight == 300.0 && tp.colsampleBytree == 0.8)

    val (fy, fyOut) = pipeline(Some("tweedie"),
      numLeaves = Some(50),
      extra = Map(
        "colsample_bytree" -> Double.box(0.8),
        "max_depth" -> Int.box(8),
        "min_child_weight" -> Int.box(300),
        "subsample" -> Double.box(0.8)))
    val report = fy.run(log = _ => ())
    assert(report.ran.size == 23, report.ran.mkString(", "))
    val preds = spark.read.parquet(s"$fyOut/predictions.parquet")
    assert(preds.count() == 2 * 6 * 7 * 2)
    // min_child_weight 300 dwarfs the mini fixture's hessian mass, so
    // trees are intercept-only here — the point is the ROUTE (histogram
    // leaf-wise, constraints enforced), and the log link still holds
    assert(preds.filter(col("pred_units_sold") <= 0).isEmpty,
      "tweedie predictions must be strictly positive")
  }

  test("num_leaves is validated where lgb_params are read") {
    val lgb = Map[String, Any]("objective" -> "tweedie")
    // 1 and negatives once grew a depth-limited tree silently; 5000
    // passed here and failed inside the first tree fit
    for (bad <- Seq(1, -1, 5000))
      intercept[IllegalArgumentException](
        graft.ml.TweedieGbt.fromLgbParams(lgb + ("num_leaves" -> bad)))
    for (ok <- Seq(0, 50))
      assert(graft.ml.TweedieGbt.fromLgbParams(lgb + ("num_leaves" -> ok)).numLeaves == ok)

    // objective: absent (LightGBM's default) or an L2 alias is squared
    // loss, tweedie is Tweedie; anything else once fit squared loss
    // silently and now fails naming the value
    import graft.ml.TweedieGbt.Objective
    assert(graft.ml.TweedieGbt.fromLgbParams(Map.empty).objective == Objective.Squared)
    for (l2 <- Seq("regression", "regression_l2", "l2", "mse", "mean_squared_error"))
      assert(graft.ml.TweedieGbt.fromLgbParams(Map("objective" -> l2)).objective ==
        Objective.Squared, l2)
    assert(graft.ml.TweedieGbt.fromLgbParams(
      lgb + ("tweedie_variance_power" -> 1.3)).objective == Objective.Tweedie(1.3))
    for (bad <- Seq("poisson", "tweedy", "Tweedie", "")) {
      val e = intercept[IllegalArgumentException](
        graft.ml.TweedieGbt.fromLgbParams(Map("objective" -> bad)))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
