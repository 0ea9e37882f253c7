package graft.ml

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** O37/O38 — gradient-boosted-tree regression tier.
  * Ref: LGBMRegressor fit/predict (pipeline.py:258-265, 287-294).
  *
  * This object is the SQUARED-LOSS path; `objective: tweedie` in
  * lgb_params routes to [[TweedieGbt]] (native tweedie gradient +
  * eval-set early stopping) — see M5Pipeline's train task.
  *
  * Documented divergences from the reference's LightGBM (SURVEY §7.5.3)
  * when THIS path is used:
  *  - objective: Spark GBT has squared/absolute loss, no tweedie;
  *  - early stopping: no eval-set rounds — `validationIndicatorCol` +
  *    `validationTol` is the Spark-native equivalent;
  *  - categoricals: LightGBM consumes pandas category codes natively;
  *    here strings are label-encoded to deterministic lexicographic
  *    codes ([[LabelVocab]], O13) and fed as ordinal numerics;
  *  - NaN handling: LightGBM routes missing values per split; GBT
  *    rejects NaN, so missing features are imputed with a sentinel
  *    that lands in its own extreme split region.
  * Model outputs are golden-tested under a fixed seed, never
  * oracle-hashed (SURVEY §5.3).
  */
object Gbt {

  val MissingSentinel: Double = -999.0

  final case class Params(
      maxIter: Int,
      stepSize: Double,
      maxDepth: Int,
      subsamplingRate: Double,
      featureSubsetStrategy: String,
      seed: Long = 42L)

  /** Translate the reference's lgb_params surface (base.yaml:14-24)
    * onto GBT's knobs; unmapped keys (num_leaves, min_child_weight,
    * tweedie objective) are intentionally dropped — see object doc. */
  def fromLgbParams(p: Map[String, Any]): Params = {
    def num(k: String, dflt: Double): Double = p.get(k) match {
      case Some(n: java.lang.Number) => n.doubleValue()
      case Some(s) => s.toString.toDouble
      case None => dflt
    }
    Params(
      maxIter = num("n_estimators", 100).toInt,
      stepSize = num("learning_rate", 0.1),
      maxDepth = math.min(num("max_depth", 5).toInt, 30),
      subsamplingRate = num("subsample", 1.0),
      featureSubsetStrategy = p.get("colsample_bytree").map(_.toString).getOrElse("all"))
  }

  /** Arity ceiling for NATIVE categorical treatment: a nominal feature
    * of arity a needs `maxBins >= a`, and maxBins is global — it also
    * sets the quantile-bin count of every CONTINUOUS feature, so a
    * 3,049-arity id column would force 3,049 bins on every numeric
    * feature (memory + findSplits cost). Above the ceiling a column
    * stays an ordinal code (LightGBM itself caps categorical treatment
    * via max_cat_threshold for the same reason). */
  val CatMaxArity = 256

  /** Columns in `catArity` (name → code arity INCLUDING the unseen slot)
    * get NominalAttribute metadata, so Spark ML trees split them as true
    * categoricals — for regression that is the mean-response-ordering
    * subset search, the same statistics-ordering trick LightGBM uses —
    * instead of ordinal thresholds on arbitrary lexicographic codes.
    * Codes are shifted +1 at assemble time only (nominal values must be
    * in [0, arity); the external -1-for-unseen contract is unchanged).
    *
    * `missingAsNaN = true` marks the HistTree path, which has no
    * global-maxBins coupling — there the arity ceiling LIFTS: every
    * catArity column gets nominal metadata, and arities above the
    * histogram's bin budget take HistTree's top-k + rest-bin remap
    * (M5's 30,490-level `id` becomes a real categorical instead of a
    * quantile-cut ordinal). [[maxBinsFor]] still filters to the
    * ceiling, so Spark's GBTRegressor never sees a 30k-bin ask. */
  private[graft] def assemble(df: DataFrame, featureCols: Seq[String],
      catArity: Map[String, Int] = Map.empty,
      missingAsNaN: Boolean = false): DataFrame = {
    import org.apache.spark.ml.attribute.NominalAttribute
    val catCols = featureCols.filter(c =>
      catArity.get(c).exists(a => missingAsNaN || a <= CatMaxArity))
    val numeric = featureCols.foldLeft(df) { (acc, c) =>
      if (catCols.contains(c)) {
        val meta = NominalAttribute.defaultAttr
          .withName(c).withNumValues(catArity(c)).toMetadata()
        acc.withColumn(c, (col(c) + lit(1)).cast("double").as(c, meta))
      } else acc.withColumn(c, col(c).cast("double"))
    }
    // Spark ML trees need missing imputed away (the sentinel); the
    // HistTree path keeps REAL missing as NaN so per-split default
    // directions can be learned from it
    val filled = numeric.na.fill(
      if (missingAsNaN) Double.NaN else MissingSentinel,
      featureCols.filterNot(catCols.contains))
    new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      // "keep" lets NaN through into the vector (the HistTree missing
      // marker); the default "error" refuses it
      .setHandleInvalid(if (missingAsNaN) "keep" else "error")
      .transform(filled)
  }

  /** maxBins for a tree consuming [[assemble]]'s output: must cover the
    * largest nominal arity that was attached (default 32 otherwise). */
  private[graft] def maxBinsFor(catArity: Map[String, Int]): Int =
    (32 +: catArity.values.filter(_ <= CatMaxArity).toSeq).max

  /** O37 — fit with a validation split indicator (rows where
    * `validCol` is true are held out for validation-based stopping). */
  def fit(
      train: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      validCol: String,
      params: Params,
      catArity: Map[String, Int] = Map.empty): GBTRegressionModel = {
    val assembled = assemble(train, featureCols, catArity)
      .withColumn("__label", col(labelCol).cast("double"))
    new GBTRegressor()
      .setFeaturesCol("features")
      .setLabelCol("__label")
      .setValidationIndicatorCol(validCol)
      .setMaxIter(params.maxIter)
      .setStepSize(params.stepSize)
      .setMaxDepth(params.maxDepth)
      .setMaxBins(maxBinsFor(catArity))
      .setSubsamplingRate(params.subsamplingRate)
      .setFeatureSubsetStrategy(params.featureSubsetStrategy)
      .setSeed(params.seed)
      .fit(assembled)
  }

  /** O38 — batch predict: append `predCol` to `df`. */
  def predict(
      model: GBTRegressionModel,
      df: DataFrame,
      featureCols: Seq[String],
      predCol: String,
      catArity: Map[String, Int] = Map.empty): DataFrame =
    model.transform(assemble(df, featureCols, catArity))
      .withColumn(predCol, col(model.getPredictionCol))
      .drop("features", model.getPredictionCol)
}
