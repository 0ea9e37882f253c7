package graft.ml

import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tweedie-objective gradient boosting — the reference's actual M5 loss
  * (`full.yaml:4` `objective: tweedie`, LGBMRegressor pipeline.py:258),
  * previously a declared divergence (squared-loss GBT stand-in).
  *
  * Spark's GBTRegressor hard-codes squared/absolute loss, so this is a
  * first-order Friedman gradient-boosting loop built from
  * `DecisionTreeRegressor` stages, with a log link and the
  * compound-Poisson (Tweedie) deviance, power ρ ∈ (1, 2):
  *
  *   loss(y, F)    = -y·e^{(1-ρ)F}/(1-ρ) + e^{(2-ρ)F}/(2-ρ)   (μ = e^F)
  *   -∂loss/∂F     =  y·e^{(1-ρ)F} - e^{(2-ρ)F}               (pseudo-residual)
  *
  * the same objective/gradient LightGBM's `tweedie` uses. Each stage
  * fits a regression tree to the pseudo-residuals, then REFITS each
  * leaf's value with the second-order Newton step LightGBM uses:
  *
  *   hess = ∂²loss/∂F² = (ρ-1)·y·e^{(1-ρ)F} + (2-ρ)·e^{(2-ρ)F}  (> 0)
  *   γ_leaf = Σ resid / (Σ hess + λ)
  *
  * (one grouped agg over the train rows per stage; the leaf routing
  * comes from the model's native `leafCol`, so no re-walk of the tree).
  * F steps by `stepSize · γ(leaf(x))` and predictions are μ = exp(F),
  * matching LightGBM's log-link output scale.
  *
  * With `Params.histogram = true` the per-stage trees come from
  * [[HistTree]] instead of Spark ML — LightGBM-parity HISTOGRAM split
  * finding plus PER-SPLIT LEARNED MISSING-VALUE ROUTING over real NaNs
  * (assemble with `missingAsNaN = true`; M5's lag/rolling warm-up rows
  * are null by construction, so this touches real data), and with
  * `numLeaves > 0` (lgb_params `num_leaves`) the trees grow LEAF-WISE
  * — LightGBM's best-first frontier with histogram subtraction — so
  * no fitter-SHAPE divergence remains: histogram splits, learned
  * missing routing, sorted categorical splits, and growth order all
  * match the reference's LGBMRegressor. Golden-tested, never
  * oracle-hashed (SURVEY §5.3), with the forecast deltas measured on
  * the golden fixture in M5TweedieSpec.
  *
  * Eval-set early stopping (the reference's `early_stopping_rounds=10`,
  * pipeline.py:262-265) is native here: validation rows (`validCol`)
  * are excluded from every tree fit, validation deviance is tracked per
  * round, and training stops after `earlyStoppingRounds` rounds without
  * improvement, returning the model truncated at the best round — the
  * LightGBM semantics, not GBT's validationTol drift check.
  *
  * Scale design (100 TB): the working frame carries (bins, label, F) on
  * the histogram path — the raw feature vector is DROPPED after the
  * one-time binning (r17: it was the largest resident column) — and is
  * re-persisted per round with the previous round's storage RELEASED
  * (unpersist + checkpoint-block release: `DataFrame.unpersist` alone
  * cannot reach a localCheckpoint's RDD blocks, and that leak — one
  * full binned frame per checkpointed round per concurrent model — is
  * what ran the full-width M5 tweedie demo out of a 32 GB heap).
  * Lineage is cut by `localCheckpoint` every `checkpointInterval`
  * rounds, the same cadence Spark's own GBT uses. Per round the cost is
  * one tree fit (Spark ML's distributed histogram builder) + one narrow
  * map to update F + one 1-row deviance agg; nothing driver-side grows
  * with data size, only with tree count. */
object TweedieGbt {

  final case class Params(
      maxIter: Int = 100,
      stepSize: Double = 0.1,
      maxDepth: Int = 5,
      variancePower: Double = 1.1,
      subsamplingRate: Double = 1.0,
      earlyStoppingRounds: Int = 10,
      checkpointInterval: Int = 10,
      seed: Long = 42L,
      // LightGBM-parity tree fitter: histogram split finding +
      // per-split learned missing-value routing (HistTree); assemble
      // the features with missingAsNaN = true on this path. OFF here
      // (programmatic callers opt in), but [[fromLgbParams]] — the
      // reference-yaml entry — defaults it ON since r13 so full.yaml's
      // num_leaves/min_child_weight actually bite
      histogram: Boolean = false,
      histMaxBins: Int = 255,
      minDataInLeaf: Int = 20,
      // LightGBM min_child_weight / min_sum_hessian_in_leaf: minimum
      // hessian mass per child (its default split gate; full.yaml:12
      // sets 300 — a regularizer row counts can't express, since the
      // tweedie hessian vanishes on near-zero-demand rows)
      minChildWeight: Double = 1e-3,
      // per-tree feature subsample (colsample_bytree / feature_fraction),
      // deterministic per round from `seed`
      colsampleBytree: Double = 1.0,
      // > 0 switches the histogram fitter to LEAF-WISE (best-first)
      // growth with this leaf budget — LightGBM's num_leaves frontier,
      // the last fitter-shape divergence; 0 keeps level-wise
      numLeaves: Int = 0) {
    require(variancePower > 1.0 && variancePower < 2.0,
      s"variancePower must be in (1,2) for compound-Poisson Tweedie: $variancePower")
    require(colsampleBytree > 0.0 && colsampleBytree <= 1.0,
      s"colsampleBytree must be in (0,1]: $colsampleBytree")
    require(minChildWeight >= 0.0,
      s"minChildWeight must be >= 0: $minChildWeight")
  }

  /** Map the reference's lgb_params onto this trainer (the keys
    * `Gbt.fromLgbParams` drops on the squared-loss path). */
  def fromLgbParams(p: Map[String, Any]): Params = {
    def num(k: String, dflt: Double): Double = p.get(k) match {
      case Some(n: java.lang.Number) => n.doubleValue()
      case Some(s) => s.toString.toDouble
      case None => dflt
    }
    // the LightGBM-parity fitter is the DEFAULT for the tweedie
    // objective (r13) — running full.yaml verbatim must hit the
    // histogram path, or its num_leaves: 50 / min_child_weight: 300
    // are silently ignored; `histogram: false` opts out explicitly
    val hist = p.get("histogram") match {
      case Some(v) =>
        v.toString.equalsIgnoreCase("true") || v.toString == "1"
      case None => true
    }
    Params(
      maxIter = num("n_estimators", 100).toInt,
      stepSize = num("learning_rate", 0.1),
      // LightGBM max_depth <= 0 means unlimited (num_leaves governs)
      maxDepth = {
        val md = num("max_depth", 5).toInt
        if (md <= 0) 20 else math.min(md, 20)
      },
      variancePower = num("tweedie_variance_power", 1.1),
      subsamplingRate = num("subsample", 1.0),
      earlyStoppingRounds = num("early_stopping_rounds", 10).toInt,
      histogram = hist,
      histMaxBins = num("max_bin", 255).toInt,
      minDataInLeaf = num("min_child_samples", 20).toInt,
      // LightGBM aliases: min_child_weight == min_sum_hessian_in_leaf
      minChildWeight = num("min_child_weight",
        num("min_sum_hessian_in_leaf", 1e-3)),
      // LightGBM aliases: colsample_bytree == feature_fraction
      colsampleBytree = num("colsample_bytree",
        num("feature_fraction", 1.0)),
      numLeaves = num("num_leaves", 0).toInt)
  }

  /** One boosting stage: the fitted tree (used only for its leaf
    * ROUTING at apply time) + the Newton-refitted value per leaf id. */
  sealed trait BoostStage { def leafValues: Map[Double, Double] }

  final case class Stage(
      tree: DecisionTreeRegressionModel,
      leafValues: Map[Double, Double]) extends BoostStage

  /** Histogram-fitter stage (LightGBM parity path): the [[HistTree]]
    * structure routes rows — including per-split learned missing
    * directions — and `leafValues` carries the Newton-refit values
    * keyed by leaf node id. */
  final case class HistStage(
      tree: HistTree.Tree,
      leafValues: Map[Double, Double]) extends BoostStage

  final case class Model(
      f0: Double,
      stepSize: Double,
      variancePower: Double,
      stages: Seq[BoostStage],
      validDeviances: Seq[Double],
      // the fit-time binning dictionary — REQUIRED for routing raw
      // vectors when any high-arity categorical was remapped to bins
      // (splits then live in bin space, not code space); persisted as
      // bins.txt next to the trees
      histBins: Option[HistTree.Bins] = None) {

    /** True when this model was fit with the histogram path — its
      * input must then be assembled with `missingAsNaN = true` so the
      * learned default directions see real missing values. */
    def isHistogram: Boolean = stages.exists(_.isInstanceOf[HistStage])

    /** μ = exp(f0 + lr·Σ γₖ(leafₖ(x))) appended as `predCol`. Each stage
      * is one leaf routing (ML transform or HistTree walk) + a
      * broadcast-literal map lookup; the additive F column stays
      * narrow (no shuffle). */
    def transform(assembled: DataFrame, predCol: String): DataFrame = {
      import org.apache.spark.sql.functions.typedLit
      val withF = stages.zipWithIndex.foldLeft(
        assembled.withColumn("__F", lit(f0))) {
        case (acc, (st: Stage, i)) =>
          val t = st.tree.setPredictionCol(s"__h$i").setLeafCol(s"__leaf$i")
          t.transform(acc)
            .withColumn("__F", col("__F") + lit(stepSize) *
              coalesce(
                element_at(typedLit(st.leafValues), col(s"__leaf$i")),
                col(s"__h$i"))) // unreachable in practice: every leaf is refit
            .drop(s"__h$i", s"__leaf$i")
        case (acc, (st: HistStage, i)) =>
          val t = st.tree
          // a model with code→bin remapped categoricals must route
          // through the fit-time dictionary (leftCats are BIN ids for
          // those features); otherwise the raw-vector walk is
          // equivalent and dictionary-free
          val leafU = histBins match {
            case Some(hb) if hb.hasCatMaps =>
              udf((v: org.apache.spark.ml.linalg.Vector) =>
                t.leafOfBins(hb.binRow(v)).toDouble)
            case _ =>
              udf((v: org.apache.spark.ml.linalg.Vector) =>
                t.leafOfVector(v).toDouble)
          }
          val own = typedLit(t.leafValue.map { case (k, v) => k.toDouble -> v })
          acc.withColumn(s"__leaf$i", leafU(col("features")))
            .withColumn("__F", col("__F") + lit(stepSize) *
              coalesce(
                element_at(typedLit(st.leafValues), col(s"__leaf$i")),
                element_at(own, col(s"__leaf$i"))))
            .drop(s"__leaf$i")
      }
      withF.withColumn(predCol, exp(col("__F"))).drop("__F")
    }

    def save(dir: String): Unit = {
      val p = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(p)
      stages.zipWithIndex.foreach { case (st, i) =>
        st match {
          case s: Stage =>
            s.tree.write.overwrite().save(s"$dir/tree_$i")
          case s: HistStage =>
            java.nio.file.Files.writeString(p.resolve(s"hist_$i.txt"),
              HistTree.serialize(s.tree))
        }
        val entries = st.leafValues.toSeq.sortBy(_._1)
          .map { case (k, v) => s"[$k,$v]" }.mkString(",")
        java.nio.file.Files.writeString(p.resolve(s"leaves_$i.json"),
          s"[$entries]")
      }
      histBins.foreach(hb => java.nio.file.Files.writeString(
        p.resolve("bins.txt"), HistTree.serializeBins(hb)))
      java.nio.file.Files.writeString(p.resolve("meta.json"),
        s"""{"f0":$f0,"stepSize":$stepSize,"variancePower":$variancePower,""" +
          s""""numTrees":${stages.size},"histogram":${if (isHistogram) 1 else 0}}""")
    }
  }

  def load(spark: SparkSession, dir: String): Model = {
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "meta.json"))
    def field(k: String): Double =
      s""""$k"\\s*:\\s*(-?[\\d.eE+-]+)""".r.findFirstMatchIn(txt).get.group(1).toDouble
    val n = field("numTrees").toInt
    val pair = """\[(-?[\d.eE+-]+),(-?[\d.eE+-]+)\]""".r
    val stages = (0 until n).map { i =>
      val leaves = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, s"leaves_$i.json"))
      val leafValues = pair.findAllMatchIn(leaves)
        .map(m => m.group(1).toDouble -> m.group(2).toDouble).toMap
      val histPath = java.nio.file.Paths.get(dir, s"hist_$i.txt")
      if (java.nio.file.Files.exists(histPath))
        HistStage(
          HistTree.deserialize(java.nio.file.Files.readString(histPath)),
          leafValues)
      else
        Stage(DecisionTreeRegressionModel.load(s"$dir/tree_$i"), leafValues)
    }
    val binsPath = java.nio.file.Paths.get(dir, "bins.txt")
    val bins =
      if (java.nio.file.Files.exists(binsPath))
        Some(HistTree.deserializeBins(java.nio.file.Files.readString(binsPath)))
      else None
    Model(field("f0"), field("stepSize"), field("variancePower"), stages,
      Nil, bins)
  }

  /** Mean Tweedie deviance of `predCol` vs `labelCol` — the eval metric
    * (sklearn's mean_tweedie_deviance shape). One 1-row aggregate. */
  def meanDeviance(df: DataFrame, labelCol: String, predCol: String,
      p: Double): Double = {
    val y = col(labelCol).cast("double"); val mu = col(predCol)
    val term =
      pow(y, 2 - p) / ((1 - p) * (2 - p)) -
      y * pow(mu, 1 - p) / (1 - p) +
      pow(mu, 2 - p) / (2 - p)
    df.agg(avg(lit(2) * term)).head().getDouble(0)
  }

  /** Fit on rows where `validCol` is false; validation rows drive early
    * stopping. `train` must already carry an assembled `features`
    * vector column (encode strings with [[LabelVocab]], then
    * `Gbt.assemble`). Labels must be ≥ 0 (Tweedie support); negative
    * labels fail fast. */
  def fit(train: DataFrame, featuresCol: String, labelCol: String,
      validCol: String, params: Params): Model = {
    val spark = train.sparkSession
    val p = params.variancePower

    val base0 = train
      .withColumn("__y", col(labelCol).cast("double"))
      .select(col(featuresCol).as("features"), col("__y"),
        col(validCol).cast("boolean").as("__valid"))
    // one pass for the label guard, the train mean and both split sizes
    val stats = base0.agg(
      count(when(col("__y") < 0, 1)),
      avg(when(!col("__valid"), col("__y"))),
      count(when(!col("__valid"), 1)),
      count(when(col("__valid"), 1))).head()
    require(stats.getLong(0) == 0, "Tweedie labels must be non-negative")
    require(!stats.isNullAt(1), "Tweedie fit needs at least one train row")
    val trainRows = stats.getLong(2)
    val hasValid = stats.getLong(3) > 0

    // F0 = log(mean y) over TRAIN rows only (LightGBM's boost_from_average
    // for tweedie); ε-guard for an all-zero label column
    val f0 = math.log(math.max(stats.getDouble(1), 1e-9))

    // honor nominal-attribute metadata attached by Gbt.assemble: native
    // categorical splits need maxBins >= the largest nominal arity
    val maxBins = {
      val ag = org.apache.spark.ml.attribute.AttributeGroup
        .fromStructField(train.schema(featuresCol))
      val arities = ag.attributes.toSeq.flatten.collect {
        case n: org.apache.spark.ml.attribute.NominalAttribute =>
          n.getNumValues.getOrElse(0)
      }
      (32 +: arities).max
    }

    // histogram path: build the bin dictionary once from the TRAIN
    // rows and attach a compact binned column — every round's tree
    // fit reuses it (LightGBM bins once per dataset, not per tree)
    val histBins =
      if (params.histogram)
        Some(HistTree.buildBins(base0.filter(!col("__valid")), "features",
          maxBins = params.histMaxBins, seed = params.seed, rowCount = trainRows))
      else None
    val base1 = histBins match {
      case Some(hb) =>
        // the per-round loop on the histogram path reads ONLY
        // (__bins, __y, __valid, __F): the raw vector column is dead
        // weight in every round's resident cache — at full M5 width
        // (≈5.9M rows/store × 8 DAG-parallel models) it is the
        // LARGEST column (doubles vs the shorts it was binned to).
        // Bin once, drop it (r17: half the per-model cache bytes).
        base0.withColumn("__bins", HistTree.binColumn(hb, "features"))
          .drop("features")
      case None => base0
    }
    // Rotation helper: a round frame can be a plain persist OR a
    // localCheckpoint — DataFrame.unpersist alone cannot reach a
    // checkpoint RDD's blocks (the graft.util.Cut.release gap), so
    // every checkpointed round's FULL binned frame stayed resident
    // until context GC. At full M5 width × 8 concurrent models that
    // leak is what ran a 32 GB driver out of heap (r17 tweedie run).
    def release(df: DataFrame): Unit = {
      df.unpersist()
      graft.util.Cut.release(df)
    }
    var cur = base1.withColumn("__F", lit(f0)).localCheckpoint(true)
    var best = (Double.MaxValue, 0) // (valid deviance, round)
    val stages = scala.collection.mutable.ArrayBuffer.empty[BoostStage]
    val validDev = scala.collection.mutable.ArrayBuffer.empty[Double]

    var round = 0
    var stop = false
    while (round < params.maxIter && !stop) {
      // pseudo-residual (-gradient) of the Tweedie loss at the current F
      val resid = cur.withColumn("__r",
        col("__y") * exp(lit(1 - p) * col("__F")) - exp(lit(2 - p) * col("__F")))
      val fitRows0 = resid.filter(!col("__valid"))
      val fitRows =
        if (params.subsamplingRate < 1.0)
          fitRows0.sample(withReplacement = false,
            params.subsamplingRate, params.seed + round)
        else fitRows0
      val hess =
        lit(p - 1) * col("__y") * exp(lit(1 - p) * col("__F")) +
        lit(2 - p) * exp(lit(2 - p) * col("__F"))

      // Newton leaf refit (LightGBM's second-order step): route every
      // TRAIN row to its leaf, then γ_leaf = Σ resid / (Σ hess + λ).
      // One grouped agg of leaf cardinality (≤ 2^maxDepth rows out) —
      // map-side combinable, no data-size-proportional driver state.
      def refit(routed: DataFrame): Map[Double, Double] =
        routed.groupBy(col("__leaf"))
          .agg((sum(col("__r")) / (sum(col("__hess")) + lit(1e-6))).as("__g"))
          .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap

      val next0 = histBins match {
        case None =>
          val tree = new DecisionTreeRegressor()
            .setFeaturesCol("features").setLabelCol("__r")
            .setPredictionCol("__h")
            .setMaxDepth(params.maxDepth)
            .setMaxBins(maxBins)
            .setSeed(params.seed + round)
            .fit(fitRows)
          val leafValues = refit(
            tree.setLeafCol("__leaf").transform(fitRows0)
              .withColumn("__hess", hess))
          stages += Stage(tree, leafValues)
          val gammaMap = org.apache.spark.sql.functions.typedLit(leafValues)
          tree.setLeafCol("__leaf").transform(cur)
            .withColumn("__F", col("__F") + lit(params.stepSize) *
              coalesce(element_at(gammaMap, col("__leaf")), col("__h")))
            .drop("__h", "__leaf")
        case Some(hb) =>
          // LightGBM-parity fitter: histogram split finding with
          // per-split learned missing routing, on the pre-binned rows;
          // num_leaves > 0 grows LEAF-WISE (LightGBM's frontier rule).
          // colsample_bytree: a deterministic per-round feature subset
          // (seeded shuffle), LightGBM's per-tree feature_fraction
          val fitFrame = fitRows.withColumn("__hess", hess)
          val mask: Array[Boolean] =
            if (params.colsampleBytree >= 1.0) null
            else {
              val numF = hb.numFeatures
              val k = math.max(1,
                math.round(numF * params.colsampleBytree).toInt)
              val rng = new scala.util.Random(params.seed * 31 + round)
              val picked = rng.shuffle((0 until numF).toVector).take(k)
              val m = new Array[Boolean](numF)
              picked.foreach(m(_) = true)
              m
            }
          val tree =
            if (params.numLeaves >= 2)
              HistTree.fitLeafWise(fitFrame, "__bins", "__r", "__hess",
                hb, numLeaves = params.numLeaves,
                maxDepth = params.maxDepth, lambda = 1e-6,
                minData = params.minDataInLeaf.toLong, minGain = 0.0,
                minHess = params.minChildWeight, featureMask = mask)
            else
              HistTree.fit(fitFrame, "__bins", "__r", "__hess", hb,
                maxDepth = params.maxDepth, lambda = 1e-6,
                minData = params.minDataInLeaf.toLong, minGain = 0.0,
                minHess = params.minChildWeight, featureMask = mask)
          val leafU = udf((b: scala.collection.Seq[Short]) =>
            tree.leafOfBins(b.toArray).toDouble)
          val leafValues = refit(
            fitRows0.withColumn("__leaf", leafU(col("__bins")))
              .withColumn("__hess", hess))
          stages += HistStage(tree, leafValues)
          val gammaMap = org.apache.spark.sql.functions.typedLit(leafValues)
          val own = org.apache.spark.sql.functions.typedLit(
            tree.leafValue.map { case (k, v) => k.toDouble -> v })
          cur.withColumn("__leaf", leafU(col("__bins")))
            .withColumn("__F", col("__F") + lit(params.stepSize) *
              coalesce(element_at(gammaMap, col("__leaf")),
                element_at(own, col("__leaf"))))
            .drop("__leaf")
      }
      // cut lineage periodically (GBT's checkpointInterval cadence);
      // plain persist in between keeps each round one stage deep.
      // FAULT-TOLERANCE TRADE (r17 ADVICE): release(cur) below frees
      // the predecessor round's only data copy while `next`'s lineage
      // (when it's a plain persist) still roots in that released
      // localCheckpoint — on a multi-executor cluster a lost cached
      // partition after the release fails the job instead of
      // recomputing. Deliberate for the single-JVM target (memory is
      // the binding constraint — the r17 full-width run OOM'd without
      // eager release); a cluster deployment should either set
      // checkpointInterval=1 (every round is a cut, releases only ever
      // free a frame with a checkpointed successor) or defer release
      // to the next checkpoint boundary.
      // A plain persist is materialized by the round's first action —
      // the validation deviance, or a count when there is no validation
      // split — and only then is the previous round released: its blocks
      // are the persisted frame's lineage until that action has run.
      val checkpointed = (round + 1) % params.checkpointInterval == 0
      val next = if (checkpointed) next0.localCheckpoint(true) else next0.persist()
      if (hasValid) {
        val dev = meanDeviance(
          next.filter(col("__valid")).withColumn("__mu", exp(col("__F"))),
          "__y", "__mu", p)
        validDev += dev
        if (dev < best._1 - 1e-12) best = (dev, round + 1)
        else if (round + 1 - best._2 >= params.earlyStoppingRounds) stop = true
      } else if (!checkpointed) next.count()
      release(cur)
      cur = next
      round += 1
    }
    release(cur)

    // LightGBM returns the BEST-round model, not the last
    val keep = if (hasValid && best._2 > 0) best._2 else stages.size
    Model(f0, params.stepSize, p, stages.take(keep).toSeq, validDev.toSeq,
      histBins)
  }
}
