package graft.ml

import java.nio.file.{Files, Paths}

import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Cut

/** O37/O38 — gradient-boosted-tree regression, the reference's
  * LGBMRegressor fit/predict (pipeline.py:258-265, 287-294): one
  * first-order Friedman boosting loop over [[HistTree]] stages with a
  * LightGBM [[Objective]]:
  *
  *  - `tweedie` (`full.yaml:4`): log link and the compound-Poisson
  *    deviance, power ρ ∈ (1, 2),
  *
  *      loss(y, F)    = -y·e^{(1-ρ)F}/(1-ρ) + e^{(2-ρ)F}/(2-ρ)   (μ = e^F)
  *      -∂loss/∂F     =  y·e^{(1-ρ)F} - e^{(2-ρ)F}               (pseudo-residual)
  *      ∂²loss/∂F²    = (ρ-1)·y·e^{(1-ρ)F} + (2-ρ)·e^{(2-ρ)F}   (> 0)
  *
  *    starting from F0 = log(mean y);
  *  - `regression` (squared loss, LightGBM's default and the
  *    `quick_*.yaml` configs', which name no objective): identity link,
  *    pseudo-residual y − F, hessian 1, F0 = mean y.
  *
  * Each stage fits a histogram tree to the pseudo-residuals, then REFITS
  * each leaf's value with the second-order Newton step LightGBM uses,
  * γ_leaf = Σ resid / (Σ hess + λ), over all train rows (one grouped agg
  * per stage, keyed by the leaf [[HistTree.leafColumn]] routes each row
  * to). The refit γ are the tree's `leafValue`. F steps by
  * `stepSize · γ(leaf(x))` and the prediction is the link of F.
  *
  * The trees are LightGBM's shape: HISTOGRAM split finding plus
  * PER-SPLIT LEARNED MISSING-VALUE ROUTING over real NaNs ([[assemble]]
  * keeps them; M5's lag/rolling warm-up rows are null by construction,
  * so this touches real data), sorted categorical splits, and
  * LightGBM's best-first frontier with histogram subtraction:
  * `numLeaves` (lgb_params `num_leaves`) is the leaf budget, and
  * `numLeaves = 0` grows every splittable leaf to `maxDepth`.
  * Golden-tested, never oracle-hashed (SURVEY §5.3).
  *
  * Every row is binned ONCE with the fit-time [[HistTree.Bins]], at fit
  * and at predict time alike, and every stage routes that binned
  * column: fit and [[Model.transform]] share one stage step.
  *
  * Eval-set early stopping (the reference's `early_stopping_rounds=10`,
  * pipeline.py:262-265): validation rows (`validCol`) are excluded from
  * every tree fit, the objective's validation deviance (for squared loss
  * the MSE) is tracked per round, and training stops after
  * `earlyStoppingRounds` rounds without improvement, returning the
  * model truncated at the best round — the LightGBM semantics.
  *
  * Scale design (100 TB): the working frame carries (bins, label, F) —
  * the raw feature vector is DROPPED after the one-time binning (r17:
  * it was the largest resident column) — and is re-persisted per round
  * with the previous round's storage RELEASED (unpersist, plus
  * [[graft.util.Cut.release]] for a cut round: `DataFrame.unpersist`
  * alone cannot reach a local checkpoint's RDD blocks, and that leak —
  * one full binned frame per checkpointed round per concurrent model —
  * is what ran the full-width M5 tweedie demo out of a 32 GB heap).
  * Lineage is cut by [[graft.util.Cut.local]] every
  * `checkpointInterval` rounds, the same cadence Spark's own GBT uses. Per round the cost is
  * one tree fit + one narrow map to update F + one 1-row deviance agg;
  * nothing driver-side grows with data size, only with tree count. */
object TweedieGbt {

  /** The boosting loss, over the label `y` and the raw score `F`. */
  sealed trait Objective {
    /** LightGBM's name for it, also the `meta.json` field. */
    def name: String
    /** −∂loss/∂F: the pseudo-residual each tree fits. */
    def residual(y: Column, f: Column): Column
    /** ∂²loss/∂F²: the Newton step's denominator. */
    def hessian(y: Column, f: Column): Column
    /** The starting score for a train-label mean. */
    def f0(mean: Double): Double
    /** The prediction for a score (the inverse link). */
    def link(f: Column): Column
    /** Mean deviance of `predCol` vs `labelCol`, the early-stopping
      * metric. One 1-row aggregate. */
    def deviance(df: DataFrame, labelCol: String, predCol: String): Double
  }

  object Objective {
    /** LightGBM `tweedie` with `tweedie_variance_power` ρ. */
    final case class Tweedie(power: Double) extends Objective {
      require(power > 1.0 && power < 2.0,
        s"variancePower must be in (1,2) for compound-Poisson Tweedie: $power")
      def name: String = "tweedie"
      def residual(y: Column, f: Column): Column =
        y * exp(lit(1 - power) * f) - exp(lit(2 - power) * f)
      def hessian(y: Column, f: Column): Column =
        lit(power - 1) * y * exp(lit(1 - power) * f) +
        lit(2 - power) * exp(lit(2 - power) * f)
      // LightGBM's boost_from_average for tweedie; ε-guard for an
      // all-zero label column
      def f0(mean: Double): Double = math.log(math.max(mean, 1e-9))
      def link(f: Column): Column = exp(f)
      def deviance(df: DataFrame, labelCol: String, predCol: String): Double =
        meanDeviance(df, labelCol, predCol, power)
    }

    /** LightGBM `regression`: squared loss, whose deviance is the MSE. */
    case object Squared extends Objective {
      def name: String = "regression"
      def residual(y: Column, f: Column): Column = y - f
      def hessian(y: Column, f: Column): Column = lit(1.0)
      def f0(mean: Double): Double = mean
      def link(f: Column): Column = f
      def deviance(df: DataFrame, labelCol: String, predCol: String): Double =
        df.agg(avg(pow(col(labelCol).cast("double") - col(predCol), 2)))
          .head().getDouble(0)
    }

    private val L2Aliases =
      Set("regression", "regression_l2", "l2", "mse", "mean_squared_error")

    /** The objective LightGBM's `objective` value names; absent is its
      * default, `regression`. Any other value fails, naming it. */
    def named(name: Option[String], variancePower: => Double): Objective =
      name match {
        case None => Squared
        case Some(n) if L2Aliases(n) => Squared
        case Some("tweedie") => Tweedie(variancePower)
        case Some(other) => throw new IllegalArgumentException(
          s"lgb_params objective '$other' is not supported: use tweedie or " +
            s"an L2 regression name (${L2Aliases.toSeq.sorted.mkString(", ")})")
      }
  }

  final case class Params(
      maxIter: Int = 100,
      stepSize: Double = 0.1,
      maxDepth: Int = 5,
      objective: Objective = Objective.Tweedie(1.1),
      subsamplingRate: Double = 1.0,
      earlyStoppingRounds: Int = 10,
      checkpointInterval: Int = 10,
      seed: Long = 42L,
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
      // the best-first leaf budget (LightGBM's num_leaves); 0 means
      // none, so the trees are limited by maxDepth alone
      numLeaves: Int = 0) {
    require(colsampleBytree > 0.0 && colsampleBytree <= 1.0,
      s"colsampleBytree must be in (0,1]: $colsampleBytree")
    require(minChildWeight >= 0.0,
      s"minChildWeight must be >= 0: $minChildWeight")
    require(numLeaves == 0 || (numLeaves >= 2 && numLeaves <= 4096),
      s"numLeaves must be 0 (no leaf budget) or in 2..4096: $numLeaves")
  }

  /** Map the reference's lgb_params (base.yaml:14-24) onto this trainer. */
  def fromLgbParams(p: Map[String, Any]): Params = {
    def num(k: String, dflt: Double): Double = p.get(k) match {
      case Some(n: java.lang.Number) => n.doubleValue()
      case Some(s) => s.toString.toDouble
      case None => dflt
    }
    // `histogram: false` once selected a Spark ML tree fitter; a config
    // still asking for it must not silently get histogram trees
    require(!p.get("histogram").exists(_.toString.equalsIgnoreCase("false")),
      "lgb_params histogram: false asks for the Spark ML tree fitter, " +
        "which no longer exists; TweedieGbt always fits histogram trees")
    Params(
      maxIter = num("n_estimators", 100).toInt,
      stepSize = num("learning_rate", 0.1),
      // LightGBM max_depth <= 0 means unlimited (num_leaves governs)
      maxDepth = {
        val md = num("max_depth", 5).toInt
        if (md <= 0) 20 else math.min(md, 20)
      },
      objective = Objective.named(p.get("objective").map(_.toString),
        num("tweedie_variance_power", 1.1)),
      subsamplingRate = num("subsample", 1.0),
      earlyStoppingRounds = num("early_stopping_rounds", 10).toInt,
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

  /** The `features` vector [[fit]] and [[Model.transform]] read: every
    * column cast to double with real missing kept as NaN (the HistTree
    * missing marker). Columns in `catArity` (name → code arity INCLUDING
    * the unseen slot, [[LabelVocab.arity]]) get NominalAttribute metadata,
    * so [[HistTree.buildBins]] bins them as categoricals; their codes are
    * shifted +1 here only (nominal values must be in [0, arity), so
    * null/unseen becomes code 0, the missing bin). Arities above the
    * histogram's bin budget take HistTree's top-k + rest-bin remap (M5's
    * 30,490-level `id` becomes a real categorical). */
  private[graft] def assemble(df: DataFrame, featureCols: Seq[String],
      catArity: Map[String, Int] = Map.empty): DataFrame = {
    val numeric = featureCols.foldLeft(df) { (acc, c) =>
      catArity.get(c) match {
        case Some(arity) =>
          val meta = NominalAttribute.defaultAttr
            .withName(c).withNumValues(arity).toMetadata()
          acc.withColumn(c, (col(c) + lit(1)).cast("double").as(c, meta))
        case None => acc.withColumn(c, col(c).cast("double"))
      }
    }
    val filled = numeric.na.fill(Double.NaN, featureCols.filterNot(catArity.contains))
    new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      // "keep" lets NaN through into the vector; the default "error"
      // refuses it
      .setHandleInvalid("keep")
      .transform(filled)
  }

  /** F += stepSize · γ(leaf) for one stage, routed through the frame's
    * `__bins` column — the step of both [[fit]] and [[Model.transform]].
    * Every leaf has a refit γ: a tree grows only leaves that hold
    * sampled train rows, and the refit reads all train rows. */
  private def applyStage(df: DataFrame, tree: HistTree.Tree,
      stepSize: Double): DataFrame =
    df.withColumn("__F", col("__F") + lit(stepSize) *
      element_at(typedLit(tree.leafValue), HistTree.leafColumn(tree, "__bins")))

  final case class Model(
      f0: Double,
      stepSize: Double,
      objective: Objective,
      // one tree per stage; its leafValue holds the Newton-refit γ
      stages: Seq[HistTree.Tree],
      validDeviances: Seq[Double],
      // the fit-time binning dictionary: raw vectors are binned with it
      // before routing (splits live in bin space); persisted as
      // bins.txt next to the trees
      histBins: HistTree.Bins) {

    /** link(f0 + lr·Σ γₖ(leafₖ(x))) appended as `predCol`. The raw
      * `features` vector is binned once, then each stage is one leaf
      * routing + a literal map lookup; the additive F column stays
      * narrow (no shuffle). */
    def transform(assembled: DataFrame, predCol: String): DataFrame =
      stages.foldLeft(assembled
          .withColumn("__bins", HistTree.binColumn(histBins, "features"))
          .withColumn("__F", lit(f0))) { (acc, tree) =>
        applyStage(acc, tree, stepSize)
      }.withColumn(predCol, objective.link(col("__F"))).drop("__F", "__bins")

    /** One `hist_<i>.txt` per stage, `bins.txt` and `meta.json`, which
      * names the objective. */
    def save(dir: String): Unit = {
      val p = Paths.get(dir)
      Files.createDirectories(p)
      stages.zipWithIndex.foreach { case (tree, i) =>
        Files.writeString(p.resolve(s"hist_$i.txt"), HistTree.serialize(tree))
      }
      Files.writeString(p.resolve("bins.txt"), HistTree.serializeBins(histBins))
      val power = objective match {
        case Objective.Tweedie(rho) => s""""variancePower":$rho,"""
        case Objective.Squared => ""
      }
      Files.writeString(p.resolve("meta.json"),
        s"""{"f0":$f0,"stepSize":$stepSize,"objective":"${objective.name}",""" +
          s"""$power"numTrees":${stages.size}}""")
    }
  }

  private val ObjectiveField = """"objective"\s*:\s*"(\w+)"""".r

  /** True when `dir` holds a model in [[Model.save]]'s layout: only that
    * layout names its objective in `meta.json`. Older dirs — Spark ML
    * stages, a `leaves_<i>.json` per stage beside trees whose leaf values
    * were not the served ones — are not, and must be retrained. */
  def isCurrentLayout(dir: String): Boolean = {
    val meta = Paths.get(dir, "meta.json")
    Files.exists(meta) && ObjectiveField.findFirstIn(Files.readString(meta)).isDefined
  }

  /** Read a [[Model.save]] dir; an older layout fails naming the dir. */
  def load(dir: String): Model = {
    require(isCurrentLayout(dir), s"$dir is not a TweedieGbt model in the " +
      "current layout (meta.json naming its objective); retrain it")
    val p = Paths.get(dir)
    val txt = Files.readString(p.resolve("meta.json"))
    def field(k: String): Double =
      s""""$k"\\s*:\\s*(-?[\\d.eE+-]+)""".r.findFirstMatchIn(txt).get.group(1).toDouble
    val objective = Objective.named(
      ObjectiveField.findFirstMatchIn(txt).map(_.group(1)), field("variancePower"))
    val stages = (0 until field("numTrees").toInt).map(i =>
      HistTree.deserialize(Files.readString(p.resolve(s"hist_$i.txt"))))
    Model(field("f0"), field("stepSize"), objective, stages, Nil,
      HistTree.deserializeBins(Files.readString(p.resolve("bins.txt"))))
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
    * [[assemble]]). Tweedie labels must be ≥ 0; negative ones fail
    * fast. */
  def fit(train: DataFrame, featuresCol: String, labelCol: String,
      validCol: String, params: Params): Model = {
    val objective = params.objective

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
    objective match {
      case _: Objective.Tweedie =>
        require(stats.getLong(0) == 0, "Tweedie labels must be non-negative")
      case Objective.Squared => ()
    }
    require(!stats.isNullAt(1), "fit needs at least one train row")
    val trainRows = stats.getLong(2)
    val hasValid = stats.getLong(3) > 0

    // F0 from the mean y over TRAIN rows only (LightGBM's
    // boost_from_average)
    val f0 = objective.f0(stats.getDouble(1))

    // build the bin dictionary once from the TRAIN rows and attach a
    // compact binned column — every round's tree fit reuses it
    // (LightGBM bins once per dataset, not per tree)
    val histBins = HistTree.buildBins(base0.filter(!col("__valid")), "features",
      maxBins = params.histMaxBins, seed = params.seed, rowCount = trainRows)
    // the per-round loop reads ONLY (__bins, __y, __valid, __F): the
    // raw vector column is dead weight in every round's resident cache
    // — at full M5 width (≈5.9M rows/store × 8 DAG-parallel models) it
    // is the LARGEST column (doubles vs the shorts it was binned to).
    // Bin once, drop it (r17: half the per-model cache bytes).
    val base1 = base0.withColumn("__bins", HistTree.binColumn(histBins, "features"))
      .drop("features")
    // Rotation: a round frame is a plain persist OR a local cut. A
    // cut's blocks belong to its RDD, which DataFrame.unpersist cannot
    // reach: every checkpointed round's FULL binned frame stayed
    // resident until context GC, and at full M5 width × 8 concurrent
    // models that leak ran a 32 GB driver out of heap (r17 tweedie
    // run). Cut.release frees a frame's own cut and nothing under it:
    // a persisted round's plan still reads the last cut, which was
    // already released when its successor landed.
    def release(df: DataFrame): Unit = { df.unpersist(); Cut.release(df) }
    var cur = Cut.local(base1.withColumn("__F", lit(f0)))
    var best = (Double.MaxValue, 0) // (valid deviance, round)
    val stages = scala.collection.mutable.ArrayBuffer.empty[HistTree.Tree]
    val validDev = scala.collection.mutable.ArrayBuffer.empty[Double]

    var round = 0
    var stop = false
    while (round < params.maxIter && !stop) {
      // pseudo-residual (-gradient) of the loss at the current F
      val resid = cur.withColumn("__r", objective.residual(col("__y"), col("__F")))
      val fitRows0 = resid.filter(!col("__valid"))
      val fitRows =
        if (params.subsamplingRate < 1.0)
          fitRows0.sample(withReplacement = false,
            params.subsamplingRate, params.seed + round)
        else fitRows0
      val hess = objective.hessian(col("__y"), col("__F"))

      // histogram split finding with per-split learned missing routing,
      // on the pre-binned rows, best-first under the num_leaves budget
      // (LightGBM's frontier rule). colsample_bytree: a deterministic
      // per-round feature subset (seeded shuffle), LightGBM's per-tree
      // feature_fraction
      val fitFrame = fitRows.withColumn("__hess", hess)
      val mask: Array[Boolean] =
        if (params.colsampleBytree >= 1.0) null
        else {
          val numF = histBins.numFeatures
          val k = math.max(1,
            math.round(numF * params.colsampleBytree).toInt)
          val rng = new scala.util.Random(params.seed * 31 + round)
          val picked = rng.shuffle((0 until numF).toVector).take(k)
          val m = new Array[Boolean](numF)
          picked.foreach(m(_) = true)
          m
        }
      val grown = HistTree.fit(fitFrame, "__bins", "__r", "__hess", histBins,
        maxDepth = params.maxDepth, numLeaves = params.numLeaves,
        lambda = 1e-6, minData = params.minDataInLeaf.toLong, minGain = 0.0,
        minHess = params.minChildWeight, featureMask = mask)

      // Newton leaf refit (LightGBM's second-order step): route every
      // TRAIN row to its leaf, then γ_leaf = Σ resid / (Σ hess + λ).
      // One grouped agg with one output row per leaf —
      // map-side combinable, no data-size-proportional driver state.
      val leafValues = fitRows0
        .withColumn("__leaf", HistTree.leafColumn(grown, "__bins"))
        .withColumn("__hess", hess)
        .groupBy(col("__leaf"))
        .agg((sum(col("__r")) / (sum(col("__hess")) + lit(1e-6))).as("__g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val tree = grown.copy(leafValue = leafValues)
      stages += tree
      val next0 = applyStage(cur, tree, params.stepSize)
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
      val next = if (checkpointed) Cut.local(next0) else next0.persist()
      if (hasValid) {
        val dev = objective.deviance(
          next.filter(col("__valid")).withColumn("__mu", objective.link(col("__F"))),
          "__y", "__mu")
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
    Model(f0, params.stepSize, objective, stages.take(keep).toSeq,
      validDev.toSeq, histBins)
  }
}
