package graft.ml

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tweedie-objective gradient boosting — the reference's actual M5 loss
  * (`full.yaml:4` `objective: tweedie`, LGBMRegressor pipeline.py:258),
  * previously a declared divergence (squared-loss GBT stand-in).
  *
  * Spark's GBTRegressor hard-codes squared/absolute loss, so this is a
  * first-order Friedman gradient-boosting loop over [[HistTree]]
  * stages, with a log link and the compound-Poisson (Tweedie)
  * deviance, power ρ ∈ (1, 2):
  *
  *   loss(y, F)    = -y·e^{(1-ρ)F}/(1-ρ) + e^{(2-ρ)F}/(2-ρ)   (μ = e^F)
  *   -∂loss/∂F     =  y·e^{(1-ρ)F} - e^{(2-ρ)F}               (pseudo-residual)
  *
  * the same objective/gradient LightGBM's `tweedie` uses. Each stage
  * fits a histogram tree to the pseudo-residuals, then REFITS each
  * leaf's value with the second-order Newton step LightGBM uses:
  *
  *   hess = ∂²loss/∂F² = (ρ-1)·y·e^{(1-ρ)F} + (2-ρ)·e^{(2-ρ)F}  (> 0)
  *   γ_leaf = Σ resid / (Σ hess + λ)
  *
  * (one grouped agg over the train rows per stage, keyed by the leaf
  * [[HistTree.leafColumn]] routes each row to). F steps by
  * `stepSize · γ(leaf(x))` and predictions are μ = exp(F), matching
  * LightGBM's log-link output scale.
  *
  * The trees are LightGBM's shape: HISTOGRAM split finding plus
  * PER-SPLIT LEARNED MISSING-VALUE ROUTING over real NaNs (assemble
  * with `missingAsNaN = true`; M5's lag/rolling warm-up rows are null
  * by construction, so this touches real data), sorted categorical
  * splits, and LightGBM's best-first frontier with histogram
  * subtraction: `numLeaves` (lgb_params `num_leaves`) is the leaf
  * budget, and `numLeaves = 0` grows every splittable leaf to
  * `maxDepth`.
  * Golden-tested, never oracle-hashed (SURVEY §5.3).
  *
  * Every row is binned ONCE with the fit-time [[HistTree.Bins]], at fit
  * and at predict time alike, and every stage routes that binned
  * column: fit and [[Model.transform]] share one stage step.
  *
  * Eval-set early stopping (the reference's `early_stopping_rounds=10`,
  * pipeline.py:262-265) is native here: validation rows (`validCol`)
  * are excluded from every tree fit, validation deviance is tracked per
  * round, and training stops after `earlyStoppingRounds` rounds without
  * improvement, returning the model truncated at the best round — the
  * LightGBM semantics, not GBT's validationTol drift check.
  *
  * Scale design (100 TB): the working frame carries (bins, label, F) —
  * the raw feature vector is DROPPED after the one-time binning (r17:
  * it was the largest resident column) — and is re-persisted per round
  * with the previous round's storage RELEASED (unpersist, plus the
  * checkpoint-block release for a cut round: `DataFrame.unpersist`
  * alone cannot reach a localCheckpoint's RDD blocks, and that leak —
  * one full binned frame per checkpointed round per concurrent model —
  * is what ran the full-width M5 tweedie demo out of a 32 GB heap).
  * Lineage is cut by `localCheckpoint` every `checkpointInterval`
  * rounds, the same cadence Spark's own GBT uses. Per round the cost is
  * one tree fit + one narrow map to update F + one 1-row deviance agg;
  * nothing driver-side grows with data size, only with tree count. */
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
    require(variancePower > 1.0 && variancePower < 2.0,
      s"variancePower must be in (1,2) for compound-Poisson Tweedie: $variancePower")
    require(colsampleBytree > 0.0 && colsampleBytree <= 1.0,
      s"colsampleBytree must be in (0,1]: $colsampleBytree")
    require(minChildWeight >= 0.0,
      s"minChildWeight must be >= 0: $minChildWeight")
    require(numLeaves == 0 || (numLeaves >= 2 && numLeaves <= 4096),
      s"numLeaves must be 0 (no leaf budget) or in 2..4096: $numLeaves")
  }

  /** Map the reference's lgb_params onto this trainer (the keys
    * `Gbt.fromLgbParams` drops on the squared-loss path). */
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
      variancePower = num("tweedie_variance_power", 1.1),
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

  /** One boosting stage: the [[HistTree]] structure routes rows —
    * including per-split learned missing directions — and
    * `leafValues` carries the Newton-refit values keyed by leaf node
    * id. */
  final case class HistStage(
      tree: HistTree.Tree,
      leafValues: Map[Int, Double])

  /** F += stepSize · γ(leaf) for one stage, routed through the frame's
    * `__bins` column — the step of both [[fit]] and [[Model.transform]].
    * Every leaf has a refit γ: a tree grows only leaves that hold
    * sampled train rows, and the refit reads all train rows. */
  private def applyStage(df: DataFrame, st: HistStage,
      stepSize: Double): DataFrame =
    df.withColumn("__F", col("__F") + lit(stepSize) *
      element_at(typedLit(st.leafValues), HistTree.leafColumn(st.tree, "__bins")))

  final case class Model(
      f0: Double,
      stepSize: Double,
      variancePower: Double,
      stages: Seq[HistStage],
      validDeviances: Seq[Double],
      // the fit-time binning dictionary: raw vectors are binned with it
      // before routing (splits live in bin space); persisted as
      // bins.txt next to the trees
      histBins: HistTree.Bins) {

    /** μ = exp(f0 + lr·Σ γₖ(leafₖ(x))) appended as `predCol`. The raw
      * `features` vector is binned once, then each stage is one leaf
      * routing + a literal map lookup; the additive F column stays
      * narrow (no shuffle). */
    def transform(assembled: DataFrame, predCol: String): DataFrame =
      stages.foldLeft(assembled
          .withColumn("__bins", HistTree.binColumn(histBins, "features"))
          .withColumn("__F", lit(f0))) { (acc, st) =>
        applyStage(acc, st, stepSize)
      }.withColumn(predCol, exp(col("__F"))).drop("__F", "__bins")

    def save(dir: String): Unit = {
      val p = Paths.get(dir)
      Files.createDirectories(p)
      stages.zipWithIndex.foreach { case (st, i) =>
        Files.writeString(p.resolve(s"hist_$i.txt"), HistTree.serialize(st.tree))
        // leaf ids print as doubles ("[4.0,γ]"), the leaves_<i>.json format
        val entries = st.leafValues.toSeq.sortBy(_._1)
          .map { case (k, v) => s"[${k.toDouble},$v]" }.mkString(",")
        Files.writeString(p.resolve(s"leaves_$i.json"), s"[$entries]")
      }
      Files.writeString(p.resolve("bins.txt"), HistTree.serializeBins(histBins))
      Files.writeString(p.resolve("meta.json"),
        s"""{"f0":$f0,"stepSize":$stepSize,"variancePower":$variancePower,""" +
          s""""numTrees":${stages.size}}""")
    }
  }

  /** Read a [[Model.save]] dir. Models of the removed Spark ML fitter
    * (`tree_<i>` stages, no `bins.txt`) fail with a message naming the
    * dir; a `meta.json` that still carries its `histogram` flag reads. */
  def load(dir: String): Model = {
    val p = Paths.get(dir)
    val txt = Files.readString(p.resolve("meta.json"))
    def field(k: String): Double =
      s""""$k"\\s*:\\s*(-?[\\d.eE+-]+)""".r.findFirstMatchIn(txt).get.group(1).toDouble
    val n = field("numTrees").toInt
    (0 until n).find(i => Files.exists(p.resolve(s"tree_$i"))).foreach { i =>
      throw new IllegalArgumentException(s"$dir: stage $i is a Spark ML " +
        s"tree (tree_$i), which TweedieGbt no longer reads; retrain the model")
    }
    val binsPath = p.resolve("bins.txt")
    require(Files.exists(binsPath),
      s"$dir has no bins.txt, so it is not a histogram TweedieGbt model; retrain it")
    val pair = """\[(-?[\d.eE+-]+),(-?[\d.eE+-]+)\]""".r
    val stages = (0 until n).map { i =>
      val leaves = Files.readString(p.resolve(s"leaves_$i.json"))
      HistStage(
        HistTree.deserialize(Files.readString(p.resolve(s"hist_$i.txt"))),
        pair.findAllMatchIn(leaves)
          .map(m => m.group(1).toDouble.toInt -> m.group(2).toDouble).toMap)
    }
    Model(field("f0"), field("stepSize"), field("variancePower"), stages,
      Nil, HistTree.deserializeBins(Files.readString(binsPath)))
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
    * `Gbt.assemble` with `missingAsNaN = true`). Labels must be ≥ 0
    * (Tweedie support); negative labels fail fast. */
  def fit(train: DataFrame, featuresCol: String, labelCol: String,
      validCol: String, params: Params): Model = {
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
    // Rotation helper: a round frame is a plain persist OR a
    // localCheckpoint cut. A cut's blocks belong to its RDD, which
    // DataFrame.unpersist cannot reach (the graft.util.Cut.release gap):
    // every checkpointed round's FULL binned frame stayed resident
    // until context GC, and at full M5 width × 8 concurrent models that
    // leak ran a 32 GB driver out of heap (r17 tweedie run). Only a cut
    // is released that way: a persisted round's plan still reads the
    // last cut, which was already released when its successor landed.
    def release(df: DataFrame): Unit = {
      df.unpersist()
      df.queryExecution.analyzed match {
        case _: org.apache.spark.sql.execution.LogicalRDD => graft.util.Cut.release(df)
        case _ => ()
      }
    }
    var cur = base1.withColumn("__F", lit(f0)).localCheckpoint(true)
    var best = (Double.MaxValue, 0) // (valid deviance, round)
    val stages = scala.collection.mutable.ArrayBuffer.empty[HistStage]
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
      val tree = HistTree.fit(fitFrame, "__bins", "__r", "__hess", histBins,
        maxDepth = params.maxDepth, numLeaves = params.numLeaves,
        lambda = 1e-6, minData = params.minDataInLeaf.toLong, minGain = 0.0,
        minHess = params.minChildWeight, featureMask = mask)

      // Newton leaf refit (LightGBM's second-order step): route every
      // TRAIN row to its leaf, then γ_leaf = Σ resid / (Σ hess + λ).
      // One grouped agg with one output row per leaf —
      // map-side combinable, no data-size-proportional driver state.
      val leafValues = fitRows0
        .withColumn("__leaf", HistTree.leafColumn(tree, "__bins"))
        .withColumn("__hess", hess)
        .groupBy(col("__leaf"))
        .agg((sum(col("__r")) / (sum(col("__hess")) + lit(1e-6))).as("__g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val stage = HistStage(tree, leafValues)
      stages += stage
      val next0 = applyStage(cur, stage, params.stepSize)
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
