package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Label- and preference-quality statistics for annotated corpora —
  * the QA layer an LLM training-data pipeline runs over human (or
  * model) labels before trusting them: inter-rater agreement
  * (Fleiss' kappa, Krippendorff's alpha), pairwise-preference
  * strength estimation (Bradley–Terry), presentation-order bias, and
  * per-rater reliability screening. Reference scope: the M5 pipeline
  * consumes no human labels, so this whole tier is an engine
  * extension in the LLM-curation direction the capability tier
  * (SURVEY §2.5) declares.
  *
  * Scale shape shared by every operator here: one groupBy collapses
  * the rating/comparison log to (item,label) or (entity-pair) count
  * cells, and everything after runs on the cell table — bounded by
  * items × labels (or entities²), never by the raw log. Agreement
  * coefficients are exact integer/rational arithmetic end-to-end
  * (see [[krippendorffAlpha]]'s scaled-numerator trick), so the
  * DuckDB oracle reproduces them bit-for-bit before the final ROUND.
  */
object Annotation {

  private val stable = DecimalType(18, 8)
  private val d38 = DecimalType(38, 0)

  /** Fleiss' kappa (Fleiss 1971, "Measuring nominal scale agreement
    * among many raters") over items rated by exactly `raters` raters
    * each: `kappa = (P_bar - P_e) / (1 - P_e)` where
    * `P_bar = (sum_i sum_j n_ij^2 - N*n) / (N*n*(n-1))` and
    * `P_e = sum_j (sum_i n_ij)^2 / (N*n)^2`. Items whose rating count
    * differs from `raters` are dropped (the statistic is only defined
    * at constant n; [[krippendorffAlpha]] is the variable-n
    * complement).
    *
    * Both numerators are integer sums over the (item,label) count
    * cells — exact and engine-portable; the only division is the
    * final one. One row out: items kept, raters, p_bar, p_e, kappa.
    */
  def fleissKappa(df: DataFrame, item: Column, rater: Column,
      label: Column, raters: Int, roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(raters >= 2, s"raters must be >= 2: $raters")
    val r = df.filter(item.isNotNull && rater.isNotNull && label.isNotNull)
      .select(item.cast("string").as("__i"), rater.cast("string").as("__r"),
        label.cast("string").as("__l"))
      .groupBy(col("__i"), col("__r")).agg(min(col("__l")).as("__l"))
    // item-keyed cell table persisted once (r20, guide §2.4): cells
    // feeds BOTH the per-item rollup and the label marginals —
    // unpersisted, each consumer replayed the ratings dedup from the
    // scan; the repartition makes hash(__i) satisfy every later
    // item-keyed aggregate and join, so they all run exchange-free
    val cells = scope.persist(
      r.groupBy(col("__i"), col("__l")).agg(count(lit(1)).as("__n"))
        .repartition(col("__i")))
    val kept = cells.groupBy(col("__i"))
      .agg(sum(col("__n")).as("__m"),
        sum(col("__n") * col("__n")).as("__s2"))
      .filter(col("__m") === raters)
    val perItem = kept.agg(count(lit(1)).as("__ni"),
      coalesce(sum(col("__s2")), lit(0L)).as("__ss"))
    // label marginals over kept items only
    val marg = cells.join(kept.select(col("__i")), Seq("__i"))
      .groupBy(col("__l")).agg(sum(col("__n")).as("__mj"))
      .agg(coalesce(sum((col("__mj").cast(d38) * col("__mj").cast(d38))
        .cast(d38)), lit(0).cast(d38)).as("__mm"))
    val n = lit(raters.toLong).cast("double")
    val ni = col("__ni").cast("double")
    val pBar = (col("__ss").cast("double") - ni * n) /
      (ni * n * (n - lit(1.0d)))
    val pE = col("__mm").cast("double") / (ni * n * ni * n)
    perItem.crossJoin(broadcast(marg))
      .filter(col("__ni") > 0)
      .select(col("__ni").as("items"), lit(raters).as("raters"),
        round(pBar.cast(stable), roundDigits).cast("double").as("p_bar"),
        round(pE.cast(stable), roundDigits).cast("double").as("p_e"),
        round(when(pE < 1.0, (pBar - pE) / (lit(1.0d) - pE))
          .cast(stable), roundDigits).cast("double").as("kappa"))
  }

  /** Krippendorff's alpha for nominal data (Krippendorff 2011,
    * "Computing Krippendorff's alpha-reliability"): `alpha = 1 -
    * D_o/D_e` over the coincidence matrix. Items may have ANY number
    * of ratings in `[2, maxRaters]` (singletons are unpairable and
    * drop out; larger groups are dropped so the arithmetic below
    * stays exact — raise `maxRaters` if a real corpus needs it).
    *
    * Exactness trick: each item's observed-disagreement contribution
    * is `(m_u^2 - sum_c n_uc^2) / (m_u - 1)` — a rational with a tiny
    * denominator. Scaling every term by `S = lcm(1..maxRaters-1)`
    * makes the sum an INTEGER (`S/(m_u-1)` is integral for every kept
    * item), so `alpha = 1 - S_do*(n-1) / (S*(n^2 - sum_c n_c^2))` is
    * a single exact division of two integers — no order-dependent
    * float accumulation for the oracle to disagree with.
    */
  def krippendorffAlpha(df: DataFrame, item: Column, rater: Column,
      label: Column, maxRaters: Int = 10, roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(maxRaters >= 2 && maxRaters <= 16,
      s"maxRaters must be in [2,16]: $maxRaters")
    val scale = lcm(1 to (maxRaters - 1))
    val r = df.filter(item.isNotNull && rater.isNotNull && label.isNotNull)
      .select(item.cast("string").as("__i"), rater.cast("string").as("__r"),
        label.cast("string").as("__l"))
      .groupBy(col("__i"), col("__r")).agg(min(col("__l")).as("__l"))
    // persisted item-keyed cell table — see [[fleissKappa]]
    val cells = scope.persist(
      r.groupBy(col("__i"), col("__l")).agg(count(lit(1)).as("__n"))
        .repartition(col("__i")))
    val items = cells.groupBy(col("__i"))
      .agg(sum(col("__n")).as("__m"),
        sum(col("__n") * col("__n")).as("__s2"))
      .filter(col("__m").between(2L, maxRaters.toLong))
    // scale/(m-1) is integral for every kept item; keep the whole
    // numerator in DECIMAL(38,0) so the sum never rides a double
    val doScaled = items.agg(
      coalesce(sum((((lit(scale.toDouble) / (col("__m") - lit(1)))
        .cast("long"))
        * (col("__m") * col("__m") - col("__s2"))).cast(d38)),
        lit(0).cast(d38)).as("__do"),
      coalesce(sum(col("__m")), lit(0L)).as("__n"),
      count(lit(1)).as("__items"))
    val marg = cells.join(items.select(col("__i")), Seq("__i"))
      .groupBy(col("__l")).agg(sum(col("__n")).as("__nc"))
      .agg(coalesce(sum((col("__nc").cast(d38) * col("__nc").cast(d38))
        .cast(d38)), lit(0).cast(d38)).as("__cc"))
    val nD = col("__n").cast("double")
    val deNum = nD * nD - col("__cc").cast("double")
    doScaled.crossJoin(broadcast(marg))
      .filter(col("__n") >= 2)
      .select(col("__items").as("items"), col("__n").as("pairable"),
        round((col("__do").cast("double") / (lit(scale.toDouble) * nD))
          .cast(stable), roundDigits).cast("double").as("d_o"),
        round((deNum / (nD * (nD - lit(1.0d))))
          .cast(stable), roundDigits).cast("double").as("d_e"),
        round(when(deNum > 0,
          lit(1.0d) - col("__do").cast("double") * (nD - lit(1.0d))
            / (lit(scale.toDouble) * deNum))
          .cast(stable), roundDigits).cast("double").as("alpha"))
  }

  private def lcm(range: Range): Long = {
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    range.foldLeft(1L)((acc, k) => acc / gcd(acc, k.toLong) * k)
  }

  /** Bradley–Terry preference strengths via the MM algorithm (Hunter
    * 2004, "MM algorithms for generalized Bradley-Terry models"):
    * `p_i <- w_i / sum_j n_ij/(p_i+p_j)`, renormalized to sum 1 each
    * round. `iters` fixed rounds from the uniform start; strengths
    * are quantized to `quantDigits` decimals after every round (the
    * x110 k-means trick) so an engine-portable oracle can replay the
    * iteration bit-for-bit.
    *
    * Scale shape: the comparison log collapses ONCE to per-entity win
    * totals (K rows) and unordered-pair game counts (<= K^2 rows, in
    * practice the observed-pair count); every MM round is two
    * broadcast joins of the K-row strength frame against the pair
    * table plus one K-row aggregate — round cost is independent of
    * the raw log size. Entities that never win stay at strength 0
    * (their MM fixed point).
    *
    * Input: one row per comparison with entity columns `a`, `b` and
    * `aWon` (true = a beat b). Ties should be resolved upstream.
    * Output: entity, wins, games, strength, rank (dense by strength
    * desc, entity asc).
    */
  def bradleyTerry(df: DataFrame, a: Column, b: Column, aWon: Column,
      iters: Int = 8, quantDigits: Int = 9, roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters out of range: $iters")
    val comp = df.filter(a.isNotNull && b.isNotNull && aWon.isNotNull)
      .select(a.cast("string").as("__a"), b.cast("string").as("__b"),
        aWon.cast("boolean").as("__w"))
      .filter(col("__a") =!= col("__b"))
    // directed view: one row per (entity, opponent, won) comparison
    val directed = comp.select(col("__a").as("__e"), col("__b").as("__o"),
        col("__w").cast("long").as("__win"))
      .unionAll(comp.select(col("__b").as("__e"), col("__a").as("__o"),
        (!col("__w")).cast("long").as("__win")))
    // per-entity totals and per-directed-pair game counts — the only
    // pass over the raw log; everything after is K- or pair-bounded
    val ents = directed.groupBy(col("__e"))
      .agg(sum(col("__win")).as("__wins"), count(lit(1)).as("__games"))
    val pairs = directed.groupBy(col("__e"), col("__o"))
      .agg(count(lit(1)).as("__n"))
    bradleyTerryFromCounts(ents, pairs, iters, quantDigits,
      roundDigits, scope)
  }

  /** The MM finishing chain behind [[bradleyTerry]], entered at the
    * count level: `ents` = (__e, __wins, __games) per entity, `pairs`
    * = (__e, __o, __n) directed game counts. The streaming
    * preference monitor ([[graft.streaming.Stateful]]) rolls its live
    * counters up through THIS exact code path. */
  private[graft] def bradleyTerryFromCounts(entsIn: DataFrame,
      pairsIn: DataFrame, iters: Int, quantDigits: Int,
      roundDigits: Int, scope: graft.util.CacheScope,
      maxDriverPairs: Long = 5000000L): DataFrame = {
    val ents = scope.persist(entsIn)
    val pairs = scope.persist(pairsIn)
    val k = ents.count()
    require(k >= 2, s"need >= 2 entities, got $k")
    val nPairs = pairs.count()
    if (nPairs <= maxDriverPairs)
      driverMm(ents, pairs, k, iters, quantDigits, roundDigits)
    else distributedMm(ents, pairs, k, iters, quantDigits, roundDigits,
      scope)
  }

  /** The common case: the entity/pair tables are bounded driver state
    * (the k-means-centroid doctrine — entities being ranked are model
    * variants or products, not events), so after the ONE distributed
    * pass that built the counts, the MM rounds run on the driver with
    * zero per-round Spark jobs. Rounding is BigDecimal HALF_UP —
    * Spark's own `round` semantics — so this path computes the same
    * quantized iteration as [[distributedMm]] and the DuckDB oracle;
    * the only residual divergence channel is a denominator sum landing
    * EXACTLY on a 5e-10 rounding boundary under a different summation
    * order (AnnotationScaleDemo: 499/500 strengths bitwise equal at
    * 2 M comparisons, the one exception off by one final-round ulp =
    * 1e-6). */
  private def driverMm(ents: DataFrame, pairs: DataFrame, k: Long,
      iters: Int, quantDigits: Int, roundDigits: Int): DataFrame = {
    def rnd(x: Double, d: Int): Double =
      BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble
    val entRows = ents.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2)))
    val pairRows = pairs.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    val byE = pairRows.groupBy(_._1)
    var p: Map[String, Double] =
      entRows.map { case (e, _) => e -> rnd(1.0d / k, quantDigits) }.toMap
    for (_ <- 1 to iters) {
      val raw = entRows.map { case (e, (wins, _)) =>
        val den = byE.getOrElse(e, Array.empty[(String, String, Long)])
          .foldLeft(0.0d)((acc, pr) => acc + pr._3 / (p(e) + p(pr._2)))
        e -> (if (wins == 0 || den <= 0) 0.0d else wins / den)
      }
      val tot = raw.foldLeft(0.0d)(_ + _._2)
      p = raw.map { case (e, r) => e -> rnd(r / tot, quantDigits) }.toMap
    }
    val out = entRows.map { case (e, (wins, games)) =>
      (e, wins, games, rnd(p(e), roundDigits)) }
      .sortBy { case (e, _, _, s) => (-s, e) }
      .zipWithIndex
      .map { case ((e, w, g, s), i) => (e, w, g, s, i + 1L) }
    val spark = ents.sparkSession
    import spark.implicits._
    out.toSeq.toDF("entity", "wins", "games", "strength", "rank")
  }

  /** Large-K fallback: the same MM rounds as distributed jobs — for
    * the regime where even the pair table is too big to collect. */
  private def distributedMm(ents: DataFrame, pairs: DataFrame, k: Long,
      iters: Int, quantDigits: Int, roundDigits: Int,
      scope: graft.util.CacheScope): DataFrame = {
    val p0 = ents.select(col("__e"),
      round(lit(1.0d / k), quantDigits).as("__p"))
    var p = scope.persist(p0)
    p.count()
    for (_ <- 1 to iters) {
      val denom = pairs
        .join(broadcast(p.select(col("__e"), col("__p").as("__pi"))), Seq("__e"))
        .join(broadcast(p.select(col("__e").as("__o"), col("__p").as("__pj"))),
          Seq("__o"))
        .groupBy(col("__e"))
        .agg(sum(col("__n").cast("double") / (col("__pi") + col("__pj")))
          .as("__den"))
      val raw = ents.join(denom, Seq("__e"))
        .select(col("__e"),
          when(col("__wins") === 0 || col("__den") <= 0, lit(0.0d))
            .otherwise(col("__wins").cast("double") / col("__den"))
            .as("__raw"))
      val tot = raw.agg(sum(col("__raw")).as("__tot"))
      // Cut per round: `raw` feeds BOTH tot and next, and next feeds
      // both joins of the following round — without a lineage barrier
      // the analyzed plan doubles twice per iteration (4^iters nodes,
      // OOMs the driver before any data moves).
      val next = scope.persist(graft.util.Cut(
        raw.crossJoin(broadcast(tot))
          .select(col("__e"),
            round(col("__raw") / col("__tot"), quantDigits).as("__p"))))
      next.count()
      p.unpersist()
      p = next
    }
    val ranked = ents.join(p, Seq("__e"))
      .select(col("__e").as("entity"), col("__wins").as("wins"),
        col("__games").as("games"),
        round(col("__p").cast(stable), roundDigits).cast("double")
          .as("strength"))
    // K-row frame: the unpartitioned rank window is bounded by entities
    ranked.withColumn("rank",
      row_number().over(Window.orderBy(col("strength").desc, col("entity")))
        .cast("long"))
  }

  /** Presentation-order bias audit for pairwise preference data: the
    * win rate of the FIRST-listed option with its Wilson interval
    * (the x252 formula inlined). A preference log whose interval
    * excludes 0.5 has position bias — raters (or judge models) are
    * favoring a slot, not a response; downstream Bradley–Terry fits
    * inherit that tilt unless presentation order was randomized.
    * One aggregate over the log; one row out.
    */
  def positionalBias(df: DataFrame, firstWon: Column, z: Double = 1.96,
      roundDigits: Int = 6): DataFrame = {
    val agg = df.filter(firstWon.isNotNull)
      .agg(count(lit(1)).as("trials"),
        sum(firstWon.cast("long")).as("first_wins"))
    positionalBiasFromAgg(agg, z, roundDigits)
  }

  /** The Wilson finishing step behind [[positionalBias]], entered at
    * the (trials, first_wins) count level — the streaming monitor's
    * rollup entry point. */
  private[graft] def positionalBiasFromAgg(aggIn: DataFrame,
      z: Double = 1.96, roundDigits: Int = 6): DataFrame = {
    require(z > 0, s"z must be positive: $z")
    val agg = aggIn.filter(col("trials") > 0)
    val n = col("trials").cast("double")
    val p = col("first_wins").cast("double") / n
    val z2 = z * z
    val denom = lit(1.0d) + lit(z2) / n
    val center = p + lit(z2) / (lit(2.0d) * n)
    val spread = lit(z) * sqrt(p * (lit(1.0d) - p) / n
      + lit(z2) / (lit(4.0d) * n * n))
    val lo = round(((center - spread) / denom).cast(stable), roundDigits)
      .cast("double")
    val hi = round(((center + spread) / denom).cast(stable), roundDigits)
      .cast("double")
    agg.select(col("trials"), col("first_wins"),
      round(p.cast(stable), roundDigits).cast("double").as("first_rate"),
      lo.as("wilson_lo"), hi.as("wilson_hi"),
      (lo > 0.5d || hi < 0.5d).as("biased"))
  }

  /** Per-rater reliability screen: each rating is compared against
    * the LEAVE-ONE-OUT majority of the other raters on the same item
    * (ties broken to the lexicographically smallest label; items with
    * no other rater drop out), then rates roll up per rater with a
    * z-score against the pooled agreement rate — the "which annotator
    * is off-distribution" report a labeling pipeline reviews before
    * weighting or dropping raters.
    *
    * Scale shape: ratings join the (item,label) count cells on item —
    * the per-rating candidate set is the item's label cardinality
    * (bounded by the label alphabet), and the argmax runs as one
    * min(struct) aggregate per rating, not a window.
    */
  def raterConsensus(df: DataFrame, item: Column, rater: Column,
      label: Column, roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val loo = looConsensus(df, item, rater, label, scope)
      .select(col("__r"),
        (col("__c") === col("__l")).cast("long").as("__agree"))
    val perRater = loo.groupBy(col("__r"))
      .agg(count(lit(1)).as("__n"), sum(col("__agree")).as("__a"))
    val pooled = perRater.agg(sum(col("__n")).as("__tn"),
      sum(col("__a")).as("__ta"))
    val pBar = col("__ta").cast("double") / col("__tn").cast("double")
    val rate = col("__a").cast("double") / col("__n").cast("double")
    val se = sqrt(pBar * (lit(1.0d) - pBar) / col("__n").cast("double"))
    perRater.crossJoin(broadcast(pooled))
      .select(col("__r").as("rater"), col("__n").as("rated"),
        col("__a").as("agreements"),
        round(rate.cast(stable), roundDigits).cast("double")
          .as("agree_rate"),
        round(pBar.cast(stable), roundDigits).cast("double")
          .as("pooled_rate"),
        round(when(pBar > 0 && pBar < 1, (rate - pBar) / se)
          .cast(stable), roundDigits).cast("double").as("z"))
      .orderBy(col("rater"))
  }

  /** One Dawid–Skene EM round (Dawid & Skene 1979, "Maximum
    * likelihood estimation of observer error-rates using the EM
    * algorithm") from the majority-vote start: estimate class priors
    * and per-rater confusion matrices against the majority labels
    * (Laplace-smoothed so unseen (class, label) pairs stay finite),
    * then re-vote every item by log-posterior
    * `argmax_g ln pi_g + Σ_ratings ln c_r(l | g)`. One round already
    * fixes the cases majority voting gets wrong — items where the
    * reliable raters were outvoted by raters the confusion matrices
    * expose as noisy — and each additional round is the same chain.
    *
    * Shape: counts-only — majority via one argmax aggregate, the
    * confusion table is bounded by raters × labels², scoring expands
    * ratings × labels (the label alphabet, not the corpus) and sums
    * per (item, class) with per-term DECIMAL(18,10) logs, 8dp-rounded
    * scores before the argmax so both engines pick identical winners.
    */
  def dawidSkeneRound(df: DataFrame, item: Column, rater: Column,
      label: Column, smoothing: Double = 1.0,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(smoothing > 0, s"smoothing must be > 0: $smoothing")
    val dec = org.apache.spark.sql.types.DecimalType(18, 10)
    // dedup with map-side combine, then ONE repartition of the cell
    // table by item (r20, guide §2.4): every later aggregate and join
    // here keys on __i (or an __i-prefixed tuple), so hash(__i)
    // satisfies their clustering and maj/conf/scores/voted all run
    // exchange-free off this single persisted layout
    val r = scope.persist(
      df.filter(item.isNotNull && rater.isNotNull && label.isNotNull)
        .select(item.cast("string").as("__i"),
          rater.cast("string").as("__r"), label.cast("string").as("__l"))
        .groupBy(col("__i"), col("__r")).agg(min(col("__l")).as("__l"))
        .repartition(col("__i")))
    val classes = scope.persist(
      r.select(col("__l").as("__g")).distinct())
    val lCount = classes.count()
    // majority label per item (ties -> smallest label)
    val maj = scope.persist(r.groupBy(col("__i"), col("__l"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("__i"))
      .agg(min(struct((-col("__n")).as("n"), col("__l").as("l")))
        .getField("l").as("__g")))
    // smoothed class priors from the majority labels
    val nItems = maj.count()
    val priors = maj.groupBy(col("__g")).agg(count(lit(1)).as("__ng"))
      .join(classes, Seq("__g"), "right")
      .select(col("__g"),
        log((coalesce(col("__ng"), lit(0L)).cast("double")
          + lit(smoothing))
          / lit(nItems + smoothing * lCount)).as("__lpi"))
    // per-rater confusion counts against the majority labels
    val conf = r.join(maj, Seq("__i"))
      .groupBy(col("__r"), col("__g"), col("__l"))
      .agg(count(lit(1)).as("__c"))
    val confTot = conf.groupBy(col("__r"), col("__g"))
      .agg(sum(col("__c")).as("__ct"))
    // expand every rating across candidate classes; unseen cells get
    // the smoothed floor
    // conf/confTot are raters × labels²-bounded (the operator's
    // documented shape) — broadcast EXPLICITLY so a bad size estimate
    // can never shuffle the ratings-sized expanded frame off its
    // hash(__i) layout
    val expanded = r.crossJoin(broadcast(classes))
      .join(broadcast(conf), Seq("__r", "__g", "__l"), "left")
      .join(broadcast(confTot), Seq("__r", "__g"), "left")
      .select(col("__i"), col("__g"),
        log((coalesce(col("__c"), lit(0L)).cast("double")
          + lit(smoothing))
          / (coalesce(col("__ct"), lit(0L)).cast("double")
            + lit(smoothing * lCount))).cast(dec).as("__ll"))
    val scores = expanded.groupBy(col("__i"), col("__g"))
      .agg(sum(col("__ll")).as("__sll"))
      .join(broadcast(priors), Seq("__g"))
      .select(col("__i"), col("__g"),
        round((col("__sll").cast("double") + col("__lpi"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 8)
          .as("__score"))
    val voted = scores.groupBy(col("__i"))
      .agg(min(struct((-col("__score")).as("s"), col("__g").as("g")))
        .getField("g").as("__ds"))
    maj.join(voted, Seq("__i"))
      .select(col("__i").as("item"), col("__g").as("majority_label"),
        col("__ds").as("ds_label"),
        (col("__g") =!= col("__ds")).as("changed"))
      .orderBy(col("item"))
  }

  /** Pairwise win-rate matrix with Wilson intervals: for every
    * observed entity pair (a < b), a's wins, the rate, and the x252
    * interval — the raw head-to-head table read next to
    * [[bradleyTerry]]'s model-based strengths (BT assumes
    * transitivity; this table is where you SEE the violations).
    * One pass to directed counts, one k²-bounded projection.
    */
  def winRateMatrix(df: DataFrame, a: Column, b: Column, aWon: Column,
      z: Double = 1.96, roundDigits: Int = 6): DataFrame = {
    require(z > 0, s"z must be positive: $z")
    val comp = df.filter(a.isNotNull && b.isNotNull && aWon.isNotNull)
      .select(a.cast("string").as("__a"), b.cast("string").as("__b"),
        aWon.cast("boolean").as("__w"))
      .filter(col("__a") =!= col("__b"))
    val canon = comp.select(
      least(col("__a"), col("__b")).as("entity_a"),
      greatest(col("__a"), col("__b")).as("entity_b"),
      when(col("__a") < col("__b"), col("__w")).otherwise(!col("__w"))
        .cast("long").as("__winA"))
    val cells = canon.groupBy(col("entity_a"), col("entity_b"))
      .agg(count(lit(1)).as("games"), sum(col("__winA")).as("wins_a"))
    val n = col("games").cast("double")
    val p = col("wins_a").cast("double") / n
    val z2 = z * z
    val denom = lit(1.0d) + lit(z2) / n
    val center = p + lit(z2) / (lit(2.0d) * n)
    val spread = lit(z) * sqrt(p * (lit(1.0d) - p) / n
      + lit(z2) / (lit(4.0d) * n * n))
    cells.select(col("entity_a"), col("entity_b"), col("games"),
        col("wins_a"),
        round(p.cast(stable), roundDigits).cast("double").as("rate_a"),
        round(((center - spread) / denom).cast(stable), roundDigits)
          .cast("double").as("wilson_lo"),
        round(((center + spread) / denom).cast(stable), roundDigits)
          .cast("double").as("wilson_hi"))
      .orderBy(col("entity_a"), col("entity_b"))
  }

  /** Length-bias audit for pairwise preference judgments — the
    * known failure mode of LLM judges (longer answers win regardless
    * of quality, Zheng et al. 2023 "Judging LLM-as-a-judge"): the
    * paired winner-minus-loser length delta with its paired-t
    * statistic, plus the longer-option win rate over non-tied pairs.
    * An unbiased judge reads t ≈ 0 and rate ≈ 0.5. One aggregate.
    */
  def lengthBiasAudit(df: DataFrame, lenA: Column, lenB: Column,
      aWon: Column, roundDigits: Int = 6): DataFrame = {
    val rows = df.filter(lenA.isNotNull && lenB.isNotNull
        && aWon.isNotNull)
      .select(when(aWon.cast("boolean"), lenA.cast("double"))
        .otherwise(lenB.cast("double")).as("__wl"),
        when(aWon.cast("boolean"), lenB.cast("double"))
          .otherwise(lenA.cast("double")).as("__ll"))
    val d = col("__wl") - col("__ll")
    val agg = rows.agg(count(lit(1)).as("n"),
      sum(d).as("__sd"), sum(d * d).as("__sd2"),
      sum(col("__wl")).as("__sw"), sum(col("__ll")).as("__sl"),
      sum(when(d > 0, 1L).otherwise(0L)).as("__longerWins"),
      sum(when(d =!= 0, 1L).otherwise(0L)).as("__decided"))
    val nD = col("n").cast("double")
    val meanD = col("__sd") / nD
    val varD = (col("__sd2") - col("__sd") * col("__sd") / nD)
      ./(nD - lit(1.0d))
    val t = meanD / sqrt(varD / nD)
    agg.filter(col("n") > 1)
      .select(col("n"),
        round((col("__sw") / nD).cast(stable), roundDigits)
          .cast("double").as("mean_len_winner"),
        round((col("__sl") / nD).cast(stable), roundDigits)
          .cast("double").as("mean_len_loser"),
        round(meanD.cast(stable), roundDigits).cast("double")
          .as("mean_delta"),
        round(when(varD > 0, t).cast(stable), roundDigits)
          .cast("double").as("paired_t"),
        round(when(col("__decided") > 0,
          col("__longerWins").cast("double")
            / col("__decided").cast("double")).cast(stable), roundDigits)
          .cast("double").as("longer_win_rate"))
  }

  /** Shared LOO step behind [[raterConsensus]] and [[raterConfusion]]:
    * one row per rating that HAS a leave-one-out consensus — `__r`
    * rater, `__l` the rater's label, `__c` the LOO-majority of the
    * item's other raters (ties to the smallest label). Ratings join
    * the (item,label) cell table on item, argmax = one min(struct)
    * aggregate per rating. */
  private def looConsensus(df: DataFrame, item: Column, rater: Column,
      label: Column, scope: graft.util.CacheScope): DataFrame = {
    // one repartition by item after the combined dedup (r20, guide
    // §2.4): cells' groupBy, the r ⋈ cells join, and the per-rating
    // argmax all key on __i — hash(__i) satisfies each, so the whole
    // LOO chain runs off one exchange
    val r = scope.persist(
      df.filter(item.isNotNull && rater.isNotNull && label.isNotNull)
        .select(item.cast("string").as("__i"),
          rater.cast("string").as("__r"), label.cast("string").as("__l"))
        .groupBy(col("__i"), col("__r")).agg(min(col("__l")).as("__l"))
        .repartition(col("__i")))
    val cells = r.groupBy(col("__i"), col("__l").as("__cand"))
      .agg(count(lit(1)).as("__n"))
    // per rating x candidate label: LOO count = n_ic - [c = own label]
    r.join(cells, Seq("__i"))
      .select(col("__i"), col("__r"), col("__l"), col("__cand"),
        (col("__n") - when(col("__cand") === col("__l"), 1L)
          .otherwise(0L)).as("__loon"))
      .groupBy(col("__i"), col("__r"), col("__l"))
      .agg(sum(col("__loon")).as("__others"),
        min(struct((-col("__loon")).as("n"), col("__cand").as("c")))
          .as("__best"))
      .filter(col("__others") > 0)
      .select(col("__r"), col("__l"), col("__best.c").as("__c"))
  }

  /** Per-rater confusion matrix against the leave-one-out consensus:
    * for every (rater, consensus label) pair, how the rater's own
    * labels distribute — the Dawid–Skene-style error profile read off
    * directly (which rater confuses WHICH classes, not just how often
    * they disagree). `rate` shares within each (rater, consensus)
    * block, so a row reads "when the consensus was c, rater r said l
    * rate of the time". Same bounded shape as [[raterConsensus]].
    */
  def raterConfusion(df: DataFrame, item: Column, rater: Column,
      label: Column, roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val loo = looConsensus(df, item, rater, label, scope)
    val cells = loo.groupBy(col("__r"), col("__c"), col("__l"))
      .agg(count(lit(1)).as("__n"))
    val blocks = cells.groupBy(col("__r"), col("__c"))
      .agg(sum(col("__n")).as("__tot"))
    cells.join(blocks, Seq("__r", "__c"))
      .select(col("__r").as("rater"), col("__c").as("consensus_label"),
        col("__l").as("rater_label"), col("__n").as("n"),
        round((col("__n").cast("double") / col("__tot").cast("double"))
          .cast(stable), roundDigits).cast("double").as("rate"))
      .orderBy(col("rater"), col("consensus_label"), col("rater_label"))
  }
}
