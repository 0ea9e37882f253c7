package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the data-quality summary a pipeline runs before
  * trusting a new data drop: per column, row/null/distinct counts and
  * min/max rendered as strings (so one schema serves every column
  * type). The entire profile is ONE aggregate over the input; the wide
  * 1-row result is unpivoted to per-column rows with `stack`, so no
  * per-column scan and nothing driver-side.
  *
  * Scale note: multiple EXACT distinct counts in one aggregate make
  * Catalyst expand the input #cols ways before the partial agg — the
  * right price for an oracle-exact gate, the wrong one at 100 TB.
  * `approx = true` swaps in `approx_count_distinct`'s one-pass HLL
  * (all sketches ride the same single agg, no expand, ±~2% counts),
  * which is the production profile. Both forms share every other
  * stat's code path, so they can never drift apart.
  */
object Profiling {

  def profile(df: DataFrame, cols: Seq[String], approx: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      val nd = if (approx) approx_count_distinct(col(c)) else countDistinct(col(c))
      Seq(
        (count(lit(1)) - count(col(c))).as(s"__null_$c"),
        nd.as(s"__dist_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    } :+ count(lit(1)).as("__rows")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
        s"'$c', `__null_$c`, `__dist_$c`, `__min_$c`, `__max_$c`")
      .mkString(", ")
    wide.select(col("__rows").as("n_rows"),
        expr(s"stack(${cols.size}, $stacked)")
          .as(Seq("col_name", "n_null", "n_distinct", "min_str", "max_str")))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_str"), col("max_str"))
  }

  /** Pairwise Pearson correlation matrix over numeric columns — the
    * feature-redundancy check run before model training or when
    * choosing which quality signals to keep. ALL pairs come from ONE
    * aggregate over one scan (`corr` is a partial-aggregable moment
    * sketch, so the map side combines); the wide 1-row result unpivots
    * with `stack` like [[profile]]. Returns `(col_a, col_b, corr)` for
    * the strict upper triangle; constant columns yield NULL (rendered
    * as corr = NULL, matching SQL semantics). */
  def corrMatrix(df: DataFrame, cols: Seq[String],
      roundDigits: Int = 6): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    // corr assembled from guarded co-moments rather than corr(): under
    // ANSI mode (Spark 4 default) corr on a CONSTANT column raises
    // DIVIDE_BY_ZERO mid-aggregate — a profiling operator must render
    // the degenerate case as NULL, not kill the job. One agg still:
    // stddevs per column + covariances per pair all combine map-side.
    val aggs =
      cols.map(c => stddev_samp(col(c)).as(s"__sd_$c")) ++
        pairs.map { case (a, b) =>
          covar_samp(col(a), col(b)).as(s"__cov_${a}_$b")
        }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val corrCols = pairs.map { case (a, b) =>
      round(
        when(col(s"__sd_$a") > 0 && col(s"__sd_$b") > 0,
          col(s"__cov_${a}_$b") / (col(s"__sd_$a") * col(s"__sd_$b"))),
        roundDigits).as(s"__corr_${a}_$b")
    }
    val stacked = pairs.map { case (a, b) =>
      s"'$a', '$b', `__corr_${a}_$b`"
    }.mkString(", ")
    wide.select(corrCols: _*)
      .select(expr(s"stack(${pairs.size}, $stacked)")
        .as(Seq("col_a", "col_b", "corr")))
  }

  /** Declarative data-validation (the expectations contract a pipeline
    * runs against every new drop before trusting it): each row-level
    * rule is a BOOLEAN constraint column; each uniqueness rule names a
    * column whose values must be distinct (nulls, as in SQL UNIQUE,
    * are not duplicates of each other). Returns one row per rule —
    * (rule, n_violations, frac) — computed in ONE aggregate over one
    * scan: row rules fold to conditional counts, uniqueness to
    * count − count(distinct), and the wide 1-row result unpivots with
    * `stack` like [[profile]]. No per-rule scan, nothing driver-side,
    * map-side combinable except the exact distincts (the [[profile]]
    * approx note applies the same way at 100 TB). */
  def validate(df: DataFrame, rowRules: Seq[(String, Column)],
      uniqueRules: Seq[String] = Nil, roundDigits: Int = 4): DataFrame = {
    require(rowRules.nonEmpty || uniqueRules.nonEmpty,
      "validate needs at least one rule")
    val names = rowRules.map(_._1) ++ uniqueRules.map(c => s"unique_$c")
    require(names.distinct.size == names.size,
      s"rule names must be unique: $names")
    val aggs =
      rowRules.map { case (name, constraint) =>
        // a NULL constraint result is a violation too: an expectation
        // that cannot be evaluated is not met
        count(when(not(coalesce(constraint, lit(false))), lit(1)))
          .as(s"__v_$name")
      } ++
        uniqueRules.map { c =>
          (count(col(c)) - countDistinct(col(c))).as(s"__v_unique_$c")
        } :+ count(lit(1)).as("__rows")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = names.map(n => s"'$n', `__v_$n`").mkString(", ")
    wide.select(expr(s"stack(${names.size}, $stacked)")
        .as(Seq("rule", "n_violations")), col("__rows"))
      .select(col("rule"), col("n_violations"),
        when(col("__rows") > 0,
          round(col("n_violations").cast("double") / col("__rows"),
            roundDigits)).otherwise(lit(0.0d)).as("frac"))
  }

  /** Join-key skew report: the `topK` heaviest keys of `keyCols` with
    * their row counts and corpus share — the check run BEFORE a big
    * join or aggregation to decide whether it needs salting
    * ([[Relational.saltedJoin]]) or AQE skew handling. One map-side-
    * combinable count agg, a `TakeOrderedAndProject` top-k (never a
    * full sort), and a 1-row total broadcast; the rank window runs on
    * k rows only. NULL key parts render as the literal 'NULL' so the
    * all-engines rendering is stable. */
  def skewReport(df: DataFrame, keyCols: Seq[String], topK: Int): DataFrame = {
    require(keyCols.nonEmpty && topK > 0, "need key columns and topK > 0")
    val keyStr = concat_ws("|",
      keyCols.map(c => coalesce(col(c).cast("string"), lit("NULL"))): _*)
    val counts = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(keyStr.as("key_str"), col("cnt"))
    val total = df.agg(count(lit(1)).cast("double").as("__total"))
    counts.orderBy(col("cnt").desc, col("key_str")).limit(topK)
      .crossJoin(broadcast(total))
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("key_str"))).cast("long").as("rank"),
        col("key_str"), col("cnt"),
        round(col("cnt") / col("__total"), 4).as("share"))
  }

  /** X79 — equi-depth histogram: `k` buckets with (near-)equal ROW
    * counts — the quantile complement of [[graft.operators.Relational
    * .histogram]]'s equi-width form, and the better profile for
    * heavy-tailed columns where equi-width piles everything into
    * bucket 1. Bucket membership is SQL-standard `ntile(k)` over a
    * total `(value, tieBreaker)` order (floor-based: the first
    * `n mod k` buckets take one extra row), so it is exactly
    * reproducible on any engine.
    *
    * Scale shape (r15 — [[graft.operators.Relational.chunkedRank]],
    * no zipWithIndex): chunked global rank → ntile's split computed
    * arithmetically from the global row index — a literal
    * `ntile().over(Window.orderBy(...))` would serialize the whole
    * table through one WindowExec partition, and the old RDD
    * round-trip left whole-stage codegen and paid an extra
    * partition-size job. The per-bucket min/max/count that follows is
    * map-side combinable. For a 100 TB profile where exactness isn't
    * required, approxQuantile cutpoints are the cheaper path — this
    * is the exact form, and k rows out.
    */
  def equidepthHistogram(
      df: DataFrame,
      valueCol: String,
      tieBreaker: String,
      k: Int,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(k > 0, s"bucket count must be positive, got $k")
    val ranked = Relational.chunkedRank(
      df.select(col(valueCol), col(tieBreaker)),
      Seq(col(valueCol), col(tieBreaker)), "__i", scope)
    val n = ranked.count()
    // ntile's floor-based split, computed from the global row index:
    // the first (n mod k) buckets take base+1 rows, the rest base.
    // Ranks are non-negative and far below 2^53, so the double-floor
    // division equals the old integer division exactly.
    val base = n / k
    val extra = n % k
    val pivot = extra * (base + 1)
    val bucket =
      when(lit(base) === 0L || col("__i") < pivot,
        floor(col("__i") / lit(base + 1)) + 1)
        .otherwise(lit(extra + 1) +
          floor((col("__i") - lit(pivot)) / lit(base)))
    ranked
      .groupBy(bucket.cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("lo"),
        max(col(valueCol)).as("hi"))
  }

  /** The single-partition `ntile(k)` window form of
    * [[equidepthHistogram]], kept as the readable executable spec the
    * scalable path is pinned against (ProfilingSpec asserts equality).
    * Driver-memory-bounded inputs only. */
  private[graft] def equidepthHistogramNtile(
      df: DataFrame,
      valueCol: String,
      tieBreaker: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(valueCol), col(tieBreaker))
    df.select(col(valueCol), ntile(k).over(w).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("lo"),
        max(col(valueCol)).as("hi"))
      .select(col("bucket").cast("long").as("bucket"), col("n"),
        col("lo"), col("hi"))
  }

  /** X80 — chi-square test of independence between two categorical
    * columns: the contingency-table statistic
    * `Σ (obs − exp)² / exp, exp = row_total·col_total / N`, with
    * degrees of freedom `(r−1)(c−1)` — the profiling answer to "is
    * `lang` independent of `source`?" that [[corrMatrix]] can't give
    * for categoricals. NULL categories count as their own level.
    *
    * One count aggregate over the cells (cardinality r×c, tiny);
    * the row/col marginals derive from the cells — the raw data is
    * scanned exactly once, and everything after the first agg is
    * cell-cardinality work. The sum runs over the FULL r×c grid
    * (marginal cross join, observed cells left-joined in): an absent
    * combination is a zero cell that still owes (0−exp)²/exp — a sum
    * over observed cells only understates the statistic exactly when
    * the dependence is strongest. Output is one row; all inputs to
    * the float math are exact integer counts, so the statistic is
    * engine-portable at 4 dp.
    */
  def chiSquare(df: DataFrame, colA: String, colB: String,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
    : DataFrame =
    chiSquareFull(df, colA, colB, scope)
      .select(col("chi2"), col("dof"), col("n"))

  /** [[chiSquare]]'s grid with the level counts kept — [[cramersV]]
    * needs min(r−1, c−1) for its normalizer, x122's public shape does
    * not carry it. */
  private[graft] def chiSquareFull(
      df: DataFrame, colA: String, colB: String,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
    : DataFrame = {
    // cells is r×c cardinality; persist so the marginals, the totals,
    // and the grid all derive from ONE scan of the raw data instead of
    // four independent re-aggregations
    val cells = scope.persist(
      df.groupBy(col(colA).as("__a"), col(colB).as("__b"))
        .agg(count(lit(1)).as("__o")))
    val rowTot = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val colTot = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val n = cells.agg(sum(col("__o")).as("__n"),
      countDistinct(col("__a")).as("__r"),
      countDistinct(col("__b")).as("__c"))
    val o = coalesce(col("__o"), lit(0L))
    val exp = col("__ra").cast("double") * col("__cb") / col("__n")
    rowTot.crossJoin(colTot)
      .join(cells, Seq("__a", "__b"), "left")
      .crossJoin(broadcast(n))
      .agg(
        round(sum((o - exp) * (o - exp) / exp), 4).as("chi2"),
        ((first(col("__r")) - 1) * (first(col("__c")) - 1)).as("dof"),
        first(col("__n")).as("n"),
        (first(col("__r")) - 1).as("__rm1"),
        (first(col("__c")) - 1).as("__cm1"))
  }

  /** X193 — Cramér's V association matrix: for every unordered pair
    * of categorical columns, the chi-square statistic and
    * `V = sqrt(χ² / (n·min(r−1, c−1)))` — the [0,1]-normalized "how
    * strongly do these two dimensions determine each other" screen
    * that a raw χ² (scale-dependent) can't rank across pairs; the
    * categorical complement of x97's numeric correlation matrix and
    * the pairwise extension of x149's mutual information.
    *
    * ONE scan of the input regardless of pair count (r15 — the x91
    * columnProfile precedent): every row EXPLODES into its k·(k−1)/2
    * `(pair, value_a, value_b)` structs, a single map-side-combinable
    * cell aggregate collapses that to per-pair contingency cells
    * before anything shuffles (cell volume is Σ rᵢ·cⱼ, never rows),
    * and the marginals/totals/grid all derive from the persisted cell
    * frame — where the old per-pair [[chiSquare]] union re-read the
    * input k²/2 times (real money at 100 TB). Values compare as
    * strings inside the shared struct (injective on categorical
    * columns, the operator's domain). V reuses the grid's 4dp-rounded
    * χ² (the x122-pinned statistic) in one float chain stabilized
    * through DECIMAL(18,8). Degenerate pairs (either side constant:
    * min(r−1, c−1) = 0) emit null V, never a division error.
    */
  def cramersV(df: DataFrame, cols: Seq[String],
      roundDigits: Int = 4,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got $cols")
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val pairList = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val pairsArr = array(pairList.map { case (a, b) =>
      struct(lit(a).as("__pa"), lit(b).as("__pb"),
        col(a).cast("string").as("__a"), col(b).cast("string").as("__b"))
    }: _*)
    val cells = scope.persist(
      df.select(explode(pairsArr).as("__p")).select(col("__p.*"))
        .groupBy(col("__pa"), col("__pb"), col("__a"), col("__b"))
        .agg(count(lit(1)).as("__o")))
    val rowTot = cells.groupBy(col("__pa"), col("__pb"), col("__a"))
      .agg(sum(col("__o")).as("__ra"))
    val colTot = cells.groupBy(col("__pa"), col("__pb"), col("__b"))
      .agg(sum(col("__o")).as("__cb"))
    // one row per pair — bounded by the column LIST, broadcastable
    val nTot = cells.groupBy(col("__pa"), col("__pb"))
      .agg(sum(col("__o")).as("__n"),
        countDistinct(col("__a")).as("__r"),
        countDistinct(col("__b")).as("__c"))
    val o = coalesce(col("__o"), lit(0L))
    val exp = col("__ra").cast("double") * col("__cb") / col("__n")
    val minDim = least(col("__rm1"), col("__cm1"))
    // full r×c grid per pair = row-marginals × col-marginals on the
    // pair id; NULL-SAFE cell re-join (groupBy keeps null categories)
    rowTot.join(colTot, Seq("__pa", "__pb"))
      .join(cells.withColumnRenamed("__a", "__a2")
          .withColumnRenamed("__b", "__b2")
          .withColumnRenamed("__pa", "__pa2")
          .withColumnRenamed("__pb", "__pb2"),
        col("__pa") === col("__pa2") && col("__pb") === col("__pb2") &&
          col("__a") <=> col("__a2") && col("__b") <=> col("__b2"),
        "left")
      .join(broadcast(nTot.withColumnRenamed("__pa", "__pn1")
          .withColumnRenamed("__pb", "__pn2")),
        col("__pa") === col("__pn1") && col("__pb") === col("__pn2"))
      .groupBy(col("__pa"), col("__pb"))
      .agg(
        round(sum((o - exp) * (o - exp) / exp), 4).as("chi2"),
        ((first(col("__r")) - 1) * (first(col("__c")) - 1)).as("dof"),
        first(col("__n")).as("n"),
        (first(col("__r")) - 1).as("__rm1"),
        (first(col("__c")) - 1).as("__cm1"))
      .select(col("__pa").as("col_a"), col("__pb").as("col_b"),
        col("n"), col("chi2"), col("dof"),
        round(when(minDim >= 1 && col("n") > 0,
          sqrt(col("chi2") / (col("n") * minDim)))
          .cast(stable), roundDigits).cast("double").as("cramers_v"))
  }

  /** X135 — information-gain feature ranking: [[mutualInfo]] of every
    * candidate categorical feature against the label, one row per
    * feature — the model-free feature-selection screen (rank by NMI;
    * an NMI ≈ 1 feature is a leak, an NMI ≈ 0 one is ballast).
    *
    * ONE scan of the input regardless of feature count (r15 — the x91
    * columnProfile precedent): each row EXPLODES into its k
    * `(feature, value, label)` structs and a single map-side-
    * combinable cell aggregate collapses them to per-feature
    * contingency cells before anything shuffles — where the old
    * per-feature [[mutualInfo]] union re-read the input k times. The
    * MI/entropy math is mutualInfo's verbatim (per-term IEEE chains
    * over exact counts, DECIMAL(18,10) exact term sums, null-safe
    * marginal re-joins), run per feature group; values compare as
    * strings inside the shared struct (injective on the categorical
    * domain).
    */
  def infoGainReport(df: DataFrame, labelCol: String,
      features: Seq[String], roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(features.nonEmpty, "need at least one candidate feature")
    val featsArr = array(features.map(f =>
      struct(lit(f).as("__f"), col(f).cast("string").as("__a"))): _*)
    val cells = scope.persist(
      df.select(explode(featsArr).as("__p"),
          col(labelCol).cast("string").as("__b"))
        .select(col("__p.__f").as("__f"), col("__p.__a").as("__a"),
          col("__b"))
        .groupBy(col("__f"), col("__a"), col("__b"))
        .agg(count(lit(1)).as("__o")))
    val rowTot = cells.groupBy(col("__f"), col("__a"))
      .agg(sum(col("__o")).as("__ra"))
    val colTot = cells.groupBy(col("__f"), col("__b"))
      .agg(sum(col("__o")).as("__cb"))
    // one row per feature — bounded by the feature LIST, broadcastable
    val n = cells.groupBy(col("__f")).agg(sum(col("__o")).as("__n"))
    val dec = org.apache.spark.sql.types.DecimalType(18, 10)
    val nD = col("__n").cast("double")
    val miTerm = ((col("__o") / nD)
      * log(nD * col("__o") / (col("__ra").cast("double") * col("__cb"))))
      .cast(dec)
    def hTerm(c: String): Column =
      (-(col(c) / nD) * log(col(c) / nD)).cast(dec)
    // NULL-SAFE marginal re-joins (the mutualInfo r12 rule): groupBy
    // made NULL a category of its own
    val mi = cells
      .join(rowTot.toDF("__f2", "__a2", "__ra"),
        col("__f") === col("__f2") && col("__a") <=> col("__a2"))
      .join(colTot.toDF("__f3", "__b2", "__cb"),
        col("__f") === col("__f3") && col("__b") <=> col("__b2"))
      .join(broadcast(n), Seq("__f"))
      .groupBy(col("__f")).agg(sum(miTerm).as("__mi"))
    val ha = rowTot.join(broadcast(n), Seq("__f"))
      .groupBy(col("__f")).agg(sum(hTerm("__ra")).as("__ha"))
    val hb = colTot.join(broadcast(n), Seq("__f"))
      .groupBy(col("__f")).agg(sum(hTerm("__cb")).as("__hb"))
    val hmin = least(col("__ha"), col("__hb")).cast("double")
    mi.join(ha, Seq("__f")).join(hb, Seq("__f"))
      .select(col("__f").as("feature"),
        round(col("__mi").cast("double"), roundDigits).as("mi"),
        round(col("__ha").cast("double"), roundDigits).as("h_feature"),
        round(col("__hb").cast("double"), roundDigits).as("h_label"),
        round(
          when(hmin > 0, col("__mi").cast("double") / hmin)
            .cast(org.apache.spark.sql.types.DecimalType(18, 8)),
          roundDigits).cast("double").as("nmi"))
  }

  /** X129 — functional-dependency audit: for each candidate rule
    * `lhs → rhs`, how many lhs values map to MORE than one rhs value
    * (the schema-contract screen: "is product name really determined
    * by product key", "does one order ever ship from two warehouses").
    * A 0% rate certifies the dependency; a small rate localizes dirty
    * rows for [[validate]]-style quarantining.
    *
    * One `(lhs, rhs)` distinct + count-distinct aggregate per rule —
    * all map-side combinable, output one row per rule. Rates stabilize
    * through DECIMAL(18,8).
    */
  def fdReport(df: DataFrame, deps: Seq[(String, String)],
      roundDigits: Int = 6): DataFrame = {
    require(deps.nonEmpty, "need at least one candidate dependency")
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    deps.map { case (lhs, rhs) =>
      val perLhs = df.groupBy(col(lhs))
        .agg(countDistinct(col(rhs)).as("__k"))
      perLhs.agg(
        count(lit(1)).as("__groups"),
        sum(when(col("__k") > 1, 1L).otherwise(0L)).as("__viol"),
        max(col("__k")).as("__maxk"))
        .select(lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col("__groups").as("n_groups"),
          col("__viol").as("n_violating"),
          round((col("__viol").cast("double") / col("__groups"))
            .cast(stable), roundDigits).cast("double")
            .as("violation_rate"),
          col("__maxk").as("max_rhs_per_lhs"))
    }.reduce(_ unionAll _)
  }

  /** X171 — Shannon entropy of a column's value distribution per
    * group: `H = −Σ p·ln p` (nats) plus the normalized form
    * `H/ln(cardinality)` ∈ [0,1] — the concentration summary that
    * says in one number whether a categorical column is uniform
    * (≈1), skewed, or degenerate (0); the profiling companion to
    * [[graft.operators.Relational.modePerGroup]] (the mode says WHICH
    * value dominates, entropy says HOW MUCH anything dominates).
    * NULL values form a category of their own.
    *
    * Portability: counts are exact integers; each `p·ln p` term
    * computes as ONE left-associated double expression from exact
    * operands and the term SUM rides a DECIMAL(18,8)-rounded
    * per-term column aggregated exactly — addition-order-free, so
    * both engines add identical decimals (the ln-parity discipline:
    * round BEFORE summing, never after). Degenerate single-value
    * groups emit H = 0 and null normalized entropy.
    */
  def valueEntropy(df: DataFrame, groupCols: Seq[String],
      valueCol: String, roundDigits: Int = 4): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val gs = groupCols.map(col)
    val counted = df.groupBy((gs :+ col(valueCol).as("__v")): _*)
      .agg(count(lit(1)).as("__n"))
    val tot = org.apache.spark.sql.expressions.Window
      .partitionBy(gs: _*)
    val p = col("__n").cast("double") / col("__tot").cast("double")
    counted
      .withColumn("__tot", sum(col("__n")).over(tot))
      // per-term −p·ln p rounded to DECIMAL BEFORE the sum: decimal
      // addition is exact and order-free where double addition is not
      .withColumn("__term", round((-(p * log(p))).cast(stable), 8))
      .groupBy(gs: _*)
      .agg(count(lit(1)).as("n_values"),
        first(col("__tot")).as("n_rows"),
        sum(col("__term")).as("__h"))
      .select((gs :+ col("n_values") :+ col("n_rows") :+
        round(col("__h").cast(stable), roundDigits).cast("double")
          .as("entropy") :+
        when(col("n_values") > 1,
          round((col("__h").cast("double")
            / log(col("n_values").cast("double"))).cast(stable),
            roundDigits).cast("double")).as("norm_entropy")): _*)
  }

  /** X119 — exact quantiles WITHOUT a driver-side buffer: the
    * scalable twin of the `percentile` aggregate (which gathers the
    * whole column into one executor buffer — t38's documented
    * trade-off, fine to ~10⁸ values, fatal at 100 TB). Global ranks
    * come from [[graft.operators.Relational.chunkedRank]] (r15 — no
    * zipWithIndex RDD round-trip, no extra partition-size job, stays
    * in whole-stage codegen); each requested probability interpolates
    * between its two neighboring ranks via one broadcast join — the
    * quantile_cont formula `v_lo + frac·(v_hi − v_lo)` on pos =
    * p·(n−1). One count action total (the sanctioned scalar shape);
    * no single-partition window, no whole-column gather anywhere.
    */
  def exactQuantiles(df: DataFrame, valueCol: String,
      probs: Seq[Double], roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"probs must be within [0,1], got $probs")
    val spark = df.sparkSession
    val v = col(valueCol).cast("double")
    val indexed = scope.persist(Relational.chunkedRank(
      df.filter(v.isNotNull).select(v.as("__v")), Seq(col("__v")),
      "__i", scope))
    val n = indexed.count()
    require(n > 0, "exactQuantiles needs at least one non-null value")
    import spark.implicits._
    val wanted = probs.map { p =>
      val pos = p * (n - 1)
      val lo = math.floor(pos).toLong
      val hi = math.min(lo + 1, n - 1)
      (p, lo, hi, pos - lo)
    }.toDF("prob", "__lo", "__hi", "__frac")
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val out = broadcast(wanted)
      .join(indexed.select(col("__i").as("__lo"), col("__v").as("__vlo")),
        Seq("__lo"))
      .join(indexed.select(col("__i").as("__hi"), col("__v").as("__vhi")),
        Seq("__hi"))
      .select(col("prob"),
        round((col("__vlo")
          + col("__frac") * (col("__vhi") - col("__vlo"))).cast(stable),
          roundDigits).cast("double").as("value"))
    out
  }

  /** X209 — trimmed mean per group: the mean over values inside the
    * exact [α, 1−α] quantile band (inclusive) — the robust central
    * tendency between the mean (0% trim, outlier-hostage) and the
    * median (50% trim, throws away most of the data); the standard
    * summary for spend/latency columns whose tails are real but
    * should not steer a per-group KPI.
    *
    * Cutoffs come from [[groupedExactQuantiles]] (exact decimal rank
    * arithmetic — no float quantile ever reaches the band compare, the
    * r11 lesson) and join back null-safe per group; the kept-value
    * mean is an exact DECIMAL sum with ONE final float division
    * stabilized through DECIMAL(18,8). Emits both the raw and trimmed
    * mean so the gap itself is the outlier signal.
    */
  def trimmedMean(df: DataFrame, groupCols: Seq[String], value: Column,
      alpha: Double = 0.1, roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(alpha > 0 && alpha < 0.5, s"alpha must be in (0, 0.5): $alpha")
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val gs = groupCols.map(col)
    val rows = df.filter(value.isNotNull)
      .select(gs :+ value.cast(dec).as("__v"): _*)
    val cuts = groupedExactQuantiles(rows, groupCols, col("__v"),
      Seq("__qlo" -> alpha, "__qhi" -> (1 - alpha)), scope = scope)
    val renamed = groupCols.foldLeft(cuts)((d, c) =>
      d.withColumnRenamed(c, s"__c_$c"))
    val joinCond = (groupCols.map(c => col(c) <=> col(s"__c_$c"))
      :+ lit(true)).reduce(_ && _)
    rows.join(renamed, joinCond)
      .groupBy(gs: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__v")).as("__s"),
        sum(when(col("__v") >= col("__qlo") && col("__v") <= col("__qhi"),
          lit(1L)).otherwise(lit(0L))).as("n_kept"),
        sum(when(col("__v") >= col("__qlo") && col("__v") <= col("__qhi"),
          col("__v")).otherwise(lit(0).cast(dec))).as("__sk"))
      .select(gs ++ Seq(col("n"), col("n_kept"),
        round((col("__s").cast("double") / col("n")).cast(stable),
          roundDigits).cast("double").as("mean"),
        round(when(col("n_kept") > 0,
          col("__sk").cast("double") / col("n_kept")).cast(stable),
          roundDigits).cast("double").as("trimmed_mean")): _*)
  }

  /** X210 — quantile drift between two slices of a column: the exact
    * p-quantiles of the baseline and current eras side by side with
    * their absolute gap — the MAGNITUDE drift readout that
    * [[graft.operators.Evaluation.psi]] (a unitless index) and KS (a
    * probability gap) can't give: "p90 latency moved 240 ms" is
    * actionable where "PSI 0.31" is a siren.
    *
    * ONE ranked pass for both eras: the era tag becomes a group
    * column in [[groupedExactQuantiles]] (the multiExactQuantiles
    * trick), so the input is scanned once regardless of how many
    * probabilities are requested. Output one row per probability;
    * the gap is a single decimal subtraction of the two exact
    * quantiles (no float until the final cast).
    */
  def quantileDrift(df: DataFrame, isBase: Column, isCur: Column,
      value: Column,
      probs: Seq[(String, Double)] = Seq("p25" -> 0.25, "p50" -> 0.5,
        "p75" -> 0.75, "p90" -> 0.9),
      roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(probs.nonEmpty, "need at least one probability")
    val rows = df.filter((isBase || isCur) && value.isNotNull)
      .select(when(isBase, lit("base")).otherwise(lit("cur")).as("__era"),
        value.cast("double").as("__v"))
    // persisted: the base and cur branches both read the tiny 2-row
    // quantile frame — without it each branch re-runs the bounds/pick
    // aggregations off the cached ranked frame
    val q = scope.persist(groupedExactQuantiles(rows, Seq("__era"),
      col("__v"), probs, roundDigits = roundDigits, scope = scope))
    val b = probs.foldLeft(q.filter(col("__era") === "base")) {
      (d, p) => d.withColumnRenamed(p._1, s"__b_${p._1}") }
      .drop("__era")
    val c = probs.foldLeft(q.filter(col("__era") === "cur")) {
      (d, p) => d.withColumnRenamed(p._1, s"__c_${p._1}") }
      .drop("__era")
    val pairs = probs.map { case (nm, _) =>
      struct(lit(nm).as("prob"),
        col(s"__b_$nm").as("__qb"), col(s"__c_$nm").as("__qc"))
    }
    b.crossJoin(c)
      .select(explode(array(pairs: _*)).as("__p"))
      .select(col("__p.prob").as("prob"),
        col("__p.__qb").cast("double").as("q_base"),
        col("__p.__qc").cast("double").as("q_cur"),
        abs(col("__p.__qc") - col("__p.__qb")).cast("double")
          .as("abs_shift"))
  }

  /** Rational (num, den) for a probability, by continued-fraction
    * approximation: the smallest denominator d <= 10^6 with
    * |p·d − round(p·d)| within half an ULP of p at that scale. Makes
    * ANY representable probability usable by the exact-quantile
    * machinery — 1/3 (newsvendor critical ratios), 1/7, k-tile cuts
    * for arbitrary k (psi) — not just thousandths (the r12
    * restriction; callers with wider contracts hit a confusing
    * "multiple of 1/1000" error deep in the quantile code). */
  private[graft] def probRational(p: Double): (Long, Long) = {
    require(p >= 0 && p <= 1 && !p.isNaN, s"probability out of [0,1]: $p")
    val maxDen = 1000000L
    // continued-fraction convergents of p; first one within tolerance
    // of the double wins (for p typed as a decimal literal or a small
    // fraction, that recovers the intended exact rational)
    var (h0, h1, k0, k1) = (0L, 1L, 1L, 0L)
    var x = p
    var iter = 0
    while (iter < 40) {
      val a = math.floor(x).toLong
      val h2 = a * h1 + h0; val k2 = a * k1 + k0
      if (k2 > maxDen) {
        iter = 40
      } else {
        h0 = h1; h1 = h2; k0 = k1; k1 = k2
        if (math.abs(p - h1.toDouble / k1) < 1e-12) iter = 40
        else {
          val frac = x - a
          if (frac < 1e-15) iter = 40 else { x = 1.0 / frac; iter += 1 }
        }
      }
    }
    require(k1 > 0 && math.abs(p - h1.toDouble / k1) < 1e-9,
      s"probability $p has no exact rational form with denominator <= " +
        s"$maxDen — pass a cleaner probability")
    (h1, k1)
  }

  /** Exact per-group linear-interpolation quantiles with NO float
    * kernel anywhere — the engine-version-proof form of a grouped
    * `quantile_cont` (r11 verdict: a float interpolation ULP inside
    * one DuckDB release flipped a ROUND(…,6) fence that another
    * release kept — so a quantile an operator EMITS must never pass
    * through a float multiply).
    *
    * The whole computation is integer + decimal arithmetic: each
    * probability reduces to an exact rational num/den ([[probRational]]
    * — arbitrary p, not just thousandths), the rank position
    * `p·(n−1)` is exact long arithmetic `num·(n−1)` with fractional
    * part the integer remainder mod den, and the interpolation
    * `(v_lo·(den−rem) + v_hi·rem) / den` runs entirely in DECIMAL.
    * The division is decimal-exact whenever 1/den has a finite decimal
    * expansion (den = 2^a·5^b — every thousandth-probability caller,
    * so all r12 gate outputs are bit-identical to the multiply-by-
    * 0.001 form this replaces); for other dens (1/3, 1/7) it is
    * HALF_UP at scale 14, eight guard digits above the final round.
    * Inputs quantize through DECIMAL(18, inScale) first — a double can
    * never tie at a decimal boundary (its value is a binary fraction,
    * a half-ULP-at-scale-k is not), so the cast is rounding-mode-
    * independent and engine-identical. The final ROUND is decimal
    * HALF_UP, which both Spark and DuckDB define as half-away-from-
    * zero.
    *
    * Shape (r14 — the chunked-rank machinery, no zipWithIndex):
    * `repartitionByRange(group, v)` + `sortWithinPartitions` makes
    * each shuffle partition an order-contiguous sorted CHUNK;
    * `monotonically_increasing_id` (consecutive within a partition by
    * construction) minus the chunk's min id is the within-chunk rank,
    * and the chunk-base offsets ride ONE (group × chunk)-cardinality
    * summary aggregate + bounded window broadcast back — global ranks
    * with no per-group window partition (one giant group cannot pin a
    * single task), no RDD round-trip (the pre-r14 zipWithIndex form
    * left whole-stage codegen and paid an extra partition-size scan
    * job), and no second data shuffle (the rank falls out of
    * arithmetic on the persisted range layout).
    *
    * The ranked frame persists for the two passes (bounds + pick) and
    * to pin the partition-dependent ids; pass a tracking
    * [[graft.util.CacheScope]] and `unpersistAll` once the result is
    * consumed — the default unmanaged scope leaves the block to
    * Spark's LRU (fine under Verify/Bench's per-query sweep, a leak
    * in a long-lived session).
    */
  def groupedExactQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      probs: Seq[(String, Double)],
      inScale: Int = 6,
      roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    if (groupCols.isEmpty)
      // global quantiles = one synthetic all-rows group, dropped on exit
      return groupedExactQuantiles(df.withColumn("__gall", lit(1)),
        Seq("__gall"), value, probs, inScale, roundDigits, scope)
        .drop("__gall")
    require(probs.nonEmpty, "need at least one probability")
    val nums = probs.map { case (name, p) =>
      val (num, den) = probRational(p)
      (name, num, den)
    }
    val inType = org.apache.spark.sql.types.DecimalType(18, inScale)
    val gs = groupCols.map(col)
    // explicit chunk count — an unnumbered repartitionByRange is an
    // AQE coalescing candidate whose partition ids can differ between
    // this frame's two consumers (the chunkedPrefixSum row-loss
    // lesson); explicit counts are exempt and deterministic
    val chunks = df.sparkSession.sessionState.conf.numShufflePartitions
    // Cut, not just persist: the chunk ids and mono ids are partition-
    // dependent and must be identical for the summary and pick
    // consumers (graft.util.Cut scaladoc)
    val indexed = scope.persist(graft.util.Cut(df.filter(value.isNotNull)
      .select((gs :+ value.cast(inType).as("__v")): _*)
      .repartitionByRange(chunks, gs :+ col("__v"): _*)
      .sortWithinPartitions(gs :+ col("__v"): _*)
      .withColumn("__pfx_c", spark_partition_id().cast("long"))
      .withColumn("__mid", monotonically_increasing_id())))
    // (group, chunk) summary: size + first mono id; chunk-base prefix
    // and group totals ride bounded windows over THIS frame only
    val chunkCounts = indexed.groupBy(gs :+ col("__pfx_c"): _*)
      .agg(count(lit(1)).as("__cn"), min(col("__mid")).as("__m0"))
    val baseW = org.apache.spark.sql.expressions.Window
      .partitionBy(gs: _*).orderBy(col("__pfx_c"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val totW = org.apache.spark.sql.expressions.Window
      .partitionBy(gs: _*).orderBy(col("__pfx_c"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val bounds = chunkCounts
      .withColumn("__b", coalesce(sum(col("__cn")).over(baseW), lit(0L)))
      .withColumn("__n", sum(col("__cn")).over(totW))
      .drop("__cn")
    // den <= 10^6 -> weights need 7 integer digits
    val wDen = org.apache.spark.sql.types.DecimalType(7, 0)
    val rankCols = nums.flatMap { case (name, num, den) =>
      val pos = lit(num) * (col("__n") - 1)
      val rem = pmod(pos, lit(den))
      val lo = ((pos - rem) / den).cast("long")
      Seq(lo.as(s"__lo_$name"),
        least(lo + 1, col("__n") - 1).as(s"__hi_$name"),
        rem.as(s"__rem_$name"))
    }
    // NULL-SAFE group re-join: groupBy puts null keys in their own
    // group, and a plain equi-join would silently drop that whole
    // group from the quantile (the Relational.nullSafeGroupJoin rule)
    val renamedBounds = groupCols.foldLeft(bounds)((d, c) =>
      d.withColumnRenamed(c, s"__k_$c"))
      .withColumnRenamed("__pfx_c", "__kc")
    val joinCond = (groupCols.map(c => col(c) <=> col(s"__k_$c")) :+
      (col("__pfx_c") === col("__kc"))).reduce(_ && _)
    val marked = indexed.join(broadcast(renamedBounds), joinCond)
      .drop(groupCols.map(c => s"__k_$c"): _*)
      .withColumn("__r", col("__b") + (col("__mid") - col("__m0")))
      .select((gs :+ col("__r") :+ col("__v")) ++ rankCols: _*)
    val hit = nums.map { case (name, _, _) =>
      col("__r") === col(s"__lo_$name") || col("__r") === col(s"__hi_$name")
    }.reduce(_ || _)
    val aggs = nums.flatMap { case (name, _, _) =>
      Seq(
        min(when(col("__r") === col(s"__lo_$name"), col("__v")))
          .as(s"__vlo_$name"),
        min(when(col("__r") === col(s"__hi_$name"), col("__v")))
          .as(s"__vhi_$name"),
        first(col(s"__rem_$name")).as(s"__remf_$name"))
    }
    val picked = marked.filter(hit).groupBy(gs: _*).agg(aggs.head, aggs.tail: _*)
    val outCols = gs ++ nums.map { case (name, _, den) =>
      val rem = col(s"__remf_$name").cast(wDen)
      val w0 = (lit(den) - col(s"__remf_$name")).cast(wDen)
      round((col(s"__vlo_$name") * w0 + col(s"__vhi_$name") * rem)
        / lit(den).cast(wDen), roundDigits).as(name)
    }
    picked.select(outCols: _*)
  }

  /** Multi-VALUE-column exact quantiles in ONE ranked pass: the same
    * cutoffs [[groupedExactQuantiles]] emits, for several value
    * columns at once. Each per-column call pays a full range-sort +
    * `zipWithIndex` round-trip (two jobs) + persist + broadcast join;
    * three metric columns meant three times that machinery for a
    * handful of scalars (the r12 x128 regression: rfmSegments at
    * 0.62 → 3.02 s). Here the value columns EXPLODE into
    * `(group…, __metric, value)` rows — the metric name becomes one
    * more group column — and the whole set rides a single
    * sort/zip/join. Output: one row per (group…, __metric), quantile
    * columns named per `probs`.
    *
    * Cost: one pass over (#cols · rows) instead of #cols passes over
    * rows — same total compare volume, one job structure. Nulls filter
    * per metric inside the shared pass (the explode emits a row per
    * metric, the quantile machinery drops null values).
    */
  def multiExactQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      values: Seq[(String, Column)],
      probs: Seq[(String, Double)],
      inScale: Int = 6,
      roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(values.nonEmpty, "need at least one value column")
    val inType = org.apache.spark.sql.types.DecimalType(18, inScale)
    val gs = groupCols.map(col)
    val pairs = values.map { case (nm, c) =>
      struct(lit(nm).as("__metric"), c.cast(inType).as("__mv"))
    }
    val long = df
      .select((gs :+ explode(array(pairs: _*)).as("__p")): _*)
      .select((gs :+ col("__p.__metric").as("__metric")
        :+ col("__p.__mv").as("__mv")): _*)
    groupedExactQuantiles(long, groupCols :+ "__metric", col("__mv"),
      probs, inScale, roundDigits, scope)
  }

  /** X154 — exact WEIGHTED quantile per group (lower weighted
    * quantile: the smallest value whose cumulative weight reaches
    * `p·W`) — the quantity-weighted median/percentile a revenue or
    * units analysis actually wants (an unweighted median of line
    * prices answers a different question than "the price at which
    * half the UNITS sell").
    *
    * Exactness without interpolation: weights quantize through
    * DECIMAL(18,6), cumulative weights are decimal sums (exact under
    * any association, so the distributed two-level scan is
    * bit-identical to a row-at-a-time running sum), and the threshold
    * compare runs as `cumW·den >= num·W` with num/den =
    * [[probRational]](p) — integer-scaled decimal arithmetic, no
    * division, no float. The selected value is a DATA value, so the
    * output needs no rounding at all.
    *
    * Shape (r13 verdict #1 — NO per-group running-sum window over the
    * data): `repartitionByRange` on (group, v) makes each shuffle
    * partition an order-contiguous CHUNK with `spark_partition_id()`
    * as its id (the [[graft.operators.Relational.chunkedPrefixSum]]
    * trick — no zipWithIndex round-trip, no extra job); ONE map-side-
    * combinable aggregate collapses each (group, chunk) to its weight
    * sum; the chunk-base prefix, the per-group totals, AND the
    * crossing-chunk pick all run on that SUMMARY frame (bounded at
    * the chunk COUNT per group by construction). Only the rows of
    * each group's CROSSING chunk — one shuffle partition's worth —
    * take the within-chunk running sum, so a 3-value grouping over a
    * 10^12-row fact table never pins a task to a third of the data,
    * and the post-summary work is O(one chunk · groups) regardless of
    * input size. Ties in the value column are safe by construction:
    * the range partitioner keeps a tied value in one chunk, and
    * whichever tied row first crosses the threshold, the SELECTED
    * value is the same.
    */
  def groupedWeightedQuantile(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      weightCol: String,
      p: Double,
      outName: String = "wq",
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val (pNum, den) = probRational(p)
    require(pNum > 0, s"weighted quantile needs p > 0, got $p")
    val v6t = org.apache.spark.sql.types.DecimalType(18, 6)
    val gs = groupCols.map(col)
    // DECIMAL(24,6) keeps the integer-scaling multiply below Spark's
    // precision-38 silent-loss path (the r12 decayedCounts lesson)
    val w4 = org.apache.spark.sql.types.DecimalType(7, 0)
    val w24 = org.apache.spark.sql.types.DecimalType(24, 6)
    val rows = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .select((gs :+ col(valueCol).cast(v6t).as("__v")
        :+ col(weightCol).cast(v6t).as("__w")): _*)
    // order-contiguous chunks = range-shuffle partitions with an
    // EXPLICIT count (an unnumbered repartitionByRange is an AQE
    // coalescing candidate whose ids can differ between the summary
    // and join consumers — the chunkedPrefixSum row-loss lesson);
    // persist pins the ids for the two passes below
    val chunks = df.sparkSession.sessionState.conf.numShufflePartitions
    // Cut, not just persist: partition-dependent ids must be identical
    // for every consumer (graft.util.Cut scaladoc)
    val indexed = scope.persist(graft.util.Cut(
      rows.repartitionByRange(chunks, gs :+ col("__v"): _*)
        .withColumn("__pfx_c", spark_partition_id().cast("long"))))
    // (group, chunk) summary: weight sum + row count, map-side
    // combinable — everything below the crossing-chunk join runs on
    // chunk-count rows per group, never the data
    val sums = indexed.groupBy(gs :+ col("__pfx_c"): _*)
      .agg(sum(col("__w")).cast(w24).as("__cs"), count(lit(1)).as("__cnt"))
    val baseW = org.apache.spark.sql.expressions.Window
      .partitionBy(gs: _*).orderBy(col("__pfx_c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // full-frame totals on the same summary frame (ordered form so the
    // plan self-documents as chunk machinery)
    val totW = org.apache.spark.sql.expressions.Window
      .partitionBy(gs: _*).orderBy(col("__pfx_c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val summary = sums
      .withColumn("__b", coalesce(sum(col("__cs")).over(baseW),
        lit(0).cast(w24)).cast(w24))
      .withColumn("__tw", sum(col("__cs")).over(totW).cast(w24))
      .withColumn("__n", sum(col("__cnt")).over(totW))
    // crossing chunk per group: the FIRST chunk whose cumulative end
    // reaches p·W; min(struct) is the argmin idiom (modePerGroup)
    val crossing = summary
      .filter((col("__b") + col("__cs")) * lit(den).cast(w4)
        >= col("__tw") * lit(pNum).cast(w4))
      .groupBy(gs: _*)
      .agg(min(struct(col("__pfx_c"), col("__b"))).as("__x"),
        first(col("__tw")).as("__tw"), first(col("__n")).as("__n"))
      .select((gs :+ col("__x.__pfx_c").as("__xc") :+ col("__x.__b").as("__xb")
        :+ col("__tw") :+ col("__n")): _*)
    val renamed = groupCols.foldLeft(crossing)((d, c) =>
      d.withColumnRenamed(c, s"__k_$c"))
    // null-safe group re-join; restricting to the crossing chunk also
    // bounds the running-sum window below at chunkRows rows per task
    val joinCond = (groupCols.map(c => col(c) <=> col(s"__k_$c"))
      :+ (col("__pfx_c") === col("__xc"))).reduce(_ && _)
    // row order among ties is arbitrary, but the SELECTED value is
    // tie-invariant (the crossing row's __v is the tie value itself)
    val innerW = org.apache.spark.sql.expressions.Window
      .partitionBy(gs :+ col("__pfx_c"): _*).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    indexed.join(renamed, joinCond)
      .withColumn("__cw",
        (col("__xb") + sum(col("__w")).over(innerW).cast(w24)).cast(w24))
      .groupBy(gs: _*)
      .agg(
        first(col("__n")).as("n"),
        first(col("__tw")).cast("double").as("total_weight"),
        min(when(col("__cw") * lit(den).cast(w4)
            >= col("__tw") * lit(pNum).cast(w4),
          col("__v"))).cast("double").as(outName))
  }

  /** X116 — robust outlier screen per group: modified z-score
    * `0.6745·(v − median)/MAD` with the Iglewicz–Hoaglin 3.5 cut — the
    * global-robust complement of [[graft.operators.TimeSeries
    * .hampelFilter]]'s rolling form and of iqrOutliers' fences (MAD
    * tolerates 50% contamination; IQR fences break down at 25%).
    *
    * Median and MAD come from [[groupedExactQuantiles]] — the exact
    * rank-arithmetic decimal path, so NO float quantile interpolation
    * ever reaches the emitted `median`/`mad` columns (the r11 gate
    * failure: a DuckDB-version quantile_cont ULP flipped the old
    * ROUND(percentile, 6) fence). |v − median| is decimal subtraction
    * (exact); the only float expression left is the z-score itself,
    * whose operands (raw parquet double, decimal-exact median/MAD cast
    * to double — both engine-identical) feed one correctly-rounded
    * multiply/divide chain, stabilized through DECIMAL(18,8) before
    * the threshold compare. A zero-MAD group (> 50% of values
    * identical) yields null z-scores and zero outliers, not a
    * division error.
    */
  def robustOutliers(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      cut: Double = 3.5): DataFrame = {
    val v = col(valueCol).cast("double")
    val v6t = org.apache.spark.sql.types.DecimalType(18, 6)
    val gs = groupCols.map(col)
    val rows = df.filter(v.isNotNull)
    val med = groupedExactQuantiles(rows, groupCols, v, Seq("__med" -> 0.5))
    val withMed = rows
      .select((gs :+ v.as("__vd") :+ v.cast(v6t).as("__v6")): _*)
      .join(broadcast(med), groupCols)
    val mad = groupedExactQuantiles(withMed, groupCols,
      abs(col("__v6") - col("__med")), Seq("__mad" -> 0.5))
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val medD = col("__med").cast("double")
    val madD = col("__mad").cast("double")
    val z = round((lit(0.6745d) * (col("__vd") - medD) / madD)
      .cast(stable), 4)
    withMed
      .join(broadcast(mad), groupCols)
      .groupBy(gs: _*)
      .agg(
        count(lit(1)).as("n"),
        first(medD).as("median"),
        first(madD).as("mad"),
        sum(when(col("__mad") > 0 && abs(z) > cut, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** X117 — Benford first-digit conformance: the observed distribution
    * of leading digits of a positive amount column against Benford's
    * law `P(d) = log10(1 + 1/d)` — the classic fabricated-data /
    * synthetic-leak screen for financial columns (organic multi-scale
    * amounts follow it; invented or uniform ones don't).
    *
    * The amount quantizes to exact integer CENTS through DECIMAL(28,6)
    * (the x144 money contract), so the leading digit is the first
    * character of an integer's decimal rendering — identical on any
    * engine, no float formatting in sight. One counting aggregate to 9
    * rows; the expected probabilities are shared ROUNDED literals (ln
    * itself never runs at query time). Output per digit: count,
    * observed share, expected share, deviation.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val cents = (round(col(valueCol).cast(dec), 2) * 100).cast("bigint")
    val counted = df
      .select(cents.as("__c")).filter(col("__c") > 0)
      .select(substring(col("__c").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    benfordFromDigitCounts(counted)
  }

  /** The Scala twin of [[benford]]'s cents/leading-digit mapping
    * (BigDecimal HALF_UP ≡ Spark's decimal cast + round) — the
    * streaming digit monitor keys its state with it; ProfilingSpec
    * pins twin ≡ engine. Returns 0 for values outside the positive
    * support (the batch filter). */
  private[graft] def benfordDigitOf(v: Double): Int = {
    val cents = (BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong
    if (cents <= 0) 0 else cents.toString.charAt(0) - '0'
  }

  /** The [[benford]] finishing join over an already-built
    * (digit, n) count table — factored so the streaming digit monitor
    * ([[graft.streaming.Stateful.benfordDigitMonitor]]) rolls up
    * through the EXACT batch chain. Bounded: runs over the 9-row
    * leading-digit histogram, never data. */
  private[graft] def benfordFromDigitCounts(counted: DataFrame)
    : DataFrame = {
    val spark = counted.sparkSession
    import spark.implicits._
    val expected = Seq(
      1 -> 0.3010299957d, 2 -> 0.1760912591d, 3 -> 0.1249387366d,
      4 -> 0.0969100130d, 5 -> 0.0791812460d, 6 -> 0.0669467896d,
      7 -> 0.0579919470d, 8 -> 0.0511525224d, 9 -> 0.0457574906d)
      .toDF("digit", "expected_p")
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    counted
      .join(broadcast(expected), Seq("digit"), "right")
      .select(col("digit").cast("bigint").as("digit"),
        coalesce(col("n"), lit(0L)).as("n"),
        round((coalesce(col("n"), lit(0L)).cast("double")
          / sum(coalesce(col("n"), lit(0L))).over(tot)).cast(stable), 6)
          .cast("double").as("observed_p"),
        col("expected_p"))
      .withColumn("deviation",
        round((col("observed_p") - col("expected_p")).cast(stable), 6)
          .cast("double"))
  }

  /** X109 — mutual information between two categorical columns, in
    * nats, with the marginal entropies and the normalized form
    * `NMI = MI / min(H(a), H(b))` — "how much does knowing column A
    * tell you about column B", the feature-redundancy / leakage screen
    * that [[chiSquare]]'s yes/no dependence answer doesn't quantify.
    *
    * Same shape as [[chiSquare]]: ONE cell aggregate to r×c
    * cardinality, marginals derived from it, one final aggregate. Only
    * OBSERVED cells enter the sum — a zero cell contributes
    * `0·ln(0·…) = 0` to MI by convention (the opposite of χ², where
    * zero cells carry the evidence). NULL categories count as their
    * own level, exactly as in chiSquare — the marginal re-joins are
    * null-safe, so a NULL level's cells stay in the MI sum just as
    * they do in h_a/h_b.
    *
    * Portability: each cell term is ONE left-associated double
    * expression over exact integer counts (both engines run the
    * identical IEEE sequence), cast to DECIMAL(18,10) and summed
    * EXACTLY — no float-addition-order dependence (the linkPrediction
    * discipline; chiSquare can sum doubles because its gate rounds at
    * a coarser boundary, MI's log terms cannot).
    */
  def mutualInfo(df: DataFrame, colA: String, colB: String,
      roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
    : DataFrame = {
    val cells = scope.persist(
      df.groupBy(col(colA).as("__a"), col(colB).as("__b"))
        .agg(count(lit(1)).as("__o")))
    val rowTot = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val colTot = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val n = cells.agg(sum(col("__o")).as("__n"))
    val dec = org.apache.spark.sql.types.DecimalType(18, 10)
    val nD = col("__n").cast("double")
    // p·ln(N·n_ab/(n_a·n_b)) assembled once, left-associated
    val miTerm = ((col("__o") / nD)
      * log(nD * col("__o") / (col("__ra").cast("double") * col("__cb"))))
      .cast(dec)
    def hTerm(c: String): Column =
      (-(col(c) / nD) * log(col(c) / nD)).cast(dec)
    // NULL-SAFE marginal re-joins: groupBy made NULL a category of its
    // own, and a plain equi-join would drop that category's cells from
    // the MI sum while h_a/h_b (computed straight off the marginals)
    // still count it — undercounted MI, inconsistent NMI (r12 ADVICE)
    val mi = cells
      .join(rowTot.withColumnRenamed("__a", "__a2"),
        col("__a") <=> col("__a2"))
      .join(colTot.withColumnRenamed("__b", "__b2"),
        col("__b") <=> col("__b2"))
      .crossJoin(broadcast(n))
      .agg(sum(miTerm).as("__mi"))
    val ha = rowTot.crossJoin(broadcast(n)).agg(sum(hTerm("__ra")).as("__ha"))
    val hb = colTot.crossJoin(broadcast(n)).agg(sum(hTerm("__cb")).as("__hb"))
    val hmin = least(col("__ha"), col("__hb")).cast("double")
    mi.crossJoin(ha).crossJoin(hb)
      .select(
        round(col("__mi").cast("double"), roundDigits).as("mi"),
        round(col("__ha").cast("double"), roundDigits).as("h_a"),
        round(col("__hb").cast("double"), roundDigits).as("h_b"),
        round(
          when(hmin > 0, col("__mi").cast("double") / hmin)
            .cast(org.apache.spark.sql.types.DecimalType(18, 8)),
          roundDigits).cast("double").as("nmi"))
  }

  /** X152 — foreign-key orphan audit: for one child→parent key pair,
    * the row count, null-key count, orphan count (non-null child keys
    * with NO parent) and orphan rate — the referential-integrity
    * complement of [[validate]]'s per-row rule checks (a join that
    * silently drops orphans is how fact tables lose revenue rows).
    *
    * One distinct-project of the parent key + one left join + one
    * 1-row aggregate; `label` tags the pair so audits over a whole
    * schema union cleanly.
    */
  def fkOrphans(
      child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String,
      label: String, roundDigits: Int = 6): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val p = parent.select(col(parentKey).as("__pk")).distinct()
    child.select(col(childKey).as("__ck"))
      .join(p, col("__ck") === col("__pk"), "left")
      .agg(
        count(lit(1)).as("__rows"),
        sum(col("__ck").isNull.cast("long")).as("__nulls"),
        sum((col("__ck").isNotNull && col("__pk").isNull).cast("long"))
          .as("__orph"))
      .select(lit(label).as("fk"),
        col("__rows").as("n_rows"), col("__nulls").as("n_null_keys"),
        col("__orph").as("n_orphans"),
        round((col("__orph").cast("double") / col("__rows")).cast(stable),
          roundDigits).cast("double").as("orphan_rate"))
  }

  /** X164 — profile drift between two slices of one table (yesterday's
    * drop vs today's, region A vs B): per column, each side's row
    * count, null rate, and exact distinct count, plus the null-rate
    * delta — the schema-stability twin of [[graft.operators.Evaluation
    * .psi]]'s value-distribution drift (psi asks "did the values
    * move", this asks "did the SHAPE move": new nulls, collapsed or
    * exploded cardinality).
    *
    * ONE aggregate over one scan computes every column's both-side
    * stats as conditional aggregates (the [[profile]] shape), then the
    * wide 1-row result unpivots with `stack` — no per-column scan, no
    * per-slice scan, nothing driver-side. Exact distinct counts make
    * Catalyst expand the input (the documented oracle-exact price;
    * swap `approx = true` for the HLL production form, identical code
    * path otherwise).
    */
  def profileDrift(df: DataFrame, isA: Column, isB: Column,
      cols: Seq[String], approx: Boolean = false,
      roundDigits: Int = 6): DataFrame = {
    require(cols.nonEmpty, "profileDrift needs at least one column")
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val aggs = cols.flatMap { c =>
      def nd(p: Column) =
        if (approx) approx_count_distinct(when(p, col(c)))
        else countDistinct(when(p, col(c)))
      Seq(
        sum(isA.cast("long")).as(s"__na_$c"),
        sum(isB.cast("long")).as(s"__nb_$c"),
        sum((isA && col(c).isNull).cast("long")).as(s"__nulla_$c"),
        sum((isB && col(c).isNull).cast("long")).as(s"__nullb_$c"),
        nd(isA).as(s"__da_$c"),
        nd(isB).as(s"__db_$c"))
    }
    val wide = df.filter(isA || isB).agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
        s"'$c', `__na_$c`, `__nb_$c`, `__nulla_$c`, `__nullb_$c`, " +
          s"`__da_$c`, `__db_$c`")
      .mkString(", ")
    wide.select(expr(s"stack(${cols.size}, $stacked)")
        .as(Seq("col_name", "n_a", "n_b", "n_null_a", "n_null_b",
          "n_distinct_a", "n_distinct_b")))
      .select(col("col_name"), col("n_a"), col("n_b"),
        col("n_null_a"), col("n_null_b"),
        col("n_distinct_a"), col("n_distinct_b"),
        round((col("n_null_a").cast("double") / col("n_a")).cast(stable),
          roundDigits).cast("double").as("null_rate_a"),
        round((col("n_null_b").cast("double") / col("n_b")).cast(stable),
          roundDigits).cast("double").as("null_rate_b"),
        round((col("n_null_b").cast("double") / col("n_b")
          - col("n_null_a").cast("double") / col("n_a")).cast(stable),
          roundDigits).cast("double").as("null_rate_delta"))
  }

  /** X187 — value coverage profile: how many DISTINCT values of a
    * column cover 50% / 90% / 99% of its rows — the head-heaviness
    * number behind vocabulary truncation, dictionary-encoding and
    * top-k-rest-bin decisions (x195 asks it of LSH buckets, this asks
    * it of any column). k50 ≪ n_distinct means a tiny head dominates;
    * k99 ≈ n_distinct means a flat long tail that no cap represents.
    *
    * Shape: one count aggregate to distinct-value cardinality, then
    * the cumulative count rides [[graft.operators.Relational
    * .chunkedPrefixSum]] over (count desc, value) — no unbounded
    * window anywhere; the crossing counts are integer-exact
    * (`cum·100 ≥ pct·N`, no float in the compare) and fold in ONE
    * final aggregate.
    */
  def valueCoverage(
      df: DataFrame, valueCol: String,
      thresholds: Seq[Int] = Seq(50, 90, 99),
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t >= 1 && t <= 100),
      s"thresholds must be integer percents in [1,100]: $thresholds")
    val d20 = org.apache.spark.sql.types.DecimalType(20, 0)
    val perVal = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("string").as("__v"))
      .agg(count(lit(1)).as("__n"))
    val cum = Relational.chunkedPrefixSum(perVal, Nil,
      Seq(col("__n").desc, col("__v")), "__n", "__cum", d20, scope = scope)
    // NOT "__N": the default analyzer is case-insensitive, so a name
    // differing from "__n" only by case is an ambiguous reference
    val tot = perVal.agg(sum(col("__n")).as("__totrows"),
      count(lit(1)).as("__totvals"))
    // k_pct = (# head values strictly before the crossing) + 1 — one
    // exact-integer conditional count per threshold
    val aggs = Seq(first(col("__totrows")).as("n_rows"),
      first(col("__totvals")).as("n_distinct")) ++
      thresholds.map { t =>
        (sum((col("__cum") * 100 < lit(t) * col("__totrows")).cast("long"))
          + 1).as(s"k$t")
      }
    cum.crossJoin(broadcast(tot)).agg(aggs.head, aggs.tail: _*)
  }

  /** X192 — robust per-group score normalization: the modified
    * z-score `0.6745·(v − median_g)/MAD_g` EMITTED PER ROW — the
    * cross-source score calibration a curation pipeline needs before
    * comparing quality scores between heterogeneous sources (source A
    * scoring systematically longer/denser than source B must not
    * dominate a pooled threshold). [[robustOutliers]] counts
    * violations of the same statistic; this returns the normalized
    * value for downstream filters and mixers.
    *
    * Median and MAD come from the exact rank-arithmetic decimal
    * quantile path (no float interpolation anywhere); the per-row z is
    * one float chain over those exact operands, stabilized through
    * DECIMAL(18,8). MAD = 0 (constant group) → null z, never a
    * division blow-up.
    */
  def robustNormalize(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      valueCol: String,
      roundDigits: Int = 4): DataFrame = {
    val v = col(valueCol).cast("double")
    val v6t = org.apache.spark.sql.types.DecimalType(18, 6)
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val gs = groupCols.map(col)
    val rows = df.filter(v.isNotNull)
    val med = groupedExactQuantiles(rows, groupCols, v, Seq("__med" -> 0.5))
    val withMed = rows
      .select((col(idCol) +: gs :+ v.as("__vd") :+ v.cast(v6t).as("__v6")): _*)
      .join(broadcast(med), groupCols)
    val mad = groupedExactQuantiles(withMed, groupCols,
      abs(col("__v6") - col("__med")), Seq("__mad" -> 0.5))
    val medD = col("__med").cast("double")
    val madD = col("__mad").cast("double")
    withMed.join(broadcast(mad), groupCols)
      .select((col(idCol) +: gs) :+
        col("__vd").as("value") :+
        round(when(col("__mad") > 0,
          lit(0.6745d) * (col("__vd") - medD) / madD).cast(stable),
          roundDigits).cast("double").as("robust_z"): _*)
  }

  /** Fano factor / index of dispersion per group: population
    * variance over mean of the per-bucket event counts. 1 = Poisson
    * (memoryless arrivals), > 1 = bursty/clumped (the usual truth of
    * user traffic), < 1 = regular — the one-number burstiness read a
    * capacity model starts from. Counts are integers, so both moment
    * sums are EXACT (decimal) and the only float math is the final
    * two divisions.
    *
    * Semantics (r16 ADVICE): moments run over OBSERVED buckets only —
    * a (group, bucket) cell with zero events never forms a row, so
    * for a sparse series the dispersion is conditional on occupancy
    * and the fano≈1 Poisson baseline read assumes every bucket in the
    * group's span is occupied. Callers measuring sparse grids should
    * densify first (join the expected bucket frame with zero fill) so
    * empty buckets enter the mean and variance.
    *
    * Shape: one count aggregate to (group, bucket) cells, one moment
    * aggregate per group — shuffle bounded by groups × buckets.
    */
  def fanoFactor(df: DataFrame, group: Column, bucket: Column,
      roundDigits: Int = 6): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df.filter(group.isNotNull && bucket.isNotNull)
      .groupBy(group.cast("string").as("__g"),
        bucket.cast("string").as("__b"))
      .agg(count(lit(1)).as("__n"))
    val m = cells.groupBy(col("__g"))
      .agg(count(lit(1)).as("buckets"), sum(col("__n")).as("__s"),
        sum((col("__n").cast(d38) * col("__n").cast(d38)).cast(d38))
          .as("__s2"))
    val k = col("buckets").cast("double")
    val mean = col("__s").cast("double") / k
    val variance = col("__s2").cast("double") / k - mean * mean
    m.select(col("__g").as("group"), col("buckets"),
        round(mean.cast(stable), roundDigits).cast("double").as("mean"),
        round(variance.cast(stable), roundDigits).cast("double")
          .as("variance"),
        round(when(mean > 0, variance / mean).cast(stable), roundDigits)
          .cast("double").as("fano"))
      .orderBy(col("group"))
  }

  /** G-test of independence (log-likelihood ratio, Sokal & Rohlf):
    * `G = 2 Σ o·ln(o/e)` over the contingency cells — chi-square's
    * likelihood-based twin, additive across partitions of the table
    * (chi² isn't), preferred at small expected counts. Same one-scan
    * cell shape as [[chiSquare]]; per-term DECIMAL(18,10) sums.
    * Zero cells contribute zero by the 0·ln0 = 0 convention.
    */
  def gTest(df: DataFrame, colA: String, colB: String,
      roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec = org.apache.spark.sql.types.DecimalType(18, 10)
    val cells = scope.persist(df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).cast("string").as("__x"),
        col(colB).cast("string").as("__y"))
      .agg(count(lit(1)).as("__o")))
    val n = cells.agg(sum(col("__o")).as("__n"))
    val rowT = cells.groupBy(col("__x")).agg(sum(col("__o")).as("__rx"))
    val colT = cells.groupBy(col("__y")).agg(sum(col("__o")).as("__cy"))
    val kx = rowT.count(); val ky = colT.count()
    val e = col("__rx").cast("double") * col("__cy").cast("double") /
      col("__n").cast("double")
    val g = cells.join(rowT, Seq("__x")).join(colT, Seq("__y"))
      .crossJoin(broadcast(n))
      .agg(first(col("__n")).as("__n"),
        sum((col("__o").cast("double")
          * log(col("__o").cast("double") / e)).cast(dec)).as("__g"))
    g.filter(col("__n") > 0)
      .select(col("__n").as("n"),
        lit((kx - 1) * (ky - 1)).as("dof"),
        round((lit(2.0d) * col("__g").cast("double")).cast(stable),
          roundDigits).cast("double").as("g_stat"))
  }

  /** Feature-drift report between two eras: per numeric column, the
    * standardized mean difference `SMD = (mean1 - mean0) /
    * sqrt((var0 + var1)/2)` — the scale-free drift gauge (|SMD| >
    * 0.1 is the conventional "investigate" line in the matching
    * literature, Austin 2009) that a retrain pipeline reads before
    * trusting last month's model on this month's data.
    *
    * Shape: ONE stack-unpivoted scan to (column, era) moment cells
    * (the x175/x228 one-scan discipline) — sums and squared sums per
    * cell, shuffle bounded by columns × 2.
    */
  def featureDriftReport(df: DataFrame, cols: Seq[String],
      inBase: Column, roundDigits: Int = 6): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val packed = array(cols.map(c =>
      struct(lit(c).as("__c"), col(c).cast("double").as("__v"))): _*)
    val cells = df.filter(inBase.isNotNull)
      .select(inBase.cast("boolean").as("__b"), explode(packed).as("__p"))
      .select(col("__b"), col("__p.__c").as("__c"), col("__p.__v").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__c"), col("__b"))
      .agg(count(lit(1)).as("__n"), sum(col("__v")).as("__s"),
        sum(col("__v") * col("__v")).as("__s2"))
    smdFromMomentCells(cells, roundDigits)
  }

  /** The SMD finishing chain behind [[featureDriftReport]], entered
    * at the (column, era, n, sum, sum²) moment-cell level — the
    * streaming drift monitor ([[graft.streaming.Stateful]]) rolls its
    * live per-column moments up through THIS exact code path against
    * a frozen base. */
  private[graft] def smdFromMomentCells(cells: DataFrame,
      roundDigits: Int = 6): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    def side(flag: Boolean, suffix: String): DataFrame =
      cells.filter(col("__b") === flag)
        .select(col("__c"), col("__n").as(s"__n$suffix"),
          col("__s").as(s"__s$suffix"), col("__s2").as(s"__s2$suffix"))
    val m = side(flag = true, "0").join(side(flag = false, "1"), Seq("__c"))
      .filter(col("__n0") > 1 && col("__n1") > 1)
    def mean(s: String, n: String): Column = col(s) / col(n).cast("double")
    def variance(s2: String, s: String, n: String): Column = {
      val nD = col(n).cast("double")
      (col(s2) - col(s) * col(s) / nD) / (nD - lit(1.0d))
    }
    val m0 = mean("__s0", "__n0"); val m1 = mean("__s1", "__n1")
    val v0 = variance("__s20", "__s0", "__n0")
    val v1 = variance("__s21", "__s1", "__n1")
    val pooled = sqrt(greatest((v0 + v1) / 2.0d, lit(0.0d)))
    m.select(col("__c").as("column"),
        col("__n0").as("n_base"), col("__n1").as("n_current"),
        round(m0.cast(stable), roundDigits).cast("double").as("mean_base"),
        round(m1.cast(stable), roundDigits).cast("double")
          .as("mean_current"),
        round(when(pooled > 0, (m1 - m0) / pooled).cast(stable),
          roundDigits).cast("double").as("smd"))
      .orderBy(col("column"))
  }

  /** Theil's uncertainty coefficient U(X|Y) = I(X;Y)/H(X) — the
    * ASYMMETRIC normalized dependence read ("how much of X does
    * knowing Y remove") next to [[cramersV]]'s symmetric one and
    * infoGain's raw bits. One scan to the (x,y) cell table (the
    * x175/x228 discipline); entropy/MI terms ride DECIMAL(18,10)
    * per-term so the sums are order-stable cross-engine.
    */
  def uncertaintyCoefficient(df: DataFrame, x: Column, y: Column,
      roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec = org.apache.spark.sql.types.DecimalType(18, 10)
    val cells = scope.persist(
      df.filter(x.isNotNull && y.isNotNull)
        .groupBy(x.cast("string").as("__x"), y.cast("string").as("__y"))
        .agg(count(lit(1)).as("__o")))
    val n = cells.agg(sum(col("__o")).as("__n"))
    val rowT = cells.groupBy(col("__x")).agg(sum(col("__o")).as("__rx"))
    val colT = cells.groupBy(col("__y")).agg(sum(col("__o")).as("__cy"))
    val nD = col("__n").cast("double")
    val mi = cells.join(rowT, Seq("__x")).join(colT, Seq("__y"))
      .crossJoin(broadcast(n))
      .agg(sum(((col("__o") / nD)
        * log(nD * col("__o")
          / (col("__rx").cast("double") * col("__cy")))).cast(dec))
        .as("__mi"))
    val hx = rowT.crossJoin(broadcast(n))
      .agg(sum((-(col("__rx") / nD) * log(col("__rx") / nD)).cast(dec))
        .as("__hx"), first(col("__n")).as("__n"))
    hx.crossJoin(broadcast(mi))
      .filter(col("__n") > 0)
      .select(col("__n").as("n"),
        round(col("__hx").cast("double"), roundDigits).as("h_x"),
        round(col("__mi").cast("double"), roundDigits).as("mi"),
        round(when(col("__hx") > 0,
          col("__mi").cast("double") / col("__hx").cast("double"))
          .cast(stable), roundDigits).cast("double").as("uncertainty"))
  }
}
