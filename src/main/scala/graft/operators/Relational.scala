package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / reshaping operator library (SURVEY.md §2.2).
  *
  * Each operator is a pure `DataFrame => DataFrame` combinator that
  * builds a lazy Catalyst plan — no driver-side data movement. Scale
  * notes per operator explain the physical plan we expect at 100 TB.
  */
object Relational {

  /** O12 — column-set-difference projection: keep `base` plus every
    * column of `df` that is NOT in `exclude`.
    * Ref: pipeline.py:162-168.
    */
  /** Keep rows at or above their group's `q`-quantile of `valueCol` —
    * RELATIVE filtering (top half per language, top decile per source),
    * the curation form that absolute thresholds can't express. The
    * exact-decimal ranked pass produces a |groups|-row threshold
    * table, broadcast back onto the stream; for very high-cardinality
    * groups drop the broadcast hint and let AQE pick the join. */
  def keepAboveGroupQuantile(
      df: DataFrame, groupCols: Seq[String], valueCol: String, q: Double,
      roundDigits: Int = 4): DataFrame = {
    require(q >= 0 && q <= 1, s"quantile out of range: $q")
    // threshold via Profiling.groupedExactQuantiles — exact
    // rank-arithmetic decimal interpolation, so the membership compare
    // can never flip on an engine's float quantile ULP (the r12
    // migration; rounding alone was not version-proof)
    val thresholds = Profiling.groupedExactQuantiles(df, groupCols,
      col(valueCol), Seq("__thr" -> q), roundDigits = roundDigits)
    nullSafeGroupJoin(df, thresholds, groupCols)
      .filter(col(valueCol) >= col("__thr"))
      .drop("__thr")
  }

  /** Broadcast-join per-group stats back onto the rows with NULL-SAFE
    * key equality: groupBy puts null keys in their own group, but a
    * plain equi-join would silently drop every null-keyed row — an
    * entire group escaping the filter. The stat side's keys are renamed
    * before the <=> join and dropped after. */
  private def nullSafeGroupJoin(
      df: DataFrame, stats: DataFrame, groupCols: Seq[String]): DataFrame = {
    val renamed = groupCols.foldLeft(stats)((d, c) => d.withColumnRenamed(c, s"__k_$c"))
    val cond = groupCols.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
    df.join(broadcast(renamed), cond)
      .drop(groupCols.map(c => s"__k_$c"): _*)
  }

  /** Per-group IQR outlier flagging (Tukey fences): rows outside
    * [q1 − f·IQR, q3 + f·IQR] of their group — the numeric-column twin
    * of the text quality filters. Same plan shape as
    * [[keepAboveGroupQuantile]]: one exact-decimal ranked pass (both
    * quartiles in one pass), null-safe broadcast re-join (a null group
    * key is a group too), per-row compare; fences round in DECIMAL so
    * membership at a fence is engine-portable. */
  def iqrOutliers(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      fence: Double = 1.5, roundDigits: Int = 4): DataFrame = {
    // quartiles via the exact rank-arithmetic decimal path and the
    // whole fence expression in DECIMAL (fence factor as an exact
    // decimal literal), so no float quantile ULP can move a fence
    // across a data value on one engine only (the r12 migration)
    val f = java.math.BigDecimal.valueOf(fence)
    require(f.scale <= 4, s"fence factor needs <= 4 decimal digits: $fence")
    val qs = Profiling.groupedExactQuantiles(df, groupCols, col(valueCol),
      Seq("__q1" -> 0.25, "__q3" -> 0.75), roundDigits = 6)
    val fences = qs
      .select((groupCols.map(col) :+
        round(col("__q1") - lit(f) * (col("__q3") - col("__q1")), roundDigits).as("__lo") :+
        round(col("__q3") + lit(f) * (col("__q3") - col("__q1")), roundDigits).as("__hi")): _*)
    nullSafeGroupJoin(df, fences, groupCols)
      .filter(col(valueCol) < col("__lo") || col(valueCol) > col("__hi"))
      .drop("__lo", "__hi")
  }

  def projectExcept(df: DataFrame, base: Seq[String], exclude: Set[String]): DataFrame = {
    val keep = base ++ df.columns.filterNot(c => exclude.contains(c) || base.contains(c))
    df.select(keep.map(col): _*)
  }

  /** O16 — melt / wide→long unpivot, chunked.
    *
    * `df.unpivot` plans a single Expand over all value columns; with
    * ~2,000 value columns (M5's d_1..d_1941) that strains whole-stage
    * codegen and per-row expression evaluation. Chunking into
    * `chunkSize`-column unpivots unioned back together keeps each
    * Expand small while producing the identical long table. Each chunk
    * re-reads only (ids ++ chunk) columns, so Parquet column pruning
    * keeps total I/O equal to one full pass.
    * Ref: pipeline.py:46-48 (pd.melt).
    */
  def melt(
      df: DataFrame,
      ids: Seq[String],
      values: Seq[String],
      varName: String,
      valName: String,
      chunkSize: Int = 200): DataFrame = {
    val chunks = values.grouped(chunkSize).map { group =>
      df.select((ids ++ group).map(col): _*)
        .unpivot(ids.map(col).toArray, group.map(col).toArray, varName, valName)
    }
    chunks.reduce(_ unionByName _)
  }

  /** O25 — pivot long→wide with an explicit value list (skips Spark's
    * extra distinct job to discover pivot values — at 100 TB that
    * discovery pass is a full scan we can't afford).
    * Ref: pipeline.py:374-376 (pivot_table, aggfunc=mean).
    */
  def pivotWide(
      df: DataFrame,
      key: String,
      pivotCol: String,
      pivotValues: Seq[String],
      agg: Column): DataFrame =
    df.groupBy(col(key)).pivot(pivotCol, pivotValues).agg(agg)

  /** O26 — keyed update (pandas `DataFrame.update` semantics): overwrite
    * `base`'s columns with `updates`' values for matching keys, but only
    * where the update value is non-null; rows/columns absent from
    * `updates` are untouched.
    *
    * Physical plan: a single left join on the key + per-column
    * `coalesce(new, old)`. If `updates` is small (typical: a batch of
    * corrections), Catalyst broadcast-joins it — no shuffle of `base`.
    * Ref: pipeline.py:377-378.
    */
  def keyedUpdate(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val updCols = updates.columns.filterNot(_ == key).toSet
    val u = updates.select((Seq(key) ++ updCols).map(c => col(c).as(s"__upd_$c")): _*)
      .withColumnRenamed(s"__upd_$key", key)
    val joined = base.join(u, Seq(key), "left")
    val out = base.columns.map { c =>
      if (updCols.contains(c)) coalesce(col(s"__upd_$c"), col(c)).as(c) else col(c)
    }
    joined.select(out: _*)
  }

  /** X8 — global top-k. Spark plans `orderBy(...).limit(k)` as
    * TakeOrderedAndProject: each partition keeps a k-heap, driver merges
    * k×partitions rows — no total sort, no full shuffle. Safe at any
    * scale for small k.
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** X7 — per-group top-k via ranking window. One shuffle on the
    * partition keys; rank+filter prunes before anything downstream.
    */
  def topKPerGroup(
      df: DataFrame,
      partitionBy: Seq[Column],
      orderBy: Seq[Column],
      k: Int,
      rankCol: String = "rnk"): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)))
      .filter(col(rankCol) <= k)

  /** O13 — deterministic label encoding: code = rank of value in
    * lexicographically-sorted distinct order (pandas `astype("category")`
    * code order for strings). Ref: utils.py:42-47.
    *
    * Scale shape (r15 — [[chunkedRank]], no zipWithIndex): distinct
    * (one hash-agg) → chunked global rank for contiguous codes. No
    * stage ever sees the whole vocabulary on one task (a
    * `Window.orderBy` form would serialize it through a single-
    * partition WindowExec — fine at M5's 30 k ids, fatal on a
    * billion-key vocabulary), no RDD round-trip, no extra
    * partition-size-count job. Codes are fully determined: the
    * vocabulary is distinct, so the rank's tie caveat is vacuous.
    */
  def labelEncode(df: DataFrame, column: String, codeCol: String = "code",
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val distinct = df.select(col(column)).where(col(column).isNotNull)
      .distinct()
    chunkedRank(distinct, Seq(col(column)), codeCol, scope)
  }

  /** Distributed prefix sum: cumulative sum of `valueCol` in
    * (`groupCols`, `orderCols`) order with NO unbounded-cardinality
    * window partition anywhere — the scale-safe replacement for
    * `sum(...).over(Window.partitionBy(group).orderBy(...))` when a
    * group (or the whole frame, `groupCols = Nil`) can hold billions
    * of rows.
    *
    * Shape (two-level scan, the classic distributed prefix sum):
    * `repartitionByRange` on (group, order) makes each shuffle
    * partition an order-contiguous CHUNK and `spark_partition_id()`
    * its chunk id — no zipWithIndex RDD round-trip, no extra job; ONE
    * map-side-combinable aggregate collapses each (group, chunk) to
    * its sum; the chunk-base prefix runs as a window over that
    * SUMMARY frame — bounded at the shuffle partition COUNT per group
    * by construction, never the data; the within-chunk running sum is
    * a window partitioned by (group, chunk), bounded at one shuffle
    * partition's rows per task — the same invariant every other
    * shuffle in the plan already lives under (the range partitioner's
    * sampling keeps chunks balanced). Row cum = chunk base +
    * within-chunk sum.
    *
    * Exactness: all sums run in the caller-supplied decimal `sumType`
    * — decimal addition is association-free, so the two-level
    * regrouping is bit-identical to a single left-to-right scan.
    *
    * `orderCols` must be a TOTAL order within each group (add a key
    * tiebreak) or tied rows' cumulative values are
    * permutation-dependent. The chunked frame persists (pinning the
    * nondeterministic partition ids) for its two downstream passes;
    * pass a tracking [[graft.util.CacheScope]] in long-lived sessions.
    */
  def chunkedPrefixSum(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      valueCol: String,
      cumName: String,
      sumType: org.apache.spark.sql.types.DecimalType,
      numChunks: Option[Int] = None,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val gs = groupCols.map(col)
    // The chunk count is ALWAYS explicit (default = the session's
    // shuffle parallelism): an unnumbered repartitionByRange is an
    // AQE coalescing candidate, and the two consumers of the lazily
    // persisted frame can see DIFFERENTLY coalesced partition ids —
    // the (group, chunk) join then silently drops every row whose
    // chunk id exists on one side only (caught by PrefixSumScaleDemo
    // at 10 M keys: 69% of rows vanished; the sf0.01/0.1 gates
    // coalesced consistently and stayed green). A user-specified
    // count is exempt from AQE coalescing and the range boundaries
    // are deterministic, so chunk ids agree across recomputes too.
    val chunks = numChunks.getOrElse(
      df.sparkSession.sessionState.conf.numShufflePartitions)
    // Cut, not just persist: the chunk ids are partition-dependent and
    // MUST be identical for the summary and join consumers — a cached
    // plan alone can still be re-evaluated per consumer with different
    // range-sample seeds (graft.util.Cut scaladoc; the r14 row-loss
    // bug PrefixSumScaleDemo caught)
    val chunked = scope.persist(graft.util.Cut(
      df.repartitionByRange(chunks, gs ++ orderCols: _*)
        .withColumn("__pfx_c", spark_partition_id().cast("long"))))
    // (group, chunk) sums: map-side combinable, collapses the frame to
    // summary cardinality before any unbounded-frame window touches it
    val sums = chunked.groupBy(gs :+ col("__pfx_c"): _*)
      .agg(sum(col(valueCol).cast(sumType)).cast(sumType).as("__pfx_cs"))
    // chunk-base prefix over the SUMMARY frame only: bounded at the
    // chunk COUNT per group — never the data itself
    val baseW = Window.partitionBy(gs: _*).orderBy(col("__pfx_c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = sums.withColumn("__pfx_b",
      coalesce(sum(col("__pfx_cs")).over(baseW), lit(0).cast(sumType))
        .cast(sumType))
      .drop("__pfx_cs")
    // NULL-SAFE re-join on (group, chunk): groupBy keeps null keys as
    // their own group, a plain equi-join would drop them
    val renamed = groupCols.foldLeft(bases)((d, c) =>
      d.withColumnRenamed(c, s"__pfx_k_$c"))
      .withColumnRenamed("__pfx_c", "__pfx_kc")
    val joinCond = (groupCols.map(c => col(c) <=> col(s"__pfx_k_$c")) :+
      (col("__pfx_c") === col("__pfx_kc"))).reduce(_ && _)
    // within-chunk running sum: partition (group, chunk) is bounded at
    // one shuffle partition's rows by construction
    val innerW = Window.partitionBy(gs :+ col("__pfx_c"): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunked.join(renamed, joinCond)
      .withColumn(cumName,
        (col("__pfx_b") +
          sum(col(valueCol).cast(sumType)).over(innerW).cast(sumType))
          .cast(sumType))
      .drop("__pfx_c", "__pfx_kc", "__pfx_b")
      .drop(groupCols.map(c => s"__pfx_k_$c"): _*)
  }

  /** Distributed 0-based global rank in `orderCols` total order — the
    * rank sibling of [[chunkedPrefixSum]] and the house replacement
    * for BOTH `row_number().over(Window.orderBy(...))` (single-task
    * window) and `rdd.zipWithIndex` (leaves whole-stage codegen, pays
    * an extra partition-size-count job, round-trips through an RDD).
    *
    * Shape (the [[graft.operators.Profiling.groupedExactQuantiles]]
    * machinery, global form): `repartitionByRange` with an EXPLICIT
    * chunk count (an unnumbered one is an AQE coalescing candidate
    * whose partition ids can differ between this frame's consumers —
    * the r14 chunkedPrefixSum row-loss lesson) + `sortWithinPartitions`
    * makes each shuffle partition an order-contiguous sorted chunk;
    * `monotonically_increasing_id` is consecutive within a partition
    * by construction, so rank = chunk base + (id − chunk's min id).
    * Chunk bases ride ONE chunk-count-row summary aggregate + bounded
    * window, broadcast back. No stage ever holds more than one
    * shuffle partition's rows; the only window runs over the chunk
    * COUNT. `orderCols` should be a total order — rows tied on all of
    * them get arbitrary (but stable within one evaluation) rank order.
    *
    * The chunked frame is [[graft.util.Cut]] and persisted (partition-
    * dependent ids must be identical for the summary and join
    * consumers); pass a tracking scope in long-lived sessions.
    */
  def chunkedRank(
      df: DataFrame,
      orderCols: Seq[Column],
      rankName: String,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val chunks = df.sparkSession.sessionState.conf.numShufflePartitions
    val indexed = scope.persist(graft.util.Cut(
      df.repartitionByRange(chunks, orderCols: _*)
        .sortWithinPartitions(orderCols: _*)
        .withColumn("__rnk_c", spark_partition_id().cast("long"))
        .withColumn("__rnk_m", monotonically_increasing_id())))
    val counts = indexed.groupBy(col("__rnk_c"))
      .agg(count(lit(1)).as("__rnk_n"), min(col("__rnk_m")).as("__rnk_m0"))
    // bounded: the prefix window runs over the chunk-count summary
    val baseW = Window.orderBy(col("__rnk_c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = counts.withColumn("__rnk_b",
        coalesce(sum(col("__rnk_n")).over(baseW), lit(0L)))
      .drop("__rnk_n")
    indexed.join(broadcast(bases.withColumnRenamed("__rnk_c", "__rnk_kc")),
        col("__rnk_c") === col("__rnk_kc"))
      .withColumn(rankName,
        col("__rnk_b") + (col("__rnk_m") - col("__rnk_m0")))
      .drop("__rnk_c", "__rnk_kc", "__rnk_m", "__rnk_m0", "__rnk_b")
  }

  /** The single-partition-window form of [[labelEncode]], kept as the
    * readable executable spec the scalable path is pinned against
    * (RelationalSpec asserts bit-equality). Vocabulary-bounded inputs
    * only. */
  private[graft] def labelEncodeWindow(
      df: DataFrame, column: String, codeCol: String = "code"): DataFrame =
    df.select(col(column)).where(col(column).isNotNull).distinct()
      .withColumn(codeCol,
        (row_number().over(Window.orderBy(col(column))) - 1).cast("bigint"))

  /** Skew-safe equi-join: salt the LEFT (skewed) side into `salts`
    * sub-keys and replicate the RIGHT side across all salt values, so
    * one hot key's rows spread over `salts` reducers instead of one.
    *
    * AQE's skew-join splitting handles most cases at runtime; explicit
    * salting remains for the pathological single-key hot spot (a null
    * surrogate, a "default" id) where even a split partition's build
    * side re-hashes to one task. The salt is derived from a
    * caller-supplied discriminator column (any per-row varying value —
    * a unique id, xxhash64 of payload) so results stay deterministic.
    * Right-side replication multiplies that side by `salts`: use only
    * with a bounded right side.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      discriminator: Column,
      salts: Int,
      joinType: String = "inner"): DataFrame = {
    val l = left.withColumn("__salt", pmod(xxhash64(discriminator), lit(salts)).cast("int"))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, keys :+ "__salt", joinType).drop("__salt")
  }

  /** O24 — n-th most recent distinct value of `column` (the reference's
    * validation-split-point lookup). Ref: pipeline.py:245-246.
    *
    * Scale shape: distinct → `orderBy(desc).limit(n)` plans
    * TakeOrderedAndProject (per-partition n-heap, driver merges n rows —
    * no global sort, no single-partition window), and the n-th most
    * recent is the MIN of those n. The count guard preserves the
    * contract that fewer than n distinct values yield an empty result,
    * matching the old `row_number = n` filter.
    *
    * NULLs are ignored (filtered up front, like labelEncode): "n-th
    * most recent value" is only meaningful over actual values, and
    * min() would otherwise skip a null counted by the limit — fewer
    * than n non-null distinct values yield an empty result.
    */
  def nthFromLastDistinct(df: DataFrame, column: String, n: Int): DataFrame =
    df.select(col(column)).where(col(column).isNotNull).distinct()
      .orderBy(col(column).desc).limit(n)
      .agg(min(col(column)).as(column), count(lit(1)).as("__n"))
      .filter(col("__n") === n)
      .select(col(column))

  /** Equi-width histogram with data-driven bounds: `buckets` equal
    * intervals spanning [min, max] of `valueCol` (cast to double so
    * both the step and the floor run in IEEE float64 — engine-portable
    * bit-for-bit), the max value folded into the last bucket. Two
    * passes by necessity (bounds, then counts) but each is one
    * map-side-combinable agg; the 1-row bounds frame broadcasts, so no
    * data shuffle beyond the bucket agg itself. Degenerate input
    * (min = max, or all-null → null bounds) lands every row in bucket
    * 0. Nulls in `valueCol` are excluded, as an analytics histogram
    * expects. */
  def histogram(df: DataFrame, valueCol: Column, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val v = valueCol.cast("double")
    val bounds = df.filter(v.isNotNull)
      .agg(min(v).as("__lo"), max(v).as("__hi"))
    df.filter(v.isNotNull).select(v.as("__v"))
      .crossJoin(broadcast(bounds))
      .select(
        when(col("__hi") === col("__lo"), lit(0L))
          .otherwise(least(
            floor((col("__v") - col("__lo")) /
              ((col("__hi") - col("__lo")) / buckets)),
            lit(buckets - 1L)).cast("long"))
          .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** SCD2 history build: collapse a per-key change feed into
    * slowly-changing-dimension type-2 validity intervals. For each
    * `keyCols` group ordered by `orderCol` (ties broken by
    * `tieBreaker`, which MUST make the order total — a nondeterministic
    * interval table is worse than none), keep only CHANGE POINTS (rows
    * where any of `attrCols` differs null-safely from the previous
    * row's value) and attach `valid_from` = the row's order value,
    * `valid_to` = the next change's order value (null = current) and an
    * `is_current` flag.
    *
    * Shape: two window passes over the SAME `(keyCols, orderCol)`
    * partitioning — Catalyst plans ONE sort+shuffle and runs both
    * WindowExecs on it (the second window sees only change points, a
    * filtered subset, but its partitioning is compatible so no second
    * exchange). Per key the state is one previous row — no
    * driver-side anything, skew bounded by the hottest key's history.
    */
  def scd2(df: DataFrame, keyCols: Seq[String], orderCol: String,
      tieBreaker: String, attrCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty,
      "scd2 needs key and attribute columns")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol), col(tieBreaker))
    val changed = attrCols.map(a =>
        not(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _) || row_number().over(w) === 1
    val points = df
      .withColumn("__chg", changed)
      .filter(col("__chg"))
      .withColumn("valid_from", col(orderCol))
    val w2 = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("valid_from"), col(tieBreaker))
    points.select(
      keyCols.map(col) ++ attrCols.map(col) :+
        col("valid_from") :+
        lead(col("valid_from"), 1).over(w2).as("valid_to"): _*)
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** X77 — CDC changelog apply: collapse an insert/update/delete
    * changelog to the final snapshot — per key, the row with the
    * highest `(orderCol, tieBreaker)` wins; a winning delete removes
    * the key entirely (MERGE-INTO semantics without a mutable table).
    * The batch twin of the streaming upsert sink.
    *
    * Shape: one shuffle on the key, `row_number` desc, keep rank 1,
    * then drop delete-winners. Spark ≥3.5 rewrites the rank-1 filter
    * into WindowGroupLimit, so each map task forwards only its local
    * per-key latest row — the shuffle moves ~|keys| rows, not the
    * changelog. A hot key's history collapses map-side for the same
    * reason; no skew amplification.
    */
  def cdcApply(
      changelog: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      tieBreaker: String,
      opCol: String,
      deleteOp: String): DataFrame = {
    require(keyCols.nonEmpty, "cdcApply needs key columns")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieBreaker).desc)
    changelog
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= deleteOp)
      .drop("__rn")
  }

  /** X112 — per-group winsorized statistics: clamp `valueCol` to its
    * group's `[pLo, pHi]` exact quantiles (Tukey's winsorizing — the
    * outlier treatment that KEEPS the row at the fence instead of
    * dropping it, preserving group cardinality for downstream rates),
    * and report per group the fences, clip counts, and the mean of the
    * clamped values.
    *
    * Shape: fences come from [[graft.operators.Profiling
    * .groupedExactQuantiles]] — exact rank-arithmetic decimal
    * interpolation, NO float quantile kernel anywhere (the r11 gate
    * failure: a DuckDB-version quantile_cont ULP flipped the old
    * ROUND(percentile, 6) fence) — broadcast back onto the stream.
    * Values quantize through DECIMAL(18,6) (a double never ties at a
    * decimal boundary, so the cast is engine-identical); the clamp,
    * the clip compares, and the mean's sum are then pure decimal
    * arithmetic, addition-order-free, with the one division happening
    * on exact operands.
    */
  def winsorize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      pLo: Double = 0.05,
      pHi: Double = 0.95,
      roundDigits: Int = 4): DataFrame = {
    require(pLo >= 0 && pLo < pHi && pHi <= 1,
      s"need 0 <= pLo < pHi <= 1, got $pLo, $pHi")
    val v = col(valueCol).cast("double")
    val v6t = org.apache.spark.sql.types.DecimalType(18, 6)
    val gs = groupCols.map(col)
    val rows = df.filter(v.isNotNull)
    val fences = Profiling.groupedExactQuantiles(rows, groupCols, v,
      Seq("__lo" -> pLo, "__hi" -> pHi))
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val v6 = v.cast(v6t)
    val clamped = least(greatest(v6, col("__lo")), col("__hi"))
    rows
      .join(broadcast(fences), groupCols)
      .groupBy(gs: _*)
      .agg(
        count(lit(1)).as("n"),
        first(col("__lo").cast("double")).as("fence_lo"),
        first(col("__hi").cast("double")).as("fence_hi"),
        sum((v6 < col("__lo")).cast("long")).as("n_clipped_low"),
        sum((v6 > col("__hi")).cast("long")).as("n_clipped_high"),
        sum(clamped.cast(dec)).as("__sum"))
      .select((gs :+ col("n") :+ col("fence_lo") :+ col("fence_hi") :+
        col("n_clipped_low") :+ col("n_clipped_high") :+
        round((col("__sum").cast("double") / col("n"))
          .cast(stable), roundDigits).cast("double")
          .as("winsorized_mean")): _*)
  }

  /** X121 — leave-one-out target encoding with additive smoothing: the
    * standard high-cardinality categorical feature for GBM pipelines
    * (exactly the encoder the reference's M5 model family pairs with —
    * label codes carry no target signal, mean encoding leaks the row's
    * own label; leave-one-out + smoothing is the fix):
    * `enc_i = (Σ_cat y − y_i + m·prior) / (n_cat − 1 + m)` — the
    * category's target mean EXCLUDING row i, shrunk toward the global
    * prior by pseudo-count `m` (a singleton category degrades to the
    * prior exactly, not to NaN).
    *
    * Shape: one map-side-combinable (n, Σy) aggregate per category
    * joined back (category-cardinality broadcast), one 1-row prior
    * broadcast — two scans nothing-driver-side. Σy and the prior sum
    * in DECIMAL(28,6) after a per-value 6-dp quantize (the winsorize
    * discipline), so every operand of the one float expression is
    * engine-exact; the result stabilizes through DECIMAL(18,8).
    */
  def targetEncode(
      df: DataFrame,
      catCol: String,
      targetCol: String,
      m: Double = 10.0,
      roundDigits: Int = 6): DataFrame = {
    require(m > 0, s"smoothing pseudo-count must be positive, got $m")
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val y = round(col(targetCol).cast("double"), 6)
    val rows = df.filter(col(targetCol).isNotNull)
    val perCat = rows.groupBy(col(catCol))
      .agg(count(lit(1)).as("__n"), sum(y.cast(dec)).as("__sum"))
    val prior = rows.agg(
      (sum(y.cast(dec)).cast("double") / count(lit(1))).as("__prior"))
    rows
      .join(broadcast(perCat), Seq(catCol))
      .crossJoin(broadcast(prior))
      .select(df.columns.map(col) :+
        (round(((col("__sum").cast("double") - y + lit(m) * col("__prior"))
          / (col("__n") - 1 + m)).cast(stable), roundDigits)
          .cast("double").as("target_enc")): _*)
  }

  /** X113 — snapshot reconciliation: the keyed diff of two versions of
    * a table — which keys were `added`, `removed`, or `changed`, and
    * WHICH columns changed (the data-migration / backfill-audit
    * primitive; "did the new pipeline produce the same table" as a
    * row-level report instead of a yes/no hash).
    *
    * Shape: one full-outer join on the key, null-safe per-column
    * compares (`<=>`, so NULL→value and value→NULL both count as a
    * change), unchanged rows dropped BEFORE any further processing —
    * output is diff-sized, not table-sized. `changed_cols` is a
    * comma-joined fixed-order column list built from per-column flags
    * (concat_ws skips the null flags on both engines).
    */
  def reconcile(
      before: DataFrame,
      after: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && compareCols.nonEmpty,
      "reconcile needs key and compare columns")
    // explicit presence markers: detecting side presence off a key
    // column's null-ness would misclassify legitimately-NULL keys
    val a = before.select(
      (keyCols ++ compareCols).map(col) :+ lit(1).as("__pa"): _*).as("a")
    val b = after.select(
      (keyCols ++ compareCols).map(col) :+ lit(1).as("__pb"): _*).as("b")
    val joinCond = keyCols.map(k => col(s"a.$k") <=> col(s"b.$k"))
      .reduce(_ && _)
    val inA = col("a.__pa").isNotNull
    val inB = col("b.__pb").isNotNull
    val diffFlags = compareCols.map(c =>
      when(!(col(s"a.$c") <=> col(s"b.$c")), lit(c)))
    val anyDiff = compareCols.map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduce(_ || _)
    val status = when(!inB, "removed").when(!inA, "added")
      .when(anyDiff, "changed")
    val keys = keyCols.map(k =>
      coalesce(col(s"a.$k"), col(s"b.$k")).as(k))
    a.join(b, joinCond, "full_outer")
      .filter(!inA || !inB || anyDiff)
      .select((keys :+ status.as("status") :+
        when(inA && inB, concat_ws(",", diffFlags: _*)).as("changed_cols"))
        : _*)
  }

  /** X167 — deterministic per-group mode: the most frequent value of a
    * column within each group, with its count and share — the
    * categorical "typical value" summary (profiling's complement to
    * the numeric quantiles), made deterministic by the explicit tie
    * rule: highest count, then SMALLEST value. Null values count as a
    * candidate mode of their own (a mostly-null column's mode IS
    * null — that is the finding).
    *
    * Shape: one (group, value) count aggregate, then the rank-1 row
    * per group via min(struct(−n, value)) — a single argmin aggregate
    * rather than a ranking window, so the per-group state is ONE
    * struct (map-side combinable, no WindowExec). Share divides once
    * through the DECIMAL(18,8) round contract.
    */
  def modePerGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String, roundDigits: Int = 6): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val gs = groupCols.map(col)
    val counted = df.groupBy((gs :+ col(valueCol).as("__v")): _*)
      .agg(count(lit(1)).as("__n"))
    // argmin over (−n, null-last flag, v): nulls sort LAST within a
    // count so a non-null value wins a count tie against null — but a
    // strictly-more-frequent null still wins
    val pick = counted.groupBy(gs: _*)
      .agg(sum(col("__n")).as("__tot"),
        min(struct((-col("__n")).as("__neg"),
          col("__v").isNull.cast("int").as("__nl"), col("__v").as("__v")))
          .as("__best"))
    pick.select((gs :+
      col("__best.__v").as("mode") :+
      (-col("__best.__neg")).as("n_mode") :+
      round(((-col("__best.__neg")).cast("double") / col("__tot")
        .cast("double")).cast(stable), roundDigits).cast("double")
        .as("mode_share")): _*)
  }
}
