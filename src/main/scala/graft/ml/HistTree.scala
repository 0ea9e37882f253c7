package graft.ml

import scala.collection.mutable

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.expressions.{HistBins, HistLeaf}

/** LightGBM-style HISTOGRAM regression tree — the distributed binned
  * split finder that closes the two largest remaining divergences from
  * the reference's LGBMRegressor (`pipeline.py:258`): histogram split
  * finding (LightGBM bins every feature into ≤ 255 histograms and
  * scans bin boundaries; Spark ML's `DecisionTreeRegressor` finds
  * sort-based splits) and PER-SPLIT MISSING-VALUE ROUTING (LightGBM
  * learns a default direction at every split by trying missing-left
  * vs missing-right and keeping the better gain; Spark ML needs
  * missing imputed away — and M5's lag/rolling features are null by
  * construction in every warm-up row, so this touches real data).
  *
  * Shape per pass (best-first growth, see [[fit]]): ONE
  * `treeAggregate` over the binned rows builds the (node × feature ×
  * bin) gradient/hessian/count histogram of the smaller child of every
  * open frontier node — `k · Σ numBins · 3` doubles for k open nodes —
  * and the driver scans bin boundaries for each node's best gain and
  * derives the larger siblings by subtraction. That is
  * model-state-bounded driver work (the kmeans-centroid contract):
  * nothing driver-side scales with row count. Rows carry a compact
  * `Array[Short]` of bin indices (binned ONCE per boosting run, not
  * per tree), and each pass routes them through the tree grown so far
  * plus the open nodes' candidate splits. A tree takes at most
  * 1 + (its depth) passes, so at most `maxDepth + 1`, and never more
  * than 1 + (its splits).
  *
  * Split semantics (LightGBM's):
  *  - numeric: left ⟺ `v <= threshold`; bin 0 is the missing bin and
  *    routes by the learned `defaultLeft`;
  *  - categorical: many-vs-many via the sorted-by-`Σg/Σh` prefix scan
  *    (`cat_smooth`-free form); the missing/unseen code 0 participates
  *    as a category of its own, which IS its learned routing;
  *  - gain = GL²/(HL+λ) + GR²/(HR+λ) − G²/(H+λ), children must carry
  *    ≥ `minData` rows.
  *
  * Remaining divergence vs LightGBM, documented not silent: the
  * sampled bin-edge construction (LightGBM's
  * `bin_construct_sample_cnt` uses the same sampling idea, different
  * sample). Growth order is NO LONGER a divergence: [[fit]] grows
  * LightGBM's `num_leaves` best-first frontier, and with no leaf
  * budget (`numLeaves = 0`) the depth-limited tree.
  *
  * Rows are binned and routed by two codegen'd expressions,
  * [[binColumn]] and [[leafColumn]], over [[Bins.binRow]] and
  * [[Tree.leafOfBins]]. [[Tree.leafOfVector]] walks raw thresholds
  * instead; it is the executable spec the binned route is tested
  * against, not a serving path.
  */
object HistTree {

  /** Per-feature binning dictionary. Bin 0 is ALWAYS the missing bin
    * (NaN for numeric, code 0 for categoricals — `TweedieGbt.assemble` maps
    * null/unseen categories to 0). Numeric bin b ∈ [1, edges.len+1]
    * holds `edges(b−2) < v <= edges(b−1)` (left-closed at −∞).
    *
    * HIGH-ARITY categoricals (arity > maxBins — M5's `id` at 30,490
    * levels): `catMaps(f)` remaps raw codes to bins — the top
    * (maxBins−2) codes by sample frequency each keep their own bin,
    * every other code shares the REST bin (`numBins(f)−1`), missing
    * stays 0 (LightGBM's own `max_cat_threshold` idea: the head codes
    * carry the splittable signal, the long tail is one bucket). A null
    * entry means identity (exact-arity categorical or numeric). Splits
    * on remapped features live in BIN space, so raw-vector routing
    * must go through this dictionary — the model persists it. */
  final case class Bins(
      edges: Array[Array[Double]],
      isCat: Array[Boolean],
      numBins: Array[Int],
      catMaps: Array[scala.collection.immutable.Map[Int, Int]] = null)
      extends Serializable {
    val offsets: Array[Int] = numBins.scanLeft(0)(_ + _).init
    val width: Int = numBins.sum
    def numFeatures: Int = numBins.length
    def catMapOf(f: Int): scala.collection.immutable.Map[Int, Int] =
      if (catMaps == null) null else catMaps(f)
    /** True when any feature routes through a code→bin remap. */
    def hasCatMaps: Boolean =
      catMaps != null && catMaps.exists(_ != null)

    def binOf(f: Int, v: Double): Int =
      if (isCat(f)) {
        if (v.isNaN) 0
        else {
          val c = v.toInt
          val m = catMapOf(f)
          if (m != null) {
            if (c <= 0) 0
            // unseen-but-valid codes share the rest bin with the tail
            else m.getOrElse(c, numBins(f) - 1)
          }
          else if (c >= 0 && c < numBins(f)) c else 0
        }
      } else {
        if (v.isNaN) 0
        else {
          val e = edges(f)
          // first edge >= v → bin index; all edges < v → last bin
          var lo = 0; var hi = e.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (e(mid) < v) lo = mid + 1 else hi = mid
          }
          lo + 1
        }
      }

    def binRow(v: Vector): Array[Short] = {
      val out = new Array[Short](numBins.length)
      var f = 0
      while (f < out.length) { out(f) = binOf(f, v(f)).toShort; f += 1 }
      out
    }
  }

  /** `maxBin` carries the feature's bin count at FIT time so raw-code
    * routing can clamp an out-of-range categorical code to the missing
    * bin 0 — exactly what `Bins.binOf` does during training. Without
    * it, a code outside [0, numBins) would route by raw set membership
    * (never in leftCats → always right) while the binned path routes
    * it by bin 0's learned direction: a silent train/serve skew. */
  final case class Split(
      feature: Int,
      thresholdBin: Int,
      threshold: Double,
      isCat: Boolean,
      leftCats: Array[Int],
      defaultLeft: Boolean,
      gain: Double,
      maxBin: Int = Int.MaxValue) extends Serializable {
    @transient lazy val leftCatSet: Set[Int] = leftCats.toSet
  }

  /** Fitted tree: root node id 1, children of n are 2n / 2n+1. */
  final case class Tree(
      splits: Map[Int, Split],
      leafValue: Map[Int, Double]) extends Serializable {

    def leafOfBins(b: Array[Short]): Int = {
      var node = 1
      var s = splits.get(node)
      while (s.isDefined) {
        val sp = s.get
        val bi = b(sp.feature).toInt
        val left =
          if (sp.isCat) sp.leftCatSet.contains(bi)
          else if (bi == 0) sp.defaultLeft
          else bi <= sp.thresholdBin
        node = if (left) 2 * node else 2 * node + 1
        s = splits.get(node)
      }
      node
    }

    def leafOfVector(v: Vector): Int = {
      var node = 1
      var s = splits.get(node)
      while (s.isDefined) {
        val sp = s.get
        val x = v(sp.feature)
        val left =
          if (sp.isCat) {
            val c0 = if (x.isNaN) 0 else x.toInt
            // out-of-range code → missing bin 0, matching Bins.binOf
            val c = if (c0 >= 0 && c0 < sp.maxBin) c0 else 0
            sp.leftCatSet.contains(c)
          }
          else if (x.isNaN) sp.defaultLeft
          else x <= sp.threshold
        node = if (left) 2 * node else 2 * node + 1
        s = splits.get(node)
      }
      node
    }

    def valueOfVector(v: Vector): Double = leafValue(leafOfVector(v))
  }

  /** Build the binning dictionary: nominal arities from the feature
    * column's ML attribute metadata; numeric edges from a ≤
    * `sampleCount`-row sample (LightGBM's `bin_construct_sample_cnt`
    * idea). Distinct-poor features get exact mid-point edges.
    * `rowCount`, when the caller already knows `df`'s row count, spares
    * the count job that sizes the sample. */
  def buildBins(df: DataFrame, featuresCol: String, maxBins: Int = 255,
      sampleCount: Int = 200000, seed: Long = 42L, rowCount: Long = -1L): Bins = {
    require(maxBins >= 4 && maxBins <= Short.MaxValue - 1,
      s"maxBins out of range: $maxBins")
    val ag = org.apache.spark.ml.attribute.AttributeGroup
      .fromStructField(df.schema(featuresCol))
    val attrs = ag.attributes
    val n = if (rowCount >= 0) rowCount else df.count()
    val frac = math.min(1.0, sampleCount * 1.2 / math.max(n, 1L))
    val sample = df.select(col(featuresCol))
      .sample(withReplacement = false, frac, seed)
      .limit(sampleCount)
      .collect().map(_.getAs[Vector](0))
    require(sample.nonEmpty, "buildBins needs at least one row")
    val numF = sample(0).size
    val isCat = new Array[Boolean](numF)
    val numBins = new Array[Int](numF)
    val edges = new Array[Array[Double]](numF)
    val catMaps =
      new Array[scala.collection.immutable.Map[Int, Int]](numF)
    val arity: Int => Option[Int] = f => attrs.flatMap(a =>
      a.lift(f).collect {
        case nm: org.apache.spark.ml.attribute.NominalAttribute =>
          nm.getNumValues
      }.flatten)
    var f = 0
    while (f < numF) {
      arity(f) match {
        case Some(k) if k > maxBins =>
          // HIGH-ARITY categorical (M5's id: 30,490 levels): the top
          // (maxBins − 2) codes by SAMPLE frequency keep their own
          // bin (1-based, frequency-desc then code-asc — fully
          // deterministic), the tail shares the rest bin, missing
          // stays bin 0. LightGBM's max_cat_threshold discipline:
          // head codes carry the splittable mass, the tail is noise.
          isCat(f) = true
          edges(f) = Array.empty
          val counts = mutable.Map.empty[Int, Long]
          sample.foreach { v =>
            val x = v(f)
            if (!x.isNaN) {
              val c = x.toInt
              if (c > 0) counts(c) = counts.getOrElse(c, 0L) + 1L
            }
          }
          val top = counts.toSeq
            .sortBy { case (c, n) => (-n, c) }
            .take(maxBins - 2)
          catMaps(f) = top.iterator.zipWithIndex
            .map { case ((c, _), i) => c -> (i + 1) }.toMap
          numBins(f) = top.length + 2 // missing + top codes + rest
        case Some(k) =>
          isCat(f) = true; numBins(f) = k; edges(f) = Array.empty
        case None =>
          val vals = sample.map(_(f)).filterNot(_.isNaN).sorted
          val distinct = dedupSorted(vals)
          val e =
            if (distinct.length <= 1) Array.empty[Double]
            else if (distinct.length <= maxBins - 1) midpoints(distinct)
            else {
              val cuts = (1 until maxBins - 1).map { b =>
                vals((b.toLong * vals.length / (maxBins - 1)).toInt
                  .min(vals.length - 1))
              }.toArray
              dedupSorted(cuts)
            }
          edges(f) = e
          numBins(f) = e.length + 2 // missing + (edges+1) value bins
      }
      f += 1
    }
    Bins(edges, isCat, numBins, catMaps)
  }

  // ── Bins serialization: models route raw vectors through the
  //    fit-time dictionary, so the dictionary persists with the model.
  //    One line per feature:
  //      C <numBins>                      exact categorical
  //      M <numBins> c:b,c:b,...          remapped categorical
  //      N <numBins> e1,e2,... (or -)     numeric edges

  def serializeBins(b: Bins): String = {
    val sb = new StringBuilder
    var f = 0
    while (f < b.numFeatures) {
      if (b.isCat(f)) {
        val m = b.catMapOf(f)
        if (m == null) sb.append(s"C ${b.numBins(f)}\n")
        else {
          // a zero-entry remap (sample saw no positive codes) emits
          // '-', not an empty field — String.split drops trailing
          // empties, which made such a model unloadable (r13 ADVICE)
          val entries =
            if (m.isEmpty) "-"
            else m.toSeq.sorted
              .map { case (c, bin) => s"$c:$bin" }.mkString(",")
          sb.append(s"M ${b.numBins(f)} $entries\n")
        }
      } else {
        val e = if (b.edges(f).isEmpty) "-" else b.edges(f).mkString(",")
        sb.append(s"N ${b.numBins(f)} $e\n")
      }
      f += 1
    }
    sb.result()
  }

  def deserializeBins(text: String): Bins = {
    val lines = text.linesIterator.filter(_.nonEmpty).toArray
    val numF = lines.length
    val isCat = new Array[Boolean](numF)
    val numBins = new Array[Int](numF)
    val edges = new Array[Array[Double]](numF)
    val catMaps =
      new Array[scala.collection.immutable.Map[Int, Int]](numF)
    var f = 0
    while (f < numF) {
      val p = lines(f).split(' ')
      p(0) match {
        case "C" =>
          isCat(f) = true; numBins(f) = p(1).toInt; edges(f) = Array.empty
        case "M" =>
          isCat(f) = true; numBins(f) = p(1).toInt; edges(f) = Array.empty
          // '-' (and, for models saved before the '-' form, a dropped
          // trailing field) is the zero-entry remap: everything
          // non-missing routes to the rest bin
          catMaps(f) =
            if (p.length < 3 || p(2) == "-")
              scala.collection.immutable.Map.empty[Int, Int]
            else p(2).split(',').iterator.map { e =>
              val i = e.indexOf(':')
              e.substring(0, i).toInt -> e.substring(i + 1).toInt
            }.toMap
        case "N" =>
          numBins(f) = p(1).toInt
          edges(f) =
            if (p(2) == "-") Array.empty[Double]
            else p(2).split(',').map(_.toDouble)
        case other => sys.error(s"bad bins line tag: $other")
      }
      f += 1
    }
    Bins(edges, isCat, numBins, catMaps)
  }

  private def dedupSorted(a: Array[Double]): Array[Double] = {
    if (a.isEmpty) return a
    val out = mutable.ArrayBuffer(a(0))
    var i = 1
    while (i < a.length) { if (a(i) != out.last) out += a(i); i += 1 }
    out.toArray
  }

  private def midpoints(distinct: Array[Double]): Array[Double] = {
    val out = new Array[Double](distinct.length - 1)
    var i = 0
    while (i < out.length) {
      out(i) = distinct(i) / 2 + distinct(i + 1) / 2
      i += 1
    }
    out
  }

  /** `featuresCol`'s vectors binned with `bins` (`array<smallint>`). */
  def binColumn(bins: Bins, featuresCol: String): Column =
    ColumnBridge.column(HistBins(ColumnBridge.expression(col(featuresCol)), bins))

  /** The leaf `tree` routes each row of `binsCol` to (its node id). */
  def leafColumn(tree: Tree, binsCol: String): Column =
    ColumnBridge.column(HistLeaf(ColumnBridge.expression(col(binsCol)), tree))

  /** Fit one tree on pre-binned rows. `df` must carry `binsCol`
    * (Array[Short]), `gCol` (the NEGATIVE gradient / pseudo-residual)
    * and `hCol` (the hessian); the returned leaf values are the
    * Newton step Σg/(Σh+λ) over `df`'s rows ([[TweedieGbt]] replaces
    * them with its refit over all train rows, the values it serves).
    *
    * Best-first growth (LightGBM's `num_leaves` rule): repeatedly split
    * the leaf with the highest gain (ties: lowest leaf id) until
    * `numLeaves` leaves exist, or, with `numLeaves = 0`, until no leaf
    * can split. A leaf splits only below `maxDepth` and with at least
    * `2 · minData` rows. Without a budget every splittable leaf splits,
    * so the order is immaterial and the tree is the level-wise one.
    *
    * Histogram SUBTRACTION (LightGBM's trick): a split aggregates only
    * its SMALLER child from the data; the larger child's histogram is
    * the parent's minus the smaller's.
    *
    * Passes are batched by frontier: when the chosen leaf's children
    * have no histograms yet, ONE `treeAggregate` builds the smaller
    * child of every open node — every node with a known histogram and
    * a best split but no children yet, committed leaf or not. A node's
    * best split depends only on its own rows, so the speculative
    * children are exactly the ones a later split would aggregate, and
    * each slot sums the same rows in the same order as a one-target
    * pass would. Pass p builds depth p − 1 histograms, and it runs
    * only to split a leaf at depth p − 2, so a tree takes at most
    * 1 + (its depth) passes. */
  def fit(df: DataFrame, binsCol: String, gCol: String, hCol: String,
      bins: Bins, maxDepth: Int = 20, numLeaves: Int = 0,
      lambda: Double = 1e-6, minData: Long = 20, minGain: Double = 0.0,
      minHess: Double = 0.0, featureMask: Array[Boolean] = null): Tree = {
    require(maxDepth >= 1 && maxDepth <= 30, s"bad maxDepth: $maxDepth")
    require(numLeaves == 0 || (numLeaves >= 2 && numLeaves <= 4096),
      s"bad numLeaves: $numLeaves")
    val w = bins.width
    val offsets = bins.offsets
    val rows = df
      .select(col(binsCol), col(gCol).cast("double"), col(hCol).cast("double"))
      .rdd.map { r =>
        (r.getAs[scala.collection.Seq[Short]](0).toArray,
          r.getDouble(1), r.getDouble(2))
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one pass: the histogram of each target node `route` reaches,
    // target i in slot i
    def histsOf(route: Tree, targets: Seq[Int]): Seq[Array[Double]] = {
      val slot = targets.zipWithIndex.toMap
      val stats = rows.treeAggregate(new Array[Double](targets.size * w * 3))(
        seqOp = (acc, r) => {
          val i = slot.getOrElse(route.leafOfBins(r._1), -1)
          if (i >= 0) {
            val b = r._1
            val base = i * w
            var f = 0
            while (f < b.length) {
              val idx = (base + offsets(f) + b(f)) * 3
              acc(idx) += r._2; acc(idx + 1) += r._3; acc(idx + 2) += 1
              f += 1
            }
          }
          acc
        },
        combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
      targets.indices.map(i => java.util.Arrays.copyOfRange(stats, i * w * 3, (i + 1) * w * 3))
    }
    def depthOf(node: Int): Int = 31 - Integer.numberOfLeadingZeros(node)
    // node -> (Σg, Σh, n) off feature 0's bins (each row lands in
    // exactly one bin per feature), for every node with a histogram
    val totals = mutable.Map.empty[Int, (Double, Double, Double)]
    // node -> its best split and left row count, for splittable nodes
    val best = mutable.Map.empty[Int, (Split, Double)]
    // splittable nodes whose children are not aggregated yet
    val open = mutable.Map.empty[Int, Array[Double]]
    def learn(node: Int, h: Array[Double]): Unit = {
      var tG = 0.0; var tH = 0.0; var tN = 0.0
      var b0 = 0
      while (b0 < bins.numBins(0)) {
        val idx = (offsets(0) + b0) * 3
        tG += h(idx); tH += h(idx + 1); tN += h(idx + 2)
        b0 += 1
      }
      totals(node) = (tG, tH, tN)
      if (depthOf(node) < maxDepth && tN >= 2 * minData)
        bestSplit(h, bins, tG, tH, tN, lambda, minData, minGain, minHess,
          featureMask).foreach { sn => best(node) = sn; open(node) = h }
    }
    learn(1, histsOf(Tree(Map.empty, Map.empty), Seq(1)).head)
    val splits = mutable.Map.empty[Int, Split]
    val leaves = mutable.SortedSet(1)
    var done = false
    while (!done && (numLeaves == 0 || leaves.size < numLeaves)) {
      val candidates = leaves.iterator.filter(best.contains).toSeq
      if (candidates.isEmpty) done = true
      else {
        val leaf = candidates.minBy(l => (-best(l)._1.gain, l))
        if (open.contains(leaf)) {
          val pending = open.keys.toSeq.sorted
          val smaller = pending.map { n =>
            if (best(n)._2 * 2 <= totals(n)._3) 2 * n else 2 * n + 1
          }
          val route = Tree(best.map { case (n, (s, _)) => n -> s }.toMap, Map.empty)
          pending.zip(smaller).zip(histsOf(route, smaller)).foreach {
            case ((n, small), smallHist) =>
              val parentHist = open.remove(n).get
              val other = new Array[Double](w * 3)
              var i = 0
              while (i < other.length) {
                other(i) = parentHist(i) - smallHist(i); i += 1
              }
              learn(small, smallHist)
              learn(small ^ 1, other)
          }
        }
        splits(leaf) = best(leaf)._1
        leaves -= leaf
        leaves += 2 * leaf
        leaves += 2 * leaf + 1
      }
    }
    rows.unpersist(blocking = false)
    Tree(splits.toMap, leaves.iterator.map { l =>
      val (tG, tH, _) = totals(l)
      l -> tG / (tH + lambda)
    }.toMap)
  }

  /** Returns the best split plus the LEFT-side row count (missing
    * included per its learned direction) — [[fit]] uses it to
    * aggregate only the smaller child. `minHess` is LightGBM's
    * `min_child_weight` / `min_sum_hessian_in_leaf`: each child must
    * carry at least this much hessian mass (the default split gate —
    * at M5 scale `min_child_weight: 300` in full.yaml:12 is a
    * load-bearing regularizer row counts can't express, because the
    * tweedie hessian shrinks toward zero on near-zero-demand rows).
    * `mask` (null = all) is the per-tree feature subsample
    * (`colsample_bytree`): only unmasked features are scanned. */
  private def bestSplit(stats: Array[Double], bins: Bins,
      tG: Double, tH: Double, tN: Double, lambda: Double,
      minData: Long, minGain: Double, minHess: Double = 0.0,
      mask: Array[Boolean] = null): Option[(Split, Double)] = {
    val parentScore = tG * tG / (tH + lambda)
    var best: Split = null
    var bestNL = 0.0
    var bestGain = math.max(minGain, 1e-12)
    var f = 0
    while (f < bins.numFeatures) {
      if (mask != null && !mask(f)) { f += 1 }
      else {
      val nb = bins.numBins(f)
      val off = bins.offsets(f)
      def g(b: Int) = stats((off + b) * 3)
      def h(b: Int) = stats((off + b) * 3 + 1)
      def n(b: Int) = stats((off + b) * 3 + 2)
      def tryGain(gl: Double, hl: Double, nl: Double): Double = {
        val gr = tG - gl; val hr = tH - hl; val nr = tN - nl
        if (nl < minData || nr < minData ||
          hl < minHess || hr < minHess) Double.NegativeInfinity
        else gl * gl / (hl + lambda) + gr * gr / (hr + lambda) - parentScore
      }
      if (bins.isCat(f)) {
        // LightGBM's many-vs-many: categories (incl. missing code 0)
        // sorted by Σg/Σh, prefix scan — the prefix IS the left set
        val present = (0 until nb).filter(b => n(b) > 0)
        if (present.length >= 2) {
          val sorted = present.sortBy(b => g(b) / (h(b) + lambda))
          var gl = 0.0; var hl = 0.0; var nl = 0.0
          var p = 0
          while (p < sorted.length - 1) {
            val b = sorted(p)
            gl += g(b); hl += h(b); nl += n(b)
            val gain = tryGain(gl, hl, nl)
            if (gain > bestGain) {
              bestGain = gain
              val leftCats = sorted.take(p + 1).toArray
              best = Split(f, -1, Double.NaN, isCat = true, leftCats,
                defaultLeft = leftCats.contains(0), gain, maxBin = nb)
              bestNL = nl
            }
            p += 1
          }
        }
      } else if (nb >= 3) {
        val g0 = g(0); val h0 = h(0); val n0 = n(0)
        var gl = 0.0; var hl = 0.0; var nl = 0.0
        var sb = 1
        while (sb < nb - 1) {
          gl += g(sb); hl += h(sb); nl += n(sb)
          // missing-right
          val gainR = tryGain(gl, hl, nl)
          if (gainR > bestGain) {
            bestGain = gainR
            best = Split(f, sb, bins.edges(f)(sb - 1), isCat = false,
              Array.empty, defaultLeft = false, gainR, maxBin = nb)
            bestNL = nl
          }
          // missing-left (only differs when missing rows exist)
          if (n0 > 0) {
            val gainL = tryGain(gl + g0, hl + h0, nl + n0)
            if (gainL > bestGain) {
              bestGain = gainL
              best = Split(f, sb, bins.edges(f)(sb - 1), isCat = false,
                Array.empty, defaultLeft = true, gainL, maxBin = nb)
              bestNL = nl + n0
            }
          }
          sb += 1
        }
      }
      f += 1
      }
    }
    if (best == null) None else Some((best, bestNL))
  }

  // ── serialization: line-based, one node per line ──────────────────
  // S <node> <feature> <thresholdBin> <threshold> <isCat> <defaultLeft> <cats csv or -> <maxBin>
  // L <node> <value>    (TweedieGbt's Newton-refit value, the one it serves)
  // (maxBin was appended in r13 for the out-of-range-code clamp; a
  //  line without it loads with the permissive Int.MaxValue default)

  def serialize(t: Tree): String = {
    val sb = new StringBuilder
    t.splits.toSeq.sortBy(_._1).foreach { case (node, s) =>
      val cats = if (s.leftCats.isEmpty) "-" else s.leftCats.mkString(",")
      sb.append(s"S $node ${s.feature} ${s.thresholdBin} ${s.threshold} " +
        s"${s.isCat} ${s.defaultLeft} $cats ${s.maxBin}\n")
    }
    t.leafValue.toSeq.sortBy(_._1).foreach { case (node, v) =>
      sb.append(s"L $node $v\n")
    }
    sb.result()
  }

  def deserialize(text: String): Tree = {
    val splits = mutable.Map.empty[Int, Split]
    // line order, so the leaf-value literal a loaded model serves lists
    // leaves by id, as the saved file does
    val leaves = mutable.LinkedHashMap.empty[Int, Double]
    text.linesIterator.filter(_.nonEmpty).foreach { line =>
      val p = line.split(' ')
      p(0) match {
        case "S" =>
          val cats =
            if (p(7) == "-") Array.empty[Int]
            else p(7).split(',').map(_.toInt)
          val maxBin = if (p.length > 8) p(8).toInt else Int.MaxValue
          splits(p(1).toInt) = Split(p(2).toInt, p(3).toInt, p(4).toDouble,
            p(5).toBoolean, cats, p(6).toBoolean, 0.0, maxBin)
        case "L" => leaves(p(1).toInt) = p(2).toDouble
        case other => sys.error(s"bad hist-tree line tag: $other")
      }
    }
    Tree(splits.toMap, leaves.toMap)
  }
}
