package graft.ml

import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** HistTree — the LightGBM-parity histogram fitter. Hand-built cases
  * pin the three behaviors Spark ML's trees cannot express: learned
  * per-split missing routing (both directions), many-vs-many
  * categorical splits, and binned threshold placement. */
class HistTreeSpec extends SparkSpec {
  import spark.implicits._

  private def frame(rows: Seq[(Vector, Double, Double)]): DataFrame =
    rows.toDF("features", "__g", "__h")

  private def binned(df: DataFrame, bins: HistTree.Bins): DataFrame =
    df.withColumn("__bins", HistTree.binColumn(bins, "features"))

  test("numeric split lands between the two value clusters; leaves are the Newton step") {
    // feature 0 separates g perfectly: v<=2 -> g=+1, v>=10 -> g=-1
    val rows = (1 to 8).map { i =>
      if (i <= 4) (Vectors.dense(i % 2 + 1.0), 1.0, 1.0)
      else (Vectors.dense(10.0 + i % 2), -1.0, 1.0)
    }
    val df = frame(rows)
    val bins = HistTree.buildBins(df, "features", maxBins = 16)
    val tree = HistTree.fit(binned(df, bins), "__bins", "__g", "__h", bins,
      maxDepth = 2, lambda = 0.0, minData = 1)
    val s = tree.splits(1)
    assert(!s.isCat && s.feature == 0, s"got $s")
    assert(s.threshold > 2.0 && s.threshold < 10.0, s"threshold ${s.threshold}")
    // left leaf: 4 rows g=+1,h=1 -> 4/4 = 1; right: -1
    assert(tree.valueOfVector(Vectors.dense(1.5)) == 1.0)
    assert(tree.valueOfVector(Vectors.dense(11.0)) == -1.0)
  }

  test("missing routing is LEARNED per split, both directions") {
    // NaN rows share the POSITIVE cluster's gradient -> best gain sends
    // missing left (with the positive side at low values)
    def data(nanG: Double) =
      (1 to 6).map(i => (Vectors.dense(1.0 + i % 2), 1.0, 1.0)) ++
      (1 to 6).map(i => (Vectors.dense(10.0 + i % 2), -1.0, 1.0)) ++
      (1 to 4).map(_ => (Vectors.dense(Double.NaN), nanG, 1.0))
    val dfL = frame(data(1.0))
    val binsL = HistTree.buildBins(dfL, "features", maxBins = 16)
    val tL = HistTree.fit(binned(dfL, binsL), "__bins", "__g", "__h", binsL,
      maxDepth = 1, lambda = 0.0, minData = 1)
    assert(tL.splits(1).defaultLeft, s"missing should join the low/positive side: ${tL.splits(1)}")
    assert(tL.valueOfVector(Vectors.dense(Double.NaN)) ==
      tL.valueOfVector(Vectors.dense(1.0)))

    val dfR = frame(data(-1.0))
    val binsR = HistTree.buildBins(dfR, "features", maxBins = 16)
    val tR = HistTree.fit(binned(dfR, binsR), "__bins", "__g", "__h", binsR,
      maxDepth = 1, lambda = 0.0, minData = 1)
    assert(!tR.splits(1).defaultLeft, s"missing should join the high/negative side: ${tR.splits(1)}")
    assert(tR.valueOfVector(Vectors.dense(Double.NaN)) ==
      tR.valueOfVector(Vectors.dense(11.0)))
  }

  test("categorical split is many-vs-many: non-contiguous codes group by gradient") {
    // codes 1 and 3 share g=+1, code 2 has g=-1 — an ordinal split
    // (code <= t) cannot isolate {1,3}; the sorted-prefix scan can
    val rows = (1 to 6).map(i => (Vectors.dense((i % 2) * 2 + 1.0), 1.0, 1.0)) ++
      (1 to 6).map(_ => (Vectors.dense(2.0), -1.0, 1.0))
    val meta = NominalAttribute.defaultAttr
      .withName("c").withNumValues(4).toMetadata()
    val df = rows.toDF("features", "__g", "__h")
      .select(col("features").as("features", {
        val ag = new org.apache.spark.ml.attribute.AttributeGroup("features",
          Array[org.apache.spark.ml.attribute.Attribute](
            NominalAttribute.defaultAttr.withName("c").withNumValues(4)))
        ag.toMetadata()
      }), col("__g"), col("__h"))
    val bins = HistTree.buildBins(df, "features", maxBins = 16)
    assert(bins.isCat(0) && bins.numBins(0) == 4, s"got ${bins.isCat.toSeq} ${bins.numBins.toSeq}")
    val tree = HistTree.fit(binned(df, bins), "__bins", "__g", "__h", bins,
      maxDepth = 1, lambda = 0.0, minData = 1)
    val s = tree.splits(1)
    assert(s.isCat, s"got $s")
    val left = s.leftCats.toSet
    assert(left == Set(1, 3) || left == Set(2), s"got $left")
    assert(tree.valueOfVector(Vectors.dense(1.0)) ==
      tree.valueOfVector(Vectors.dense(3.0)))
    assert(tree.valueOfVector(Vectors.dense(1.0)) !=
      tree.valueOfVector(Vectors.dense(2.0)))
    // code 0 never occurred in training, so it cannot be in leftCats —
    // it routes to the complement ("other") side, LightGBM's rule
    assert(!left.contains(0))
    val otherSide =
      if (left.contains(2)) tree.valueOfVector(Vectors.dense(1.0))
      else tree.valueOfVector(Vectors.dense(2.0))
    assert(tree.valueOfVector(Vectors.dense(0.0)) == otherSide)
  }

  test("serialize/deserialize round-trips structure and routing") {
    val rows = (1 to 6).map(i => (Vectors.dense(1.0 + i % 2, i.toDouble), 1.0, 1.0)) ++
      (1 to 6).map(i => (Vectors.dense(10.0 + i % 2, i.toDouble), -1.0, 1.0)) ++
      (1 to 2).map(_ => (Vectors.dense(Double.NaN, 3.0), 1.0, 1.0))
    val df = frame(rows)
    val bins = HistTree.buildBins(df, "features", maxBins = 8)
    val tree = HistTree.fit(binned(df, bins), "__bins", "__g", "__h", bins,
      maxDepth = 3, lambda = 1e-6, minData = 1)
    val back = HistTree.deserialize(HistTree.serialize(tree))
    assert(back.leafValue == tree.leafValue)
    assert(back.splits.keySet == tree.splits.keySet)
    for (v <- Seq(Vectors.dense(1.0, 2.0), Vectors.dense(11.0, 5.0),
        Vectors.dense(Double.NaN, 3.0)))
      assert(back.leafOfVector(v) == tree.leafOfVector(v), s"route differs at $v")
  }

  test("leaf-wise growth spends the leaf budget on the best-gain side") {
    // feature 0 splits the data in half; the RIGHT half has a strong
    // secondary split on feature 1, the LEFT half is pure noise-free
    // constant. With numLeaves = 3 the frontier must be
    // {root, right-child} — a level-wise tree would have to spend
    // depth 2 on BOTH sides or neither.
    val rows =
      (1 to 8).map(i => (Vectors.dense(1.0 + i % 2, i % 3 * 1.0), 0.0, 1.0)) ++
      (1 to 4).map(i => (Vectors.dense(10.0 + i % 2, 1.0), 6.0, 1.0)) ++
      (1 to 4).map(i => (Vectors.dense(10.0 + i % 2, 20.0), 2.0, 1.0))
    val df = frame(rows)
    val bins = HistTree.buildBins(df, "features", maxBins = 16)
    val tree = HistTree.fit(binned(df, bins), "__bins", "__g",
      "__h", bins, numLeaves = 3, lambda = 0.0, minData = 1)
    assert(tree.splits.keySet == Set(1, 3),
      s"expected root + right-child splits, got ${tree.splits.keySet}")
    assert(tree.leafValue.keySet == Set(2, 6, 7),
      s"got leaves ${tree.leafValue.keySet}")
    // leaf values: left leaf 0, right split separates +6 / +2
    assert(tree.valueOfVector(Vectors.dense(1.0, 0.0)) == 0.0)
    assert(tree.valueOfVector(Vectors.dense(10.5, 1.0)) == 6.0)
    assert(tree.valueOfVector(Vectors.dense(10.5, 20.0)) == 2.0)
    // the budget binds: numLeaves = 4 would also split the left side
    // if it had any gain — it does not (constant g), so the frontier
    // stays at 3 leaves even with budget to spare
    val t4 = HistTree.fit(binned(df, bins), "__bins", "__g",
      "__h", bins, numLeaves = 4, lambda = 0.0, minData = 1)
    assert(t4.splits.keySet == Set(1, 3), s"got ${t4.splits.keySet}")
  }

  test("leaf-wise histogram subtraction preserves exact leaf values under missing routing") {
    // NaN rows side with the positives; subtraction-derived sibling
    // histograms must still produce the exact Newton values
    val rows =
      (1 to 6).map(i => (Vectors.dense(1.0 + i % 2), 2.0, 1.0)) ++
      (1 to 6).map(i => (Vectors.dense(10.0 + i % 2), -2.0, 1.0)) ++
      (1 to 2).map(_ => (Vectors.dense(Double.NaN), 2.0, 1.0))
    val df = frame(rows)
    val bins = HistTree.buildBins(df, "features", maxBins = 16)
    val tree = HistTree.fit(binned(df, bins), "__bins", "__g",
      "__h", bins, numLeaves = 2, lambda = 0.0, minData = 1)
    assert(tree.splits(1).defaultLeft, s"got ${tree.splits(1)}")
    assert(tree.valueOfVector(Vectors.dense(Double.NaN)) == 2.0)
    assert(tree.valueOfVector(Vectors.dense(11.0)) == -2.0)
  }

  test("min_child_weight rejects a split that row counts alone would accept") {
    // 8 rows split cleanly by gradient, 4 per side — minData = 1 is
    // satisfied — but the LEFT side carries almost no hessian mass
    // (h = 0.05 each, Σh = 0.2). With minHess = 1.0 the split must be
    // rejected and the root become a leaf; without it, it is taken.
    // This is LightGBM's min_sum_hessian_in_leaf / min_child_weight:
    // the tweedie hessian vanishes on near-zero-demand rows, so at M5
    // scale full.yaml's 300 gates splits row counts can't.
    // exactly two distinct values -> the ONLY candidate split is the
    // 1.0-vs-10.0 boundary (no fallback split inside either cluster)
    val rows =
      (1 to 4).map(_ => (Vectors.dense(1.0), 1.0, 0.05)) ++
      (1 to 4).map(_ => (Vectors.dense(10.0), -1.0, 2.0))
    val df = frame(rows)
    val bins = HistTree.buildBins(df, "features", maxBins = 16)
    val unconstrained = HistTree.fit(binned(df, bins), "__bins", "__g",
      "__h", bins, maxDepth = 2, lambda = 0.0, minData = 1)
    assert(unconstrained.splits.contains(1),
      s"without the hessian gate the split is clearly profitable: $unconstrained")
    val gated = HistTree.fit(binned(df, bins), "__bins", "__g", "__h",
      bins, maxDepth = 2, lambda = 0.0, minData = 1, minHess = 1.0)
    assert(gated.splits.isEmpty,
      s"minHess = 1.0 must reject the low-hessian left child: ${gated.splits}")
    // leaf-wise grower enforces the same gate
    val gatedLw = HistTree.fit(binned(df, bins), "__bins", "__g",
      "__h", bins, numLeaves = 4, lambda = 0.0, minData = 1, minHess = 1.0)
    assert(gatedLw.splits.isEmpty, s"got ${gatedLw.splits}")
  }

  test("feature mask restricts the split scan (colsample_bytree's primitive)") {
    // feature 0 has the dominant split, feature 1 a weaker one; masking
    // feature 0 out forces the tree onto feature 1
    val rows = (0 until 12).map { i =>
      val strong = if (i < 6) 1.0 else 10.0
      val weak = if (i % 2 == 0) 1.0 else 10.0
      val g = (if (i < 6) 2.0 else -2.0) + (if (i % 2 == 0) 0.5 else -0.5)
      (Vectors.dense(strong, weak), g, 1.0)
    }
    val df = frame(rows)
    val bins = HistTree.buildBins(df, "features", maxBins = 16)
    val free = HistTree.fit(binned(df, bins), "__bins", "__g", "__h",
      bins, maxDepth = 1, lambda = 0.0, minData = 1)
    assert(free.splits(1).feature == 0, s"got ${free.splits(1)}")
    val masked = HistTree.fit(binned(df, bins), "__bins", "__g", "__h",
      bins, maxDepth = 1, lambda = 0.0, minData = 1,
      featureMask = Array(false, true))
    assert(masked.splits(1).feature == 1, s"got ${masked.splits(1)}")
  }

  test("out-of-range categorical code routes to bin 0's learned direction at serve time") {
    // cat feature with arity 4; at transform time a code outside
    // [0, 4) must route like the missing code 0 (binOf's rule), not by
    // raw set membership (which would silently always go right)
    val rows = (1 to 6).map(i => (Vectors.dense((i % 2) * 2 + 1.0), 1.0, 1.0)) ++
      (1 to 6).map(_ => (Vectors.dense(2.0), -1.0, 1.0)) ++
      (1 to 2).map(_ => (Vectors.dense(0.0), -1.0, 1.0)) // code 0 sides with {2}
    val df = rows.toDF("features", "__g", "__h")
      .select(col("features").as("features", {
        val ag = new org.apache.spark.ml.attribute.AttributeGroup("features",
          Array[org.apache.spark.ml.attribute.Attribute](
            NominalAttribute.defaultAttr.withName("c").withNumValues(4)))
        ag.toMetadata()
      }), col("__g"), col("__h"))
    val bins = HistTree.buildBins(df, "features", maxBins = 16)
    val tree = HistTree.fit(binned(df, bins), "__bins", "__g", "__h",
      bins, maxDepth = 1, lambda = 0.0, minData = 1)
    val s = tree.splits(1)
    assert(s.isCat && s.leftCatSet.contains(0),
      s"fixture needs code 0 on the left: $s")
    assert(s.maxBin == 4, s"maxBin must carry the fit-time arity: $s")
    // raw codes 99 and -3 are out of range -> clamp to 0 -> left, the
    // same leaf the binned path gives them; round-trips serialization
    val expect = tree.valueOfVector(Vectors.dense(0.0))
    for (t <- Seq(tree, HistTree.deserialize(HistTree.serialize(tree)));
        bad <- Seq(99.0, -3.0))
      assert(t.valueOfVector(Vectors.dense(bad)) == expect,
        s"code $bad must route like missing (left), got ${t.valueOfVector(Vectors.dense(bad))}")
  }

  test("TweedieGbt colsample_bytree: per-round feature sets vary, fit is seed-stable") {
    val rows = (0 until 120).map { i =>
      val x0 = (i % 10).toDouble
      val x1 = (i % 7).toDouble
      val x2 = (i % 4).toDouble
      val y = if (x0 >= 5) 4.0 + (i % 3) else 0.3 * (i % 2)
      (x0, x1, x2, y, i % 11 == 0)
    }.toDF("x0", "x1", "x2", "y", "valid")
    val assembled = TweedieGbt.assemble(rows, Seq("x0", "x1", "x2"))
    val params = TweedieGbt.Params(maxIter = 6, maxDepth = 2,
      minDataInLeaf = 2, colsampleBytree = 0.34)
    // colsample 0.34 of 3 features = 1 feature per round; across 6
    // rounds the sampled set must vary (else the "sample" is a constant
    // mask and the knob does nothing)
    val model = TweedieGbt.fit(assembled, "features", "y", "valid", params)
    val usedFeatures = model.stages.map(_.splits.values.map(_.feature).toSet)
      .filter(_.nonEmpty)
    assert(usedFeatures.flatten.toSet.size > 1,
      s"6 rounds at 1 feature each must touch > 1 distinct feature: $usedFeatures")
    // same seed -> identical model (deterministic sampling)
    val model2 = TweedieGbt.fit(assembled, "features", "y", "valid", params)
    val p1 = model.transform(assembled, "mu").agg(sum("mu")).head().getDouble(0)
    val p2 = model2.transform(assembled, "mu").agg(sum("mu")).head().getDouble(0)
    assert(p1 == p2, s"same seed must reproduce the fit exactly: $p1 vs $p2")
  }

  test("high-arity categorical: top-k codes keep bins, tail shares the rest bin") {
    // arity 20 under maxBins = 8: top 6 sample codes -> bins 1..6,
    // everything else -> rest bin 7, missing -> 0. Frequencies are
    // rigged so codes {1,2,3} (g=+1, many rows) and {4,5,6} (g=-1)
    // dominate; codes 10..15 are singletons.
    val rows =
      (0 until 30).map(i => (Vectors.dense((i % 3 + 1).toDouble), 1.0, 1.0)) ++
      (0 until 30).map(i => (Vectors.dense((i % 3 + 4).toDouble), -1.0, 1.0)) ++
      (10 to 15).map(c => (Vectors.dense(c.toDouble), 0.0, 1.0))
    val df = rows.toDF("features", "__g", "__h")
      .select(col("features").as("features", {
        val ag = new org.apache.spark.ml.attribute.AttributeGroup("features",
          Array[org.apache.spark.ml.attribute.Attribute](
            NominalAttribute.defaultAttr.withName("c").withNumValues(20)))
        ag.toMetadata()
      }), col("__g"), col("__h"))
    val bins = HistTree.buildBins(df, "features", maxBins = 8)
    assert(bins.isCat(0) && bins.numBins(0) == 8, s"got ${bins.numBins.toSeq}")
    assert(bins.hasCatMaps)
    val m = bins.catMapOf(0)
    assert(m.keySet == Set(1, 2, 3, 4, 5, 6), s"top-6 codes: $m")
    // frequency ties (all six at 10) break by code asc -> bins 1..6
    assert((1 to 6).map(c => m(c)) == (1 to 6), s"got $m")
    // tail, unseen-but-valid, and missing routing
    assert(bins.binOf(0, 10.0) == 7 && bins.binOf(0, 19.0) == 7)
    assert(bins.binOf(0, 0.0) == 0 && bins.binOf(0, Double.NaN) == 0)
    // the fitted split separates the +1 head codes from the -1 head
    // codes in BIN space
    val tree = HistTree.fit(binned(df, bins), "__bins", "__g", "__h",
      bins, maxDepth = 1, lambda = 0.0, minData = 1)
    val s = tree.splits(1)
    assert(s.isCat && s.maxBin == 8, s"got $s")
    def leafOfCode(c: Double) = tree.leafOfBins(bins.binRow(Vectors.dense(c)))
    assert(leafOfCode(1.0) == leafOfCode(2.0) && leafOfCode(1.0) == leafOfCode(3.0))
    assert(leafOfCode(4.0) == leafOfCode(5.0) && leafOfCode(4.0) == leafOfCode(6.0))
    assert(leafOfCode(1.0) != leafOfCode(4.0), "head groups must separate")
    // serializeBins round-trips the remap exactly
    val back = HistTree.deserializeBins(HistTree.serializeBins(bins))
    assert(back.numBins.toSeq == bins.numBins.toSeq)
    assert(back.catMapOf(0) == m)
    for (c <- Seq(0.0, 1.0, 6.0, 10.0, 19.0))
      assert(back.binOf(0, c) == bins.binOf(0, c), s"code $c")
    // zero-entry remap (sample saw no positive codes) must round-trip
    // too — the empty entry list serialized as a trailing-empty field
    // that String.split dropped, crashing the load (r13 ADVICE)
    val emptyRemap = HistTree.Bins(
      edges = Array(Array.empty[Double]),
      isCat = Array(true), numBins = Array(2),
      catMaps = Array(Map.empty[Int, Int]))
    val back2 =
      HistTree.deserializeBins(HistTree.serializeBins(emptyRemap))
    assert(back2.catMapOf(0) == Map.empty[Int, Int] &&
      back2.numBins.toSeq == Seq(2))
    assert(back2.binOf(0, 5.0) == 1 && back2.binOf(0, 0.0) == 0,
      "everything non-missing routes to the rest bin")
  }

  test("TweedieGbt picks maxBins up from the assembled metadata") {
    // the 41-arity nominal column must reach the histogram bins as a
    // categorical with one bin per code, not as a quantile-cut numeric
    val rng = new scala.util.Random(3)
    val rows = (1 to 400).map { _ =>
      val c = rng.nextInt(40).toLong
      (c, if (c % 7 == 0) 5.0 else 0.0, false)
    }
    val df = rows.toDF("c", "y", "is_valid")
    val assembled = TweedieGbt.assemble(df, Seq("c"), Map("c" -> 41))
    val model = TweedieGbt.fit(assembled, "features", "y", "is_valid",
      TweedieGbt.Params(maxIter = 3, maxDepth = 4,
        objective = TweedieGbt.Objective.Tweedie(1.3)))
    assert(model.histBins.isCat(0) && model.histBins.numBins(0) == 41,
      s"bins: isCat ${model.histBins.isCat.toSeq}, numBins ${model.histBins.numBins.toSeq}")
    assert(model.stages.size == 3)
  }

  test("TweedieGbt with a remapped high-arity categorical: bins persist, save/load forecasts match") {
    // 40-level categorical under histMaxBins = 8 — codes 1..3 mean
    // high demand, 4..6 low, tail rare. The model must (a) route raw
    // vectors through the fit-time dictionary (splits are in BIN
    // space), (b) persist bins.txt, (c) reproduce forecasts after load.
    val rows = (0 until 240).map { i =>
      val code = if (i % 2 == 0) (i % 3 + 1) else (i % 3 + 4)
      val rare = i % 40 == 7
      val c = if (rare) 10 + i % 20 else code
      val y = if (c <= 3) 5.0 + i % 2 else 0.3 * (i % 2)
      (c.toDouble - 1.0, y, i % 11 == 0) // raw code pre-shift
    }.toDF("c", "y", "valid")
    val assembled = TweedieGbt.assemble(rows, Seq("c"), Map("c" -> 40))
    val params = TweedieGbt.Params(maxIter = 20, stepSize = 0.3,
      maxDepth = 3, histMaxBins = 8, minDataInLeaf = 2)
    val model = TweedieGbt.fit(assembled, "features", "y", "valid", params)
    assert(model.histBins.hasCatMaps,
      "40 levels under 8 bins must remap")
    val preds = model.transform(assembled, "mu")
    val agg = preds.agg(
      avg(when(col("y") >= 5, col("mu"))),
      avg(when(col("y") < 1, col("mu")))).head()
    assert(agg.getDouble(0) > 2 * agg.getDouble(1),
      s"head-code regimes not separated: $agg")
    val dir = java.nio.file.Files.createTempDirectory("histcat").toString
    model.save(dir)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "bins.txt")))
    val loaded = TweedieGbt.load(dir)
    assert(loaded.histBins.hasCatMaps)
    val joined = preds.select(col("c"), col("y"), col("mu"))
      .join(loaded.transform(assembled, "mu2")
        .select(col("c"), col("y"), col("mu2")), Seq("c", "y"))
    assert(joined.filter(abs(col("mu") - col("mu2")) > 1e-12).isEmpty,
      "loaded model must reproduce forecasts exactly")
  }

  test("TweedieGbt histogram path: fit, missing-aware forecasts, save/load parity") {
    // intermittent-demand shape: y depends on feature 0; feature 1 is
    // null (NaN) on a warm-up slice whose y behaves like the HIGH group
    val rows = (0 until 200).map { i =>
      val x0 = (i % 10).toDouble
      val warm = i % 5 == 0
      val x1 = if (warm) Double.NaN else (i % 7).toDouble
      val y = if (x0 >= 5 || warm) 4.0 + (i % 3) else 0.4 * (i % 2)
      (x0, x1, y, i % 11 == 0) // ~9% validation
    }
    val df = rows.toDF("x0", "x1", "y", "valid")
      .withColumn("x1", when(isnan(col("x1")), lit(null)).otherwise(col("x1")))
    val assembled = TweedieGbt.assemble(df, Seq("x0", "x1"))
    val params = TweedieGbt.Params(maxIter = 6, maxDepth = 3,
      minDataInLeaf = 2)
    val model = TweedieGbt.fit(assembled, "features", "y", "valid", params)
    assert(model.stages.nonEmpty)
    val preds = model.transform(assembled, "mu")
    assert(preds.filter(col("mu") <= 0).isEmpty, "log link must keep mu > 0")
    // the fitted trees must separate the regimes: mean prediction on
    // the high group strictly above the low group
    val m = preds.agg(
      avg(when(col("y") >= 4, col("mu"))),
      avg(when(col("y") < 1, col("mu")))).head()
    assert(m.getDouble(0) > 2 * m.getDouble(1),
      s"regimes not separated: $m")
    // save/load: identical forecasts
    val dir = java.nio.file.Files.createTempDirectory("histgbt").toString
    model.save(dir)
    val loaded = TweedieGbt.load(dir)
    val p2 = loaded.transform(assembled, "mu2")
    val joined = preds.select(col("x0"), col("x1"), col("y"), col("mu"))
      .join(p2.select(col("x0"), col("x1"), col("y"), col("mu2")),
        Seq("x0", "x1", "y"))
    assert(joined.filter(abs(col("mu") - col("mu2")) > 1e-12).isEmpty,
      "loaded model must reproduce forecasts exactly")
  }

  /** `body`'s result and the Spark jobs it ran. A marker job in its own
    * group flushes the FIFO listener bus before the count is read. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val group = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (group.contains("graft-hist-marker")) marker.set(true)
        else jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setJobGroup("graft-hist-marker", "flush")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!marker.get && System.nanoTime() < deadline) Thread.sleep(20)
      assert(marker.get, "listener bus never delivered the marker job")
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** x0 splits the root and x1 each half; every quadrant is pure. */
  private def balanced: DataFrame = frame(
    for (x0 <- Seq(1.0, 10.0); x1 <- Seq(1.0, 10.0); _ <- 1 to 4)
      yield (Vectors.dense(x0, x1),
        (if (x0 < 5) 4.0 else -4.0) + (if (x1 < 5) 1.0 else -1.0), 1.0))

  private def splitLines(t: HistTree.Tree): Seq[String] =
    HistTree.serialize(t).linesIterator.filter(_.startsWith("S ")).toSeq

  test("one aggregation pass serves a whole frontier") {
    val df = balanced
    val bins = HistTree.buildBins(df, "features", maxBins = 16)
    val b = binned(df, bins)
    // root, its children, then both grandchild pairs in one pass; the
    // last split's children are already aggregated
    val (t4, jobs4) = withJobCount(HistTree.fit(b, "__bins", "__g", "__h",
      bins, numLeaves = 4, lambda = 0.0, minData = 1))
    assert(t4.splits.keySet == Set(1, 2, 3), s"got ${t4.splits.keySet}")
    assert(jobs4 == 3, s"numLeaves = 4 ran $jobs4 jobs")
    val (d2, jobsD2) = withJobCount(HistTree.fit(b, "__bins", "__g", "__h",
      bins, maxDepth = 2, lambda = 0.0, minData = 1))
    assert(d2.splits.keySet == Set(1, 2, 3), s"got ${d2.splits.keySet}")
    assert(jobsD2 <= 3, s"maxDepth = 2 ran $jobsD2 jobs")

    // a chain: each split peels the largest gradient off the rest, so
    // no pass can serve two splits
    val chain = frame((1 to 5).flatMap { x =>
      Seq.fill(2)((Vectors.dense(x.toDouble), math.pow(4, 5 - x), 1.0))
    })
    val cBins = HistTree.buildBins(chain, "features", maxBins = 16)
    for (budget <- Seq(0, 2, 3, 5)) {
      val (t, jobs) = withJobCount(HistTree.fit(binned(chain, cBins), "__bins",
        "__g", "__h", cBins, numLeaves = budget, lambda = 0.0, minData = 1))
      assert(t.splits.keySet.forall(n => n == 1 || n % 2 == 1),
        s"budget $budget: not a chain: ${t.splits.keySet}")
      assert(jobs <= 1 + t.splits.size,
        s"budget $budget: $jobs jobs for ${t.splits.size} splits")
    }
  }

  test("a leaf budget of 2^maxDepth grows the same splits as no budget") {
    def catFrame(rows: Seq[(Vector, Double, Double)], arity: Int): DataFrame =
      rows.toDF("features", "__g", "__h").select(col("features").as("features",
        new org.apache.spark.ml.attribute.AttributeGroup("features",
          Array[org.apache.spark.ml.attribute.Attribute](
            NominalAttribute.defaultAttr.withName("c").withNumValues(arity)))
          .toMetadata()), col("__g"), col("__h"))
    val nan = Double.NaN
    def missing(nanG: Double) = frame(
      (1 to 6).map(i => (Vectors.dense(1.0 + i % 2), 1.0, 1.0)) ++
      (1 to 6).map(i => (Vectors.dense(10.0 + i % 2), -1.0, 1.0)) ++
      (1 to 4).map(_ => (Vectors.dense(nan), nanG, 1.0)))
    // this spec's fixtures: (name, frame, maxBins)
    val fixtures: Seq[(String, DataFrame, Int)] = Seq(
      ("numeric clusters", frame((1 to 8).map { i =>
        if (i <= 4) (Vectors.dense(i % 2 + 1.0), 1.0, 1.0)
        else (Vectors.dense(10.0 + i % 2), -1.0, 1.0)
      }), 16),
      ("missing left", missing(1.0), 16),
      ("missing right", missing(-1.0), 16),
      ("many-vs-many categorical", catFrame(
        (1 to 6).map(i => (Vectors.dense((i % 2) * 2 + 1.0), 1.0, 1.0)) ++
        (1 to 6).map(_ => (Vectors.dense(2.0), -1.0, 1.0)), 4), 16),
      ("serialize round-trip", frame(
        (1 to 6).map(i => (Vectors.dense(1.0 + i % 2, i.toDouble), 1.0, 1.0)) ++
        (1 to 6).map(i => (Vectors.dense(10.0 + i % 2, i.toDouble), -1.0, 1.0)) ++
        (1 to 2).map(_ => (Vectors.dense(nan, 3.0), 1.0, 1.0))), 8),
      ("budget on the best-gain side", frame(
        (1 to 8).map(i => (Vectors.dense(1.0 + i % 2, i % 3 * 1.0), 0.0, 1.0)) ++
        (1 to 4).map(i => (Vectors.dense(10.0 + i % 2, 1.0), 6.0, 1.0)) ++
        (1 to 4).map(i => (Vectors.dense(10.0 + i % 2, 20.0), 2.0, 1.0))), 16),
      ("subtraction under missing routing", frame(
        (1 to 6).map(i => (Vectors.dense(1.0 + i % 2), 2.0, 1.0)) ++
        (1 to 6).map(i => (Vectors.dense(10.0 + i % 2), -2.0, 1.0)) ++
        (1 to 2).map(_ => (Vectors.dense(nan), 2.0, 1.0))), 16),
      ("min_child_weight", frame(
        (1 to 4).map(_ => (Vectors.dense(1.0), 1.0, 0.05)) ++
        (1 to 4).map(_ => (Vectors.dense(10.0), -1.0, 2.0))), 16),
      ("feature mask", frame((0 until 12).map { i =>
        val g = (if (i < 6) 2.0 else -2.0) + (if (i % 2 == 0) 0.5 else -0.5)
        (Vectors.dense(if (i < 6) 1.0 else 10.0, if (i % 2 == 0) 1.0 else 10.0), g, 1.0)
      }), 16),
      ("out-of-range categorical", catFrame(
        (1 to 6).map(i => (Vectors.dense((i % 2) * 2 + 1.0), 1.0, 1.0)) ++
        (1 to 6).map(_ => (Vectors.dense(2.0), -1.0, 1.0)) ++
        (1 to 2).map(_ => (Vectors.dense(0.0), -1.0, 1.0)), 4), 16),
      ("high-arity categorical", catFrame(
        (0 until 30).map(i => (Vectors.dense((i % 3 + 1).toDouble), 1.0, 1.0)) ++
        (0 until 30).map(i => (Vectors.dense((i % 3 + 4).toDouble), -1.0, 1.0)) ++
        (10 to 15).map(c => (Vectors.dense(c.toDouble), 0.0, 1.0)), 20), 8),
      ("balanced two-level", balanced, 16))

    // a seeded sweep: NaNs in x0, a categorical x2 whose code 0 is missing
    val sweepAttrs = new org.apache.spark.ml.attribute.AttributeGroup("features",
      Array[org.apache.spark.ml.attribute.Attribute](
        org.apache.spark.ml.attribute.NumericAttribute.defaultAttr.withName("x0"),
        org.apache.spark.ml.attribute.NumericAttribute.defaultAttr.withName("x1"),
        NominalAttribute.defaultAttr.withName("x2").withNumValues(6))).toMetadata()
    val sweep = (1 to 4).map { seed =>
      val rng = new scala.util.Random(seed)
      val rows = (0 until 160).map { _ =>
        val x0 = if (rng.nextDouble() < 0.2) nan else rng.nextInt(40).toDouble
        val x1 = rng.nextGaussian()
        val x2 = rng.nextInt(6).toDouble
        val g = (if (x0.isNaN || x0 > 25) 2.0 else -1.0) +
          (if (x2 == 1.0 || x2 == 4.0) 1.5 else 0.0) + 0.5 * x1 +
          rng.nextGaussian()
        (Vectors.dense(x0, x1, x2), g, 0.5 + rng.nextDouble())
      }
      (s"sweep seed $seed", rows.toDF("features", "__g", "__h")
        .select(col("features").as("features", sweepAttrs), col("__g"), col("__h")), 32)
    }

    var mostSplits = 0
    for ((name, df, maxBins) <- fixtures ++ sweep) {
      val bins = HistTree.buildBins(df, "features", maxBins = maxBins)
      val b = binned(df, bins)
      val minData = if (name.startsWith("sweep")) 3L else 1L
      val lambda = if (name.startsWith("sweep")) 1e-6 else 0.0
      for (maxDepth <- 1 to 3; minHess <- Seq(0.0, 1.0)) {
        def grow(numLeaves: Int) = HistTree.fit(b, "__bins", "__g", "__h", bins,
          maxDepth = maxDepth, numLeaves = numLeaves, lambda = lambda,
          minData = minData, minHess = minHess)
        val free = grow(0)
        val capped = grow(1 << maxDepth)
        assert(splitLines(capped) == splitLines(free),
          s"$name maxDepth $maxDepth minHess $minHess")
        assert(capped.leafValue.keySet == free.leafValue.keySet,
          s"$name maxDepth $maxDepth minHess $minHess")
        mostSplits = math.max(mostSplits, free.splits.size)
      }
    }
    assert(mostSplits >= 5, s"no fixture grew past $mostSplits splits")

    // one depth-limited tree's serialized splits, pinned
    val bins = HistTree.buildBins(balanced, "features", maxBins = 16)
    val pinned = HistTree.fit(binned(balanced, bins), "__bins", "__g", "__h",
      bins, maxDepth = 2, lambda = 0.0, minData = 1)
    assert(splitLines(pinned) == Seq(
      "S 1 0 1 5.5 false false - 3",
      "S 2 1 1 5.5 false false - 3",
      "S 3 1 1 5.5 false false - 3"), HistTree.serialize(pinned))
  }
}
