package graft.ml

import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Native categorical splits (LightGBM-parity divergence closure, r11):
  * label-encoded columns carrying NominalAttribute metadata must be
  * split as true categoricals — for regression Spark orders categories
  * by mean response and searches subset splits, the same
  * statistics-ordering trick LightGBM uses — not as ordinal thresholds
  * over arbitrary lexicographic codes. */
class GbtCategoricalSpec extends SparkSpec {
  import spark.implicits._

  /** Categories 0 and 2 share a low target, category 1 is high — the
    * adversarial layout for lexicographic ordinal codes: no single
    * threshold on the code separates {0,2} from {1}. */
  private lazy val adversarial = {
    val rows = for (code <- 0 to 2; rep <- 1 to 50)
      yield (code.toLong, if (code == 1) 10.0 else 0.0)
    rows.toDF("c", "y").localCheckpoint(true)
  }

  private def depthOneMse(catArity: Map[String, Int]): Double = {
    val assembled = Gbt.assemble(adversarial, Seq("c"), catArity)
    val tree = new DecisionTreeRegressor()
      .setFeaturesCol("features").setLabelCol("y")
      .setMaxDepth(1).setMaxBins(Gbt.maxBinsFor(catArity)).setSeed(1L)
      .fit(assembled)
    tree.transform(assembled)
      .agg(avg(pow(col("prediction") - col("y"), 2))).head().getDouble(0)
  }

  test("nominal metadata lets a depth-1 tree separate a non-contiguous category set") {
    val mseCat = depthOneMse(Map("c" -> 4)) // 3 codes + the unseen slot
    val mseOrd = depthOneMse(Map.empty)
    assert(mseCat < 1e-9,
      s"categorical split must isolate {1} from {0,2} exactly: mse=$mseCat")
    assert(mseOrd > 1.0,
      s"ordinal treatment cannot separate a non-contiguous set at depth 1: " +
        s"mse=$mseOrd — if this is ~0 the metadata did nothing and the " +
        "comparison is vacuous")
  }

  test("arity above CatMaxArity stays ordinal (maxBins must not explode)") {
    assert(Gbt.maxBinsFor(Map("huge" -> 3050)) == 32,
      "an over-ceiling arity must not raise maxBins")
    assert(Gbt.maxBinsFor(Map("store" -> 11, "item" -> 120)) == 120)
    // assemble must not attach nominal metadata over the ceiling
    val big = (0 until 10).map(i => (i.toLong, i.toDouble)).toDF("c", "y")
    val assembled = Gbt.assemble(big, Seq("c"), Map("c" -> (Gbt.CatMaxArity + 1)))
    val ag = org.apache.spark.ml.attribute.AttributeGroup
      .fromStructField(assembled.schema("features"))
    val nominal = ag.attributes.toSeq.flatten.collect {
      case n: org.apache.spark.ml.attribute.NominalAttribute => n
    }
    assert(nominal.isEmpty, "over-ceiling column must stay numeric")
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
    val assembled = Gbt.assemble(df, Seq("c"), Map("c" -> 41))
      .withColumn("is_valid", col("is_valid"))
    val model = TweedieGbt.fit(assembled, "features", "y", "is_valid",
      TweedieGbt.Params(maxIter = 3, maxDepth = 4, variancePower = 1.3))
    assert(model.histBins.isCat(0) && model.histBins.numBins(0) == 41,
      s"bins: isCat ${model.histBins.isCat.toSeq}, numBins ${model.histBins.numBins.toSeq}")
    assert(model.stages.size == 3)
  }
}
