package graft.ml

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, ScalaUDF, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ShortType, UserDefinedType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.functions.expressions.{HistBins, HistLeaf}

/** Tree routing runs as two codegen'd expressions: `HistBins` bins a
  * raw vector once with the fit-time dictionary, `HistLeaf` walks one
  * tree over those bins. Pinned here: both expressions, interpreted and
  * generated, equal the Scala methods they call; the binned route
  * equals the raw-threshold walk `leafOfVector` (its executable spec);
  * and no Scala UDF is left in the fit's or the model's plans. */
class HistRoutingSpec extends SparkSpec {
  import spark.implicits._

  private val vectorType =
    SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[Vector]]
  private val binsType = ArrayType(ShortType, containsNull = false)

  // f0 numeric (3 edges), f1 identity categorical (5 codes),
  // f2 numeric with no edges, f3 remapped categorical (codes 3 and 7
  // keep bins 1 and 2, every other valid code shares rest bin 3)
  private val bins = HistTree.Bins(
    edges = Array(Array(1.0, 2.5, 4.0), Array.empty, Array.empty, Array.empty),
    isCat = Array(false, true, false, true),
    numBins = Array(5, 5, 2, 4),
    catMaps = Array(null, null, null, Map(3 -> 1, 7 -> 2)))

  private val numericValues = Seq(Double.NaN, Double.NegativeInfinity,
    -1.0, 0.0, -0.0, 1.0, 1.5, 2.5, 3.0, 4.0, 4.0001, 9.0,
    Double.PositiveInfinity)
  private val codes = Seq(Double.NaN, -7.0, -1.0, 0.0, 1.0, 2.0, 3.0, 4.0,
    5.0, 6.0, 40.0, 2.7)

  /** A random tree over `bins`; `features` lists the features it may
    * split on (a numeric one needs an edge). Node ids follow HistTree's
    * layout (children 2n, 2n+1). */
  private def randomTree(rng: scala.util.Random, features: Seq[Int]): HistTree.Tree = {
    val splitOn = features.filter(f => bins.isCat(f) || bins.numBins(f) >= 3)
    val splits = scala.collection.mutable.Map.empty[Int, HistTree.Split]
    val leaves = scala.collection.mutable.Map.empty[Int, Double]
    def grow(node: Int, depth: Int): Unit =
      if (depth == 4 || (depth > 0 && rng.nextInt(4) == 0)) leaves(node) = rng.nextGaussian()
      else {
        val f = splitOn(rng.nextInt(splitOn.size))
        val nb = bins.numBins(f)
        splits(node) =
          if (bins.isCat(f)) {
            val left = (0 until nb).filter(_ => rng.nextBoolean()).toArray
            HistTree.Split(f, -1, Double.NaN, isCat = true, left,
              defaultLeft = left.contains(0), gain = 1.0, maxBin = nb)
          } else {
            val sb = 1 + rng.nextInt(nb - 2)
            HistTree.Split(f, sb, bins.edges(f)(sb - 1), isCat = false,
              Array.empty, defaultLeft = rng.nextBoolean(), gain = 1.0, maxBin = nb)
          }
        grow(2 * node, depth + 1)
        grow(2 * node + 1, depth + 1)
      }
    grow(1, 0)
    HistTree.Tree(splits.toMap, leaves.toMap)
  }

  private def sweep(rng: scala.util.Random): Seq[Vector] =
    (0 until 400).map { _ =>
      def pick(xs: Seq[Double]) = xs(rng.nextInt(xs.size))
      val v = Vectors.dense(pick(numericValues), pick(codes),
        pick(numericValues), pick(codes))
      // VectorAssembler compresses rows, so both layouts reach routing
      if (rng.nextBoolean()) v.toSparse else v
    }

  private def interpreted(e: Expression, in: Any): Any = e.eval(InternalRow(in))

  private def generated(e: Expression, in: Any): InternalRow =
    GenerateUnsafeProjection.generate(Seq(e), false).apply(InternalRow(in))

  private def shorts(a: Any): Seq[Short] = a.asInstanceOf[ArrayData].toShortArray().toSeq

  test("HistBins and HistLeaf equal binRow and leafOfBins, interpreted and codegen'd") {
    val rng = new scala.util.Random(11)
    val binsExpr = HistBins(BoundReference(0, vectorType, nullable = true), bins)
    assert(binsExpr.dataType == binsType)
    val binsProj = GenerateUnsafeProjection.generate(Seq(binsExpr), false)
    val trees = Seq.fill(6)(randomTree(rng, features = 0 until 4))
    val leafExprs = trees.map(t => HistLeaf(BoundReference(0, binsType, nullable = true), t))
    val leafProjs = leafExprs.map(e => GenerateUnsafeProjection.generate(Seq(e), false))
    for (v <- sweep(rng)) {
      val expect = bins.binRow(v).toSeq
      val row = vectorType.serialize(v)
      assert(shorts(interpreted(binsExpr, row)) == expect, s"eval bins of $v")
      assert(shorts(binsProj(InternalRow(row)).getArray(0)) == expect, s"codegen bins of $v")
      val b = UnsafeArrayData.fromPrimitiveArray(expect.toArray)
      for (((t, e), proj) <- trees.zip(leafExprs).zip(leafProjs)) {
        val leaf = t.leafOfBins(expect.toArray)
        assert(interpreted(e, b) == leaf, s"eval leaf of $v")
        assert(proj(InternalRow(b)).getInt(0) == leaf, s"codegen leaf of $v")
      }
    }
    // null in, null out, on both paths
    assert(interpreted(binsExpr, null) == null)
    assert(generated(binsExpr, null).isNullAt(0))
    assert(interpreted(leafExprs.head, null) == null)
    assert(generated(leafExprs.head, null).isNullAt(0))
  }

  test("binned routing equals the raw-threshold walk over a seeded sweep") {
    val rng = new scala.util.Random(5)
    val vs = sweep(rng)
    // numeric and identity-coded features: leafOfVector reads the raw
    // vector, so the two walks must agree on every value
    for (t <- Seq.fill(20)(randomTree(rng, features = Seq(0, 1, 2))); v <- vs)
      assert(t.leafOfBins(bins.binRow(v)) == t.leafOfVector(v),
        s"routes differ at $v under $t")
    // the remapped feature splits in BIN space: the raw walk agrees
    // once that feature carries its bin instead of its code
    for (t <- Seq.fill(20)(randomTree(rng, features = 0 until 4)); v <- vs) {
      val a = v.toArray.clone() // a dense vector's toArray is its storage
      a(3) = bins.binOf(3, a(3))
      assert(t.leafOfBins(bins.binRow(v)) == t.leafOfVector(Vectors.dense(a)),
        s"routes differ at $v under $t")
    }
  }

  test("the fit's and the model's plans carry no ScalaUDF") {
    val rows = (0 until 300).map { i =>
      val x0 = if (i % 7 == 0) Double.NaN else (i % 10).toDouble
      val y = if (i % 10 >= 5) 3.0 + i % 2 else 0.2 * (i % 3)
      (Vectors.dense(x0, (i % 3).toDouble), y, i % 6 == 0)
    }.toDF("features", "y", "valid")
    def udfs(p: LogicalPlan): Seq[ScalaUDF] =
      p.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    def has[T <: Expression](p: LogicalPlan, c: Class[T]): Boolean =
      p.exists(_.expressions.exists(_.exists(c.isInstance)))

    val plans = new ConcurrentLinkedQueue[LogicalPlan]()
    val marker = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "__routing_marker")) marker.countDown()
        else plans.add(qe.analyzed)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val model =
      try {
        val m = TweedieGbt.fit(rows, "features", "y", "valid",
          TweedieGbt.Params(maxIter = 3, maxDepth = 2, minDataInLeaf = 2))
        // listener calls are asynchronous and in order: once the marker
        // query is seen, every query of the fit has been
        spark.range(1).select(lit(1).as("__routing_marker")).collect()
        assert(marker.await(60, TimeUnit.SECONDS), "marker query never reported")
        m
      } finally spark.listenerManager.unregister(listener)

    val fitPlans = plans.asScala.toSeq
    assert(fitPlans.exists(has(_, classOf[HistLeaf])), "no fit query routed a tree")
    fitPlans.foreach(p => assert(udfs(p).isEmpty, s"ScalaUDF in a fit plan:\n$p"))

    val scored = model.transform(rows, "mu")
    val plan = scored.queryExecution.analyzed
    assert(udfs(plan).isEmpty, s"ScalaUDF in the model's plan:\n$plan")
    assert(has(plan, classOf[HistBins]) && has(plan, classOf[HistLeaf]))
    assert(scored.columns.toSeq == rows.columns.toSeq :+ "mu")
  }
}
