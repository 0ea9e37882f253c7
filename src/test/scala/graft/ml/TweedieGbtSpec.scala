package graft.ml

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Tweedie gradient boosting (the reference's real M5 objective,
  * full.yaml:4). Golden-style: behavior pinned on a deterministic
  * intermittent-demand fixture under fixed seed — never oracle-hashed
  * (SURVEY §5.3). */
class TweedieGbtSpec extends SparkSpec {
  import spark.implicits._

  /** Intermittent-demand shape: mostly zeros, occasional positive
    * spikes whose intensity depends on the features — the data LightGBM's
    * tweedie objective exists for. Deterministic (seeded). */
  private lazy val demand = {
    val rng = new scala.util.Random(7)
    val rows = (1 to 3000).map { i =>
      val x1 = rng.nextDouble() * 10        // demand driver
      val x2 = rng.nextDouble()             // noise feature
      val rate = math.exp(0.3 * x1 - 2.0)   // log-linear intensity
      // compound-poisson-ish: zero with prob depending on rate, else
      // a positive amount around the rate
      val y = if (rng.nextDouble() < math.exp(-rate)) 0.0
              else rate * (0.5 + rng.nextDouble())
      (x1, x2, y, i % 5 == 0)               // every 5th row → validation
    }
    val df = rows.toDF("x1", "x2", "y", "is_valid")
    new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("x1", "x2")).setOutputCol("features")
      .transform(df)
      .localCheckpoint(true)
  }

  test("fit reduces Tweedie deviance vs the intercept-only model") {
    val params = TweedieGbt.Params(maxIter = 30, stepSize = 0.2,
      maxDepth = 4, variancePower = 1.3, earlyStoppingRounds = 30)
    val model = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val valid = demand.filter(col("is_valid"))

    val scored = model.transform(valid, "mu")
    val dev = TweedieGbt.meanDeviance(scored, "y", "mu", 1.3)
    val meanY = demand.filter(!col("is_valid")).agg(avg("y")).head().getDouble(0)
    val baseline = TweedieGbt.meanDeviance(
      valid.withColumn("mu0", lit(meanY)), "y", "mu0", 1.3)
    assert(dev < baseline * 0.9,
      s"boosting must beat the intercept: model=$dev intercept=$baseline")
    // log link: predictions strictly positive, as LightGBM's tweedie
    assert(scored.filter(col("mu") <= 0).isEmpty, "μ = exp(F) must be > 0")
  }

  test("beats squared-loss GBT on held-out Tweedie deviance") {
    val params = TweedieGbt.Params(maxIter = 30, stepSize = 0.2,
      maxDepth = 4, variancePower = 1.3, earlyStoppingRounds = 30)
    val tweedie = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val gbt = new org.apache.spark.ml.regression.GBTRegressor()
      .setFeaturesCol("features").setLabelCol("y")
      .setMaxIter(30).setStepSize(0.2).setMaxDepth(4).setSeed(42L)
      .fit(demand.filter(!col("is_valid")))

    val valid = demand.filter(col("is_valid"))
    val devT = TweedieGbt.meanDeviance(
      tweedie.transform(valid, "mu"), "y", "mu", 1.3)
    // squared-loss GBT can predict ≤ 0 where the Tweedie deviance is
    // undefined — clamp, which only HELPS the squared-loss side
    val devS = TweedieGbt.meanDeviance(
      gbt.transform(valid).withColumn("mu",
        greatest(col("prediction"), lit(1e-6))).drop("prediction"),
      "y", "mu", 1.3)
    assert(devT < devS,
      s"tweedie objective must win its own metric: tweedie=$devT squared=$devS")
  }

  test("eval-set early stopping truncates at the best validation round") {
    // aggressive step + deep trees overfit the small train split fast,
    // so validation deviance turns upward well before maxIter
    val params = TweedieGbt.Params(maxIter = 60, stepSize = 0.5,
      maxDepth = 8, variancePower = 1.3, earlyStoppingRounds = 5,
      // single-row leaves (Spark ML trees' minInstancesPerNode = 1),
      // the overfitting this case needs
      minDataInLeaf = 1)
    val model = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    assert(model.validDeviances.nonEmpty)
    val bestRound = model.validDeviances.zipWithIndex.minBy(_._1)._2 + 1
    assert(model.stages.size == bestRound,
      s"model must truncate at best validation round $bestRound, " +
        s"kept ${model.stages.size} of max ${params.maxIter}")
    assert(model.stages.size < params.maxIter,
      "early stopping must fire before maxIter on an overfitting run")
  }

  test("save/load round-trips to identical predictions") {
    val params = TweedieGbt.Params(maxIter = 8, stepSize = 0.2,
      maxDepth = 3, variancePower = 1.3)
    val model = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val dir = java.nio.file.Files.createTempDirectory("graft-tweedie").toString
    model.save(dir)
    val loaded = TweedieGbt.load(dir)
    assert(loaded.f0 == model.f0 && loaded.stages.size == model.stages.size)
    val a = model.transform(demand, "mu").select("mu").as[Double].collect()
    val b = loaded.transform(demand, "mu").select("mu").as[Double].collect()
    assert(a.sameElements(b), "loaded model must predict identically")
  }

  test("load reads a meta.json with the histogram flag and refuses Spark ML stage dirs") {
    val model = TweedieGbt.fit(demand, "features", "y", "is_valid",
      TweedieGbt.Params(maxIter = 2, maxDepth = 2, variancePower = 1.3))
    val dir = java.nio.file.Files.createTempDirectory("graft-tweedie-load")
    model.save(dir.toString)
    val meta = dir.resolve("meta.json")
    java.nio.file.Files.writeString(meta,
      java.nio.file.Files.readString(meta).replace("}", ""","histogram":1}"""))
    val mu = (m: TweedieGbt.Model) =>
      m.transform(demand, "mu").select("mu").as[Double].collect().toSeq
    assert(mu(TweedieGbt.load(dir.toString)) == mu(model))

    java.nio.file.Files.createDirectory(dir.resolve("tree_1"))
    val stage = intercept[IllegalArgumentException](TweedieGbt.load(dir.toString))
    assert(stage.getMessage.contains(dir.toString) && stage.getMessage.contains("tree_1"))
    java.nio.file.Files.delete(dir.resolve("tree_1"))
    java.nio.file.Files.delete(dir.resolve("bins.txt"))
    val noBins = intercept[IllegalArgumentException](TweedieGbt.load(dir.toString))
    assert(noBins.getMessage.contains(dir.toString) && noBins.getMessage.contains("bins.txt"))
  }

  test("determinism: same seed, same data -> identical models") {
    val params = TweedieGbt.Params(maxIter = 6, stepSize = 0.2,
      maxDepth = 3, variancePower = 1.3, subsamplingRate = 0.8)
    val m1 = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val m2 = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val a = m1.transform(demand, "mu").select("mu").as[Double].collect()
    val b = m2.transform(demand, "mu").select("mu").as[Double].collect()
    assert(a.sameElements(b), "fixed-seed fits must agree run to run")
  }

  test("each round's storage is released once and every cut by the end") {
    val sc = spark.sparkContext
    val data = demand // its own cut exists before the fit
    val before = sc.getPersistentRDDs.keySet
    val unpersisted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // strong references to every RDD persisted during the fit: the
    // ContextCleaner would otherwise unpersist a collected one a second
    // time, which the count below cannot tell from a double release
    val pinned = new java.util.concurrent.ConcurrentHashMap[Int, org.apache.spark.rdd.RDD[_]]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      private def pin(): Unit =
        sc.getPersistentRDDs.foreach { case (id, r) => pinned.putIfAbsent(id, r) }
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        pin()
        if (Option(js.properties).exists(
            _.getProperty("spark.jobGroup.id") == "graft-release-marker"))
          marker.countDown()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = pin()
      override def onUnpersistRDD(
          u: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
        unpersisted.add(u.rddId): Unit
    }
    sc.addSparkListener(listener)
    try {
      val model = TweedieGbt.fit(data, "features", "y", "is_valid",
        TweedieGbt.Params(maxIter = 12, stepSize = 0.2, maxDepth = 3,
          variancePower = 1.3, earlyStoppingRounds = 12, checkpointInterval = 5))
      assert(model.validDeviances.size == 12, "the fit must run all 12 rounds")
      // listener events arrive in order: the marker job's start comes
      // after every unpersist of the fit
      sc.setJobGroup("graft-release-marker", "release marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)

    val ids = unpersisted.asScala.toSeq.filterNot(before)
    val twice = ids.groupBy(identity).collect { case (id, n) if n.size > 1 => id }
    assert(twice.isEmpty, s"RDDs unpersisted more than once: $twice in $ids")
    // the root cut and the cuts after rounds 5 and 10
    val cuts = pinned.asScala.collect {
      case (id, r) if !before(id) && r.isCheckpointed => id
    }.toSet
    assert(cuts.size == 3, s"expected 3 cuts, got $cuts")
    assert(cuts.subsetOf(ids.toSet), s"cuts $cuts not all released: $ids")
  }

  test("negative labels fail fast") {
    val bad = Seq((1.0, -1.0), (2.0, 3.0)).toDF("x1", "y")
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("x1")).setOutputCol("features").transform(bad)
      .withColumn("is_valid", lit(false))
    intercept[IllegalArgumentException] {
      TweedieGbt.fit(assembled, "features", "y", "is_valid",
        TweedieGbt.Params(maxIter = 2))
    }
  }
}
