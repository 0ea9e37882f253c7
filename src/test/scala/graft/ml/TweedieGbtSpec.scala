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

  private val tweedie13 = TweedieGbt.Objective.Tweedie(1.3)

  test("fit reduces Tweedie deviance vs the intercept-only model") {
    val params = TweedieGbt.Params(maxIter = 30, stepSize = 0.2,
      maxDepth = 4, objective = tweedie13, earlyStoppingRounds = 30)
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
    // the same boosting loop under its two objectives
    val params = TweedieGbt.Params(maxIter = 30, stepSize = 0.2,
      maxDepth = 4, objective = tweedie13, earlyStoppingRounds = 30)
    val tweedie = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val squared = TweedieGbt.fit(demand, "features", "y", "is_valid",
      params.copy(objective = TweedieGbt.Objective.Squared))

    val valid = demand.filter(col("is_valid"))
    val devT = TweedieGbt.meanDeviance(
      tweedie.transform(valid, "mu"), "y", "mu", 1.3)
    // squared loss can predict ≤ 0 where the Tweedie deviance is
    // undefined — clamp, which only HELPS the squared-loss side
    val devS = TweedieGbt.meanDeviance(
      squared.transform(valid, "pred").withColumn("mu",
        greatest(col("pred"), lit(1e-6))).drop("pred"),
      "y", "mu", 1.3)
    assert(devT < devS,
      s"tweedie objective must win its own metric: tweedie=$devT squared=$devS")
  }

  test("eval-set early stopping truncates at the best validation round") {
    // aggressive step + deep trees overfit the small train split fast,
    // so validation deviance turns upward well before maxIter
    val params = TweedieGbt.Params(maxIter = 60, stepSize = 0.5,
      maxDepth = 8, objective = tweedie13, earlyStoppingRounds = 5,
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
      maxDepth = 3, objective = tweedie13)
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
      TweedieGbt.Params(maxIter = 2, maxDepth = 2, objective = tweedie13))
    val dir = java.nio.file.Files.createTempDirectory("graft-tweedie-load")
    model.save(dir.toString)
    val meta = dir.resolve("meta.json")
    java.nio.file.Files.writeString(meta,
      java.nio.file.Files.readString(meta).replace("}", ""","histogram":1}"""))
    val mu = (m: TweedieGbt.Model) =>
      m.transform(demand, "mu").select("mu").as[Double].collect().toSeq
    assert(mu(TweedieGbt.load(dir.toString)) == mu(model))

    // older layouts name no objective in meta.json: Spark ML stage dirs,
    // and histogram stages whose served leaf values sat in a
    // leaves_<i>.json beside unrefit L lines. Each is refused, naming
    // the dir
    def refused(): Unit = {
      assert(!TweedieGbt.isCurrentLayout(dir.toString))
      val e = intercept[IllegalArgumentException](TweedieGbt.load(dir.toString))
      assert(e.getMessage.contains(dir.toString), e.getMessage)
    }
    java.nio.file.Files.writeString(meta,
      """{"f0":-0.5,"stepSize":0.1,"variancePower":1.3,"histogram":true,"numTrees":2}""")
    java.nio.file.Files.createDirectory(dir.resolve("tree_1"))
    refused()
    java.nio.file.Files.delete(dir.resolve("tree_1"))
    java.nio.file.Files.writeString(dir.resolve("leaves_0.json"), "[[2.0,0.1],[3.0,-0.1]]")
    refused()
    // the removed squared-loss fitter saved Spark ML's layout: no meta.json
    java.nio.file.Files.delete(meta)
    refused()
  }

  test("determinism: same seed, same data -> identical models") {
    val params = TweedieGbt.Params(maxIter = 6, stepSize = 0.2,
      maxDepth = 3, objective = tweedie13, subsamplingRate = 0.8)
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
          objective = tweedie13, earlyStoppingRounds = 12, checkpointInterval = 5))
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

  test("saved stages are one hist_<i>.txt each, whose L lines are the served leaf values") {
    val model = TweedieGbt.fit(demand, "features", "y", "is_valid",
      TweedieGbt.Params(maxIter = 3, maxDepth = 2, objective = tweedie13,
        subsamplingRate = 0.8))
    val dir = java.nio.file.Files.createTempDirectory("graft-tweedie-files")
    model.save(dir.toString)
    val files = dir.toFile.list().toSeq.sorted
    assert(files == Seq("bins.txt", "hist_0.txt", "hist_1.txt", "hist_2.txt", "meta.json"),
      files.mkString(", "))
    val loaded = TweedieGbt.load(dir.toString)
    assert(loaded.stages.map(_.leafValue) == model.stages.map(_.leafValue))
    // the Newton refit over all train rows, not the tree's histogram
    // value over the sampled ones: recompute stage 0's γ by hand
    val tree = model.stages.head
    val f0 = model.f0
    val refit = demand.filter(!col("is_valid"))
      .withColumn("__bins", HistTree.binColumn(model.histBins, "features"))
      .withColumn("leaf", HistTree.leafColumn(tree, "__bins"))
      .withColumn("r", col("y") * exp(lit(-0.3 * f0)) - exp(lit(0.7 * f0)))
      .withColumn("h", lit(0.3) * col("y") * exp(lit(-0.3 * f0)) + lit(0.7) * exp(lit(0.7 * f0)))
      .groupBy("leaf").agg((sum("r") / (sum("h") + lit(1e-6))).as("g"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(refit.keySet == tree.leafValue.keySet)
    for ((leaf, g) <- refit)
      assert(math.abs(g - tree.leafValue(leaf)) <= 1e-12 * math.max(1.0, g.abs),
        s"leaf $leaf: refit $g, stored ${tree.leafValue(leaf)}")
  }

  test("squared loss: F0 is the train mean, a stump at step 1 reproduces the group means") {
    // group x = 0 has labels -3/-1 (mean -2, negative labels are fine
    // for squared loss), x = 1 has 4/6 (mean 5); the validation rows'
    // labels must not reach F0
    val rows = (0 until 80).map(i => ((i % 2).toDouble,
        if (i % 2 == 0) (if (i % 4 == 0) -3.0 else -1.0)
        else (if (i % 4 == 1) 4.0 else 6.0), false)) ++
      (0 until 4).map(i => ((i % 2).toDouble, 100.0, true))
    val df = TweedieGbt.assemble(rows.toDF("x", "y", "is_valid"), Seq("x"))
    val model = TweedieGbt.fit(df, "features", "y", "is_valid",
      TweedieGbt.Params(maxIter = 1, stepSize = 1.0, maxDepth = 1,
        minDataInLeaf = 1, objective = TweedieGbt.Objective.Squared))
    assert(model.f0 == 1.5, s"F0 = train mean (-2 + 5) / 2, got ${model.f0}")
    assert(model.stages.size == 1 && model.stages.head.splits.size == 1)
    val pred = model.transform(df.filter(!col("is_valid")), "pred")
      .groupBy("x").agg(min("pred"), max("pred"))
      .collect().map(r => r.getDouble(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for ((x, mean) <- Seq(0.0 -> -2.0, 1.0 -> 5.0)) {
      val (lo, hi) = pred(x)
      assert(lo == hi && math.abs(lo - mean) < 1e-6, s"x=$x: $lo..$hi vs $mean")
    }
    // the identity link and the objective survive save/load
    val dir = java.nio.file.Files.createTempDirectory("graft-squared").toString
    model.save(dir)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "meta.json"))
      .contains("\"objective\":\"regression\""))
    val loaded = TweedieGbt.load(dir)
    assert(loaded.objective == TweedieGbt.Objective.Squared)
    val a = model.transform(df, "p").select("p").as[Double].collect()
    val b = loaded.transform(df, "p").select("p").as[Double].collect()
    assert(a.sameElements(b), "loaded model must predict identically")
  }

  test("squared loss: early stopping truncates at the best validation-MSE round") {
    val params = TweedieGbt.Params(maxIter = 60, stepSize = 0.5,
      maxDepth = 8, earlyStoppingRounds = 5, minDataInLeaf = 1,
      objective = TweedieGbt.Objective.Squared)
    val model = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val bestRound = model.validDeviances.zipWithIndex.minBy(_._1)._2 + 1
    assert(model.stages.size == bestRound && bestRound < params.maxIter,
      s"kept ${model.stages.size} of ${model.validDeviances.size} rounds, best $bestRound")
    // the tracked metric is the validation MSE of the kept model
    val mse = model.transform(demand.filter(col("is_valid")), "pred")
      .agg(avg(pow(col("y") - col("pred"), 2))).head().getDouble(0)
    assert(math.abs(mse - model.validDeviances(bestRound - 1)) <= 1e-9 * mse,
      s"validation MSE $mse vs tracked ${model.validDeviances(bestRound - 1)}")
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
