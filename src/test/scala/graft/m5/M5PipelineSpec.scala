package graft.m5

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.YamlConfig

/** Golden pipeline test (SURVEY §5.2.4): the full M5 DAG on the
  * synthetic mini-M5, quick-config shaped. Asserts checkpoint schemas,
  * row counts, memoized reruns, and deterministic submission bytes
  * under the fixed seed.
  */
class M5PipelineSpec extends SparkSpec {

  private lazy val inputDir = {
    val d = Files.createTempDirectory("m5in").toString
    MiniM5Fixture.write(d)
    d
  }

  /** A pipeline over a fresh output dir; `lgbExtra` overrides keys of
    * the fixture's lgb_params. */
  private def freshPipeline(
      lgbExtra: Map[String, Object] = Map.empty): (M5Pipeline, String) = {
    val outDir = Files.createTempDirectory("m5out").toString
    val base = MiniM5Fixture.config(inputDir, outDir)
    val cfg =
      if (lgbExtra.isEmpty) base
      else {
        val lgb = new java.util.HashMap[String, Object](
          base("lgb_params").asInstanceOf[java.util.Map[String, Object]])
        lgbExtra.foreach { case (k, v) => lgb.put(k, v) }
        base.updated("lgb_params", lgb: Object)
      }
    (new M5Pipeline(spark, YamlConfig.fromMap(cfg)), outDir)
  }

  /** Two runs' outputs agree beyond the submission: every model dir's
    * vocab.json, meta.json, tree and bins files byte for byte, and the
    * predictions row for row. Parquet is compared by schema and rows,
    * not bytes: its footer lists encodings in JVM hash order. */
  private def assertSameModelsAndPredictions(out1: String, out2: String): Seq[String] = {
    val modelFile = """(vocab\.json|meta\.json|bins\.txt|hist_\d+\.txt)""".r
    def modelFiles(out: String): Seq[String] = {
      val root = Paths.get(out)
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(root.relativize(_).toString)
        .filter(rel => rel.startsWith("model_store_") &&
          modelFile.matches(Paths.get(rel).getFileName.toString))
        .toSeq.sorted
      finally walk.close()
    }
    val files = modelFiles(out1)
    assert(files == modelFiles(out2), "the runs wrote different model files")
    // 2 stores × 2 weeks, each committed by its vocab.json beside one
    // histogram model
    assert(files.count(_.endsWith("vocab.json")) == 4 &&
      files.count(_.endsWith("bins.txt")) == 4 &&
      files.exists(_.endsWith("hist_0.txt")), files.mkString(", "))
    for (rel <- files)
      assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(out1, rel)),
        Files.readAllBytes(Paths.get(out2, rel))), s"$rel must be byte-identical")
    val Seq(p1, p2) = Seq(out1, out2).map(o => spark.read.parquet(s"$o/predictions.parquet"))
    assert(p1.schema == p2.schema, "predictions schemas differ")
    val rows1 = p1.collect().map(_.toString).sorted.toSeq
    assert(rows1.nonEmpty && rows1 == p2.collect().map(_.toString).sorted.toSeq,
      "predictions rows must be identical")
    files
  }

  test("golden run: full DAG end-to-end, checkpoint schemas and row counts") {
    val (pipeline, outDir) = freshPipeline()
    val report = pipeline.run(log = _ => ())
    // ingest + 2 stores × (base + ts) + 2 stores × 2 weeks × (train,
    // test, model, pred) + predictions + submission = 1 + 4 + 16 + 2 = 23
    assert(report.ran.size == 23, report.ran.mkString(", "))
    assert(report.ran.count(_ == "IngestSales") == 1,
      "the sales CSV must be scanned exactly once, by IngestSales")

    // the per-store read prunes to one partition directory — the store
    // predicate must be a PartitionFilter over the ingested layout, so
    // no sales byte outside the store is opened (file-level, not row)
    {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val read = spark.read.parquet(s"$outDir/sales_wide_by_store.parquet")
        .filter(col("store_id") === "CA_1")
      val scan = (read.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collect { case s: FileSourceScanExec => s }.head
      assert(scan.partitionFilters.nonEmpty, "store_id must partition-prune")
      assert(scan.selectedPartitions.totalNumberOfFiles <
        scan.relation.location.inputFiles.length,
        "pruned scan must touch fewer files than the full layout")
    }

    // params.yaml manifest written (O6)
    assert(Files.exists(Paths.get(outDir, "params.yaml")))

    // ProcessInputFiles: items × days minus price-missing rows.
    // 60 days; items 0,1 missing first 3 weeks (21 days) → 39 days.
    val base = spark.read.parquet(s"$outDir/features_sales_base_store_CA_1.parquet")
    val expectBase = 2 * 39 + 4 * 60
    assert(base.count() == expectBase)
    assert(base.columns.contains("sell_price") && base.columns.contains("wm_yr_wk"))
    assert(base.schema("d").dataType.typeName == "long")
    assert(base.schema("date").dataType.typeName == "date")
    assert(base.filter(col("sell_price").isNull).count() == 0)

    // SalesTimeSeriesFeatures: same rows, event/snap dropped, features added
    val ts = spark.read.parquet(s"$outDir/features_sales_ts_store_CA_1.parquet")
    assert(ts.count() == expectBase)
    val tsCols = ts.columns.toSet
    assert(!tsCols.contains("event_name_1") && !tsCols.contains("snap_CA"))
    val expected = Seq("quarter", "week", "day", "dayofweek", "is_weekend") ++
      Seq(1, 2, 7, 14, 28).map(k => s"units_sold_lag_$k") ++
      Seq(7, 14, 28).map(w => s"units_sold_roll_mean_$w")
    expected.foreach(c => assert(tsCols.contains(c), s"missing ts feature $c"))

    // lag semantics inside the pipeline output: lag_1 at day d = units at
    // previous PRESENT day (price-filtered rows drop out first, exactly
    // like the reference which lags AFTER the notnull filter)
    val lagCheck = ts.filter(col("id") === MiniM5Fixture.saleId("item_2", "CA_1"))
      .orderBy("d").select("units_sold", "units_sold_lag_1").collect()
    assert(lagCheck.head.isNullAt(1))
    (1 until lagCheck.length).foreach { i =>
      assert(lagCheck(i).getInt(1) == lagCheck(i - 1).getInt(0))
    }

    // PrepareTrainData: train window 2016-01-01..2016-02-15 = 46 days;
    // lead(7) drops the last 7 present days per id
    val train = spark.read.parquet(s"$outDir/train_store_CA_1_week_1.parquet")
    assert(train.columns.contains("pred_units_sold") && train.columns.contains("pred_date"))
    val perId = train.groupBy("id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perId(MiniM5Fixture.saleId("item_2", "CA_1")) == 46 - 7)
    assert(perId(MiniM5Fixture.saleId("item_0", "CA_1")) == 46 - 21 - 7)

    // predictions: one row per (id, test day, week)
    val preds = spark.read.parquet(s"$outDir/predictions.parquet")
    assert(preds.count() == 2 * 6 * 7 * 2) // stores × items × test days × weeks
    assert(preds.columns.sorted.toSeq == Seq("date", "id", "pred_date", "pred_units_sold"))

    // submission: all sample ids present, F1..F28 filled only where
    // predictions exist (evaluation ids); validation ids untouched 0.0
    val sub = spark.read.option("header", "true").csv(s"$outDir/submission.csv")
    assert(sub.count() == 24) // 12 evaluation + 12 validation ids
    val f8 = sub.filter(col("id").endsWith("_validation"))
      .select("F8").distinct().collect().map(_.getString(0)).toSeq
    assert(f8 == Seq("0.0"), s"validation rows must stay 0.0, got $f8")
    // week-1 preds land on F8..F14 (pred day numbers 8..14 relative to
    // min pred_date = test_start + 7)
    val evalF8 = sub.filter(col("id") === MiniM5Fixture.saleId("item_2", "CA_1"))
      .select("F8").head().getString(0)
    assert(evalF8 != "0.0", "evaluation F8 must be updated by week-1 predictions")

    // score the week-1 forecasts with the competition's own metric:
    // pred_dates 02-23..02-29 are days 54-60 of the 60-day fixture, so
    // REAL held-out actuals exist. train = sales through the test
    // window end (02-22); the WRMSSE is pinned golden under the fixed
    // seed, and must beat the all-zeros forecast's 1.0-ish baseline on
    // this fixture (the model has to have learned SOMETHING).
    val sales = Seq("CA_1", "TX_1")
      .map(s => spark.read.parquet(s"$outDir/features_sales_base_store_$s.parquet"))
      .reduce(_ unionByName _)
      .select(col("id"), col("date"), col("units_sold"))
    val trainSales = sales.filter(col("date") <= "2016-02-22")
    val holdout = sales.filter(col("date") > "2016-02-22")
    val week1 = preds
      .filter(col("pred_date").between("2016-02-23", "2016-02-29"))
      .select(col("id"), col("pred_date").as("date"), col("pred_units_sold"))
    val per = graft.operators.Forecast.wrmsse(
      trainSales, holdout, week1,
      "id", "date", "units_sold", "pred_units_sold", horizon = 7)
    val tot = graft.operators.Forecast.wrmsseTotal(per).head()
    val zeros = week1.withColumn("pred_units_sold", lit(0.0))
    val zeroTot = graft.operators.Forecast.wrmsseTotal(
      graft.operators.Forecast.wrmsse(trainSales, holdout, zeros,
        "id", "date", "units_sold", "pred_units_sold", horizon = 7)).head()
    info(f"WRMSSE model=${tot.getDouble(0)}%.4f zeros=${zeroTot.getDouble(0)}%.4f over ${tot.getLong(1)} series")
    // item_5's units formula is constant per store ((i+2) ≡ 0 mod 7),
    // so 2 of the 12 series have zero naive scale and are excluded —
    // the metric's new-product rule exercised for real
    assert(tot.getLong(1) == 10L, s"10 of 12 series must score: $tot")
    // the fixture's formula is period-7, so the lag-7 feature predicts
    // it; two squared-loss rounds at learning rate 0.1 from the train
    // mean move only part of the way there (LightGBM's shrinkage, no
    // full-weight first tree), landing at a pinned 0.5565 (4 dp) while
    // all-zeros sits above 1: the metric discriminates and the model
    // beats the zero forecast
    assert(tot.getDouble(0) == 0.5565 && zeroTot.getDouble(0) > 1.0 &&
      tot.getDouble(0) < zeroTot.getDouble(0),
      s"model WRMSSE ${tot.getDouble(0)} vs zeros ${zeroTot.getDouble(0)}")
  }

  test("rerun is fully memoized; deleting one checkpoint reruns only its cone") {
    val (pipeline, outDir) = freshPipeline()
    pipeline.run(log = _ => ())
    val report2 = pipeline.run(log = _ => ())
    assert(report2.ran.isEmpty, s"second run must skip everything, ran: ${report2.ran}")

    // knock out one mid-DAG target → only its dependents rerun
    TaskRunnerLikeDelete.delete(s"$outDir/pred_store_CA_1_week_1.parquet")
    TaskRunnerLikeDelete.delete(s"$outDir/predictions.parquet")
    TaskRunnerLikeDelete.delete(s"$outDir/submission.csv")
    val report3 = pipeline.run(log = _ => ())
    assert(report3.ran.toSet ==
      Set("RunPredictionStoreWeek(CA_1, 1)", "RunPredictionAll", "RunSubmission"))

    // a model dir committed by the older per-column layout (_COMMITTED
    // marker + encoders/<col> parquet, no vocab.json) must retrain, not
    // reach prediction without a vocabulary
    val submission = Files.readAllBytes(Paths.get(outDir, "submission.csv"))
    val modelDir = Paths.get(outDir, "model_store_TX_1_week_2")
    TaskRunnerLikeDelete.delete(modelDir.resolve("vocab.json").toString)
    Files.writeString(modelDir.resolve("_COMMITTED"), "ok")
    spark.range(1).selectExpr("'x' AS id", "0L AS code")
      .write.parquet(modelDir.resolve("encoders/id").toString)
    Seq("pred_store_TX_1_week_2.parquet", "predictions.parquet", "submission.csv")
      .foreach(t => TaskRunnerLikeDelete.delete(s"$outDir/$t"))
    val report4 = pipeline.run(log = _ => ())
    assert(report4.ran.toSet == Set("TrainModel(TX_1, 2)",
      "RunPredictionStoreWeek(TX_1, 2)", "RunPredictionAll", "RunSubmission"))
    assert(Files.exists(modelDir.resolve("vocab.json")))
    assert(java.util.Arrays.equals(submission,
      Files.readAllBytes(Paths.get(outDir, "submission.csv"))),
      "the retrained model must reproduce the submission")
  }

  test("a model dir in an older model layout retrains and reproduces the submission") {
    val (pipeline, outDir) = freshPipeline()
    pipeline.run(log = _ => ())
    val submission = Files.readAllBytes(Paths.get(outDir, "submission.csv"))
    // the histogram layout whose served leaf values sat in a
    // leaves_<i>.json per stage: its meta.json names no objective
    val histDir = Paths.get(outDir, "model_store_CA_1_week_1", "model")
    Files.writeString(histDir.resolve("meta.json"),
      """{"f0":0.0,"stepSize":0.1,"variancePower":1.1,"numTrees":2}""")
    Files.writeString(histDir.resolve("leaves_0.json"), "[[2.0,0.5],[3.0,-0.5]]")
    // the removed squared-loss fitter's Spark ML layout
    val sparkDir = Paths.get(outDir, "model_store_TX_1_week_2", "model")
    TaskRunnerLikeDelete.delete(sparkDir.toString)
    Files.createDirectories(sparkDir.resolve("metadata"))
    Files.writeString(sparkDir.resolve("metadata").resolve("part-00000"),
      """{"class":"org.apache.spark.ml.regression.GBTRegressionModel"}""")
    Seq("pred_store_CA_1_week_1.parquet", "pred_store_TX_1_week_2.parquet",
      "predictions.parquet", "submission.csv")
      .foreach(t => TaskRunnerLikeDelete.delete(s"$outDir/$t"))
    val report = pipeline.run(log = _ => ())
    assert(report.ran.toSet == Set("TrainModel(CA_1, 1)", "TrainModel(TX_1, 2)",
      "RunPredictionStoreWeek(CA_1, 1)", "RunPredictionStoreWeek(TX_1, 2)",
      "RunPredictionAll", "RunSubmission"), report.ran.mkString(", "))
    // the retrain starts from an empty dir
    for (dir <- Seq(histDir, sparkDir)) {
      val left = dir.toFile.list().toSeq
      assert(!left.exists(f => f.startsWith("leaves_") || f == "metadata"),
        s"$dir kept an older layout's files: ${left.sorted.mkString(", ")}")
    }
    assert(java.util.Arrays.equals(submission,
      Files.readAllBytes(Paths.get(outDir, "submission.csv"))),
      "the retrained models must reproduce the submission")
  }

  test("submission bytes are deterministic across independent runs (fixed seed)") {
    val (p1, out1) = freshPipeline()
    val (p2, out2) = freshPipeline()
    p1.run(log = _ => ())
    p2.run(log = _ => ())
    val b1 = Files.readAllBytes(Paths.get(out1, "submission.csv"))
    val b2 = Files.readAllBytes(Paths.get(out2, "submission.csv"))
    assert(java.util.Arrays.equals(b1, b2), "submission.csv must be byte-identical")
    assertSameModelsAndPredictions(out1, out2)

    // the Tweedie path writes tree files; a leaf budget under the depth
    // cap exercises both of the grower's stopping rules
    val tweedie = Map[String, Object]("objective" -> "tweedie",
      "num_leaves" -> Int.box(8), "min_child_samples" -> Int.box(5))
    val (t1, tOut1) = freshPipeline(tweedie)
    val (t2, tOut2) = freshPipeline(tweedie)
    t1.run(log = _ => ())
    t2.run(log = _ => ())
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(tOut1, "submission.csv")),
      Files.readAllBytes(Paths.get(tOut2, "submission.csv"))),
      "tweedie submission.csv must be byte-identical")
    val files = assertSameModelsAndPredictions(tOut1, tOut2)
    assert(files.exists(_.endsWith("hist_1.txt")), files.mkString(", "))
  }
}

private object TaskRunnerLikeDelete {
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      if (Files.isDirectory(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => Files.delete(f))
      else Files.delete(p)
    }
  }
}
