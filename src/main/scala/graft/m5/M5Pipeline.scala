package graft.m5

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.YamlConfig
import graft.dag.TaskRunner
import graft.dag.TaskRunner.{external, FileTarget, ParquetTarget, Task}
import graft.io.Csv
import graft.ml.{LabelVocab, TweedieGbt}
import graft.operators.{Relational, TimeSeries}

/** The reference's whole capability, recomposed Spark-first from the
  * operator library: 10 Luigi tasks → a file-target DAG of lazy
  * DataFrame plans checkpointed as parquet.
  * Ref: pipeline.py:23-403.
  *
  * Scale design vs the reference:
  *  - the reference shards by store because pandas is single-machine
  *    RAM-bound (pipeline.py:35); here the per-store filter is a
  *    partition-prunable predicate on one shared scan, and the ONLY
  *    reason the per-(store, week) fan-out survives is per-partition
  *    model training (O36) — feature building would otherwise be one
  *    global plan;
  *  - intermediates are snappy parquet (columnar, schema-carrying,
  *    predicate-pushdown-able), not whole-frame pickles;
  *  - the melt is chunked (Relational.melt) so 1,941-day-wide inputs
  *    never build one giant Expand.
  */
final class M5Pipeline(spark: SparkSession, config: YamlConfig) {

  private val inputDir = config.getString("input_dir")
  private val outputDir = config.getString("output_dir")
  private val targetCol = config.getString("target_col")
  private val predTargetCol = config.getString("pred_target_col")
  private val predDateCol = config.getString("pred_date_col")
  private val stores = config.getStringList("store_list")
  private val weeks = config.getIntList("pred_week_list")
  private val cleanupIntermediates =
    config.contains("cleanup_intermediates") &&
      config.getString("cleanup_intermediates").toBoolean
  // read up front, so a bad lgb_params value fails before any task runs
  private val gbtParams = TweedieGbt.fromLgbParams(config.getMap("lgb_params"))

  private val DaysPerWeek = 7 // NUM_DAYS_1_WEEK, pipeline.py:20

  private def pq(name: String) = ParquetTarget(s"$outputDir/$name.parquet")

  // ── external inputs (O2) ─────────────────────────────────────────
  private val salesCsv = s"$inputDir/sales_train_evaluation.csv"
  private val calendarCsv = s"$inputDir/calendar.csv"
  private val pricesCsv = s"$inputDir/sell_prices.csv"
  private val submissionCsv = s"$inputDir/sample_submission.csv"

  private val salesIn = external("input:sales", FileTarget(salesCsv))
  private val calendarIn = external("input:calendar", FileTarget(calendarCsv))
  private val pricesIn = external("input:prices", FileTarget(pricesCsv))
  private val submissionIn = external("input:submission", FileTarget(submissionCsv))

  /** Day-column count from the CSV header (one driver-side line read —
    * the reference gets this implicitly from pandas inference). */
  private lazy val nDays: Int = {
    val header = Files.lines(Paths.get(salesCsv)).findFirst()
      .orElseThrow(() => new IllegalStateException(s"empty sales csv: $salesCsv"))
    header.split(",").count(_.matches("d_\\d+"))
  }

  // ── IngestSales: ONE CSV pass → store-partitioned parquet ────────
  /** The reference re-reads the whole sales CSV once per store
    * (pipeline.py:35) because pandas shards by store to fit RAM; on a
    * cluster that is 10 redundant full scans of the biggest input.
    * One ingest pass writes the wide table `partitionBy(store_id)`;
    * each per-store task then reads only its partition DIRECTORY —
    * file-level pruning (PartitionFilters), no sales byte outside the
    * store is ever opened. Also upgrades the source from one
    * non-splittable CSV to splittable columnar parquet. */
  def ingestSales(): Task = {
    val target = pq("sales_wide_by_store")
    Task("IngestSales", target, deps = Seq(salesIn),
      body = () =>
        Csv.source(spark, salesCsv, M5Schemas.sales(nDays))
          .write.mode("overwrite")
          .partitionBy("store_id")
          .parquet(target.path))
  }

  // ── ProcessInputFiles (pipeline.py:23-76) ────────────────────────
  def processInputFiles(store: String): Task = {
    val ingest = ingestSales()
    val target = pq(s"features_sales_base_store_$store")
    Task(s"ProcessInputFiles($store)", target,
      deps = Seq(ingest, calendarIn, pricesIn),
      body = () => {
        // partitionBy moved store_id to the tail on read — restore the
        // CSV column order so downstream schemas stay byte-identical
        val sales = spark.read.parquet(ingest.target.path)
          .filter(col("store_id") === store) // O7 — prunes to one partition dir
          .select(M5Schemas.sales(nDays).fieldNames.map(col): _*)
        val calendar = Csv.source(spark, calendarCsv, M5Schemas.calendar)
          .withColumn("date", to_date(col("date"))) // O15
        val prices = Csv.source(spark, pricesCsv, M5Schemas.prices)

        val dayCols = (1 to nDays).map(i => s"d_$i")
        val long = Relational.melt(sales, M5Schemas.salesIdCols, dayCols,
          "d", targetCol) // O16
        val out = long
          .join(broadcast(calendar), Seq("d"), "left") // O18 — calendar is ≤2k rows, static
          .withColumn("d", regexp_extract(col("d"), "(\\d+)", 1).cast("long")) // O17
          .join(prices, Seq("store_id", "item_id", "wm_yr_wk"), "left") // O19 — large-large, AQE picks
          .filter(col("sell_price").isNotNull) // O9
        out.write.mode("overwrite").parquet(target.path)
      })
  }

  // ── SalesTimeSeriesFeatures (pipeline.py:79-128) ─────────────────
  def salesTimeSeriesFeatures(store: String): Task = {
    val base = processInputFiles(store)
    val target = pq(s"features_sales_ts_store_$store")
    Task(s"SalesTimeSeriesFeatures($store)", target, deps = Seq(base),
      body = () => {
        val lagDays = Seq(1, 2, 7, 14, 28)
        val rollDays = Seq(7, 14, 28)
        val sales = spark.read.parquet(base.target.path)
          .drop("event_name_1", "event_type_1", "event_name_2", "event_type_2",
            "snap_CA", "snap_TX", "snap_WI") // O11
        val fe = TimeSeries.timeFeatures(sales, "date") // O31/O32
        // pandas shift/rolling follow melt row order = day ascending per id
        val lagged = TimeSeries.groupedLag(fe, Seq(col("id")), Seq(col("d")),
          targetCol, lagDays) // O28
        val rolled = TimeSeries.rollingMeanMinPeriods(lagged, Seq(col("id")),
          Seq(col("d")), targetCol, rollDays) // O30
        // reference feature names: units_sold_lag_k / units_sold_roll_mean_w
        val renamed0 = lagDays.foldLeft(rolled)((df, k) =>
          df.withColumnRenamed(s"lag_${targetCol}_$k", s"${targetCol}_lag_$k"))
        val renamed = rollDays.foldLeft(renamed0)((df, w) =>
          df.withColumnRenamed(s"rmean_${targetCol}_$w", s"${targetCol}_roll_mean_$w"))
        renamed.write.mode("overwrite").parquet(target.path)
      })
  }

  // ── PrepareTrainData / PrepareTestData (pipeline.py:131-228) ─────
  private def prepareData(
      store: String, week: Int, train: Boolean): Task = {
    val base = processInputFiles(store)
    val ts = salesTimeSeriesFeatures(store)
    val kind = if (train) "train" else "test"
    val (startKey, endKey) =
      if (train) ("train_start_date", "train_end_date")
      else ("test_start_date", "test_end_date")
    val target = pq(s"${kind}_store_${store}_week_$week")
    Task(s"Prepare${kind.capitalize}Data($store, $week)", target,
      deps = Seq(base, ts),
      body = () => {
        val start = config.getString(startKey)
        val end = config.getString(endKey)
        val sales = spark.read.parquet(base.target.path)
          .filter(col("date") >= lit(start) && col("date") <= lit(end)) // O8
        val feats = spark.read.parquet(ts.target.path)
          .filter(col("date") >= lit(start) && col("date") <= lit(end))
        // O12 — id/date + (feature cols − base cols) only
        val featProj = Relational.projectExcept(feats, Seq("id", "date"),
          exclude = sales.columns.toSet)
        val joined = sales.join(featProj, Seq("id", "date"), "left") // O20
        val out =
          if (!train) joined
          else {
            val shift = week * DaysPerWeek
            val led = TimeSeries.groupedLead(
              TimeSeries.groupedLead(joined, Seq(col("id")), Seq(col("d")), targetCol, Seq(shift)),
              Seq(col("id")), Seq(col("d")), "date", Seq(shift)) // O29 ×2, one Window op
            led
              .withColumnRenamed(s"lead_${targetCol}_$shift", predTargetCol)
              .withColumnRenamed(s"lead_date_$shift", predDateCol)
              .filter(col(predDateCol).isNotNull) // O9 — horizon tail
          }
        out.write.mode("overwrite").parquet(target.path)
      })
  }

  def prepareTrainData(store: String, week: Int): Task = prepareData(store, week, train = true)
  def prepareTestData(store: String, week: Int): Task = prepareData(store, week, train = false)

  // ── TrainModel (pipeline.py:231-269) ─────────────────────────────
  private def modelDir(store: String, week: Int) = s"$outputDir/model_store_${store}_week_$week"

  /** TrainModel's target: the vocabulary file, written LAST by an atomic
    * move, beside a model in [[TweedieGbt]]'s current layout. A dir
    * committed by an older layout (the per-column `encoders/`, a Spark
    * ML `model/`, a `leaves_<i>.json` per stage) reads as absent, so it
    * retrains instead of failing or serving stale leaf values. */
  private final class ModelTarget(dir: String) extends TaskRunner.Target {
    val path = s"$dir/vocab.json"
    def exists: Boolean =
      Files.exists(Paths.get(path)) && TweedieGbt.isCurrentLayout(s"$dir/model")
  }

  def trainModel(store: String, week: Int): Task = {
    val trainTask = prepareTrainData(store, week)
    val dir = modelDir(store, week)
    val target = new ModelTarget(dir)
    Task(s"TrainModel($store, $week)", target, deps = Seq(trainTask),
      body = () => {
        // a retrain starts from an empty dir: no file of an older
        // layout outlives it
        FileTarget(dir).delete()
        val sales = spark.read.parquet(trainTask.target.path)
        // validation split point: min of the last valid_num_days
        // distinct train dates (O23/O24, pipeline.py:245-246), picked on
        // the driver from one collect of the distinct dates (at most the
        // calendar's ~2k days). A null date counts toward the distinct
        // total but is never the split point
        val n = config.getInt("valid_num_days")
        val dates = sales.select("date").distinct().collect().map(_.getDate(0))
        val known = dates.filter(_ != null).sortBy(_.getTime)
        val validStart =
          if (known.isEmpty) null
          else if (dates.length <= n) known.head
          else known(known.length - n)

        val featureCols = sales.columns.toSeq
          .filterNot(Set(predTargetCol, predDateCol, "date")) // O11
        val stringCols = featureCols.filter(c =>
          sales.schema(c).dataType == org.apache.spark.sql.types.StringType)
        val vocab = LabelVocab.fit(sales, stringCols) // O13
        val encoded = vocab.encode(sales)
          .withColumn("__valid", col("date") >= lit(validStart)) // O10
        // the encoded columns become native categoricals (LightGBM parity)
        TweedieGbt.fit(TweedieGbt.assemble(encoded, featureCols, vocab.arity),
          "features", predTargetCol, "__valid", gbtParams)
          .save(s"$dir/model")
        Files.writeString(Paths.get(dir, "feature_cols.txt"), featureCols.mkString("\n"))
        vocab.save(target.path)
      })
  }

  // ── RunPredictionStoreWeek (pipeline.py:272-307) ─────────────────
  def runPredictionStoreWeek(store: String, week: Int): Task = {
    val model = trainModel(store, week)
    val test = prepareTestData(store, week)
    val trainTarget = pq(s"train_store_${store}_week_$week")
    val target = pq(s"pred_store_${store}_week_$week")
    Task(s"RunPredictionStoreWeek($store, $week)", target,
      deps = Seq(model, test),
      // reference deletes the consumed train pickle here (pipeline.py:297-304)
      cleanup = if (cleanupIntermediates) Seq(trainTarget) else Nil,
      body = () => {
        val dir = modelDir(store, week)
        val featureCols = Files.readAllLines(Paths.get(dir, "feature_cols.txt"))
          .toArray(Array.empty[String]).toSeq
        val xTest = spark.read.parquet(test.target.path)
        val vocab = LabelVocab.load(model.target.path)
        // the id FEATURE gets encoded in place; the output id must stay
        // the original string, so stash it before encoding
        val encoded = vocab.encode(xTest.withColumn("__orig_id", col("id")))
        // the same arity map the train task attached — assemble must
        // shift the same columns or codes would be off by one
        TweedieGbt.load(s"$dir/model")
          .transform(TweedieGbt.assemble(encoded, featureCols, vocab.arity),
            predTargetCol)
          .withColumn(predDateCol, date_add(col("date"), week * DaysPerWeek)) // O33
          .select(col("__orig_id").as("id"), col("date"), col(predDateCol), col(predTargetCol))
          .write.mode("overwrite").parquet(target.path)
      })
  }

  // ── RunPredictionAll (pipeline.py:330-355) ───────────────────────
  def runPredictionAll(): Task = {
    val predTasks = for (s <- stores; w <- weeks) yield runPredictionStoreWeek(s, w)
    val featureTargets = stores.flatMap(s => Seq(
      pq(s"features_sales_base_store_$s"), pq(s"features_sales_ts_store_$s"))) :+
      pq("sales_wide_by_store") // the ingest checkpoint is consumed too
    val target = pq("predictions")
    Task("RunPredictionAll", target, deps = predTasks,
      // reference's RunPredictionStore wrapper deletes the consumed
      // per-store feature pickles (pipeline.py:319-327)
      cleanup = if (cleanupIntermediates) featureTargets else Nil,
      body = () => {
        val all = predTasks.map(t => spark.read.parquet(t.target.path))
          .reduce(_ unionByName _) // O21
        all.orderBy(col("id"), col(predDateCol)) // O22
          .write.mode("overwrite").parquet(target.path)
      })
  }

  // ── RunSubmission (pipeline.py:358-382) ──────────────────────────
  def runSubmission(): Task = {
    val predsAll = runPredictionAll()
    val target = FileTarget(s"$outputDir/submission.csv")
    Task("RunSubmission", target, deps = Seq(predsAll, submissionIn),
      body = () => {
        val preds = spark.read.parquet(predsAll.target.path)
        val mn = preds.agg(min(col(predDateCol)).as("__mn"))
        val dayIds = preds.crossJoin(broadcast(mn)) // O27
          .withColumn("pred_num_day",
            (datediff(col(predDateCol), col("__mn")) + 1).cast("long")) // O34
          .withColumn("pred_day_id",
            concat(lit("F"), col("pred_num_day").cast("string"))) // O35
        val fCols = (1 to 28).map(i => s"F$i")
        val pivoted = Relational.pivotWide( // O25 — pivot_table default agg = mean
          dayIds.select(col("id"), col(predTargetCol), col("pred_day_id")),
          "id", "pred_day_id", fCols, avg(col(predTargetCol)))
        val submission = Csv.source(spark, submissionCsv, M5Schemas.submission())
        val updated = Relational.keyedUpdate(submission, pivoted, "id") // O26
        Csv.sinkSingleFile(updated.orderBy("id"), target.path) // O5
      })
  }

  /** Build + run the full DAG (memoized by existing targets).
    * `parallelism` > 1 executes independent tasks — the per-(store,
    * week) fan-out — concurrently (O36). */
  def run(log: String => Unit = println, parallelism: Int = 1): TaskRunner.RunReport = {
    config.dumpManifest(s"$outputDir/params.yaml") // O6
    if (parallelism > 1) TaskRunner.runParallel(Seq(runSubmission()), parallelism, log)
    else TaskRunner.run(Seq(runSubmission()), log)
  }
}
