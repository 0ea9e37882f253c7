package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.YamlConfig
import graft.dag.TaskRunner
import graft.dag.TaskRunner.Task
import graft.m5.{M5Pipeline, M5Schemas}
import graft.operators.Forecast

/** `m5_forecast`: the full M5Pipeline DAG, cold (empty output dir), at
  * DAG parallelism = cores, with the Tweedie/histogram objective of
  * conf/m5/full.yaml. One operation is one DAG run; each task is an
  * attempted unit for failure accounting. */
object M5Forecast {
  import Main.{median, mean, rmrf, seconds}

  /** Task-name prefix → the per-layer metric its time adds to. */
  private val Kinds = Seq(
    "IngestSales" -> "m5.ingest_s", "ProcessInputFiles" -> "m5.base_features_s",
    "SalesTimeSeriesFeatures" -> "m5.ts_features_s",
    "PrepareTrainData" -> "m5.prepare_s", "PrepareTestData" -> "m5.prepare_s",
    "TrainModel" -> "ml.train_s", "RunPredictionStoreWeek" -> "ml.predict_s",
    "RunPredictionAll" -> "m5.gather_s", "RunSubmission" -> "m5.submission_s")

  /** Boosting rounds of full.yaml's Tweedie model, cut so one cold DAG
    * fits a run. */
  private val Rounds = 2

  private final case class DagRun(id: String, wall: Double, start: Long,
      times: Map[String, (Long, Long)], deps: Map[String, Seq[String]])

  def run(spark: SparkSession, rec: Recorder, a: Args, o: Outcome): Unit = {
    val meta = new ObjectMapper().readTree(Paths.get(a.in, "meta.json").toFile)
    val stores = meta.get("stores").elements().asScala.map(_.asText).toSeq
    val series = meta.get("series").asInt
    val horizonStart = LocalDate.parse(meta.get("test_end_date").asText).plusDays(1)

    def config(outDir: String): YamlConfig = YamlConfig.fromMap(Map(
      "input_dir" -> a.in, "output_dir" -> outDir,
      "target_col" -> "units_sold", "pred_target_col" -> "pred_units_sold",
      "pred_date_col" -> "pred_date",
      "train_start_date" -> meta.get("train_start_date").asText,
      "train_end_date" -> meta.get("train_end_date").asText,
      "test_start_date" -> meta.get("test_start_date").asText,
      "test_end_date" -> meta.get("test_end_date").asText,
      "valid_num_days" -> 28,
      "store_list" -> new java.util.ArrayList[String](stores.asJava),
      "pred_week_list" -> java.util.List.of[Integer](1, 2, 3, 4),
      // full.yaml's objective (Tweedie, histogram trees); fewer rounds and
      // leaves, at a higher learning rate, so one cold DAG fits a run
      "lgb_params" -> java.util.Map.of[String, Any](
        "objective", "tweedie", "n_estimators", Rounds,
        "learning_rate", 0.5, "subsample", 0.8, "colsample_bytree", 0.8,
        "max_depth", 8, "num_leaves", 4, "min_child_weight", 300,
        "early_stopping_rounds", 10),
      "cleanup_intermediates" -> "true"))

    // ── scoring inputs (the generator's held-out truth) ────────────
    val csv = (f: String, schema: String) =>
      spark.read.option("header", "true").schema(schema).csv(s"${a.in}/$f")
    val history = csv("history.csv", "id string, date date, units_sold int")
    val truth = csv("truth.csv", "id string, date date, units_sold int")
    def wrmsse(forecasts: DataFrame): Double =
      Forecast.wrmsseTotal(Forecast.wrmsse(history, truth, forecasts, "id", "date",
        "units_sold", "pred", horizon = 28)).head().getDouble(0)
    val inputBytes = Seq("sales_train_evaluation.csv", "calendar.csv", "sell_prices.csv",
      "sample_submission.csv").map(f => Files.size(Paths.get(a.in, f))).sum.toDouble

    /** Run the DAG once: every task re-wrapped so its start/end, job
      * group and span are recorded around the original body. */
    def dag(outDir: String, runId: String, group: String): (Boolean, DagRun) = {
      rmrf(outDir)
      val cfg = config(outDir)
      val root = new M5Pipeline(spark, cfg).runSubmission()
      val times = new ConcurrentHashMap[String, (Long, Long)]()
      val deps = mutable.Map.empty[String, Seq[String]]
      val attempts = new AtomicInteger(0)
      val failedTask = new AtomicReference[String](null)
      val wrapped = mutable.Map.empty[String, Task]
      var dagSpan = 0L
      def wrap(t: Task): Task = wrapped.get(t.name) match {
        case Some(w) => w
        case None =>
          val ds = t.deps.map(wrap)
          deps(t.name) = t.deps.map(_.name)
          val w = if (t.external) t.copy(deps = ds) else t.copy(deps = ds, body = () =>
            rec.inGroup(s"$group:${t.name}") {
              rec.span(t.name, runId, dagSpan) { _ =>
                attempts.incrementAndGet()
                val t0 = System.nanoTime()
                try t.body()
                catch { case e: Throwable => failedTask.compareAndSet(null, t.name); throw e }
                finally times.put(t.name, (t0, System.nanoTime()))
              }
            })
          wrapped(t.name) = w
          w
      }
      val top = wrap(root)
      val start = System.nanoTime()
      val ok = try {
        rec.span("m5.dag", runId) { id =>
          dagSpan = id
          cfg.dumpManifest(s"$outDir/params.yaml")
          TaskRunner.runParallel(Seq(top), a.cores)
        }
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $runId failed in ${failedTask.get}: $e")
          false
      }
      val wall = seconds(start)
      o.attempted += attempts.get
      Option(failedTask.get).foreach(n => o.failed += s"$runId:$n")
      (ok, DagRun(runId, wall, start, times.asScala.toMap, deps.toMap))
    }

    /** Untimed output checks of one DAG run; returns its WRMSSE. */
    def checkOutputs(outDir: String, runId: String): Option[Double] = {
      val preds = spark.read.parquet(s"$outDir/predictions.parquet")
      val perId = preds.groupBy("id").agg(countDistinct("pred_date").as("days"),
        sum(when(col("pred_units_sold").isNull || isnan(col("pred_units_sold")) ||
          col("pred_units_sold") < 0, 1).otherwise(0)).as("bad"))
      val covered = perId.filter(col("days") === 28 && col("bad") === 0).count()
      val sub = spark.read.option("header", "true").schema(M5Schemas.submission())
        .csv(s"$outDir/submission.csv").filter(col("id").endsWith("_evaluation"))
      val fcols = (1 to 28).map(i => col(s"F$i"))
      val subBad = sub.filter(fcols.map(c => c.isNull || isnan(c) || c < 0).reduce(_ || _)).count()
      val subRows = sub.count()
      val ok = o.check(s"$runId.submission",
        covered == series && subRows == series && subBad == 0,
        s"ids with 28 valid forecasts $covered/$series, submission rows $subRows, bad rows $subBad")
      if (!ok) None
      else {
        val fc = sub.select(col("id"), posexplode(array(fcols: _*)).as(Seq("pos", "pred")))
          .withColumn("date", date_add(lit(horizonStart.toString).cast("date"), col("pos")))
        Some(wrmsse(fc))
      }
    }

    // No warm-up: the pipeline is a batch job and each production run
    // starts a fresh JVM, so the first DAG in a new JVM is the cost a
    // user sees (a warm-up DAG would also cost as much as the run).

    // ── measured loop: cold DAG runs until the time budget is spent ─
    val runs = mutable.ArrayBuffer.empty[DagRun]
    val scores = mutable.ArrayBuffer.empty[Double]
    var tasksDone = 0
    var k = 0
    var spent = 0.0
    while (k == 0 || spent < a.seconds) {
      val runId = s"dag$k"
      val outDir = s"${a.work}/$runId"
      val (ok, r) = dag(outDir, runId, s"m5:$runId")
      spent += r.wall
      val score = if (ok) o.untimed(checkOutputs(outDir, runId)) else None
      score match {
        case Some(s) =>
          o.sample(runId, r.wall)
          scores += s
          runs += r
          tasksDone += r.times.size
        case None if ok => o.failed += s"$runId:RunSubmission"
        case None =>
      }
      o.probeHeap()
      rmrf(outDir)
      k += 1
    }
    o.items = tasksDone
    // the naive reference: each series' mean over its last 28 days
    val lastDay = history.agg(max("date")).head().getDate(0).toLocalDate
    val naive = history.filter(col("date") > lit(lastDay.minusDays(28).toString).cast("date"))
      .groupBy("id").agg(avg("units_sold").as("pred"))
      .withColumn("date", explode(sequence(lit(horizonStart.toString).cast("date"),
        lit(horizonStart.plusDays(27).toString).cast("date"))))
    val naiveScore = o.untimed(wrmsse(naive))
    val zeroScore = o.untimed(wrmsse(naive.withColumn("pred", lit(0.0))))
    val score = median(scores.toSeq)
    // The gate is the all-zero sample submission the pipeline fills in:
    // a pipeline that forecasts nothing, or garbage, fails the run. The
    // naive forecast is reported but not gated: with two rounds the
    // model scores from 0.86 to 1.31 times its WRMSSE, depending on the
    // seed, so a limit near it fails correct runs on chance.
    if (scores.nonEmpty)
      o.check("all.m5_wrmsse_vs_zero", score < zeroScore,
        f"WRMSSE $score%.4f vs $zeroScore%.4f for the all-zero sample submission")
    o.report ++= Seq("m5_dag_runs" -> runs.size, "m5_wrmsse" -> score,
      "m5_wrmsse_naive" -> naiveScore, "m5_wrmsse_zero" -> zeroScore,
      "m5_series" -> series,
      "m5_tasks_per_dag" -> (if (runs.isEmpty) 0 else runs.head.times.size))

    if (a.trace && runs.nonEmpty) {
      val perRun = runs.map { r =>
        val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        val dur = r.times.map { case (n, (s, e)) => n -> (e - s) / 1e9 }
        val cp = mutable.Map.empty[String, Double]
        def path(n: String): Double = cp.getOrElseUpdate(n,
          dur.getOrElse(n, 0.0) + r.deps.getOrElse(n, Nil).map(path).maxOption.getOrElse(0.0))
        r.times.foreach { case (n, (s, _)) =>
          val ready = r.deps.getOrElse(n, Nil).flatMap(r.times.get).map(_._2).maxOption.getOrElse(r.start)
          m("dag.ready_wait_s") += math.max(0L, s - ready) / 1e9
          Kinds.find { case (p, _) => n.startsWith(p) }.foreach { case (_, key) => m(key) += dur(n) }
        }
        m("dag.task_busy_s") = dur.values.sum
        m("dag.critical_path_s") = r.times.keys.map(path).max
        m("dag.utilization") = m("dag.task_busy_s") / (r.wall * a.cores)
        m.toMap
      }
      perRun.flatMap(_.keys).distinct.foreach(key => o.layers(key) = mean(perRun.map(_(key)).toSeq))
      val fits = runs.map(_.times.keys.count(_.startsWith("TrainModel"))).sum
      val spark0 = rec.sparkLayers("m5:", runs.size)
      val trainJobs = runs.flatMap(r => rec.groupsWithPrefix(s"m5:${r.id}:TrainModel")).map(_.jobs).sum
      o.layers("ml.jobs_per_fit") = trainJobs.toDouble / math.max(1, fits)
      o.layers("io.bytes_written_per_input_byte") =
        spark0("spark.output_mb") * 1024 * 1024 / inputBytes
      o.layers ++= spark0
    }
  }
}
