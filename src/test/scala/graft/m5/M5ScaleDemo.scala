package graft.m5

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.config.YamlConfig

/** Medium-scale M5 pipeline stress (test scope):
  * `sbt "Test/runMain graft.m5.M5ScaleDemo [stores items days]"` —
  * defaults 4×250×400 (400k long rows/store fan-in, 8 model tasks).
  * Verifies the DAG + operators hold beyond the toy golden fixture and
  * prints per-run wall time. */
object M5ScaleDemo {
  def main(args: Array[String]): Unit = {
    val storesN = if (args.length > 0) args(0).toInt else 4
    val itemsN = if (args.length > 1) args(1).toInt else 250
    val days = if (args.length > 2) args(2).toInt else 400
    val parallelism = if (args.length > 3) args(3).toInt else 4
    // weeks=4 + stores=10 reproduces the reference's full-width grid
    // (full.yaml store_list × pred_week_list = 40 models)
    val weeksN = if (args.length > 4) args(4).toInt else 2
    // arg 6 = "tweedie" fits the Tweedie objective (8 rounds + early
    // stopping) instead of 2 rounds of squared loss — the full.yaml
    // objective at demo width
    val tweedie = args.length > 5 && args(5) == "tweedie"

    // args 7/8 = explicit in/out dirs: reuse a previous run's fixture
    // and checkpoints (the DAG memoizes on existing targets), so a
    // failed tail task can be re-driven without repaying the fixture
    // write and the finished stages
    val in = if (args.length > 6) args(6)
      else Files.createTempDirectory("m5scale_in").toString
    val out = if (args.length > 7) args(7)
      else Files.createTempDirectory("m5scale_out").toString
    if (!Files.exists(Paths.get(s"$in/sales_train_evaluation.csv")))
      MiniM5Fixture.writeSized(in, storesN, itemsN, days)

    val start = LocalDate.of(2016, 1, 1)
    val testStart = start.plusDays(days - 7)
    val cfg = YamlConfig.fromMap(Map(
      "input_dir" -> in, "output_dir" -> out,
      "target_col" -> "units_sold",
      "pred_target_col" -> "pred_units_sold",
      "pred_date_col" -> "pred_date",
      "train_start_date" -> start.toString,
      "train_end_date" -> testStart.minusDays(1).toString,
      "test_start_date" -> testStart.toString,
      "test_end_date" -> start.plusDays(days - 1).toString,
      "valid_num_days" -> 20,
      "store_list" -> {
        val l = new java.util.ArrayList[String]()
        (0 until storesN).foreach(i => l.add(s"ST_$i")); l
      },
      "pred_week_list" -> {
        val l = new java.util.ArrayList[Integer]()
        (1 to weeksN).foreach(w => l.add(w)); l
      },
      "lgb_params" -> (if (tweedie)
        java.util.Map.of(
          "n_estimators", 8, "learning_rate", 0.1, "max_depth", 6,
          "objective", "tweedie", "tweedie_variance_power", 1.1,
          "early_stopping_rounds", 8)
      else
        java.util.Map.of(
          "n_estimators", 2, "learning_rate", 0.1, "max_depth", 6)),
      "cleanup_intermediates" -> "true"))

    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Direct melt measurement at design width (SURVEY §7.5 #2): the
    // chunked unpivot over ALL day columns, counted — at reference
    // shape this is the ~59.2M-row melt from pipeline.py:46-47. Run
    // before the DAG (whose cleanup deletes the intermediates) so the
    // number is the raw unpivot, not a filtered descendant.
    val mt0 = System.nanoTime()
    val dayCols = (1 to days).map(i => s"d_$i")
    val meltRows = graft.operators.Relational.melt(
      graft.io.Csv.source(spark, s"$in/sales_train_evaluation.csv",
        M5Schemas.sales(days)),
      M5Schemas.salesIdCols, dayCols, "d", "units_sold").count()
    val meltSecs = (System.nanoTime() - mt0) / 1e9

    val t0 = System.nanoTime()
    val report = new M5Pipeline(spark, cfg).run(log = _ => (), parallelism = parallelism)
    val secs = (System.nanoTime() - t0) / 1e9
    val preds = spark.read.parquet(s"$out/predictions.parquet").count()
    val sub = scala.io.Source.fromFile(s"$out/submission.csv").getLines().size
    val heapMax = Runtime.getRuntime.maxMemory() / (1L << 20)
    println(f"[m5scale] stores=$storesN items=$itemsN days=$days " +
      f"weeks=$weeksN par=$parallelism " +
      f"ran=${report.ran.size} preds=$preds subRows=$sub wall=$secs%.1f s " +
      f"meltRows=$meltRows meltSecs=$meltSecs%.1f heapMaxMB=$heapMax")
    spark.stop()
  }
}
