package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run measured, written as `result.json` for
  * perfbench/run.py, which adds input generation, runs the DuckDB
  * checks and prints the metrics.
  *
  * `samples` holds the primary latency of every operation that
  * succeeded; a failed operation records no time and is listed by name
  * in `failed`. `tailOnly` names the samples left out of the median
  * (compaction batches). */
final class Outcome {
  var stateS = 0.0
  var warmupS = 0.0
  var checksS = 0.0 // untimed output checks
  val samples = mutable.ArrayBuffer.empty[Double]
  val sampleNames = mutable.ArrayBuffer.empty[String]
  val tailOnly = mutable.ArrayBuffer.empty[String]
  var items = 0.0 // work completed by the timed operations
  var attempted = 0
  val failed = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val report = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var heapPeakMb = 0.0

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += ((name, ok, detail)); ok
  }
  def sample(name: String, s: Double): Unit = { samples += s; sampleNames += name }
  def probeHeap(): Unit = heapPeakMb = math.max(heapPeakMb, Recorder.liveHeapMb())
  def untimed[T](body: => T): T = {
    val (r, s) = Main.timed(body)
    checksS += s
    r
  }
}

final case class Args(workload: String, in: String, work: String, out: String,
    seconds: Double, trace: Boolean, cores: Int, seed: Long)

object Main {
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }

  def main(argv: Array[String]): Unit = {
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("in"), kv("work"), kv("out"), kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("seed").toLong)

    val (spark, sessionS) = timed {
      SparkSession.builder().master(s"local[${a.cores}]")
        .appName(s"perfbench-${a.workload}")
        .config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        .config("spark.checkpoint.dir", s"${a.work}/checkpoints")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${a.work}/checkpoints")
    val rec = new Recorder(spark.sparkContext, a.trace)
    val o = new Outcome
    try {
      a.workload match {
        case "m5_forecast" => M5Forecast.run(spark, rec, a, o)
        case "analytics_mix" => AnalyticsMix.run(spark, rec, a, o)
        case "curation_stream" => CurationStream.run(spark, rec, a, o)
        case w => sys.error(s"unknown workload $w")
      }
      if (a.trace) {
        o.layers ++= rec.cacheLayers
        rec.writeSpans(s"${a.out}/spans.jsonl")
        o.report("self_s") = rec.selfSeconds.toSeq.sortBy(-_._2).toMap
      }
    } finally {
      val json = Json.render(mutable.LinkedHashMap[String, Any](
        "workload" -> a.workload, "boot_s" -> bootS, "session_s" -> sessionS,
        "state_s" -> o.stateS, "warmup_s" -> o.warmupS, "checks_s" -> o.checksS,
        "samples" -> o.samples, "sample_names" -> o.sampleNames, "tail_only" -> o.tailOnly, "items" -> o.items,
        "attempted" -> o.attempted, "failed" -> o.failed,
        "checks" -> o.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
        "report" -> o.report, "layers" -> o.layers,
        "live_heap_peak_mb" -> o.heapPeakMb))
      Files.writeString(Paths.get(s"${a.out}/result.json"), json)
      spark.stop()
    }
  }

  /** Recursively delete a directory tree, if present. */
  def rmrf(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Part files directly under a parquet dir (0 when it is absent). */
  def parquetFiles(dir: String): Int = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) 0
    else Files.list(p).filter(_.getFileName.toString.endsWith(".parquet")).count().toInt
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
  }
}
