package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.Incremental

/** `curation_stream`: sequential micro-batches through
  * Incremental.curateBatchFuzzy against a frozen reference. A replay
  * streams every batch into a fresh store and index (copied from the
  * one-time build), so each replay sees the same state growth; replays
  * repeat until the time budget is spent. One operation is one batch.
  * A batch that compacts counts toward the tail and the throughput but
  * not the median, so compaction cost shows in the tail. */
object CurationStream {
  import Main.{dirBytes, median, rmrf, seconds, timed}

  private val IdCol = "doc_id"
  private val TextCol = "text"
  /** Near-duplicate Jaccard threshold of the fuzzy probe. */
  private val Threshold = 0.5
  /** Compact a store or index dir once it holds more part files. */
  private val CompactAfterFiles = 8
  /** Accuracy a replay must reach to count as correct. */
  private val MinRecall = 0.75
  private val MaxFalseDrop = 0.01

  def run(spark: SparkSession, rec: Recorder, a: Args, o: Outcome): Unit = {
    val refDir = s"${a.in}/reference"
    val batchFiles = Files.list(Paths.get(a.in, "stream")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    val truth = spark.read.parquet(s"${a.in}/truth.parquet").cache()
    val kinds = truth.groupBy("kind").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val refDigest = s"${a.work}/refdig"
    val template = s"${a.work}/template"
    val meta = new ObjectMapper().readTree(Paths.get(a.in, "meta.json").toFile)
    val textBytes = meta.get("reference_text_bytes").asDouble + meta.get("stream_text_bytes").asDouble

    def curate(batch: DataFrame, dir: String): Unit =
      Incremental.curateBatchFuzzy(spark, batch, IdCol, TextCol, refDir,
        s"$dir/curated", s"$dir/index", Threshold, refDigestDir = refDigest,
        compactAfterFiles = CompactAfterFiles)

    def fresh(dir: String): Unit = {
      rmrf(dir)
      Files.createDirectories(Paths.get(dir))
      val src = Paths.get(template, "index")
      Files.walk(src).forEach { p =>
        val dst = Paths.get(dir, "index").resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
      }
    }

    def load(f: String): (DataFrame, Long) = {
      val df = spark.read.parquet(f).localCheckpoint()
      (df, df.count())
    }

    def files(dir: String): Int =
      Seq(s"$dir/curated", s"$dir/index/bands", s"$dir/index/sets")
        .map(Main.parquetFiles).sum

    /** Untimed end-of-replay checks against the generator's truth;
      * returns the replay's store, dedup and quality figures. */
    def checkReplay(dir: String, id: String): Map[String, Double] = {
      val store = spark.read.parquet(s"$dir/curated").select(col(IdCol)).cache()
      val counts = store.agg(count(lit(1)), countDistinct(col(IdCol))).head()
      val (storeRows, distinctRows) = (counts.getLong(0), counts.getLong(1))
      // stream docs kept in the store, by planted kind: one job
      val keptBy = truth.join(store.withColumn("kept", lit(true)), Seq(IdCol), "left")
        .groupBy(col("kind"), coalesce(col("kept"), lit(false)).as("kept")).count()
        .collect().map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2)).toMap
      def kept(kindPrefix: String, k: Boolean): Long =
        keptBy.collect { case ((kind, kk), n) if kind.startsWith(kindPrefix) && kk == k => n }.sum
      val exactKept = kept("exact", k = true)
      val admitted = kept("", k = true)
      o.check(s"$id.no_exact_dups", exactKept == 0, s"planted exact duplicates admitted: $exactKept")
      o.check(s"$id.store_rows", storeRows == admitted && distinctRows == storeRows,
        s"store rows $storeRows, admitted stream docs $admitted")
      val index = Dedup.NearDupIndex.read(spark, s"$dir/index")
      val reference = spark.read.parquet(refDir).select(col(IdCol))
      val unindexed = store.unionByName(reference)
        .join(index.sets.select(col("doc").as(IdCol)), Seq(IdCol), "left_anti").count()
      o.check(s"$id.index_covers_store", unindexed == 0, s"stored docs missing from index: $unindexed")
      val near = kinds.filter(_._1.startsWith("near")).values.sum.toDouble
      val freshN = kinds.getOrElse("fresh", 0L).toDouble
      val nearDropped = kept("near", k = false)
      val freshDropped = kept("fresh", k = false)
      val storeBytes = dirBytes(s"$dir/curated")
      val indexBytes = dirBytes(s"$dir/index")
      store.unpersist()
      Map(
        "quality.neardup_recall" -> nearDropped / math.max(1.0, near),
        "quality.false_drop_rate" -> freshDropped / math.max(1.0, freshN),
        "dedup.exact_dropped" -> (kinds.filter(_._1.startsWith("exact")).values.sum - exactKept).toDouble,
        "dedup.fuzzy_dropped" -> (nearDropped + freshDropped).toDouble,
        "dedup.admit_ratio" -> admitted / math.max(1.0, kinds.values.sum.toDouble),
        "streaming.store_files" -> Main.parquetFiles(s"$dir/curated").toDouble,
        "streaming.store_mb" -> storeBytes / (1024.0 * 1024.0),
        "streaming.index_mb" -> indexBytes / (1024.0 * 1024.0),
        "streaming.store_bytes_per_input_byte" ->
          (storeBytes + indexBytes + dirBytes(refDigest)) / textBytes)
    }

    // ── one-time state: reference digest sidecar + first index build ─
    o.stateS = timed {
      rmrf(template)
      curate(spark.read.parquet(batchFiles.head).where(lit(false)), template)
    }._2
    // ── warm-up: the first batch through a throwaway store ───────────
    o.warmupS = timed {
      fresh(s"${a.work}/warm")
      curate(load(batchFiles.head)._1, s"${a.work}/warm")
    }._2

    // ── measured replays ─────────────────────────────────────────────
    val compactS = mutable.ArrayBuffer.empty[Double]
    val replayStats = mutable.ArrayBuffer.empty[Map[String, Double]]
    var replays = 0
    var spent = 0.0
    var docs = 0L
    while (replays == 0 || spent < a.seconds) {
      val dir = s"${a.work}/replay$replays"
      fresh(dir)
      var compactions = 0
      batchFiles.zipWithIndex.foreach { case (f, b) =>
        val runId = s"r$replays:b$b"
        val (batch, rows) = load(f)
        val before = files(dir)
        o.attempted += 1
        val t0 = System.nanoTime()
        try {
          rec.inGroup(s"b:$runId") {
            rec.span("streaming.curateBatchFuzzy", runId)(_ => curate(batch, dir))
          }
          val s = seconds(t0)
          o.sample(runId, s)
          spent += s
          docs += rows
          // compaction rewrites a dir to fewer files than it held
          if (files(dir) < before) { compactions += 1; compactS += s; o.tailOnly += runId }
        } catch {
          case e: Exception =>
            spent += seconds(t0)
            o.failed += runId
            System.err.println(s"[perfbench] $runId failed: $e")
        }
      }
      replayStats += o.untimed(checkReplay(dir, s"r$replays")) + ("streaming.compactions" -> compactions)
      o.probeHeap()
      replays += 1
    }
    o.items = docs.toDouble

    val last = replayStats.last
    o.report ++= Seq("replays" -> replays, "batches_per_replay" -> batchFiles.size,
      "docs_per_replay" -> truth.count(), "planted" -> kinds,
      "neardup_recall" -> last("quality.neardup_recall"),
      "false_drop_rate" -> last("quality.false_drop_rate"),
      "store_bytes_per_input_byte" -> last("streaming.store_bytes_per_input_byte"),
      "compactions_per_replay" -> last("streaming.compactions"))
    replayStats.zipWithIndex.foreach { case (st, r) =>
      o.check(s"r$r.quality", st("quality.neardup_recall") >= MinRecall &&
        st("quality.false_drop_rate") <= MaxFalseDrop,
        f"recall ${st("quality.neardup_recall")}%.4f (min $MinRecall), " +
          f"false drops ${st("quality.false_drop_rate")}%.4f (max $MaxFalseDrop)")
    }

    if (rec.enabled) {
      val batches = o.samples.size
      val sparkL = rec.sparkLayers("b:", batches)
      val plain = o.sampleNames.zip(o.samples).collect { case (n, t) if !o.tailOnly.contains(n) => t }
      o.layers("streaming.batch_s") = median(if (plain.isEmpty) o.samples.toSeq else plain.toSeq)
      o.layers("streaming.jobs_per_batch") = sparkL("spark.jobs")
      o.layers("streaming.compact_batch_s") = if (compactS.isEmpty) 0.0 else median(compactS.toSeq)
      o.layers ++= last.filter(_._1.startsWith("streaming.")) ++
        last.filter(_._1.startsWith("dedup.")) ++ last.filter(_._1.startsWith("quality."))
      o.layers ++= sparkL
    }

  }
}
