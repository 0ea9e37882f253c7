package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end scale check for the incremental fuzzy curation path
  * (test scope): `sbt "Test/runMain graft.streaming.IncrementalScaleDemo"`
  * drives the sf0.1 documents table through [[Incremental.curateBatchFuzzy]]
  * in equal-size batches and prints per-batch wall time plus the store
  * size it ran against. The design claim under test: per-batch cost is
  * O(batch + candidates) — the exact layer joins stored DIGESTS (never
  * re-hashing curated text), the fuzzy layer probes the persisted index
  * (never re-shingling corpus or store) and the healthy-path ensure is
  * metadata-only — so batch N should cost about what batch 1 did even
  * though the dedup state grew by N batches. Linear growth here would
  * mean some layer is re-reading the store per batch. */
object IncrementalScaleDemo {
  def main(args: Array[String]): Unit = {
    val batches = if (args.length > 0) args(0).toInt else 9
    // second arg: compactAfterFiles for the auto-compaction trigger
    // (default = the production default; a low value, e.g. 3, makes
    // compaction fire repeatedly mid-stream so its steady-state impact
    // is visible in the per-batch times)
    val compactAfter = if (args.length > 1) args(1).toInt else 64
    // third arg: refBloomFpp — > 0 routes the reference anti-join
    // through the broadcast Bloom prefilter (r10), so the demo can
    // A/B the streaming steady state with and without it
    val bloomFpp = if (args.length > 2) args(2).toDouble else 0.0
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"))
    val maxId = docs.agg(coalesce(max(col("doc_id")), lit(-1L))).head().getLong(0)
    val refSplit = (maxId + 1L) / 10L // first 10% frozen, rest streamed

    val work = java.nio.file.Files.createTempDirectory("incr-scale").toString
    val refDir = s"$work/ref"; val curDir = s"$work/curated"
    val idxDir = s"$work/ndindex"
    docs.filter(col("doc_id") < refSplit).write.parquet(refDir)

    val streamed = maxId + 1L - refSplit
    val per = math.max(1L, streamed / batches)
    (0 until batches).foreach { b =>
      val lo = refSplit + b * per
      val hi = if (b == batches - 1) maxId + 1L else lo + per
      // localCheckpoint: batch construction (a parquet range filter)
      // must not pollute the timed curation cost
      val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .localCheckpoint()
      val n = batch.count()
      val t0 = System.nanoTime()
      Incremental.curateBatchFuzzy(spark, batch, "doc_id", "text",
        refDir, curDir, idxDir, threshold = 0.35,
        compactAfterFiles = compactAfter, refBloomFpp = bloomFpp)
      val secs = (System.nanoTime() - t0) / 1e9
      val store = spark.read.parquet(curDir).count()
      val files = Incremental.latestEntry(spark, idxDir)
        .fold(0)(_(Incremental.Store).size)
      println(f"[incrscale] batch=${b + 1}/$batches rows=$n " +
        f"storeAfter=$store files=$files sec=$secs%.2f")
    }
    spark.stop()
  }
}
