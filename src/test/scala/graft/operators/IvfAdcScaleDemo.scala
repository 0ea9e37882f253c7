package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical check of IVFADC's billion-vector claim (test scope):
  * `sbt "Test/runMain graft.operators.IvfAdcScaleDemo"`
  * builds the PERSISTED index ([[Similarity.ensureIvfAdcIndex]] —
  * cell-partitioned code parquet, driver model state) at two corpus
  * sizes whose cell COUNT grows with the corpus (the IVF discipline:
  * cell size, and therefore candidates-per-probe, stays fixed), then
  * times the same fixed-nProbe probe batch against both. The claim
  * made measurable: probe wall time is ~flat in corpus size — a 4×
  * corpus costs the probe nothing because each probe is a
  * partition-pruned scan of nProbe cells of unchanged size, never the
  * corpus (AnnRecallSpec pins the pruned-scan plan; this demo pins the
  * TIME consequence at 10⁶ vectors).
  *
  * Vectors are deterministic (hash-mixed per coordinate), so reruns
  * time the same work; probe output is sanity-checked to exactly
  * queries×k ranked rows at both sizes.
  */
object IvfAdcScaleDemo {
  def main(args: Array[String]): Unit = {
    val dim = 16
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // corpus lands as parquet, so build and probe read it from disk as
    // a deployed corpus would. A cut corpus would be safe too: the
    // index build's CacheScope cleanup frees only the cuts the build
    // made (Cut.release frees a frame's own cut), never the caller's
    def corpus(n: Long): DataFrame = {
      val path = s"/tmp/ivfadc_demo_corpus_$n"
      spark.range(n).select(col("id").as("vec_id"),
        array((0 until dim).map(j =>
          (pmod(xxhash64(col("id") * lit(31) + lit(j)), lit(2001))
            .cast("double") / 1000.0 - 1.0)): _*).as("vec"))
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }

    val queryIds = (1 to 8).map(i => i * 997L + 7L)
    val results = Seq((250000L, 16), (1000000L, 64)).map { case (n, cells) =>
      val dir = s"/tmp/ivfadc_demo_$n"
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val emb = corpus(n)
      // spread centroid seeds across the id range (deterministic)
      val centroidIds = (0 until cells).map(i => (i * (n / cells)).toInt)
      val t0 = System.nanoTime()
      val idx = Similarity.ensureIvfAdcIndex(emb, "vec_id", "vec",
        centroidIds, m = 4, codewords = 16, indexDir = dir, iters = 2)
      val buildS = (System.nanoTime() - t0) / 1e9
      val batch = emb.filter(col("vec_id").isin(queryIds: _*))
      def probeOnce(): Double = {
        val p0 = System.nanoTime()
        val out = Similarity.ivfadcTopKAgainstIndex(batch, "vec_id", "vec",
          idx, nProbe = 4, k = 10, excludeSelfIds = true)
        val rows = out.count()
        require(rows == queryIds.size * 10L,
          s"expected ${queryIds.size * 10} ranked rows, got $rows")
        (System.nanoTime() - p0) / 1e9
      }
      probeOnce() // warm-up (codegen, parquet footers)
      val times = (1 to 3).map(_ => probeOnce()).sorted
      val med = times(1)
      println(f"[ivfadcdemo] n=$n%8d cells=$cells%3d " +
        f"cell_size=${n / cells}%6d build=${buildS}%6.1f s " +
        f"probe_median=${med}%5.2f s runs=${times.map(t => f"$t%.2f").mkString(",")}")
      (n, med)
    }
    val (nSmall, tSmall) = results.head
    val (nLarge, tLarge) = results.last
    val ratio = tLarge / math.max(tSmall, 0.001)
    println(f"[ivfadcdemo] corpus ${nLarge / nSmall}x -> probe ${ratio}%.2fx " +
      "(flat-in-corpus-size claim: ratio should stay near 1, far below the corpus ratio)")
    require(ratio < 2.0,
      f"probe time must stay ~flat as the corpus grows 4x: got ${ratio}%.2fx")
    spark.stop()
  }
}
