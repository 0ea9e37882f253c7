package graft.io

import org.apache.spark.sql.DataFrame

/** Size-targeted parquet writing — the batch-side answer to the
  * small-files problem the streaming tier solves with `compactCuratedState`.
  * At 100 TB both failure modes are real: thousands of KB-sized part
  * files tax every later listing/open/footer-read, while a handful of
  * multi-GB files caps read parallelism at the file count.
  */
object Parquet {

  /** Write `df` as parquet aiming for ~`targetMB` per output file.
    * The partition count comes from Catalyst's logical-plan size
    * estimate — driver-side statistics, never an extra job. For
    * file-backed frames that estimate IS the source's on-disk bytes
    * (Spark scales them by `spark.sql.sources.fileCompressionFactor`,
    * default 1.0), so the default `estimateShrink = 1.0` maps it to
    * parquet output directly; frames whose estimate is row-width-based
    * (in-memory relations, post-join/agg plans where Catalyst falls
    * back to row sizes) overstate the on-disk result — pass the
    * expected encode+compress shrink (3-5x for text-heavy rows) there.
    * The estimate is coarse by design: the goal is "dozens-of-MB
    * files, neither thousands of tiny ones nor three giant ones", not
    * an exact size. Uses a round-robin `repartition` (one full
    * shuffle) so output files are evenly sized even when the input is
    * skewed; callers that need co-location should partition themselves
    * and write directly. Returns the partition count chosen. */
  def writeSized(df: DataFrame, dir: String, targetMB: Int = 128,
      estimateShrink: Double = 1.0, maxParts: Int = 1 << 20): Int = {
    require(targetMB > 0 && estimateShrink > 0, "bad sizing params")
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val targetBytes = (BigDecimal(targetMB) * 1024 * 1024 * estimateShrink)
      .setScale(0, BigDecimal.RoundingMode.CEILING).toBigInt.max(1)
    val parts = ((bytes + targetBytes - 1) / targetBytes)
      .max(1).min(maxParts).toInt
    df.repartition(parts).write.mode("overwrite").parquet(dir)
    parts
  }
}
