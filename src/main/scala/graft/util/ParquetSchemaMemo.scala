package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-memoized parquet reads for the incremental-curation state
  * dirs (curated store, fuzzy index bands/sets, reference + digest
  * sidecar). In Spark 4 every `spark.read.parquet(dir)` runs a small
  * schema-inference JOB (a distributed footer read) — harmless once,
  * but the streaming healthy path re-opens four such dirs per
  * micro-batch, so on a busy cluster the "metadata-cheap" ensure still
  * costs four scheduler round-trips per batch. The schemas in question
  * are stable by contract — the reference is frozen, the store and
  * index dirs are append-only with a fixed shape, and compaction
  * rewrites rows unchanged — so one inference per (JVM, dir) is enough;
  * later opens supply the memoized schema and run no job at all.
  *
  * A SCHEMA change to a memoized dir is not detected here. The two
  * readers that tolerate reference regeneration (Incremental's index
  * build on first use or after a regeneration, ensureReferenceDigests)
  * call [[invalidate]] and re-open on that path — the only moment a
  * schema change can arrive under their contracts — and every
  * state-dir writer invalidates after an overwrite or an index
  * rebuild; [[invalidate]] remains available for manual recovery. */
object ParquetSchemaMemo {
  private val memo =
    scala.collection.concurrent.TrieMap.empty[String, StructType]

  def read(spark: SparkSession, dir: String): DataFrame =
    memo.get(dir) match {
      case Some(schema) => spark.read.schema(schema).parquet(dir)
      case None =>
        val df = spark.read.parquet(dir)
        memo.put(dir, df.schema)
        df
    }

  def invalidate(dir: String): Unit = { memo.remove(dir); () }
}
