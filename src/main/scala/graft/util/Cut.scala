package graft.util

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.ColumnBridge

/** The one lineage cut: every checkpoint in graft is made here and
  * freed by [[release]].
  *
  * Iterative operators (boosting rounds, CC/PageRank/Louvain sweeps,
  * the curation batch) cut each round so the plan stays one round
  * deep: an uncut loop nests its predecessor's plan per round until
  * the analyzer runs out of heap, and persisting each round instead
  * leaves a pyramid of unmaterialized InMemoryRelations that stats
  * estimation re-walks on every optimizer pass. Frames whose ROWS bake in
  * partition-dependent values (`spark_partition_id`,
  * `monotonically_increasing_id` over a sampled range shuffle) need a
  * cut too: a persisted plan is a lazy promise that two consumers can
  * each re-evaluate with different range-sample seeds (r14, caught by
  * PrefixSumScaleDemo at 10 M keys), while a checkpoint fixes the
  * physical RDD instance every consumer reads.
  *
  * [[apply]] is a RELIABLE checkpoint when the context has a checkpoint
  * dir (survives executor loss) and executor-local blocks otherwise;
  * [[local]] always takes local blocks, eagerly. A lazy cut (`eager = false`)
  * materializes inside its first consuming job, shared by all
  * consumers. Neither storage kind is freed by `DataFrame.unpersist`
  * (blocks belong to the RDD, files are kept unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is on), so a
  * superseded cut is freed with [[release]].
  */
object Cut {
  /** Reliable checkpoint under a checkpoint dir, local otherwise. */
  def apply[T](ds: Dataset[T], eager: Boolean = false): Dataset[T] =
    make(ds, eager, hasDir(ds))

  /** Eager local checkpoint whatever the dir: for cuts freed within
    * the call that made them, where files would only add write cost. */
  def local[T](ds: Dataset[T]): Dataset[T] = make(ds, eager = true, reliable = false)

  /** [[apply]] with the origin statistics dropped: the leaf reads the
    * checkpointed RDD itself under default statistics. Checkpoints
    * carry the original plan's estimated size onto their leaf, and the
    * size-only join estimator MULTIPLIES child sizes, so a loop whose
    * sweep joins its predecessor ~8 times grows the estimate's
    * exponent ~8× per sweep: on the two-level ring Louvain fixture
    * the optimizer sat in million-bit BigInteger multiplications
    * before any task ran. AQE re-derives real sizes at run time.
    * Under a checkpoint dir the cut is always eager: a lazy reliable
    * checkpoint writes its files in a second job that recomputes the
    * input. */
  def flat(df: DataFrame, eager: Boolean = false): DataFrame = {
    val reliable = hasDir(df)
    val cp = make(df, eager || reliable, reliable)
    ColumnBridge.rddFrame(cp, cp.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd)
  }

  /** Free the cut at the root of `ds`'s plan: its RDD's blocks and its
    * checkpoint files. Any other frame — a projection over a cut, a
    * persisted derivation, a plain scan — is left alone, so a
    * caller-owned cut deeper in the plan is never freed. Call once the
    * cut's last consumer has run. */
  def release(ds: Dataset[_]): Unit = ds.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      lr.rdd.unpersist(blocking = false)
      lr.rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(ds.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    case _ => ()
  }

  private def hasDir(ds: Dataset[_]): Boolean =
    ds.sparkSession.sparkContext.getCheckpointDir.isDefined

  private def make[T](ds: Dataset[T], eager: Boolean, reliable: Boolean): Dataset[T] =
    if (reliable) ds.checkpoint(eager) else ds.localCheckpoint(eager)
}
