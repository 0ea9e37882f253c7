package graft.streaming

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The local file system under the `fault:` scheme (register it with
  * `fs.fault.impl`). It numbers its mutating calls — create, rename,
  * delete, mkdirs — outside Spark's `_temporary` dirs, and throws an
  * `IOException` from the call whose number is armed. A delete of
  * nothing or a mkdirs of an existing dir changes nothing and is not
  * numbered. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${FaultFs.Scheme}:///")
  override def getScheme: String = FaultFs.Scheme

  // every create and append of the local file system comes through here
  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): java.io.OutputStream = {
    FaultFs.call("create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.call("rename", dst)
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (exists(p)) FaultFs.call("delete", p)
    super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = {
    if (!exists(p)) FaultFs.call("mkdirs", p)
    super.mkdirs(p)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    if (!exists(p)) FaultFs.call("mkdirs", p)
    super.mkdirs(p, permission)
  }
}

object FaultFs {
  val Scheme = "fault"
  private val calls = new AtomicInteger
  @volatile private var failAt = 0
  /** The call that failed since the last [[arm]], if any. */
  @volatile var fired: Option[String] = None

  /** Restart the numbering; fail call `n` (0: fail nothing). */
  def arm(n: Int): Unit = { calls.set(0); failAt = n; fired = None }
  def numbered: Int = calls.get

  private def call(op: String, p: Path): Unit =
    if (!p.toUri.getPath.split('/').contains("_temporary")) {
      val n = calls.incrementAndGet()
      if (n == failAt) {
        fired = Some(s"$op $p")
        throw new java.io.IOException(s"injected fault at call $n: $op $p")
      }
    }
}

/** Crash-point sweep of the fuzzy curation stream's state changes: the
  * first index build, an admitting batch, a compacting batch and a
  * takedown. For each, an uninterrupted run numbers the mutating file
  * system calls it makes under the state dirs; then, for every number
  * N, the operation runs from the same starting state with call N
  * failing, is rerun, and one more batch follows. Store rows, index
  * `sets` ids and `bands` rows must equal the uninterrupted run's, and
  * each state dir must hold exactly the parts its log lists. Only
  * in-process failures are injected: an exception from one file system
  * call, not a killed process or a fault outside the JVM. */
class StreamCrashSweepSpec extends SparkSpec {
  import spark.implicits._

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    if (Files.exists(src)) Files.walk(src).forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
  }

  private def rmTree(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(dir))
  }

  test("a fault at any state-changing call of the stream recovers to the uninterrupted result") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${FaultFs.Scheme}.impl", classOf[FaultFs].getName)
    // two store parts per admitting batch keep the sweep short
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      val tmp = Files.createTempDirectory("graft-sweep").toString
      val refDir = s"$tmp/ref"; val refDig = s"$tmp/refdig"
      (1 to 3).map(i => (i.toLong, words(s"ref$i-", 30)))
        .toDF("doc_id", "text").write.parquet(refDir)
      // batch b: three fresh docs, a near copy of a reference doc and,
      // from the second batch on, an exact and a near copy of docs the
      // batch before admitted
      def batch(b: Int): DataFrame = {
        val fresh = (0 until 3).map(i => (100L * b + i, words(s"b$b-d$i-", 30)))
        val copies = Seq((100L * b + 50, words(s"ref${b % 3 + 1}-", 30) + " edited tail")) ++
          (if (b == 1) Nil
           else Seq((100L * b + 60, words(s"b${b - 1}-d0-", 30)),
             (100L * b + 61, words(s"b${b - 1}-d1-", 30) + " edited tail")))
        (fresh ++ copies).toDF("doc_id", "text")
      }
      val work = s"$tmp/work"
      val curDir = s"${FaultFs.Scheme}://$work/curated"
      val idxDir = s"${FaultFs.Scheme}://$work/index"
      def curate(b: DataFrame): Unit =
        Incremental.curateBatchFuzzy(spark, b, "doc_id", "text", refDir,
          curDir, idxDir, threshold = 0.5, refDigestDir = refDig,
          compactAfterFiles = 2)
      val ops: Seq[(String, () => Unit)] = Seq(
        "first index build" -> (() => curate(batch(1).where(lit(false)))),
        "admitting batch" -> (() => curate(batch(1))),
        "compacting batch" -> (() => curate(batch(2))),
        "takedown" -> (() => Incremental.takedown(spark, curDir, "doc_id",
          Seq(101L, 200L).toDF("doc_id"), Some(idxDir)): Unit))
      val next = () => curate(batch(3))

      def rows(dir: String, cols: String*): Seq[String] =
        spark.read.parquet(dir).select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      def state(): Seq[Seq[String]] = Seq(
        rows(curDir, "doc_id", "text", Incremental.DigestCol),
        rows(s"$idxDir/sets", "doc"),
        rows(s"$idxDir/bands", "doc", "band", "bkey"))
      def assertListed(at: String): Unit = {
        val entry = Incremental.latestEntry(spark, idxDir)
          .getOrElse(fail(s"$at: no committed entry"))
        Seq(Incremental.Store -> s"$work/curated", Incremental.Bands -> s"$work/index/bands",
            Incremental.Sets -> s"$work/index/sets").foreach { case (role, dir) =>
          val present = Option(new java.io.File(dir).listFiles).toSeq.flatten
            .map(_.getName).filter(_.endsWith(".parquet")).toSet
          assert(present == entry(role).toSet,
            s"$at: $dir holds $present, the log lists ${entry(role)}")
        }
      }

      // uninterrupted: the state before each operation, its call count,
      // and the state after it plus one more batch
      val snaps = ops.indices.map(i => s"$tmp/snap$i")
      val points = ops.indices.map { i =>
        copyTree(work, snaps(i))
        FaultFs.arm(0)
        ops(i)._2()
        if (ops(i)._1 == "compacting batch")
          assert(Incremental.latestEntry(spark, idxDir).exists(e =>
            e(Incremental.Store).size == 1 && e(Incremental.Bands).size == 1),
            "the compacting batch must compact store and bands")
        FaultFs.numbered
      }
      copyTree(work, s"$tmp/snap${ops.size}")
      val expected = ops.indices.map { i =>
        rmTree(work); copyTree(s"$tmp/snap${i + 1}", work)
        next()
        assertListed(s"uninterrupted ${ops(i)._1}")
        state()
      }

      val t0 = System.nanoTime()
      ops.indices.foreach { i =>
        val (name, op) = ops(i)
        (1 to points(i)).foreach { n =>
          rmTree(work); copyTree(snaps(i), work)
          FaultFs.arm(n)
          val failed = try { op(); false } catch { case NonFatal(_) => true }
          val fired = FaultFs.fired
          val at = s"$name, fault at call $n of ${points(i)} (${fired.getOrElse("none")})"
          FaultFs.arm(0)
          assert(failed && fired.isDefined, s"$at: the operation did not fail")
          op()
          next()
          assertListed(at)
          assert(state() == expected(i), s"$at: the recovered state differs")
        }
      }
      info(s"fault points per operation: ${ops.map(_._1).zip(points)}, " +
        f"${points.sum} in all, swept in ${(System.nanoTime() - t0) / 1e9}%.0f s")
    } finally {
      FaultFs.arm(0)
      spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    }
  }
}
