package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

/** The foreachBatch incremental-curation sink: stream-curating batches
  * must land exactly the docs batch curation would keep — no frozen
  * text, no text duplicated across or within batches, and a replayed
  * batch must change nothing. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("curateStream: dedups each batch against reference and prior batches") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-incr").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"; val ck = s"$tmp/ck"
    Seq((1L, "frozen one"), (2L, "frozen two")).toDF("doc_id", "text")
      .write.parquet(refDir)

    val mem = MemoryStream[(Long, String)]
    // batch 1: one frozen dup, one intra-batch dup pair, one fresh
    mem.addData((10L, "frozen one"), (11L, "alpha beta"), (12L, "alpha beta"),
      (13L, "gamma delta"))
    val q1 = Incremental.curateStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", refDir, curDir, ck)
    q1.awaitTermination()
    // batch 2 (new query, same checkpoint): cross-batch dup + fresh
    mem.addData((20L, "alpha beta"), (21L, "epsilon zeta"))
    val q2 = Incremental.curateStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", refDir, curDir, ck)
    q2.awaitTermination()

    val curated = spark.read.parquet(curDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(curated == Set(
      (11L, "alpha beta"),   // min-id representative of the intra-batch pair
      (13L, "gamma delta"),
      (21L, "epsilon zeta")), // 20's text already curated in batch 1
      s"unexpected curated store: $curated")

    // parity: batch curation over the full arrivals keeps the same rows
    // here (each text's min id arrived in its earliest batch) — and the
    // TEXT set must agree regardless of arrival order
    val all = Seq((10L, "frozen one"), (11L, "alpha beta"), (12L, "alpha beta"),
      (13L, "gamma delta"), (20L, "alpha beta"), (21L, "epsilon zeta"))
      .toDF("doc_id", "text")
    val reps = Dedup.exactDedup(all, "doc_id", "text").select("doc_id")
    val batchCurated = Dedup.dedupAgainstReference(
        all.join(reps, Seq("doc_id"), "left_semi"),
        spark.read.parquet(refDir), "doc_id", "text")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(batchCurated == curated, "stream and batch curation must agree")
    assert(batchCurated.map(_._2) == curated.map(_._2),
      "text sets must agree independent of arrival order")

    // replay idempotency: re-running batch 1's data with a FRESH
    // checkpoint (simulating a crash after the append committed but
    // before the checkpoint did) must leave the store unchanged
    val mem2 = MemoryStream[(Long, String)]
    mem2.addData((10L, "frozen one"), (11L, "alpha beta"), (12L, "alpha beta"),
      (13L, "gamma delta"))
    val q3 = Incremental.curateStream(
      mem2.toDF().toDF("doc_id", "text"), "doc_id", "text", refDir, curDir,
      s"$tmp/ck2")
    q3.awaitTermination()
    val replayed = spark.read.parquet(curDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(replayed == curated, "replaying a committed batch must be a no-op")
  }

  test("curateStreamFuzzy: edited recrawls are dropped in-stream; stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-incr-fuzzy").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    val ck = s"$tmp/ck"; val idxDir = s"$tmp/ndindex"

    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val frozen = words("ref", 40)
    val frozenRecrawl = frozen + " lightly edited tail" // J ≈ 38/41
    val storyA = words("alpha", 40)
    val storyARecrawl = storyA + " appended update note"
    val storyB = words("beta", 40)

    Seq((1L, frozen)).toDF("doc_id", "text").write.parquet(refDir)

    val mem = MemoryStream[(Long, String)]
    // batch 1: recrawl of the FROZEN page (exact dedup would keep it —
    // the bytes differ) + a genuinely fresh doc
    mem.addData((10L, frozenRecrawl), (11L, storyA))
    Incremental.curateStreamFuzzy(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, ck, idxDir, fuzzyThreshold = 0.5)
      .awaitTermination()
    // batch 2: recrawl of a doc curated in batch 1 (caught only if the
    // curated store APPENDED to the index) + a fresh doc
    mem.addData((20L, storyARecrawl), (21L, storyB))
    Incremental.curateStreamFuzzy(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, ck, idxDir, fuzzyThreshold = 0.5)
      .awaitTermination()

    val curated = spark.read.parquet(curDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(curated == Set((11L, storyA), (21L, storyB)),
      s"fuzzy layer must drop both edited recrawls: ${curated.map(_._1)}")

    // stream ≡ batch parity: the same arrivals, same batch boundaries,
    // driven through curateBatchFuzzy directly into a second store
    val curDir2 = s"$tmp/curated2"; val idxDir2 = s"$tmp/ndindex2"
    Incremental.curateBatchFuzzy(spark,
      Seq((10L, frozenRecrawl), (11L, storyA)).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir2, idxDir2, threshold = 0.5)
    Incremental.curateBatchFuzzy(spark,
      Seq((20L, storyARecrawl), (21L, storyB)).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir2, idxDir2, threshold = 0.5)
    val batchCurated = spark.read.parquet(curDir2)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(batchCurated == curated, "stream and batch fuzzy curation must agree")

    // replay idempotency: batch 1 re-run with a fresh checkpoint — the
    // recrawl is still dropped, storyA now exact-dups itself, and the
    // index must not double-count (store unchanged)
    def storeFiles: Int = new java.io.File(curDir)
      .listFiles.count(_.getName.endsWith(".parquet"))
    val filesBefore = storeFiles
    val mem2 = MemoryStream[(Long, String)]
    mem2.addData((10L, frozenRecrawl), (11L, storyA))
    Incremental.curateStreamFuzzy(mem2.toDF().toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, s"$tmp/ck2", idxDir,
      fuzzyThreshold = 0.5)
      .awaitTermination()
    val replayed = spark.read.parquet(curDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(replayed == curated, "replaying a committed batch must be a no-op")
    // and a no-op batch appends NO part files — empty appends would
    // accrete a file-count tax on every later read of a long stream
    assert(storeFiles == filesBefore,
      s"an all-duplicate batch must not append empty part files: " +
        s"$filesBefore -> $storeFiles")
  }

  test("fuzzy migration: first index build covers a pre-existing curated store") {
    val tmp = Files.createTempDirectory("graft-incr-migrate").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    val idxDir = s"$tmp/ndindex"
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val storyA = words("alpha", 40)
    val storyB = words("beta", 40)
    Seq((1L, words("ref", 40))).toDF("doc_id", "text").write.parquet(refDir)

    // storyA admitted through the EXACT path — the store predates any
    // fuzzy index (the curateStream → curateStreamFuzzy migration)
    Incremental.curateBatch(spark,
      Seq((10L, storyA)).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir)
    assert(!new java.io.File(s"$idxDir/bands").exists())

    // first fuzzy batch: an edited recrawl of the PREVIOUSLY-admitted
    // doc is dropped only if the first build indexed the store too
    Incremental.curateBatchFuzzy(spark,
      Seq((20L, storyA + " appended update note"), (21L, storyB))
        .toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    val curated = spark.read.parquet(curDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(curated == Set((10L, storyA), (21L, storyB)),
      s"recrawl of a pre-index admission must be dropped: ${curated.map(_._1)}")
  }

  test("fuzzy crash window: orphaned store rows are re-indexed before the next probe") {
    val tmp = Files.createTempDirectory("graft-incr-repair").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    val idxDir = s"$tmp/ndindex"
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val storyA = words("alpha", 40)
    val storyB = words("beta", 40)
    val storyC = words("gamma", 40)
    Seq((1L, words("ref", 40))).toDF("doc_id", "text").write.parquet(refDir)

    Incremental.curateBatchFuzzy(spark,
      Seq((10L, storyA)).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    // a batch that died AFTER its store append, BEFORE its commit:
    // storyB's rows sit in the store dir but no log entry lists them
    Seq((20L, storyB)).toDF("doc_id", "text")
      .withColumn(Incremental.DigestCol, sha2(col("text"), 256))
      .write.mode("append").parquet(curDir)

    // the crashed batch never happened: its replay admits storyB again,
    // and the next batch's edited recrawl of it is dropped
    Incremental.curateBatchFuzzy(spark,
      Seq((20L, storyB)).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    Incremental.curateBatchFuzzy(spark,
      Seq((30L, storyB + " appended update note"), (31L, storyC))
        .toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    val curated = spark.read.parquet(curDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(curated == Set((10L, storyA), (20L, storyB), (31L, storyC)),
      s"recrawl of the replayed batch must still be dropped: ${curated.map(_._1)}")
    assert(spark.read.parquet(curDir).count() == 3,
      "the crashed append's rows must not land twice")
    // every stored doc + the reference is exactly once in the index
    val idx = Dedup.NearDupIndex.read(spark, idxDir)
    assert(idx.sets.select("doc").as[Long].collect().sorted.toSeq ==
      Seq(1L, 10L, 20L, 31L),
      "index must cover reference + every curated doc exactly once")
    assertListed(curDir, idxDir)
  }

  test("ensureIndex: duplicate ids in the reference never trigger the repair path") {
    val tmp = Files.createTempDirectory("graft-incr-dupid").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    val idxDir = s"$tmp/ndindex"
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    // the reference carries a DUPLICATE id (two distinct texts under
    // id 1 — a recrawl archived under its original id, the normal case)
    Seq((1L, words("ref", 40)), (1L, words("other", 40)), (2L, words("more", 40)))
      .toDF("doc_id", "text").write.parquet(refDir)
    Incremental.curateBatchFuzzy(spark,
      Seq((10L, words("alpha", 40))).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)

    // 4 reference + store rows but 3 distinct ids: nothing that compares
    // row counts with the index may conclude it is stale and append
    // to it. A healthy ensure must leave the index untouched.
    def setsFiles: Set[String] = new java.io.File(s"$idxDir/sets")
      .listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet
    val before = setsFiles
    (1 to 2).foreach { _ =>
      val scope = graft.util.CacheScope()
      try Incremental.ensureIndex(
        spark, idxDir, refDir, curDir, "doc_id", "text", scope)
      finally scope.unpersistAll()
      assert(setsFiles == before,
        "ensure over a healthy index must not append (repair-loop bug)")
    }
  }

  test("ensureIndex: legacy index dir without the params sidecar is rebuilt") {
    val tmp = Files.createTempDirectory("graft-incr-legacy").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    val idxDir = s"$tmp/ndindex"
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val storyA = words("alpha", 40)
    Seq((1L, words("ref", 40))).toDF("doc_id", "text").write.parquet(refDir)
    Incremental.curateBatchFuzzy(spark,
      Seq((10L, storyA)).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    // a pre-log, pre-sidecar index dir: bands + sets present, no
    // commit log and no params.json
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$idxDir/_log"))
    assert(new java.io.File(s"$idxDir/params.json").delete())
    def bandFiles: Set[String] = new java.io.File(s"$idxDir/bands")
      .listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet
    val legacyBands = bandFiles

    Incremental.curateBatchFuzzy(spark,
      Seq((20L, storyA + " appended update note"), (21L, words("beta", 40)))
        .toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    val curated = spark.read.parquet(curDir)
      .select("doc_id").as[Long].collect().toSet
    assert(curated == Set(10L, 21L),
      s"legacy dir must self-heal and keep dropping recrawls: $curated")
    // first use adopted the store, rebuilt the index over reference ∪
    // store as new parts, and deleted the legacy ones
    assert(bandFiles.intersect(legacyBands).isEmpty,
      s"the legacy index parts must be replaced: $bandFiles")
    assert(Dedup.NearDupIndex.read(spark, idxDir).sets.select("doc").as[Long]
      .collect().sorted.toSeq == Seq(1L, 10L, 21L))
    assertListed(curDir, idxDir)
  }

  test("ensureIndex: in-place reference regeneration at the same row count forces a rebuild") {
    val tmp = Files.createTempDirectory("graft-incr-regen").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    val idxDir = s"$tmp/ndindex"
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val storyOld = words("old", 40)
    val storyNew = words("new", 40)
    Seq((1L, storyOld)).toDF("doc_id", "text").write.parquet(refDir)
    Incremental.curateBatchFuzzy(spark,
      Seq((10L, words("alpha", 40))).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)

    // regenerate the reference IN PLACE: same id, same row count,
    // different text. Nothing count- or id-based can see it (r7 ADVICE
    // #5); the file-metadata fingerprint in the log entry must.
    Seq((1L, storyNew)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(refDir)

    // a recrawl of the NEW reference text is dropped only if the index
    // was rebuilt over the regenerated bytes
    Incremental.curateBatchFuzzy(spark,
      Seq((20L, storyNew + " appended update note"), (21L, words("beta", 40)))
        .toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    val curated = spark.read.parquet(curDir)
      .select("doc_id").as[Long].collect().toSet
    assert(curated == Set(10L, 21L),
      s"recrawl of the regenerated reference must be dropped: $curated")

    // regeneration COMBINED with a crashed batch whose store append
    // landed outside the log: the crashed rows are discarded, the
    // replayed batch lands, and the index is rebuilt over the new bytes
    val storyNew2 = words("newer", 40)
    Seq((1L, storyNew2)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(refDir)
    Seq((25L, words("delta", 40))).toDF("doc_id", "text")
      .withColumn(Incremental.DigestCol, sha2(col("text"), 256))
      .write.mode("append").parquet(curDir) // crashed, uncommitted append
    Incremental.curateBatchFuzzy(spark,
      Seq((25L, words("delta", 40))).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    Incremental.curateBatchFuzzy(spark,
      Seq((30L, storyNew2 + " appended update note"), (31L, words("eps", 40)))
        .toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    val curated2 = spark.read.parquet(curDir)
      .select("doc_id").as[Long].collect().toSet
    assert(curated2 == Set(10L, 21L, 25L, 31L),
      s"regeneration + crash must still rebuild: $curated2")
    assert(spark.read.parquet(curDir).count() == 4,
      "the crashed append's row must not land twice")
    assert(Dedup.NearDupIndex.read(spark, idxDir).sets.select("doc").as[Long]
      .collect().sorted.toSeq == Seq(1L, 10L, 21L, 25L, 31L))
    assertListed(curDir, idxDir)
  }

  test("compactCuratedState: fewer files, same rows, index still drops recrawls") {
    val tmp = Files.createTempDirectory("graft-incr-compact").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    val idxDir = s"$tmp/ndindex"
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val storyA = words("alpha", 40)
    val storyB = words("beta", 40)
    Seq((1L, words("ref", 40))).toDF("doc_id", "text").write.parquet(refDir)
    // two admitting batches → store/bands/sets each accrete part files
    Incremental.curateBatchFuzzy(spark,
      Seq((10L, storyA)).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    Incremental.curateBatchFuzzy(spark,
      Seq((20L, storyB)).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    def parquetFiles(d: String): Int = new java.io.File(d)
      .listFiles.count(_.getName.endsWith(".parquet"))
    val rowsBefore = spark.read.parquet(curDir)
      .select("doc_id", "text", Incremental.DigestCol)
      .as[(Long, String, String)].collect().toSet
    val setsBefore = Dedup.NearDupIndex.read(spark, idxDir)
      .sets.select("doc").as[Long].collect().sorted.toSeq
    assert(parquetFiles(curDir) >= 2 && parquetFiles(s"$idxDir/sets") >= 2,
      "precondition: per-batch appends accreted multiple part files")

    Incremental.compactCuratedState(spark, curDir, idxDir)

    // tiny data → one file per dir; content byte-identical
    assert(parquetFiles(curDir) == 1 && parquetFiles(s"$idxDir/bands") == 1 &&
      parquetFiles(s"$idxDir/sets") == 1,
      "compaction must coalesce each dir to its target file count")
    val rowsAfter = spark.read.parquet(curDir)
      .select("doc_id", "text", Incremental.DigestCol)
      .as[(Long, String, String)].collect().toSet
    assert(rowsAfter == rowsBefore, "compaction must not change store rows")
    assert(Dedup.NearDupIndex.read(spark, idxDir)
      .sets.select("doc").as[Long].collect().sorted.toSeq == setsBefore,
      "compaction must not change the index sets")
    // and the compacted state still curates: a recrawl of a compacted
    // admission is dropped, a fresh doc lands
    Incremental.curateBatchFuzzy(spark,
      Seq((30L, storyA + " appended update note"), (31L, words("gamma", 40)))
        .toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    val ids = spark.read.parquet(curDir).select("doc_id").as[Long].collect().toSet
    assert(ids == Set(10L, 20L, 31L),
      s"post-compaction batch must still dedup against the index: $ids")
  }

  test("curateBatchFuzzy uses reliable checkpoints when a dir is configured, and leaves no files") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite assumes no global checkpoint dir")
    val tmp = Files.createTempDirectory("graft-incr-rck").toString
    val ckDir = s"$tmp/ck"
    sc.setCheckpointDir(ckDir)
    try {
      val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
      val idxDir = s"$tmp/ndindex"
      def words(prefix: String, n: Int): String =
        (1 to n).map(i => s"$prefix$i").mkString(" ")
      val storyA = words("alpha", 40)
      Seq((1L, words("ref", 40))).toDF("doc_id", "text").write.parquet(refDir)
      Incremental.curateBatchFuzzy(spark,
        Seq((10L, storyA)).toDF("doc_id", "text"),
        "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
      Incremental.curateBatchFuzzy(spark,
        Seq((20L, storyA + " appended update note"), (21L, words("beta", 40)))
          .toDF("doc_id", "text"),
        "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
      val curated = spark.read.parquet(curDir)
        .select("doc_id").as[Long].collect().toSet
      assert(curated == Set(10L, 21L),
        s"curation semantics must not change under reliable checkpoints: $curated")
      // each batch's checkpoint files were deleted once consumed — a
      // long-lived stream must not accrete one rdd-* dir per batch
      def rddDirs(f: java.io.File): Int =
        if (f.getName.startsWith("rdd-")) 1
        else Option(f.listFiles).map(_.map(rddDirs).sum).getOrElse(0)
      assert(rddDirs(new java.io.File(ckDir)) == 0,
        s"consumed batch checkpoints must be deleted; " +
          s"found ${rddDirs(new java.io.File(ckDir))} rdd-* dirs")
    } finally sc.setCheckpointDir(null)
  }

  test("per-batch exact-dedup plan never reads the reference (digest sidecar)") {
    val tmp = Files.createTempDirectory("graft-incr-sidecar").toString
    // distinctive dir names so plan-string containment is unambiguous
    val refDir = s"$tmp/frozenref"; val curDir = s"$tmp/curated"
    Seq((1L, "frozen one"), (2L, "frozen two")).toDF("doc_id", "text")
      .write.parquet(refDir)
    // batch 1 builds the one-time sidecar + store
    Incremental.curateBatch(spark,
      Seq((10L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir)
    assert(new java.io.File(s"$curDir.refdig/digests").exists(),
      "first batch must persist the reference digest sidecar")

    // batch 2's dedup plan: reference text must never be scanned — the
    // O(reference) per-batch re-hash is the scale-killer the sidecar
    // exists to remove (r8 VERDICT #1; the exact twin of
    // NearDupIndexSpec's zero-corpus-scan pin)
    val plan = Incremental.freshAgainstState(spark,
      Seq((20L, "frozen one"), (21L, "gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir,
      Incremental.refDigestDirFor(curDir, null))
    val kept = plan.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(21L), s"sidecar layer must drop the frozen dup: $kept")
    val physical = plan.queryExecution.executedPlan.toString
    assert(!physical.contains("frozenref"),
      "per-batch plan must not read the frozen reference — its only " +
        "reference-side relation is the digest sidecar")
    assert(physical.contains("refdig"),
      "per-batch plan reads the persisted digest sidecar")

    // and the sidecar is NOT rebuilt per batch: same files after a
    // second ensure (the stamp fast-pass)
    def sidecarFiles: Set[String] = new java.io.File(s"$curDir.refdig/digests")
      .listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet
    val before = sidecarFiles
    Dedup.ensureReferenceDigests(spark, refDir, s"$curDir.refdig", "text")
    assert(sidecarFiles == before, "a fresh stamp must skip the rebuild")
  }

  test("reference digest sidecar: corrupt digest dir under a fresh stamp self-heals") {
    val tmp = Files.createTempDirectory("graft-incr-sidecar-heal").toString
    val refDir = s"$tmp/ref"; val digDir = s"$tmp/refdig"
    Seq((1L, "frozen one"), (2L, "frozen two"), (3L, "frozen one"))
      .toDF("doc_id", "text").write.parquet(refDir)
    assert(Dedup.ensureReferenceDigests(spark, refDir, digDir, "text")
      .count() == 2, "sidecar stores DISTINCT digests")
    // out-of-band corruption: the digest parquet vanishes while the
    // stamp still vouches for it — the ensure must rebuild, and the
    // rebuild drops the stamp FIRST so a crash mid-overwrite can never
    // re-bless a partial digest set
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$digDir/digests"))
    assert(new java.io.File(s"$digDir/source.json").exists)
    val healed = Dedup.ensureReferenceDigests(spark, refDir, digDir, "text")
    assert(healed.count() == 2, "corrupt dir under a fresh stamp must rebuild")
    // and the healed sidecar still drops reference dups
    val kept = Dedup.dedupAgainstDigests(
        Seq((10L, "frozen one"), (11L, "novel text")).toDF("doc_id", "text"),
        healed, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L), s"healed sidecar must still dedup: $kept")
  }

  test("reference digest sidecar rebuilds when the reference is regenerated") {
    val tmp = Files.createTempDirectory("graft-incr-sidecar-regen").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    Seq((1L, "old frozen text")).toDF("doc_id", "text").write.parquet(refDir)
    Incremental.curateBatch(spark,
      Seq((10L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir)
    // in-place regeneration: same id/count, different bytes — the
    // file-metadata stamp must catch it and re-digest
    Seq((1L, "new frozen text")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(refDir)
    Incremental.curateBatch(spark,
      Seq((20L, "new frozen text"), (21L, "gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir)
    val got = spark.read.parquet(curDir).select("doc_id").as[Long].collect().toSet
    assert(got == Set(10L, 21L),
      s"a dup of the REGENERATED reference must be dropped: $got")
  }

  test("healthy-path ensureIndex runs zero Spark jobs (memoized counts + stamp)") {
    val tmp = Files.createTempDirectory("graft-incr-zerojobs").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    val idxDir = s"$tmp/ndindex"
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    Seq((1L, words("ref", 40))).toDF("doc_id", "text").write.parquet(refDir)
    Incremental.curateBatchFuzzy(spark,
      Seq((10L, words("alpha", 40))).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)

    // count jobs submitted during a healthy ensure: the log entry
    // stands in for any count and the schemas are memoized, so the
    // ensure must be pure driver work — the log read and listings
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val group = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (group.contains("graft-zerojobs-marker")) marker.set(true)
        else jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val scope = graft.util.CacheScope()
      try Incremental.ensureIndex(
        spark, idxDir, refDir, curDir, "doc_id", "text", scope)
      finally scope.unpersistAll()
      // flush: the listener bus is FIFO, so once the marker job's start
      // event lands, every job the ensure submitted has been counted
      spark.sparkContext.setJobGroup("graft-zerojobs-marker", "flush")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!marker.get && System.nanoTime() < deadline) Thread.sleep(20)
      assert(marker.get, "listener bus never delivered the marker job")
      assert(jobs.get == 0,
        s"healthy-path ensure must run zero Spark jobs, ran ${jobs.get}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("auto-compaction trigger: file counts collapse inline while curation continues") {
    val tmp = Files.createTempDirectory("graft-incr-autocompact").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    val idxDir = s"$tmp/ndindex"
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    Seq((1L, words("ref", 40))).toDF("doc_id", "text").write.parquet(refDir)
    def parquetFiles(d: String): Int = new java.io.File(d)
      .listFiles.count(_.getName.endsWith(".parquet"))
    // five admitting batches with a threshold of 2: without the trigger
    // the store would sit at 5 part files
    val stories = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    stories.zipWithIndex.foreach { case (p, i) =>
      Incremental.curateBatchFuzzy(spark,
        Seq((10L + i, words(p, 40))).toDF("doc_id", "text"),
        "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5,
        compactAfterFiles = 2)
    }
    assert(parquetFiles(curDir) <= 3,
      s"store file count must collapse under the trigger: ${parquetFiles(curDir)}")
    assert(parquetFiles(s"$idxDir/sets") <= 3,
      s"index file counts must collapse too: ${parquetFiles(s"$idxDir/sets")}")
    val rows = spark.read.parquet(curDir).select("doc_id").as[Long]
      .collect().toSet
    assert(rows == Set(10L, 11L, 12L, 13L, 14L),
      s"compaction must never lose curated rows: $rows")
    assertListed(curDir, idxDir)

    // post-compaction the state still curates and replay stays
    // idempotent: a recrawl + an exact dup admit nothing
    val filesBefore = parquetFiles(curDir)
    Incremental.curateBatchFuzzy(spark,
      Seq((30L, words("alpha", 40) + " appended update note"),
        (31L, words("beta", 40))).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5,
      compactAfterFiles = 2)
    assert(spark.read.parquet(curDir).select("doc_id").as[Long]
      .collect().toSet == rows, "all-dup batch after compaction is a no-op")
    assert(parquetFiles(curDir) == filesBefore,
      "an all-dup batch appends no files (compacted store unchanged)")
  }

  test("exact-path auto-compaction: curateBatch keeps the store file count bounded") {
    val tmp = Files.createTempDirectory("graft-incr-exactcompact").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    Seq((1L, "frozen one")).toDF("doc_id", "text").write.parquet(refDir)
    (0 until 5).foreach { i =>
      Incremental.curateBatch(spark,
        Seq((10L + i, s"story number $i")).toDF("doc_id", "text"),
        "doc_id", "text", refDir, curDir, compactAfterFiles = 2)
    }
    val files = new java.io.File(curDir)
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(files <= 3,
      s"exact path must compact once the threshold is crossed: $files files")
    val rows = spark.read.parquet(curDir).select("doc_id").as[Long]
      .collect().toSet
    assert(rows == Set(10L, 11L, 12L, 13L, 14L),
      s"compaction must not lose or duplicate rows: $rows")
    // replay after compaction stays duplicate-free (the stored digests
    // survive the rewrite)
    Incremental.curateBatch(spark,
      Seq((20L, "story number 0"), (21L, "frozen one")).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, compactAfterFiles = 2)
    assert(spark.read.parquet(curDir).select("doc_id").as[Long]
      .collect().toSet == rows,
      "dups of compacted rows and frozen texts must still be dropped")
  }

  test("curateBatch drops null-text rows instead of letting them bypass dedup") {
    val tmp = Files.createTempDirectory("graft-incr-null").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    Seq((1L, "frozen one")).toDF("doc_id", "text").write.parquet(refDir)
    val batch = Seq((10L, Option("kept doc")), (11L, Option.empty[String]))
      .toDF("doc_id", "text")
    Incremental.curateBatch(spark, batch, "doc_id", "text", refDir, curDir)
    def storeFiles: Int = new java.io.File(curDir)
      .listFiles.count(_.getName.endsWith(".parquet"))
    val filesBefore = storeFiles
    Incremental.curateBatch(spark, batch, "doc_id", "text", refDir, curDir)
    val got = spark.read.parquet(curDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(got == Set((10L, "kept doc")),
      s"null text must never land (and never duplicate on replay): $got")
    assert(storeFiles == filesBefore,
      "an all-duplicate exact batch must append no part files " +
        s"(the fuzzy path's contract): $filesBefore -> $storeFiles")
  }

  test("bloom-prefiltered curation admits exactly the rows the plain path admits") {
    val tmp = Files.createTempDirectory("graft-incr-bloom").toString
    val refDir = s"$tmp/ref"
    Seq((1L, "frozen one"), (2L, "frozen two"), (3L, "frozen three"))
      .toDF("doc_id", "text").write.parquet(refDir)
    // frozen dups, an intra-batch pair, fresh rows, and a null — every
    // routing case crosses the bloom split
    val b1 = Seq((10L, Option("frozen one")), (11L, Option("alpha beta")),
      (12L, Option("alpha beta")), (13L, Option.empty[String])).toDF("doc_id", "text")
    val b2 = Seq((20L, Option("alpha beta")), (21L, Option("frozen three")),
      (22L, Option("epsilon zeta"))).toDF("doc_id", "text")
    def run(curDir: String, fpp: Double): Set[(Long, String)] = {
      Incremental.curateBatch(spark, b1, "doc_id", "text", refDir, curDir,
        refBloomFpp = fpp)
      Incremental.curateBatch(spark, b2, "doc_id", "text", refDir, curDir,
        refBloomFpp = fpp)
      spark.read.parquet(curDir)
        .select("doc_id", "text").as[(Long, String)].collect().toSet
    }
    val plain = run(s"$tmp/curated-plain", 0.0)
    val bloomed = run(s"$tmp/curated-bloom", 0.01)
    assert(plain == Set((11L, "alpha beta"), (22L, "epsilon zeta")),
      s"plain path baseline moved: $plain")
    assert(bloomed == plain,
      s"bloom prefilter must never change admitted rows: $bloomed vs $plain")
  }

  test("takedown: removed doc leaves store AND index; same text re-enters; stream continues") {
    val tmp = Files.createTempDirectory("graft-takedown").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    val idxDir = s"$tmp/ndindex"
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val storyA = words("alpha", 40); val storyB = words("beta", 40)
    Seq((1L, words("frozen", 40))).toDF("doc_id", "text").write.parquet(refDir)

    // two docs admitted
    Incremental.curateBatchFuzzy(spark,
      Seq((10L, storyA), (11L, storyB)).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    // sanity: a near-copy of storyA is fuzzily dropped before takedown
    Incremental.curateBatchFuzzy(spark,
      Seq((20L, storyA + " small edit")).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    assert(spark.read.parquet(curDir).select("doc_id")
      .as[Long].collect().toSet == Set(10L, 11L))

    // takedown storyA: store row gone, index purged
    val removed = Incremental.takedown(spark, curDir, "doc_id",
      Seq(10L).toDF("doc_id"), Some(idxDir))
    assert(removed == 1L, s"expected 1 removed row, got $removed")
    assert(spark.read.parquet(curDir).select("doc_id")
      .as[Long].collect().toSet == Set(11L))
    assert(spark.read.parquet(s"$idxDir/sets").select("doc")
      .as[Long].collect().toSet == Set(1L, 11L),
      "index sets must forget the removed doc")
    assert(spark.read.parquet(s"$idxDir/bands").where(col("doc") === 10L)
      .count() == 0, "index bands must forget the removed doc")
    assertListed(curDir, idxDir)

    // deletion means deletion: the SAME text re-enters under a new id
    // (exact digests left with the row; no ghost bands block it), and
    // an unrelated fresh doc is admitted too — the stream continues
    Incremental.curateBatchFuzzy(spark,
      Seq((30L, storyA), (31L, words("gamma", 40))).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    val after = spark.read.parquet(curDir).select("doc_id")
      .as[Long].collect().toSet
    assert(after == Set(11L, 30L, 31L), s"got $after")
    // and the re-admitted doc is fuzzily indexed again: its recrawl drops
    Incremental.curateBatchFuzzy(spark,
      Seq((40L, storyA + " tail edit")).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    assert(spark.read.parquet(curDir).select("doc_id")
      .as[Long].collect().toSet == Set(11L, 30L, 31L))
  }

  test("takedown frees its id cut") {
    val tmp = Files.createTempDirectory("graft-takedown-cut").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    Seq((1L, "frozen text")).toDF("doc_id", "text").write.parquet(refDir)
    Incremental.curateBatch(spark,
      Seq((10L, "alpha text"), (11L, "beta text")).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir)
    val held = spark.sparkContext.getPersistentRDDs.size
    assert(Incremental.takedown(spark, curDir, "doc_id", Seq(10L).toDF("doc_id")) == 1L)
    assert(spark.sparkContext.getPersistentRDDs.size == held,
      "the takedown's id cut must not wait for driver GC")
  }

  test("a write to a fuzzy stream's store outside its log stops the stream instead of losing rows") {
    val tmp = Files.createTempDirectory("graft-incr-foreign").toString
    val refDir = s"$tmp/ref"; val curDir = s"$tmp/curated"
    val idxDir = s"$tmp/ndindex"
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    def ids: Set[Long] = spark.read.parquet(curDir).select("doc_id").as[Long].collect().toSet
    Seq((1L, words("frozen", 40))).toDF("doc_id", "text").write.parquet(refDir)
    Incremental.curateBatchFuzzy(spark,
      Seq((10L, words("alpha", 40)), (11L, words("beta", 40))).toDF("doc_id", "text"),
      "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    // a takedown that leaves out the index dir runs under an exact-only
    // log in the store, which the fuzzy log knows nothing of
    Incremental.takedown(spark, curDir, "doc_id", Seq(10L).toDF("doc_id"))
    val next = Seq((20L, words("gamma", 40)), (21L, words("beta", 40) + " edited tail"))
      .toDF("doc_id", "text")
    val err = intercept[IllegalStateException](Incremental.curateBatchFuzzy(spark,
      next, "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5))
    assert(err.getMessage.contains(s"$idxDir/_log"), err.getMessage)
    assert(ids == Set(11L), s"no row may be lost: $ids")
    // the remedy the error names: drop the fuzzy log, so the next batch
    // adopts the store as it stands and rebuilds the index without 10
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$idxDir/_log"))
    Incremental.curateBatchFuzzy(spark,
      next, "doc_id", "text", refDir, curDir, idxDir, threshold = 0.5)
    assert(ids == Set(11L, 20L), s"got $ids")
    assert(!new java.io.File(s"$curDir/_log").exists, "the adopted exact log must go")
    assert(Dedup.NearDupIndex.read(spark, idxDir).sets.select("doc").as[Long]
      .collect().sorted.toSeq == Seq(1L, 11L, 20L))
    assertListed(curDir, idxDir)
  }

  /** A reference of `refDocs` 40-word docs and a fuzzy batch stream over
    * it: batch b holds `fresh` new docs, a near and an exact copy of a
    * reference doc and, from the second batch on, a near and an exact
    * copy of a doc the batch before admitted. */
  private def fuzzyStream(tmp: String, refDocs: Int, fresh: Int) = {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val refDir = s"$tmp/ref"
    (1 to refDocs).map(i => (i.toLong, words(s"ref$i-", 40)))
      .toDF("doc_id", "text").write.parquet(refDir)
    def freshText(b: Int, i: Int) = words(s"b$b-d$i-", 40)
    def batch(b: Int) = {
      val base = 1000L * b
      val own = (0 until fresh).map(i => (base + i, freshText(b, i)))
      val refCopies = Seq(
        (base + 100, words(s"ref${b % refDocs + 1}-", 40) + " edited tail"),
        (base + 101, words(s"ref${(b + 1) % refDocs + 1}-", 40)))
      val prevCopies =
        if (b == 1) Nil
        else Seq((base + 200, freshText(b - 1, 0) + " edited tail"),
          (base + 201, freshText(b - 1, 1)))
      (own ++ refCopies ++ prevCopies).toDF("doc_id", "text")
    }
    (refDir, batch _)
  }

  private def parquetFiles(d: String): Int = Option(new java.io.File(d).listFiles)
    .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

  private def partNames(d: String): Set[String] = Option(new java.io.File(d).listFiles)
    .map(_.map(_.getName).filter(_.endsWith(".parquet")).toSet).getOrElse(Set.empty)

  /** Each state dir holds exactly the part files the log lists. */
  private def assertListed(curDir: String, idxDir: String): Unit = {
    val entry = Incremental.latestEntry(spark, idxDir)
      .getOrElse(fail(s"no committed entry under $idxDir"))
    Seq(Incremental.Store -> curDir, Incremental.Bands -> s"$idxDir/bands",
        Incremental.Sets -> s"$idxDir/sets").foreach { case (role, dir) =>
      assert(partNames(dir) == entry(role).toSet,
        s"$dir holds ${partNames(dir)}, the log lists ${entry(role)}")
    }
  }

  test("fuzzy batches keep a fixed job count and a flat probe plan") {
    val tmp = Files.createTempDirectory("graft-incr-budget").toString
    val curDir = s"$tmp/curated"; val idxDir = s"$tmp/ndindex"
    val (refDir, batch) = fuzzyStream(tmp, refDocs = 6, fresh = 6)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probePlans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val group = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (group.contains("graft-budget-marker")) marker.set(true)
        else jobs.incrementAndGet(): Unit
      }
      // the probe is the one query that scans the stored band keys
      // without writing them (compaction is off below)
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case st: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if st.physicalPlanDescription.contains(s"$idxDir/bands") &&
              !st.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          probePlans.add(st.physicalPlanDescription): Unit
        case _ =>
      }
    }
    // (jobs, probe plan lengths) per batch; expression, plan and RDD ids
    // grow with the session (and gain digits), so they are masked
    // before lengths are compared
    val perBatch = (1 to 4).map { b =>
      val input = batch(b).localCheckpoint()
      marker.set(false); jobs.set(0); probePlans.clear()
      spark.sparkContext.addSparkListener(listener)
      try {
        Incremental.curateBatchFuzzy(spark, input, "doc_id", "text",
          refDir, curDir, idxDir, threshold = 0.5, compactAfterFiles = 0)
        // flush: the listener bus is FIFO, so once the marker lands
        // every job and execution of the batch has been seen
        spark.sparkContext.setJobGroup("graft-budget-marker", "flush")
        try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
        val deadline = System.nanoTime() + 10_000_000_000L
        while (!marker.get && System.nanoTime() < deadline) Thread.sleep(20)
        assert(marker.get, "listener bus never delivered the marker job")
      } finally spark.sparkContext.removeSparkListener(listener)
      val plans = probePlans.toArray(Array.empty[String]).toSeq
      (jobs.get, plans.map(_.replaceAll("#\\d+|(?<=plan_id=|RDD\\[)\\d+", "#").length))
    }
    info(s"per batch (jobs, probe plan chars): $perBatch")
    val steady = perBatch.drop(1)
    assert(steady.map(_._1).distinct.size == 1,
      s"batches 2-4 must run the same number of jobs: ${steady.map(_._1)}")
    assert(steady.forall(_._2.size == 1), s"one probe query per batch: $steady")
    assert(steady.map(_._2).distinct.size == 1,
      s"the probe plan must not grow from batch to batch: ${steady.map(_._2)}")
    assert(steady.head._2.head < 256 * 1024,
      s"probe plan is ${steady.head._2.head} chars")
    // every batch admitted its fresh docs and dropped all four copies
    val ids = spark.read.parquet(curDir).select("doc_id").as[Long].collect().toSet
    assert(ids == (1 to 4).flatMap(b => (0 until 6).map(i => 1000L * b + i)).toSet,
      s"unexpected curated ids: ${ids.toSeq.sorted}")
  }

  test("an admitting fuzzy batch adds one part file per index dir and the store's usual count") {
    val tmp = Files.createTempDirectory("graft-incr-cadence").toString
    val curDir = s"$tmp/curated"; val idxDir = s"$tmp/ndindex"
    val (refDir, batch) = fuzzyStream(tmp, refDocs = 6, fresh = 24)
    def counts = Seq(curDir, s"$idxDir/bands", s"$idxDir/sets").map(parquetFiles)
    val deltas = (1 to 3).map { b =>
      val before = counts
      Incremental.curateBatchFuzzy(spark, batch(b), "doc_id", "text",
        refDir, curDir, idxDir, threshold = 0.5, compactAfterFiles = 0)
      counts.zip(before).map { case (a, z) => a - z }
    }
    info(s"part files added per batch (store, bands, sets): $deltas")
    // the first batch builds the index from the reference: one file each
    assert(deltas.head.tail == Seq(2, 2), s"first batch: ${deltas.head}")
    deltas.tail.foreach { case Seq(store, bands, sets) =>
      assert(bands == 1 && sets == 1,
        s"a batch-sized index slice must add one part file per dir: $bands, $sets")
      assert(store == spark.sessionState.conf.numShufflePartitions,
        s"the store gains one part file per shuffle partition: $store")
    }
  }

  test("a copied index dir streams like its original without a rebuild; the log stays short") {
    val tmp = Files.createTempDirectory("graft-incr-copy").toString
    val (refDir, batch) = fuzzyStream(tmp, refDocs = 6, fresh = 6)
    val orig = s"$tmp/orig"; val copy = s"$tmp/copy"
    def run(root: String, b: DataFrame): Unit =
      Incremental.curateBatchFuzzy(spark, b, "doc_id", "text", refDir,
        s"$root/curated", s"$root/index", threshold = 0.5, compactAfterFiles = 4)
    // one index build, then the index dir alone — its log included — is
    // copied to a fresh root, the way a benchmark replay starts
    run(orig, batch(1).where(lit(false)))
    val src = java.nio.file.Paths.get(orig, "index")
    Files.walk(src).forEach { p =>
      val dst = java.nio.file.Paths.get(copy, "index").resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
    val copied = Seq("bands", "sets").map(d => d -> partNames(s"$copy/index/$d"))
    (1 to 6).foreach { b =>
      run(orig, batch(b)); run(copy, batch(b))
      if (b == 1) copied.foreach { case (d, files) =>
        assert(files.nonEmpty && files.subsetOf(partNames(s"$copy/index/$d")),
          s"the copy's first batch must not rebuild $d: ${partNames(s"$copy/index/$d")}")
      }
    }
    def ids(root: String): Set[Long] =
      spark.read.parquet(s"$root/curated").select("doc_id").as[Long].collect().toSet
    assert(ids(orig) == (1 to 6).flatMap(b => (0 until 6).map(i => 1000L * b + i)).toSet,
      s"unexpected curated ids: ${ids(orig).toSeq.sorted}")
    assert(ids(copy) == ids(orig), "the copy must admit what the original admits")
    Seq(orig, copy).foreach { root =>
      val entries = new java.io.File(s"$root/index/_log").listFiles
        .count(_.getName.matches("""\d+\.json"""))
      assert(entries <= 2, s"$root keeps $entries log entries")
      assertListed(s"$root/curated", s"$root/index")
    }
    assert(Incremental.latestEntry(spark, s"$orig/index").exists(e =>
      e(Incremental.Store).size <= 4 && e(Incremental.Bands).size <= 4),
      "compaction must have run under the trigger")
  }
}
