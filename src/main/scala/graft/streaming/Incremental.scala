package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, collect_list, explode, lit, sha2,
  size, struct, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup
import graft.util.{Cut, ParquetSchemaMemo}

/** Incremental corpus curation over a document stream — the production
  * ingest shape: each micro-batch is deduped against the FROZEN
  * reference corpus and against everything already curated, then
  * appended to the curated store. `foreachBatch` (not a plain sink)
  * because the dedup needs an arbitrary batch join against growing
  * state that outlives executors — the curated store IS the state, so
  * a restarted query resumes exactly: a replayed batch re-dedups
  * against what it already wrote and admits nothing (no duplicate text
  * ever lands; spec-pinned by the replay test).
  *
  * State and crashes: each stream state root keeps one commit log,
  * `_log/<n>.json` — under the index dir for a fuzzy stream, under the
  * curated store for an exact-only one. An entry lists the live part
  * files of every dir the stream owns (the store; for a fuzzy stream
  * also the index's `bands` and `sets`), named relative to that dir,
  * plus the reference fingerprint the index was built over. Every
  * state change — an admitting batch, an index build or rebuild, a
  * compaction, a takedown — writes uniquely named parts into the live
  * dirs, commits one entry (temp file, then rename), and deletes the
  * parts the entry no longer lists. Opening the state reads the latest
  * entry and deletes any part it does not list, which only a crash can
  * leave: a state change that died before its commit never happened,
  * so a plain `spark.read.parquet(dir)` after an open sees exactly the
  * committed state. The log keeps one entry (the previous one is
  * deleted once the next commits), so reading it is O(1). A store is
  * written by one stream kind: an exact store may move to the fuzzy
  * path once (its parts are adopted), not back — a fuzzy stream whose
  * store has gained an exact-only log since refuses to open rather
  * than delete the parts that writer added.
  *
  * Null-text rows are DROPPED up front: a null digest matches nothing
  * in any anti-join, so they would bypass every dedup layer and
  * re-land on each replay — and a curation pipeline has no use for a
  * document with no content.
  *
  * Representative choice: min-id WITHIN a batch ([[Dedup.exactDedup]]
  * contract), first-curated ACROSS batches (arrival order) — so stream
  * and batch curation of the same data keep the same TEXT set always,
  * and the same rows exactly when each text's min id arrives in its
  * earliest batch (both pinned in IncrementalSpec).
  *
  * Scale shape per batch: digest-first anti-joins only — the shuffle
  * carries (digest, id), never text. The curated store persists each
  * row's sha2 digest at append time, and the frozen reference's digests
  * are hoisted into a one-time sidecar
  * ([[Dedup.ensureReferenceDigests]], r8 VERDICT #1) — so a micro-batch
  * hashes ONLY its own text (O(batch)): curated text is never re-hashed
  * (stored [[DigestCol]]) and reference text is never re-read at all
  * (the per-batch plan's reference-side relation is the digest sidecar,
  * spec-pinned the way the fuzzy index pins zero corpus scans).
  */
object Incremental {

  /** The digest column persisted in the curated store. */
  val DigestCol = "__dig"

  /** The batch rows of one doc in a fuzzy batch's cut. */
  private val RowsCol = "__rows"

  /** Where the frozen reference's digest sidecar lives when the caller
    * does not pick a spot: a SIBLING of the curated store (a subdir
    * would corrupt the store's own parquet listing, same rule as the
    * fuzzy index dir). */
  private[streaming] def refDigestDirFor(
      curatedDir: String, explicit: String): String =
    Option(explicit).getOrElse(s"$curatedDir.refdig")

  /** Start the curation stream. `curatedDir` doubles as output and
    * dedup state; `referenceDir` is the frozen corpus (never written —
    * its digest sidecar lands at `refDigestDir`, default sibling of the
    * store). `compactAfterFiles`: see [[curateBatch]]. */
  def curateStream(
      docs: DataFrame, idCol: String, textCol: String,
      referenceDir: String, curatedDir: String,
      checkpointDir: String, refDigestDir: String = null,
      compactAfterFiles: Int = 64, refBloomFpp: Double = 0.0): StreamingQuery =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        curateBatch(spark, batch, idCol, textCol, referenceDir, curatedDir,
          refDigestDir, compactAfterFiles, refBloomFpp)
      }
      .start()

  /** One micro-batch: drop null text, representative-dedup within the
    * batch, anti-join against reference digests + already-curated
    * (stored digests), append with this batch's digests and commit the
    * new parts to the store's log. Factored out so batch pipelines (and
    * specs) can call it directly.
    *
    * `compactAfterFiles`: once the store's committed part-file count
    * crosses this threshold the store is compacted in place — without a
    * trigger a long-lived stream accretes one file per batch until an
    * operator remembers to run maintenance (r8 VERDICT #2). Safe inline
    * under this module's single-writer contract; <= 0 disables.
    *
    * `refBloomFpp` > 0 puts a broadcast Bloom filter (built once per
    * reference freeze, memoized driver-side on the sidecar stamp) in
    * front of the reference anti-join: rows that miss the bloom are
    * definitely new and skip that shuffle; positives are verified
    * exactly, so admitted rows are IDENTICAL at any fpp
    * ([[Dedup.dedupAgainstDigestsBloom]]). Worth it when most batch
    * rows are new (the crawl-ingest shape); 0 keeps the plain
    * anti-join. */
  def curateBatch(
      spark: SparkSession, batch: DataFrame, idCol: String, textCol: String,
      referenceDir: String, curatedDir: String, refDigestDir: String = null,
      compactAfterFiles: Int = 64, refBloomFpp: Double = 0.0): Unit = {
    val log = exactLog(spark, curatedDir)
    val state = log.open()
    val fresh = freshAgainstState(spark, batch, idCol, textCol,
      referenceDir, curatedDir, refDigestDirFor(curatedDir, refDigestDir),
      refBloomFpp)
    // cut once so the all-dup check and the append share one evaluation;
    // an all-duplicate batch — the normal replay shape — appends NOTHING,
    // because an empty append still writes a part file and those
    // accrete into a listing tax on a long-lived stream
    val cut = Cut(fresh, eager = true)
    try {
      if (cut.count() > 0) {
        val added = log.written(log.dirs.keySet) {
          cut.withColumn(DigestCol, sha2(col(textCol), 256))
            .write.mode("append").parquet(curatedDir)
        }
        compactIfDue(spark, log, log.commit(state.plus(added)), compactAfterFiles)
      }
    } finally Cut.release(cut)
  }

  /** The exact dedup layers of one micro-batch as a LAZY plan: null
    * filter → in-batch representative dedup → anti-join against the
    * reference digest sidecar → anti-join against the curated store's
    * stored digests. Shared by [[curateBatch]] and [[curateBatchFuzzy]],
    * each of which opens the state's log first, so the store dir read
    * here holds exactly the committed parts. Exposed to specs so the
    * no-reference-rehash contract can be pinned on the physical plan
    * ([[Dedup.ensureReferenceDigests]] runs its one-time build eagerly
    * in here, but the RETURNED plan reads only the sidecar — never the
    * reference's text). */
  private[streaming] def freshAgainstState(
      spark: SparkSession, batch: DataFrame, idCol: String, textCol: String,
      referenceDir: String, curatedDir: String,
      refDigestDir: String, refBloomFpp: Double = 0.0,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged): DataFrame = {
    val clean = batch.filter(col(textCol).isNotNull)
    val reps = Dedup.exactDedup(clean, idCol, textCol).select(idCol)
    val deduped = clean.join(reps, Seq(idCol), "left_semi")
    val refDigests = Dedup.ensureReferenceDigests(
      spark, referenceDir, refDigestDir, textCol)
    val vsRef =
      if (refBloomFpp > 0)
        // the scope matters here: the bloom form is a UNION whose two
        // branches each re-run the rep-dedup aggregation above unless
        // the flagged batch is persisted — and the fuzzy path's index
        // probe evaluates this frame several times downstream
        Dedup.dedupAgainstDigestsBloom(deduped, refDigests, idCol, textCol,
          Dedup.ensureDigestBloom(spark, refDigestDir, refBloomFpp),
          scope = scope)
      else Dedup.dedupAgainstDigests(deduped, refDigests, idCol, textCol)
    if (partNames(spark, curatedDir).isEmpty) vsRef
    else Dedup.dedupAgainstDigestedReference(
      vsRef, ParquetSchemaMemo.read(spark, curatedDir), idCol, textCol, DigestCol)
  }

  /** [[curateStream]] with a FUZZY layer on top of the exact digest
    * dedup: after the digest anti-joins, each batch is probed against a
    * persisted [[Dedup.NearDupIndex]] covering the frozen reference AND
    * every previously admitted batch, so a lightly edited recrawl that
    * slips past byte-exact dedup is dropped in-stream. The index lives
    * at `indexDir` (SIBLING of the curated store, never inside it — a
    * subdir would corrupt the store's own parquet listing) together
    * with the stream's commit log, is built from the reference plus any
    * pre-existing curated store on first use ([[ensureIndex]]), and
    * each admitted batch appends its own band keys + shingle sets — the
    * corpus and the curated history are never re-shingled (the exact
    * path's stored-digest contract, extended to sketches). */
  def curateStreamFuzzy(
      docs: DataFrame, idCol: String, textCol: String,
      referenceDir: String, curatedDir: String,
      checkpointDir: String, indexDir: String,
      fuzzyThreshold: Double = 0.8, refDigestDir: String = null,
      compactAfterFiles: Int = 64, refBloomFpp: Double = 0.0): StreamingQuery =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        curateBatchFuzzy(spark, batch, idCol, textCol, referenceDir,
          curatedDir, indexDir, fuzzyThreshold, refDigestDir,
          compactAfterFiles, refBloomFpp)
      }
      .start()

  /** One fuzzy micro-batch: exact layers first (digest anti-joins are
    * cheaper than any sketch — they thin the batch before shingling),
    * then one probe of the stored index, then append + index the
    * admitted rows.
    *
    * Scale shape — cut once, sketch once: the exact-fresh rows are
    * sketched row-locally ([[Dedup.minhashSketch]]: shingle set,
    * signature, digest — no shingle-row shuffle) and cut from their
    * lineage ONCE, before the probe. Every later plan reads that one
    * checkpointed leaf instead of re-embedding the exact-dedup chain, so
    * the per-batch plans stay flat as the store grows. The probe runs
    * once, over the cut's doc-level sketches, and collects the matched
    * ids (bounded by the batch). The store append writes the batch's own
    * columns plus the digest; the index append writes band keys and
    * sets straight from the same sketches — admitted text is never
    * re-shingled.
    *
    * The admitted set is fixed (the matched ids are on the driver)
    * BEFORE the store/index writes: the probe plan reads the index it
    * is about to append to, so a lazy re-evaluation after the append
    * would see its own output and drop everything. The cut is a
    * [[graft.util.Cut]]: a reliable checkpoint when the context has a
    * checkpoint dir configured (a cluster deployment always should — a
    * local checkpoint's blocks die with their executor between the two
    * appends), a local one otherwise; [[graft.util.Cut.release]] frees
    * it once the batch ends.
    *
    * Crash window: the store and index parts a batch writes become
    * state only when the batch commits one log entry listing both. A
    * batch that dies anywhere before that commit never happened — the
    * next open deletes its parts — and its replay admits exactly what
    * the first attempt would have; one that dies after the commit has
    * fully landed, and its replay admits nothing. */
  def curateBatchFuzzy(
      spark: SparkSession, batch: DataFrame, idCol: String, textCol: String,
      referenceDir: String, curatedDir: String, indexDir: String,
      threshold: Double, refDigestDir: String = null,
      compactAfterFiles: Int = 64, refBloomFpp: Double = 0.0): Unit = {
    // Tracked scope: frames persisted by the bloom prefilter or an index
    // (re)build are released once both writes land — without this every
    // micro-batch of a long-lived stream leaks MEMORY_AND_DISK blocks
    // (the exact failure CacheScope exists for).
    val scope = graft.util.CacheScope()
    // released in the finally: an exception between the checkpoint cut
    // and the commit must not strand the batch's checkpoint files
    // (reliable mode would otherwise leak one full-batch rdd-* dir per
    // failed attempt until the checkpoint volume fills)
    var cut: Option[DataFrame] = None
    try {
      // opened before any read: the store dir then holds exactly the
      // committed parts
      val (index, state) = ensureIndex(
        spark, indexDir, referenceDir, curatedDir, idCol, textCol, scope)
      val exactFresh = freshAgainstState(spark, batch, idCol, textCol,
        referenceDir, curatedDir, refDigestDirFor(curatedDir, refDigestDir),
        refBloomFpp, scope)
      // The cut holds one row per doc: its merged sketch plus the batch
      // rows under its id. The repartition by id is the merge's own
      // exchange, at the session's shuffle width, which AQE leaves
      // uncoalesced: each admitting batch adds one store part file per
      // shuffle partition, the cadence compactAfterFiles counts against
      val stored = exactFresh.withColumn(DigestCol, sha2(col(textCol), 256))
      val byDoc = Dedup.docSketches(
        Dedup.minhashSketch(
          stored.select(col(idCol), col(textCol),
            struct(stored.columns.map(c => col(s"`$c`")): _*).as("__row")),
          textCol, index.shingleSize, index.numHashes)
          .drop(textCol)
          .repartition(spark.sessionState.conf.numShufflePartitions, col(idCol)),
        idCol, index.numHashes, carry = Seq(collect_list(col("__row")).as(RowsCol)))
      val docs = Cut(byDoc, eager = true)
      cut = Some(docs)
      // matched ids are bounded by the batch: once on the driver, the
      // admitted set no longer depends on the index it is appended to
      val matched = Dedup.nearDupsOfSketches(docs, index, threshold)
        .select(col("a")).distinct().collect().map(_.get(0))
      val admitted =
        if (matched.isEmpty) docs else docs.where(!col("doc").isInCollection(matched))
      // An all-duplicate batch (the normal replay shape) admits nothing:
      // skip both appends and the commit — appending an EMPTY frame
      // still writes a part file, and on a long-lived stream those empty
      // files accrete into a listing/file-count tax on every later read.
      val admittedCount = admitted.agg(coalesce(sum(size(col(RowsCol))), lit(0L)))
        .head().getLong(0)
      if (admittedCount > 0) {
        val log = fuzzyLog(spark, curatedDir, indexDir)
        val added = log.written(log.dirs.keySet) {
          admitted.select(explode(col(RowsCol)).as("__r")).select(col("__r.*"))
            .write.mode("append").parquet(curatedDir)
          Dedup.indexOfSketches(admitted, index.shingleSize,
              index.numHashes, index.rowsPerBand)
            .append(indexDir)
        }
        val committed = log.commit(state.plus(added))
        // the first admission created the store: learn its schema now
        // (one inference job), so every later batch opens it with none
        if (state(Store).isEmpty) ParquetSchemaMemo.read(spark, curatedDir)
        compactIfDue(spark, log, committed, compactAfterFiles)
      }
    } finally {
      // free the cut frame's storage whether the batch succeeded or
      // threw mid-append (blocks for the local variant, files for the
      // reliable one) — a replayed batch re-dedups from the store, so
      // the checkpoint is worthless after this point either way
      cut.foreach(Cut.release)
      scope.unpersistAll()
    }
  }

  /** Open a fuzzy stream's state and return its near-dup index with the
    * committed entry. Healthy state — an entry whose reference
    * fingerprint matches today's reference files — costs the log read,
    * one listing per owned dir and the reference listing: no Spark job,
    * no count.
    *
    * Otherwise the index is (re)built over reference ∪ store, as new
    * parts beside any old ones, and one entry swaps the `bands`/`sets`
    * lists (the old parts are then deleted; no listed dir is ever
    * overwritten):
    *  - first use (no entry yet): every store part present is adopted,
    *    so a stream migrated from the exact [[curateStream]], or a
    *    pre-log state dir, never leaves already-admitted docs fuzzily
    *    unindexed — edited recrawls of them would slip through forever;
    *  - the reference was regenerated in place (its file-metadata
    *    fingerprint, [[Dedup.fileSnapshot]], changed): the sketches
    *    describe bytes that no longer exist. The schema memo is dropped
    *    too, since a regeneration may change the schema.
    * A rebuild reuses the `params.json` sketch params when present. */
  private[streaming] def ensureIndex(
      spark: SparkSession, indexDir: String, referenceDir: String,
      curatedDir: String, idCol: String, textCol: String,
      scope: graft.util.CacheScope): (Dedup.NearDupIndex, Entry) = {
    val log = fuzzyLog(spark, curatedDir, indexDir)
    val state = log.open()
    val refFp = Dedup.fileSnapshot(ParquetSchemaMemo.read(spark, referenceDir))
      .map(Dedup.hash64).getOrElse(0L)
    if (state.n >= 0 && state.refFp == refFp)
      (Dedup.NearDupIndex.read(spark, indexDir), state)
    else {
      ParquetSchemaMemo.invalidate(referenceDir)
      val reference = ParquetSchemaMemo.read(spark, referenceDir)
        .select(col(idCol), col(textCol))
      val docs =
        if (state(Store).isEmpty) reference
        else reference.unionByName(
          ParquetSchemaMemo.read(spark, curatedDir).select(col(idCol), col(textCol)))
      val (s, n, r) = Dedup.NearDupIndex.readParams(spark, indexDir)
        .getOrElse((3, 16, 4))
      val built = log.written(Set(Bands, Sets)) {
        Dedup.buildNearDupIndex(docs, idCol, textCol, s, n, r, scope)
          .append(indexDir)
      }
      val committed = log.commit(state.copy(refFp = refFp, parts = state.parts ++ built))
      Seq(Bands, Sets).foreach(role => ParquetSchemaMemo.invalidate(log.dirs(role)))
      (Dedup.NearDupIndex.read(spark, indexDir), committed)
    }
  }

  /** The roles of the dirs a stream owns, as named in its log entries. */
  private[streaming] val Store = "store"
  private[streaming] val Bands = "bands"
  private[streaming] val Sets = "sets"

  /** One committed state: each owned dir's live part files, by role,
    * named relative to that dir, and the reference fingerprint the
    * index was built over (0 when there is no index). `n` is the
    * entry's number, -1 for state adopted from a dir with no log. */
  private[streaming] final case class Entry(
      n: Long, refFp: Long, parts: Map[String, Seq[String]]) {
    def apply(role: String): Seq[String] = parts.getOrElse(role, Nil)
    def plus(added: Map[String, Seq[String]]): Entry =
      copy(parts = parts ++ added.map { case (r, ps) => r -> (this(r) ++ ps) })
  }

  /** The commit log of one stream state root, `<root>/_log`, over the
    * dirs in `dirs` (role → dir). Single writer, like the rest of this
    * module's state. */
  private[streaming] final class StateLog(
      spark: SparkSession, root: String, val dirs: Map[String, String]) {
    private val conf = spark.sparkContext.hadoopConfiguration
    private val logDir = new Path(root, "_log")

    /** The latest committed entry, None before the first commit. */
    def latest: Option[Entry] =
      listing(spark, logDir).map(_.getPath.getName).collect { case EntryName(n) => n.toLong }
        .maxOption.map(read)

    /** The latest entry, with every part file it does not list deleted;
      * on first use, every part file present, adopted. */
    def open(): Entry = latest match {
      case Some(e) =>
        storeLog.filter(p => p.getFileSystem(conf).exists(p)).foreach { p =>
          throw new IllegalStateException(s"$p: an exact-only stream (or a " +
            s"takedown without the index dir) wrote this store after $logDir " +
            s"last committed, so that log no longer describes it; delete " +
            s"$logDir to adopt the store as it stands and rebuild the index")
        }
        clean(e)
        e
      case None =>
        storeLog.foreach(p => p.getFileSystem(conf).delete(p, true))
        Entry(-1L, 0L, dirs.map { case (role, dir) => role -> partNames(spark, dir) })
    }

    /** An exact-only stream's log inside a fuzzy stream's store: dropped
      * when the fuzzy stream adopts the store, and a sign of a write
      * outside the fuzzy log at any later open. */
    private def storeLog: Option[Path] = dirs.get(Store).map(new Path(_))
      .filter(_ != new Path(root)).map(new Path(_, "_log"))

    /** Run `write` and return the part files it added to each of
      * `roles`' dirs (Spark part names embed a per-write UUID, so the
      * new names never collide with listed ones). */
    def written(roles: Set[String])(write: => Unit): Map[String, Seq[String]] = {
      val before = roles.map(role => role -> partNames(spark, dirs(role)).toSet).toMap
      write
      roles.map(role => role -> partNames(spark, dirs(role)).filterNot(before(role))).toMap
    }

    /** Commit `e` as the next entry — written to a temp file, then
      * renamed into place — and delete what it no longer lists: the
      * previous entry and every unlisted part file. */
    def commit(e: Entry): Entry = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val next = e.copy(n = e.n + 1)
      val json = JObject("refFp" -> JLong(next.refFp),
        "parts" -> JObject(next.parts.toList.sortBy(_._1).map { case (role, ps) =>
          role -> JArray(ps.map(JString(_)).toList) }))
      val tmp = new Path(logDir, s".${next.n}.json.tmp")
      val fs = logDir.getFileSystem(conf)
      val out = fs.create(tmp, true)
      try out.write(JsonMethods.compact(JsonMethods.render(json)).getBytes(UTF_8))
      finally out.close()
      if (!fs.rename(tmp, new Path(logDir, s"${next.n}.json")))
        throw new java.io.IOException(s"could not commit $tmp to $logDir")
      clean(next)
      next
    }

    private def read(n: Long): Entry = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val p = new Path(logDir, s"$n.json")
      val in = p.getFileSystem(conf).open(p)
      val json = try JsonMethods.parse(new String(in.readAllBytes(), UTF_8))
        finally in.close()
      val refFp = json \ "refFp" match {
        case JInt(v) => v.toLong
        case JLong(v) => v
        case other => throw new IllegalStateException(s"$p: bad refFp $other")
      }
      val parts = json \ "parts" match {
        case JObject(fields) => fields.map {
          case (role, JArray(vs)) => role -> vs.collect { case JString(s) => s }
          case (role, v) => throw new IllegalStateException(s"$p: bad $role list $v")
        }.toMap
        case other => throw new IllegalStateException(s"$p: bad parts $other")
      }
      Entry(n, refFp, parts)
    }

    /** Delete every log file but `e`'s, and from each owned dir every
      * part file `e` does not list plus a crashed write's `_temporary`. */
    private def clean(e: Entry): Unit = {
      def delete(st: FileStatus): Unit = {
        st.getPath.getFileSystem(conf).delete(st.getPath, true); ()
      }
      listing(spark, logDir).filter(_.getPath.getName != s"${e.n}.json").foreach(delete)
      dirs.foreach { case (role, dir) =>
        val keep = e(role).toSet
        listing(spark, new Path(dir)).filter { st =>
          val name = st.getPath.getName
          name == "_temporary" || (name.endsWith(".parquet") && !keep(name))
        }.foreach(delete)
      }
    }
  }

  private val EntryName = """(\d+)\.json""".r

  /** A fuzzy stream's log: under the index dir, over store, bands and
    * sets. It lives with the index so that a copied index dir carries
    * the entry that lists its parts. */
  private def fuzzyLog(spark: SparkSession, curatedDir: String, indexDir: String) =
    new StateLog(spark, indexDir, Map(Store -> curatedDir,
      Bands -> s"$indexDir/bands", Sets -> s"$indexDir/sets"))

  /** An exact-only stream's log: under the store, over the store. */
  private def exactLog(spark: SparkSession, curatedDir: String) =
    new StateLog(spark, curatedDir, Map(Store -> curatedDir))

  /** The latest committed entry of the state root `root` (the index dir
    * of a fuzzy stream, the store of an exact one), for specs and demos. */
  private[streaming] def latestEntry(spark: SparkSession, root: String): Option[Entry] =
    new StateLog(spark, root, Map.empty).latest

  /** One driver listing of a dir; empty when it does not exist. */
  private def listing(spark: SparkSession, p: Path): Seq[FileStatus] =
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The part files of one parquet dir. */
  private def partFiles(spark: SparkSession, dir: String): Seq[FileStatus] =
    listing(spark, new Path(dir)).filter(_.getPath.getName.endsWith(".parquet"))

  private def partNames(spark: SparkSession, dir: String): Seq[String] =
    partFiles(spark, dir).map(_.getPath.getName)

  /** Auto-compaction trigger (r8 VERDICT #2): compact each owned dir
    * whose committed part-file count crossed `maxFiles` (<= 0
    * disables). Runs inline at the end of an admitting batch — safe
    * under the module's single-writer contract. */
  private def compactIfDue(spark: SparkSession, log: StateLog, state: Entry,
      maxFiles: Int): Unit =
    if (maxFiles > 0) {
      val due = log.dirs.keySet.filter(role => state(role).size > maxFiles)
      if (due.nonEmpty) compact(spark, log, state, due, 128L << 20)
    }

  /** Rewrite each of `roles`' dirs to ~`targetFileBytes` files: every
    * append-per-batch dir this module owns (the curated store, the
    * index's bands/sets) gains part files per micro-batch, and on a
    * long-lived stream thousands of small files tax every listing,
    * footer read, and task-scheduling round downstream. The compacted
    * parts land beside the old ones; one entry swaps the lists, and
    * only then are the old parts deleted. Row content is unchanged. */
  private def compact(spark: SparkSession, log: StateLog, state: Entry,
      roles: Set[String], targetFileBytes: Long): Entry = {
    val rewritten = log.written(roles) {
      roles.foreach { role =>
        val dir = log.dirs(role)
        val bytes = partFiles(spark, dir).map(_.getLen).sum
        val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        ParquetSchemaMemo.read(spark, dir).repartition(parts)
          .write.mode("append").parquet(dir)
      }
    }
    log.commit(state.copy(parts = state.parts ++ rewritten))
  }

  /** Compact the full incremental-curation state: the curated store
    * plus the index's bands and sets dirs (each accretes files per
    * admitted batch), in one commit. A state dir with no log yet is
    * adopted as it stands; the next fuzzy batch then rebuilds its
    * index, as on any first use. */
  def compactCuratedState(
      spark: SparkSession, curatedDir: String, indexDir: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val log = fuzzyLog(spark, curatedDir, indexDir)
    val state = log.open()
    val roles = log.dirs.keySet.filter(role => state(role).nonEmpty)
    if (roles.nonEmpty) compact(spark, log, state, roles, targetFileBytes)
  }

  /** Data-deletion (takedown) for the curated store — the governance
    * path: remove `ids` from the store and, when the stream runs the
    * fuzzy layer (pass its `indexDir`), from the index's bands AND sets.
    * A maintenance op under the module's single-writer contract (run
    * between batches, like compaction). The rewritten store, bands and
    * sets land as new parts and ONE entry swaps all three lists, so a
    * crash leaves either the old state or the new one — never a store
    * without the doc and an index still holding it.
    *
    * Semantics, stated plainly:
    * - the removed documents' stored digests leave with their rows, so
    *   the SAME text can re-enter on a later batch — deletion means
    *   deletion, not a tombstone that silently keeps matching;
    * - the index purge is REQUIRED for that, not cosmetic: ghost
    *   bands/sets entries would still fuzzily match a re-submission
    *   against a document that no longer exists.
    * Returns the number of store rows removed. */
  def takedown(spark: SparkSession, curatedDir: String, idCol: String,
      ids: DataFrame, indexDir: Option[String] = None): Long = {
    val log = indexDir.fold(exactLog(spark, curatedDir))(fuzzyLog(spark, curatedDir, _))
    val state = log.open()
    val idsOnly = Cut.local(ids.select(col(idCol)).distinct())
    try {
      val live = log.dirs.keySet.filter(role => state(role).nonEmpty)
      val removed = if (!live(Store)) 0L else ParquetSchemaMemo.read(spark, curatedDir)
        .join(idsOnly, Seq(idCol), "left_semi").count()
      val rewritten = log.written(live) {
        live.foreach { role =>
          val key = if (role == Store) idCol else "doc"
          ParquetSchemaMemo.read(spark, log.dirs(role))
            .join(idsOnly.select(col(idCol).as(key)), Seq(key), "left_anti")
            .write.mode("append").parquet(log.dirs(role))
        }
      }
      if (live.nonEmpty) log.commit(state.copy(parts = state.parts ++ rewritten))
      removed
    } finally Cut.release(idsOnly)
  }
}
