package graft.operators

import graft.SparkSpec
import graft.sources.Tables

/** Multi-probe LSH recall (SURVEY §2.5 X15 scale path): probing the
  * radius-1 buckets must recover at least the single-probe recall
  * against the brute-force ground truth, and single-probe recall must
  * already be non-trivial on the test embeddings. */
class AnnRecallSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private val queries = Seq(0, 1, 2)
  private val planes = Seq(10, 11, 12, 13)
  private val k = 5

  private def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("q", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("multi-probe radius 1 recall >= single-probe recall vs brute force") {
    val emb = Tables.embeddings(spark, dir)
    val truth = resultSet(Similarity.cosineTopK(emb, "vec_id", "embedding", queries, k))
    val single = resultSet(Similarity.annLshTopK(emb, "vec_id", "embedding",
      queries, planes, k, probeRadius = 0))
    val multi = resultSet(Similarity.annLshTopK(emb, "vec_id", "embedding",
      queries, planes, k, probeRadius = 1))
    val rSingle = (single intersect truth).size.toDouble / truth.size
    val rMulti = (multi intersect truth).size.toDouble / truth.size
    info(f"recall@$k: single-probe $rSingle%.2f, multi-probe $rMulti%.2f")
    assert(rMulti >= rSingle)
    assert(rMulti > 0.2, s"multi-probe recall suspiciously low: $rMulti")
    // candidates probed stay bucketed — the multi-probe result must
    // still be a subset of what a full scan would rank
    assert((multi -- truth).forall { case (q, _) => queries.contains(q.toInt) })
  }

  test("product quantization: codes are nearest codewords, ADC top-k recalls brute force") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val dim = emb.select(org.apache.spark.sql.functions
      .size(col("embedding"))).head().getInt(0)
    val m = if (dim % 4 == 0) 4 else if (dim % 2 == 0) 2 else 1
    val cb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = m, k = 16, iters = 3)
    assert(cb.length == m && cb.forall(_.length == 16))
    assert(cb(0)(0).length == dim / m)
    // codebooks are deterministic: retrain reproduces them exactly
    val cb2 = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = m, k = 16, iters = 3)
    assert(cb.map(_.toSeq).toSeq == cb2.map(_.toSeq).toSeq,
      "PQ training must be reproducible")
    // encoded codes: spot-verify one row's codes are the true argmin
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    val row0 = emb.select(col("vec_id").cast("long"),
        graft.functions.Vectors.toDouble(col("embedding")))
      .orderBy("vec_id").head()
    val v0 = row0.getSeq[Double](1)
    val got0 = codes.filter(col("vec_id") === row0.getLong(0))
      .head().getSeq[Int](1)
    val sub = dim / m
    val expect0 = (0 until m).map { s =>
      val qs = v0.slice(s * sub, (s + 1) * sub)
      cb(s).zipWithIndex.map { case (c, i) =>
        (qs.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.minBy { case (d, i) => (d, i) }._2
    }
    assert(got0.toSeq == expect0, s"codes $got0 vs argmin $expect0")
    // ADC approximate top-k recalls a healthy share of the exact
    // neighbors (cosineTopK ranks by cosine, ADC by L2 — on these
    // unit-ish embeddings the orders agree enough to measure recall)
    val truth = resultSet(Similarity.cosineTopK(emb, "vec_id", "embedding",
      queries, k))
    val adc = resultSet(Similarity.pqTopK(emb, "vec_id", "embedding", cb,
      queries.map(_.toLong), k))
    val recall = (adc intersect truth).size.toDouble / truth.size
    info(f"PQ ADC recall@$k (m=$m, 16 codewords): $recall%.2f")
    assert(recall > 0.2, s"ADC recall suspiciously low: $recall")
    assert(adc.size == queries.size * k)
  }

  test("IVFADC: lossless on an alphabet-limited corpus, measurable recall on the fixture") {
    import org.apache.spark.sql.functions.{col, size => asize}
    import spark.implicits._
    // ── exactness pin: when every residual subvector is one of the
    // codebook's init values, PQ reconstruction is LOSSLESS (each
    // point sits exactly on a centroid through every Lloyd round), so
    // full-probe IVFADC must equal the exact L2 top-k, distances
    // included. deltas d0..d7 (d0 = 0) shared by both clusters; the
    // cluster bases are corpus vectors 0 and 8 (the coarse centroids),
    // so residuals = deltas exactly and ids 0..7 seed the codebooks
    // with the full alphabet.
    val deltas: Seq[Seq[Double]] = (0 until 8).map { i =>
      Seq(i.toDouble, (i * 2 % 5).toDouble, (i * i % 7).toDouble,
        (7 - i).toDouble)
    }
    val baseA = Seq(0.0, 0.0, 0.0, 0.0)
    val baseB = Seq(100.0, 100.0, 100.0, 100.0)
    def plus(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x + y }
    val corpus =
      (0 until 8).map(i => (i.toLong, plus(baseA, deltas(i)))) ++
        (0 until 8).map(i => ((i + 8).toLong, plus(baseB, deltas(i)))) ++
        // extra members reusing the alphabet — richer ranking, still lossless
        (0 until 8).map(i => ((i + 16).toLong, plus(baseA, deltas(7 - i))))
    val synth = corpus.toDF("vec_id", "embedding")
    val qs = Seq(0L, 9L)
    val scope = graft.util.CacheScope()
    val got = Similarity.ivfadcTopK(synth, "vec_id", "embedding",
        queryIds = qs, centroidIds = Seq(0, 8),
        m = 2, codewords = 8, nProbe = 2, k = 4, scope = scope)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1),
        r.getDouble(3))).toSeq.sortBy(x => (x._1, x._3))
    val byId = corpus.toMap
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + (x - y) * (x - y) }
    val expect = qs.flatMap { q =>
      corpus.map(_._1).filter(_ != q)
        .map(id => (q, id, l2(byId(q), byId(id))))
        .sortBy(x => (x._3, x._2)).take(4).zipWithIndex
        .map { case ((qq, id, d), i) => (qq, id, (i + 1).toLong, d) }
    }.sortBy(x => (x._1, x._3))
    assert(got.map(x => (x._1, x._2, x._3)) ==
      expect.map(x => (x._1, x._2, x._3)),
      s"lossless IVFADC must reproduce exact L2 ranks:\n$got\nvs\n$expect")
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 1e-6,
        s"approx_dist2 must be the exact L2 here: $g vs $e")
    }
    // ── statistical recall on the fixture embeddings (near-random
    // vectors: neighbor gaps are shallow, so PQ noise caps recall —
    // the bar is "far above random" (random recall@5 ≈ 0.01), and
    // full probe must bound narrow probe
    val emb = Tables.embeddings(spark, dir)
    val dim = emb.select(asize(col("embedding"))).head().getInt(0)
    val m = if (dim % 4 == 0) 4 else if (dim % 2 == 0) 2 else 1
    val cells = Seq(10, 60, 110, 160, 210)
    def run(nProbe: Int) = Similarity.ivfadcTopK(emb, "vec_id", "embedding",
      queryIds = queries.map(_.toLong), centroidIds = cells,
      m = m, codewords = 16, nProbe = nProbe, k = k, scope = scope)
    val truth = resultSet(Similarity.cosineTopK(emb, "vec_id", "embedding",
      queries, k))
    val narrow = resultSet(run(2))
    val full = resultSet(run(cells.length))
    scope.unpersistAll()
    val rNarrow = (narrow intersect truth).size.toDouble / truth.size
    val rFull = (full intersect truth).size.toDouble / truth.size
    info(f"IVFADC recall@$k (m=$m, 16 codewords): probe2 $rNarrow%.2f, " +
      f"full $rFull%.2f")
    assert(rFull >= rNarrow,
      s"full probe ($rFull) must not trail narrow probe ($rNarrow)")
    assert(rFull >= 0.1, s"IVFADC recall at random level: $rFull")
    assert(full.size == queries.size * k)
    assert(narrow.groupBy(_._1).forall(_._2.size == k))
  }

  test("IVFADC persisted index: probe == recompute, memoized reload, partition-pruned scan") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val cells = Seq(10, 60, 110, 160, 210)
    val idxDir = java.nio.file.Files
      .createTempDirectory("ivfadc_idx").toString
    val idx = Similarity.ensureIvfAdcIndex(emb, "vec_id", "embedding",
      cells, m = 4, codewords = 16, indexDir = idxDir)
    // probe with corpus queries == the recompute form, row for row
    val batch = emb.filter(col("vec_id").isin(0, 1, 2))
    val probe = Similarity.ivfadcTopKAgainstIndex(batch, "vec_id",
        "embedding", idx, nProbe = 2, k = k, excludeSelfIds = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val scope = graft.util.CacheScope()
    val recompute = Similarity.ivfadcTopK(emb, "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L), centroidIds = cells,
        m = 4, codewords = 16, nProbe = 2, k = k, scope = scope)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    scope.unpersistAll()
    assert(probe == recompute, s"probe $probe != recompute $recompute")
    // healthy ensure: same identity reloads (same centroids/codebooks)
    val idx2 = Similarity.ensureIvfAdcIndex(emb, "vec_id", "embedding",
      cells, m = 4, codewords = 16, indexDir = idxDir)
    assert(idx2.cents == idx.cents)
    assert(idx2.codebooks.map(_.toSeq).toSeq ==
      idx.codebooks.map(_.toSeq).toSeq)
    // the probe plan scans the CELL-partitioned code parquet with a
    // pushed partition filter — never the corpus vectors
    val plan = Similarity.ivfadcTopKAgainstIndex(batch, "vec_id",
        "embedding", idx, nProbe = 2, k = k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected a partition-pruned code scan:\n$plan")
    assert(!plan.contains("embeddings.parquet"),
      "the probe must not re-read corpus vectors")
  }

  test("IVFADC build leaves a caller-owned cut corpus readable, reliable and local") {
    // the build persists frames derived from the corpus in its own
    // scope; releasing that scope must not free the caller's cut
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite assumes no global checkpoint dir")
    val emb = Tables.embeddings(spark, dir)
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    for (reliable <- Seq(true, false)) {
      val tmp = java.nio.file.Files.createTempDirectory("ivfadc_owned").toString
      if (reliable) sc.setCheckpointDir(s"$tmp/ck")
      try {
        val corpus = if (reliable) emb.checkpoint(true) else emb.localCheckpoint(true)
        Similarity.ensureIvfAdcIndex(corpus, "vec_id", "embedding",
          Seq(10, 60, 110), m = 4, codewords = 16, indexDir = s"$tmp/idx", iters = 1)
        assert(corpus.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq == ids,
          s"the corpus cut must survive the build (reliable = $reliable)")
      } finally sc.setCheckpointDir(null)
    }
  }

  test("int8-quantized vectors preserve brute-force top-k (recall >= 0.8)") {
    // the storage path: rank over DEQUANTIZED int8 codes and compare to
    // exact float ranking — quantization must not reshuffle neighbors
    import org.apache.spark.sql.functions.col
    import graft.functions.Vectors
    val emb = Tables.embeddings(spark, dir)
    val truth = resultSet(Similarity.cosineTopK(emb, "vec_id", "embedding", queries, k))
    val deq = emb
      .withColumn("__s", Vectors.int8Scale(col("embedding")))
      .withColumn("embedding",
        Vectors.dequantizeInt8(
          Vectors.quantizeInt8(col("embedding"), col("__s")), col("__s")))
      .drop("__s")
    val got = resultSet(Similarity.cosineTopK(deq, "vec_id", "embedding", queries, k))
    val recall = (got intersect truth).size.toDouble / truth.size
    info(f"int8 recall@$k: $recall%.2f")
    assert(recall >= 0.8, s"quantization reshuffled the neighborhood: recall $recall")
  }

  test("cross-side embedding near-dup: pairs cross sides only, subset of brute force, drop = batch minus matched") {
    import org.apache.spark.sql.functions._
    import graft.functions.Vectors
    val emb = Tables.embeddings(spark, dir)
    val ref = emb.filter(col("vec_id") < 250)
    val batch = emb.filter(col("vec_id") >= 250)
    val pairs = Similarity.embeddingNearDupsAgainstReference(
        batch, ref, "vec_id", "embedding", planes, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty, "threshold 0.3 must match some cross pairs")
    assert(pairs.forall { case (a, b, c) => a >= 250 && b < 250 && c >= 0.3 },
      "every pair must be batch x reference with cos >= threshold")
    // LSH may only LOSE pairs vs the brute cross product, never invent
    val brute = Similarity.prepared(batch, "vec_id", "embedding")
      .select(col("vec_id").as("a"), col("v").as("av"), col("nrm").as("an"))
      .crossJoin(Similarity.prepared(ref, "vec_id", "embedding")
        .select(col("vec_id").as("b"), col("v").as("bv"), col("nrm").as("bn")))
      .withColumn("cos", round(
        Vectors.cosineWithNorms(col("av"), col("bv"), col("an"), col("bn")), 4))
      .filter(col("cos") >= 0.3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet.subsetOf(brute),
      "LSH produced a pair the brute-force cross join does not have")
    // drop form: exactly the batch rows with no matched pair survive
    val matched = pairs.map(_._1).toSet
    val kept = Similarity.dropEmbeddingNearDupsAgainstReference(
        batch, ref, "vec_id", "embedding", planes, threshold = 0.3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == batchIds -- matched, "drop form must remove exactly the matched ids")
  }

  test("embedding index probe: rows ≡ recompute form, plan scans the reference ZERO times, memoized ensure") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("embidx").toString
    val refPath = s"$tmp/refemb.parquet"
    Tables.embeddings(spark, dir).filter(col("vec_id") < 250)
      .write.parquet(refPath)
    val ref = spark.read.parquet(refPath)
    val batch = Tables.embeddings(spark, dir).filter(col("vec_id") >= 250)

    val index = Similarity.ensureEmbeddingIndex(
      ref, "vec_id", "embedding", planes, s"$tmp/index")
    val probed = Similarity.embeddingNearDupsAgainstIndex(
      batch, "vec_id", "embedding", index, threshold = 0.3)
    val recomputed = Similarity.embeddingNearDupsAgainstReference(
      batch, ref, "vec_id", "embedding", planes, threshold = 0.3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a", "b").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(probed) == rows(recomputed),
      "index probe must return exactly the recompute form's pairs")

    probed.count() // force AQE to finalize before reading the plan
    val physical = probed.queryExecution.executedPlan.toString
    assert(!physical.contains("refemb.parquet"),
      "probe plan must not re-read the frozen reference — the " +
        "O(batches x reference) re-bucketing trap the index removes")
    assert(physical.contains("planes") && physical.contains("buckets"),
      "probe plan reads the stored index relations")

    // second ensure over the unchanged reference: memoized (no rebuild)
    val before = new java.io.File(s"$tmp/index/buckets")
      .listFiles().map(_.getName).toSet
    Similarity.ensureEmbeddingIndex(ref, "vec_id", "embedding", planes, s"$tmp/index")
    val after = new java.io.File(s"$tmp/index/buckets")
      .listFiles().map(_.getName).toSet
    assert(before == after, "a healthy ensure must not rewrite the index")
  }
}
