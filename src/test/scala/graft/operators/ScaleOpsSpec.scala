package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Scale-path operators must agree with their simple exact twins. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  test("exactDedupByDigest == exactDedup on the documents table") {
    val docs = Tables.documents(spark, dir)
    val simple = Dedup.exactDedup(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val digest = Dedup.exactDedupByDigest(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(digest == simple)
  }

  test("exactDedupByDigest survives forced digest collisions") {
    // two DIFFERENT texts, then the digest column made colliding by
    // using a constant-digest variant via duplicate texts across ids
    val docs = Seq((1L, "aaa"), (2L, "aaa"), (3L, "bbb"), (4L, "bbb"), (5L, "ccc"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedupByDigest(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (3L, 2L), (5L, 1L)))
  }

  test("saltedJoin == plain join on skewed keys (inner and left)") {
    // hot key: 5000 rows on one key, 10 on others
    val left = ((1 to 5000).map(i => ("hot", i.toLong)) ++
      (1 to 10).map(i => ("cold", i.toLong))).toDF("k", "lv")
    val right = Seq(("hot", "H"), ("cold", "C"), ("never", "N")).toDF("k", "rv")
    for (jt <- Seq("inner", "left")) {
      val plain = left.join(right, Seq("k"), jt)
        .select("k", "lv", "rv").collect().map(_.toSeq).toSet
      val salted = Relational.saltedJoin(left, right, Seq("k"), col("lv"), 8, jt)
        .select("k", "lv", "rv").collect().map(_.toSeq).toSet
      assert(salted == plain, s"joinType=$jt")
    }
  }

  test("IVF full-probe == brute-force top-k exactly; partial probe recall reasonable") {
    val emb = Tables.embeddings(spark, dir)
    val truth = Similarity.cosineTopK(emb, "vec_id", "embedding", Seq(0, 1, 2), 5)
      .select("q", "rank", "vec_id").collect().map(_.toSeq).toSet
    val full = Similarity.ivfTopK(emb, "vec_id", "embedding", Seq(0, 1, 2),
        nCentroids = 8, nProbe = 8, k = 5)
      .select("q", "rank", "vec_id").collect().map(_.toSeq).toSet
    assert(full == truth, "probing every cell must reproduce the exact ranking")

    val partial = Similarity.ivfTopK(emb, "vec_id", "embedding", Seq(0, 1, 2),
        nCentroids = 8, nProbe = 4, k = 5)
      .select("q", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truthPairs = truth.map(s => (s(0).asInstanceOf[Long], s(2).asInstanceOf[Long]))
    val recall = (partial intersect truthPairs).size.toDouble / truthPairs.size
    info(f"IVF nProbe=4/8 recall@5: $recall%.2f")
    assert(recall >= 0.4, s"IVF half-probe recall too low: $recall")
  }

  test("dedupAgainstReference: removes frozen texts only; batch-internal dups survive") {
    val ref = Seq((1L, "seen"), (2L, "also seen")).toDF("doc_id", "text")
    val batch = Seq((10L, "seen"), (11L, "fresh"), (12L, "fresh"), (13L, "also seen"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupAgainstReference(batch, ref, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    // 10/13 match the reference and drop; 11/12 duplicate each other but
    // NOT the reference — incremental dedup must keep both (intra-batch
    // dedup is exactDedup's job, a separate stage)
    assert(out == Seq(11L -> "fresh", 12L -> "fresh"))
  }

  test("connectedComponents: transitive chains collapse, singletons stand alone") {
    // chain 1-2-3-4 (no direct 1-4 edge), pair 10-11, singleton 20
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.connectedComponents(nodes, "id", pairs, "a", "b")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    // label direction doesn't matter: reversed edges give the same clusters
    val rev = Dedup.connectedComponents(nodes, "id",
        pairs.select(col("b").as("a"), col("a").as("b")), "a", "b")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(rev == out)
  }

  test("connectedComponents refuses to return unconverged labels; rounds release checkpoints") {
    // a 6-node path needs ~5 rounds; maxIter=2 must throw, not truncate
    val nodes = (1L to 6L).toDF("id")
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, "id", chain, "a", "b", maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))

    // with enough rounds it converges — and the per-round localCheckpoint
    // blocks are released: at most the edges persist + final checkpoint
    // survive beyond the call
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Dedup.connectedComponents(nodes, "id", chain, "a", "b")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out.forall(_._2 == 1L))
    val leaked = spark.sparkContext.getPersistentRDDs.size - before
    assert(leaked <= 2, s"intermediate checkpoint rounds leaked: $leaked blocks held")
  }

  test("connectedComponents rounds = diameter + 1 (convergence detection) exactly") {
    // PLAIN propagation semantics (an explicit shortcutAfter = maxIter
    // disables BOTH the fixed-round pointer-jump fallback and the
    // adaptive stall detector): a 12-node path, min label at one end —
    // the label walks one hop per round (11 rounds = diameter), plus
    // ONE round to observe an empty frontier. maxIter = 12 must
    // converge; maxIter = 11 must refuse.
    val nodes = (1L to 12L).toDF("id")
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.connectedComponents(nodes, "id", chain, "a", "b",
        maxIter = 12, shortcutAfter = 12)
      .as[(Long, Long)].collect()
    assert(out.forall(_._2 == 1L) && out.length == 12)
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, "id", chain, "a", "b",
        maxIter = 11, shortcutAfter = 11)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponents adaptive stall detector engages the jump early on a chain (r15 verdict #2)") {
    // with DEFAULT settings the stall detector sees the 12-node path's
    // frontier fail to halve at round 2 and flips the jump on — reach
    // then doubles per round, so the diameter-11 chain converges well
    // under the 11+1 rounds plain propagation needs. Labels identical.
    val nodes = (1L to 12L).toDF("id")
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("a", "b")
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val out = Dedup.connectedComponents(nodes, "id", chain, "a", "b",
        maxIter = 8, onRound = (r, f) => rounds += ((r, f)))
      .as[(Long, Long)].collect()
    assert(out.forall(_._2 == 1L) && out.length == 12)
    assert(rounds.last._2 == 0L && rounds.size <= 8,
      s"adaptive jump must beat diameter rounds: $rounds")
    // a geometrically-collapsing graph (star: everything adjacent to
    // the min) must converge WITHOUT the detector firing — 2 rounds,
    // no stall ever observed (frontier n -> 0)
    val starNodes = (1L to 50L).toDF("id")
    val star = (2L to 50L).map(i => (1L, i)).toDF("a", "b")
    val starRounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val starOut = Dedup.connectedComponents(starNodes, "id", star, "a", "b",
        onRound = (r, f) => starRounds += ((r, f)))
      .as[(Long, Long)].collect()
    assert(starOut.forall(_._2 == 1L) && starRounds.size == 2,
      s"dense graph must close in 2 rounds, untouched by the detector: $starRounds")
  }

  test("connectedComponents: pointer-jump fallback converges a long path within the default budget") {
    // a 200-node path has diameter 199 — plain min-label propagation
    // needs 199 rounds and would refuse at the default maxIter = 20.
    // The stall detector engages the jump at round 2 (a path frontier
    // never halves); reach then doubles per round, so the default
    // budget suffices and the labels still land on the component min.
    val n = 200L
    val nodes = (0L until n).toDF("id")
    val path = (0L until n - 1).map(i => (i, i + 1)).toDF("a", "b")
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val out = Dedup.connectedComponents(nodes, "id", path, "a", "b",
        onRound = (r, f) => rounds += ((r, f)))
      .as[(Long, Long)].collect()
    assert(out.length == n && out.forall(_._2 == 0L),
      "every node of the path must join the min-label component")
    // telemetry: one entry per round, frontier reaches zero exactly at
    // the last round, and convergence within the default budget is
    // itself the proof the jump engaged (plain propagation would need
    // 199 rounds; the stall detector fires at round 2, and reach then
    // doubles per round)
    assert(rounds.nonEmpty && rounds.last._2 == 0L, s"got $rounds")
    assert(rounds.init.forall(_._2 > 0L), s"frontier died early: $rounds")
    assert(rounds.size >= 5 && rounds.size <= 20,
      s"diameter 199 must take several-but-log-bounded rounds: $rounds")
    // same guard on the refusal path: an absurdly small budget still
    // refuses rather than truncating (fallback or not)
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, "id", path, "a", "b", maxIter = 4)
    }
    assert(e.getMessage.contains("pointer-jump"))
    // two components + a singleton keep their own minima under the
    // fallback (it must never bridge disconnected labels)
    val nodes2 = (0L to 30L).toDF("id")
    val twoPaths = ((0L until 14L).map(i => (i, i + 1)) ++
      (15L until 29L).map(i => (i, i + 1))).toDF("a", "b")
    val out2 = Dedup.connectedComponents(nodes2, "id", twoPaths, "a", "b",
        maxIter = 10)
      .as[(Long, Long)].collect().toSeq
    assert(out2.filter(_._1 <= 14L).forall(_._2 == 0L))
    assert(out2.filter(p => p._1 >= 15L && p._1 <= 29L).forall(_._2 == 15L))
    assert(out2.find(_._1 == 30L).get._2 == 30L, "singleton keeps its own label")
  }

  test("duplicatedSpans: cross-doc and intra-doc repeats, overlap merge, offsets") {
    val n = 8
    val run = (1 to 10).map(i => s"m$i").mkString(" ") // 10-token shared run
    val docs = Seq(
      (1L, "a b c d e f g h x y"),          // shares a-h with doc 2 at pos 0
      (2L, "z0 z1 a b c d e f g h"),        // ... at pos 2
      (3L, "p q r s t u v w " +             // intra-doc repeat, far apart:
        (1 to 8).map(i => s"gap$i").mkString(" ") + // two separate spans
        " p q r s t u v w"),
      (4L, run),                            // 3 overlapping hit windows
      (5L, s"x0 $run y0")                   // ... merge into ONE span each
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", n = n)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 7L, 1L),
      (2L, 2L, 9L, 1L),
      (3L, 0L, 7L, 1L), (3L, 16L, 23L, 1L),
      (4L, 0L, 9L, 3L),
      (5L, 1L, 10L, 3L)),
      s"span semantics (merge, offsets, counts) broke: $got")
    // docs shorter than n tokens contribute nothing and break nothing
    val tiny = Seq((9L, "too short")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(tiny, "doc_id", "text", n = n).count() == 0)

    // redaction drops exactly the span tokens, keeps the rest in order
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", n = n)
    val red = Dedup.redactSpans(docs, "doc_id", "text", spans)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(red == Seq(
      (1L, "x y", 10L, 8L),
      (2L, "z0 z1", 10L, 8L),
      (3L, (1 to 8).map(i => s"gap$i").mkString(" "), 24L, 16L),
      (4L, "", 10L, 10L),                   // fully duplicated doc → ""
      (5L, "x0 y0", 12L, 10L)),
      s"redaction must drop span tokens only, in order: $red")
  }

  // Every operator that cuts its lineage, one test each: under a
  // checkpoint dir the cuts are RELIABLE (the executor-loss-safe kind;
  // a localCheckpoint writes no files), the rows equal a run without a
  // dir, and every superseded round's rdd-* dir is deleted as the next
  // round lands — the only dirs left are ones the returned frame reads,
  // or a long iteration exhausts the checkpoint dir.
  // A ring of four triangles joined by bridges, with a three-edge tail
  // (kCore peels it one node per round; shortestHops walks it).
  private def ring = ((0 until 4).flatMap { t =>
    Seq((s"t${t}a", s"t${t}b"), (s"t${t}a", s"t${t}c"), (s"t${t}b", s"t${t}c"),
      (s"t${t}c", s"t${(t + 1) % 4}a"))
  } ++ Seq(("t0a", "p1"), ("p1", "p2"), ("p2", "p3"))).toDF("src", "dst")
  private def seeded(merge: Map[Int, Int] = Map.empty) =
    ((0 until 4).flatMap(t => Seq("a", "b", "c")
      .map(n => (s"t$t$n", s"T${merge.getOrElse(t, t)}"))) ++
      Seq("p1", "p2", "p3").map(p => (p, p))).toDF("node", "community")
  private val cutting: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "connectedComponents" -> (() => Dedup.connectedComponents(
      Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id"), "id",
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b"), "a", "b")),
    "pageRank" -> (() => Graph.pageRank(ring, "src", "dst", iterations = 4)),
    "personalizedPageRank" -> (() => Graph.personalizedPageRank(ring, "src", "dst",
      Seq("t0a").toDF("seed"), "seed", iterations = 4)),
    "kCore" -> (() => Graph.kCore(ring, "src", "dst", k = 2)),
    "shortestHops" -> (() => Graph.shortestHops(ring, "src", "dst",
      Seq("p3").toDF("seed"), "seed")),
    "hits" -> (() => Graph.hits(ring, "src", "dst", iterations = 3)),
    "labelPropagation" -> (() => Graph.labelPropagation(ring, "src", "dst", rounds = 3)),
    "louvain" -> (() => Graph.louvain(ring, "src", "dst",
      seeded(), "node", "community")),
    "repairCommunities" -> (() => Graph.repairCommunities(ring, "src", "dst",
      seeded(Map(2 -> 0)), "node", "community")),
    "deltaLabelPropagation" -> { () =>
      val added = Seq(("t0b", "t2b")).toDF("src", "dst")
      Graph.deltaLabelPropagation(ring.union(added), "src", "dst",
        added, "src", "dst",
        Graph.labelPropagation(ring, "src", "dst", rounds = 3),
        "node", "community", rounds = 3)
    },
    "weightedLouvain" -> (() => Graph.weightedLouvain(
      ring.withColumn("w", when(col("src").startsWith("p"), 3L).otherwise(1L)),
      "src", "dst", "w", seeded(), "node", "community")))

  for ((op, run) <- cutting)
    test(s"$op uses RELIABLE checkpoints when a checkpoint dir is set") {
      val sc = spark.sparkContext
      assert(sc.getCheckpointDir.isEmpty, "suite assumes no global checkpoint dir")
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toSeq.map {
          case d: Double => f"$d%.9f"
          case v => String.valueOf(v)
        }.mkString("|")).toSeq.sorted
      val local = rows(run())
      val ckDir = java.nio.file.Files.createTempDirectory("graft-cut-ck").toFile
      sc.setCheckpointDir(ckDir.toString)
      try {
        val out = run()
        assert(rows(out) == local, s"$op: rows must not depend on the cut kind")
        def left(f: java.io.File): Seq[String] =
          if (f.getName.startsWith("rdd-")) Seq(f.getCanonicalPath)
          else Option(f.listFiles).toSeq.flatten.flatMap(left)
        // the cut files the returned frame's plan reads, through any
        // RDDs a leaf builds over a checkpointed one
        def cutFiles(r: org.apache.spark.rdd.RDD[_]): Seq[String] =
          r.getCheckpointFile match {
            case Some(f) => Seq(new java.io.File(new java.net.URI(f).getPath).getCanonicalPath)
            case None => r.dependencies.flatMap(d => cutFiles(d.rdd))
          }
        val read = out.queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD => cutFiles(lr.rdd)
        }.flatten.toSet
        val files = left(ckDir)
        assert(files.nonEmpty, s"$op: a reliable cut writes rdd-* dirs")
        assert(files.toSet.subsetOf(read),
          s"$op: superseded cuts must be deleted; left ${files.sorted} but " +
            s"the result reads only ${read.toSeq.sorted}")
      } finally sc.setCheckpointDir(null)
    }

  test("deterministic-quantizer IVF full-probe == brute-force top-k exactly") {
    val emb = Tables.embeddings(spark, dir)
    val truth = Similarity.cosineTopK(emb, "vec_id", "embedding", Seq(0, 1, 2), 5)
      .select("q", "rank", "vec_id").collect().map(_.toSeq).toSet
    // probing all 4 cells of the fixed quantizer scans the whole corpus
    // -> must reproduce the exact ranking, like ivfTopK at full probe
    val full = Similarity.ivfTopKDeterministic(emb, "vec_id", "embedding",
        Seq(0, 1, 2), centroidIds = Seq(20, 21, 22, 23), nProbe = 4, k = 5)
      .select("q", "rank", "vec_id").collect().map(_.toSeq).toSet
    assert(full == truth, "full probe must reproduce the exact ranking")
  }

  test("minhashNearDupsAgainstReference: cross-side only, catches edited recrawls") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val edited = ((1 to 29).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    val ref = Seq((1L, base), (2L, (40 to 70).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq((10L, edited), (11L, edited),
        (12L, (80 to 110).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupsAgainstReference(
        batch, ref, "doc_id", "text", threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // both edited copies match the frozen original; the batch-internal
    // dup pair (10,11) and ref-internal pairs are never emitted
    assert(pairs == Set((10L, 1L), (11L, 1L)), s"got $pairs")
    // exact digest dedup misses the edit entirely — nothing is removed
    assert(Dedup.dedupAgainstReference(batch, ref, "doc_id", "text").count() == 3)
  }

  test("minhashNearDupsAgainstReference: colliding ids across sides stay distinct docs") {
    // a recrawl keeps its id — same doc_id on both sides must verify as
    // two documents, never merge into one corrupted shingle set
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val edited = ((1 to 29).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    val ref = Seq((7L, base)).toDF("doc_id", "text")
    val batch = Seq((7L, edited)).toDF("doc_id", "text")
    val got = Dedup.minhashNearDupsAgainstReference(
        batch, ref, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((7L, 7L)), s"got $got")
    // 29 shared of 31 union grams -> jac well under 1.0, above 0.5
    assert(got.head._3 > 0.5 && got.head._3 < 1.0,
      s"corrupted score (set merge would give 1.0 or a self-dup): ${got.head._3}")
  }

  test("centroidCosine: singleton group scores 1.0; symmetric pair scores equally") {
    val df = Seq(
        (1L, 0, Array(1.0f, 0.0f)),          // alone in group 0
        (2L, 1, Array(1.0f, 0.0f)),          // group-1 centroid = (0.5, 0.5)
        (3L, 1, Array(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidCosine(df, "vec_id", "label", "embedding")
      .orderBy("vec_id").as[(Long, Int, Double)].collect().toSeq
    assert(got.head == ((1L, 0, 1.0)))
    assert(got(1)._3 == got(2)._3 && got(1)._3 == 0.7071) // cos 45°
  }

  test("dedupAgainstDigestsBloom == dedupAgainstDigests; misses bypass the join") {
    val batch = Seq((10L, "dup one"), (11L, "fresh a"), (12L, "dup two"),
        (13L, "fresh b"), (14L, "fresh c")).toDF("doc_id", "text")
    val ref = Seq("dup one", "dup two", "other ref").toDF("text")
      .select(sha2(col("text"), 256).as(Dedup.RefDigestCol))
    val bloom = Dedup.digestBloom(ref)
    val q = Dedup.dedupAgainstDigestsBloom(batch, ref, "doc_id", "text", bloom)
    val got = q.orderBy("doc_id").as[(Long, String)].collect().toSeq
    val want = Dedup.dedupAgainstDigests(batch, ref, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == want && got.map(_._1) == Seq(11L, 13L, 14L), s"got $got")
    // the prefilter's point, pinned: ONE join total — the bloom-miss
    // branch reaches the union with no join (exact form: every row
    // shuffles through the anti-join)
    q.write.format("noop").mode("overwrite").save()
    val plan = q.queryExecution.executedPlan.toString
    assert("Join".r.findAllIn(plan).length == 1,
      s"bloom form must carry exactly one join:\n$plan")
  }

  test("digestBloom has no false negatives over the stored digest set") {
    val ref = Tables.documents(spark, dir)
      .select(sha2(col("text"), 256).as(Dedup.RefDigestCol)).distinct()
    val bloom = Dedup.digestBloom(ref)
    val missed = ref.filter(!coalesce(
        graft.functions.Bloom.mightContainLong(
          bloom, xxhash64(col(Dedup.RefDigestCol))),
        lit(false))).count()
    assert(missed == 0L, "a stored digest must always probe positive")
  }

  test("semanticDedup keeps one representative per embedding near-dup group") {
    // ids 1-3: mutually near-identical directions (cos > 0.99) -> one
    // cluster, min-id 1 survives; 4 points away; 5/6 double as the LSH
    // planes and are distant from everything (cos(5,6) = 0.7071 < 0.9)
    val emb = Seq(
        (1L, Array(1.0f, 0.01f)), (2L, Array(1.0f, 0.02f)),
        (3L, Array(1.0f, 0.03f)), (4L, Array(-1.0f, 0.5f)),
        (5L, Array(0.0f, 1.0f)), (6L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(emb, "vec_id", "embedding",
        planeIds = Seq(5, 6), threshold = 0.9)
      .select("vec_id").orderBy("vec_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 4L, 5L, 6L), s"got $got")
  }

  test("dropBoilerplateParagraphs: corpus-wide strike, order kept, self-repeats don't count") {
    val docs = Seq(
      (1L, "nav bar\nbody one\nfooter"),
      (2L, "nav bar\nbody two\nfooter"),
      (3L, "nav bar\nbody three"),
      // doc 4 repeats its own footer — ONE distinct doc, so 'my note'
      // stays; 'nav bar' is struck (3 distinct docs elsewhere)
      (4L, "my note\nmy note\nnav bar"),
      (5L, "nav bar\n\nnav bar"), // all boilerplate + empty para → ''
      (6L, ""))                   // zero paragraphs: must stay, 0/0
      .toDF("doc_id", "text")
    val got = Dedup.dropBoilerplateParagraphs(docs, "doc_id", "text",
        minDocs = 3)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "body one\nfooter", 3L, 1L), // footer: only 2 distinct docs
      (2L, "body two\nfooter", 3L, 1L),
      (3L, "body three", 2L, 1L),
      (4L, "my note\nmy note", 3L, 1L),
      (5L, "", 2L, 2L),
      (6L, "", 0L, 0L)), s"got $got")
    // the text column is scanned ONCE: every other consumer reads the
    // persisted paragraph frame, and the only rescan is id-only
    val scope = graft.util.CacheScope()
    try {
      val plan = Dedup.dropBoilerplateParagraphs(docs, "doc_id", "text",
          minDocs = 3, scope = scope)
        .queryExecution.executedPlan.toString
      // all three paragraph consumers read the persisted frame...
      assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
        s"paragraph frame must be served from cache:\n$plan")
      // ...and the only direct read of the input is the id-only scan
      // (text appears under the cache DEFINITION, never a second scan)
      assert(plan.split('\n').exists(l =>
        l.contains("LocalTableScan [doc_id#") && !l.contains("text#")),
        s"id-only base scan missing:\n$plan")
    } finally scope.unpersistAll()
  }

  test("boilerplate sidecar: stored list strikes the batch; memoized; params rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-boiler").toString
    val ref = Seq(
      (1L, "nav bar\nalpha"), (2L, "nav bar\nbeta"), (3L, "nav bar\ngamma"))
      .toDF("doc_id", "text")
    val boiler = Dedup.ensureBoilerplateParagraphs(ref, "doc_id", "text",
      minDocs = 3, tmp)
    assert(boiler.as[String].collect().toSeq == Seq("nav bar"))
    // the REFERENCE defines boilerplate: 'spam' repeats across the
    // batch's own docs but is NOT struck; 'nav bar' is
    val batch = Seq(
      (10L, "nav bar\nspam\ncontent"), (11L, "spam\nmore"))
      .toDF("doc_id", "text")
    val got = Dedup.strikeBoilerplateAgainstReference(
        batch, "doc_id", "text", boiler)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (10L, "spam\ncontent", 3L, 1L),
      (11L, "spam\nmore", 2L, 0L)), s"got $got")
    // memoized: a second ensure with identical params rewrites nothing
    def partFiles = new java.io.File(s"$tmp/paras").listFiles()
      .map(f => f.getName -> f.lastModified()).toSet
    val before = partFiles
    Dedup.ensureBoilerplateParagraphs(ref, "doc_id", "text", minDocs = 3, tmp)
    assert(partFiles == before, "matching stamp must not rebuild")
    // a parameter change is a different identity: rebuild, new content
    val loose = Dedup.ensureBoilerplateParagraphs(ref, "doc_id", "text",
      minDocs = 2, tmp)
    assert(loose.as[String].collect().toSeq == Seq("nav bar"))
    assert(partFiles != before, "param change must rebuild the sidecar")
  }

  test("boilerplate strike composes in a foreachBatch stream: ensure memoizes across batches") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-boilstream")
    val sideDir = s"$tmp/boiler"; val outDir = s"$tmp/out"; val ck = s"$tmp/ck"
    val ref = Seq(
      (1L, "cookie banner\none"), (2L, "cookie banner\ntwo"),
      (3L, "cookie banner\nthree")).toDF("doc_id", "text")
    // build ONCE before the stream starts (a real deployment does this
    // at reference freeze); per-batch ensures hit the stamp and memo
    Dedup.ensureBoilerplateParagraphs(ref, "doc_id", "text", 3, sideDir)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    mem.addData((10L, "cookie banner\nkeep me"))
    mem.addData((11L, "also kept\ncookie banner"))
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val boiler = Dedup.ensureBoilerplateParagraphs(
          ref, "doc_id", "text", 3, sideDir) // stamp hit, no rebuild
        Dedup.strikeBoilerplateAgainstReference(
            batch, "doc_id", "text", boiler)
          .write.mode("append").parquet(outDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(outDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(got == Set((10L, "keep me"), (11L, "also kept")), s"got $got")
  }

  test("dedupAttrition: losers ledger per keeper source, unique " +
      "texts contribute nothing") {
    import spark.implicits._
    val docs = Seq((1L, "s1", "t"), (2L, "s2", "t"), (3L, "s2", "t"),
      (4L, "s3", "u")).toDF("doc_id", "source", "text")
    val out = Dedup.dedupAttrition(docs, "text", "doc_id", "source")
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("keeper_source") === "s1")
    assert(out.head.getAs[String]("loser_source") === "s2")
    assert(out.head.getAs[Long]("docs_lost") === 2L)
  }
}
