package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Byte-level BPE: the published algorithm pinned on hand-derivable
  * fixtures — byte↔unicode bijection, GPT-2 pre-tokenizer shapes,
  * lowest-rank merge order, lossless decode — plus the Spark
  * operators (bpeTokenCounts / chunkBpeTokens) and the x68 token-
  * budget wiring at the BPE unit. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the hand merge table used throughout: l+o, lo+w, e+r
  private val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
  private val ranks = merges.zipWithIndex.toMap

  test("byte map is the GPT-2 bijection: 256 distinct chars, space -> U+0120, round trip") {
    assert(Bpe.byteToChar.distinct.length == 256)
    // printable bytes map to themselves...
    assert(Bpe.byteToChar('a'.toInt) == 'a' && Bpe.byteToChar('!'.toInt) == '!')
    // ...non-printables shift past 255 in byte order: space (0x20) is
    // the 33rd non-printable (0x00-0x1f before it) -> 256+32 = 'Ġ'
    assert(Bpe.byteToChar(0x20) == 'Ġ')
    assert(Bpe.byteToChar(0x00) == 'Ā')
    // lossless: any unicode text round-trips through encode/decode
    // (empty merges -> raw byte symbols)
    val texts = Seq("héllo wörld", "tabs\tand\nnewlines", "", "数据 test 123")
    for (t <- texts)
      assert(Bpe.decode(Bpe.encode(t, Map.empty)) == t, s"round trip: '$t'")
  }

  test("pre-tokenizer: contractions, leading-space words, trailing whitespace arms") {
    assert(Bpe.preTokenize("don't stop") == Vector("don", "'t", " stop"))
    assert(Bpe.preTokenize("hello  world ") ==
      Vector("hello", " ", " world", " "))
    assert(Bpe.preTokenize("a1 2b!") == Vector("a", "1", " 2", "b", "!"))
    assert(Bpe.preTokenize("") == Vector.empty)
  }

  test("merge loop: lowest rank first, all occurrences per pass, hand token sequences") {
    // "low" -> l o w -> (l,o) -> lo w -> (lo,w) -> low: 1 token
    assert(Bpe.applyMerges(Bpe.toByteSymbols("low"), ranks) == Vector("low"))
    // " lower" -> Ġ l o w e r -> Ġ low er: 3 tokens
    assert(Bpe.applyMerges(Bpe.toByteSymbols(" lower"), ranks) ==
      Vector("Ġ", "low", "er"))
    // " lowest" -> Ġ low e s t (no e+r adjacency): 5 tokens
    assert(Bpe.applyMerges(Bpe.toByteSymbols(" lowest"), ranks) ==
      Vector("Ġ", "low", "e", "s", "t"))
    // all-occurrences-per-pass: "lolo" merges BOTH (l,o) pairs in one
    // pass -> lo lo
    assert(Bpe.applyMerges(Bpe.toByteSymbols("lolo"), Map(("l", "o") -> 0)) ==
      Vector("lo", "lo"))
    // empty merges: tokens = utf-8 bytes ("é" is 2 bytes)
    val cache = new java.util.HashMap[String, Vector[String]]()
    assert(Bpe.countTokens("é", Map.empty, cache) == 2L)
    assert(Bpe.countTokens("abc", Map.empty, cache) == 3L)
    // full text under the hand table: 1 + 3 + 5
    assert(Bpe.countTokens("low lower lowest", ranks,
      new java.util.HashMap()) == 9L)
  }

  test("parseMerges reads the published merges.txt shape") {
    val parsed = Bpe.parseMerges(Iterator(
      "#version: 0.2", "l o", "lo w", "", "e r"))
    assert(parsed == merges)
  }

  test("bpeTokenCounts: broadcast map-only counts, null text counts 0") {
    val df = Seq((1L, "low lower lowest"), (2L, "don't"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .bpeTokenCounts(df, "doc_id", "text", merges)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // "don't" -> ["don", "'t"] with no applicable merges -> 3 + 2
    assert(got == Seq((1L, 9L), (2L, 5L), (3L, 0L)), s"got $got")
  }

  test("x68 wiring: token-budget mixing runs on the BPE unit, budget respected") {
    val docs = Seq(
      (1L, "s0", "low lower lowest"), (2L, "s0", "low low"),
      (3L, "s0", "lower lower lower"), (4L, "s1", "don't"),
      (5L, "s1", "low")).toDF("doc_id", "source", "text")
    val counts = graft.operators.TextAnalysis
      .bpeTokenCounts(docs, "doc_id", "text", merges)
    val sized = docs.join(counts, "doc_id")
    val kept = graft.operators.Sampling.takeTokenBudgetPortable(
      sized, strata = Seq("source"), sizeCol = col("n_bpe_tokens"),
      budget = 10L, keyCol = "doc_id")
    val bySource = kept.groupBy("source")
      .agg(sum("n_bpe_tokens").as("tot"))
      .as[(String, Long)].collect().toMap
    assert(bySource.values.forall(_ <= 10L),
      s"every stratum must respect the BPE budget: $bySource")
    assert(bySource.getOrElse("s1", 0L) > 0L,
      s"small stratum must keep something: $bySource")
  }

  test("chunkBpeTokens: sliding token windows decode to exact substrings") {
    val df = Seq((7L, "aaa bbb ccc ddd")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .chunkBpeTokens(df, "doc_id", "text", chunkSize = 6, overlap = 2,
        merges = Seq.empty) // raw byte tokens: 1 char = 1 token (ascii)
      .orderBy("chunk_id")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (7L, 0L, "aaa bb", 6L), (7L, 1L, "bbb cc", 6L),
      (7L, 2L, "ccc dd", 6L), (7L, 3L, "ddd", 3L)), s"got $got")
    // empty text -> one empty chunk of 0 tokens
    val empty = graft.operators.TextAnalysis
      .chunkBpeTokens(Seq((1L, "")).toDF("doc_id", "text"),
        "doc_id", "text", 4, 0, merges)
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(empty == Seq((1L, 0L, "", 0L)), s"got $empty")
  }

  test("trainFromCounts reproduces the reference algorithm's example " +
      "merges (Sennrich ACL'16 Alg. 1, marker-free byte-level)") {
    // the paper's working vocabulary {low:5, lower:2, newest:6,
    // widest:3}; hand-derived rounds without the </w> marker:
    //   pair counts r1: (e,s)=9 (newest+widest), (s,t)=9 -> tie to
    //   the smaller pair (e,s); r2: (es,t)=9; r3: (l,o)=7 ties
    //   (o,w)=7 -> (l,o); r4: (lo,w)=7; r5: (n,e)/(e,w)/(w,est)=6
    //   -> (e,w)
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L)).map { case (w, c) => (Bpe.toByteSymbols(w), c) }
    assert(Bpe.trainFromCounts(vocab, 5) == Seq(("e", "s"), ("es", "t"),
      ("l", "o"), ("lo", "w"), ("e", "w")))
    // early stop: a single-symbol vocabulary has no pairs to merge
    assert(Bpe.trainFromCounts(Seq((Vector("a"), 9L)), 3) == Seq.empty)
  }

  test("distributed bpeTrainMerges frees every word cut it makes") {
    // 40 merges cross the trainer's every-16-rounds cut twice
    val docs = Seq((1L, "abcdefghijklmnopqrstuvwxyz zyxwvutsrqponmlkjihgfedcba"))
      .toDF("doc_id", "text")
    val sc = spark.sparkContext
    val held = sc.getPersistentRDDs.size
    val dist = graft.operators.TextAnalysis
      .bpeTrainMerges(docs, "text", numMerges = 40, maxDriverWords = 0L)
    assert(sc.getPersistentRDDs.size == held,
      s"word cuts left behind: ${sc.getPersistentRDDs.values}")
    assert(dist == graft.operators.TextAnalysis
      .bpeTrainMerges(docs, "text", numMerges = 40))
  }

  test("bpeTrainMerges: driver and distributed paths train " +
      "bit-identical tables; self-trained merges round-trip the " +
      "token counts") {
    val docs = Seq(
      (1L, "low low low low low lower lower"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest widest")).toDF("doc_id", "text")
    val driver = graft.operators.TextAnalysis
      .bpeTrainMerges(docs, "text", numMerges = 8)
    val dist = graft.operators.TextAnalysis
      .bpeTrainMerges(docs, "text", numMerges = 8, maxDriverWords = 0L)
    assert(driver == dist, s"driver $driver vs distributed $dist")
    // the corpus pre-tokenizes to leading-space words (" low" etc.)
    // except each doc's first; 8 merges collapse the dominant words —
    // counts under the self-trained table must match a direct encode
    val cache = new java.util.HashMap[String, Vector[String]]()
    val ranks = driver.zipWithIndex.toMap
    val expect = Seq(
      (1L, "low low low low low lower lower"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest widest"))
      .map { case (id, t) => id -> Bpe.countTokens(t, ranks, cache) }
      .toMap
    val got = graft.operators.TextAnalysis
      .bpeTokenCounts(docs, "doc_id", "text", driver)
      .as[(Long, Long)].collect().toMap
    assert(got == expect, s"got $got expect $expect")
    // and the learned table genuinely compresses: every repeated word
    // is fewer tokens than its byte length
    assert(got(1L) < "low low low low low lower lower".length)
  }
}
