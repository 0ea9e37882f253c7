package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, Text}
import graft.util.Cut

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.5
  * X13): language-ID heuristic, quality scoring, token counting,
  * document fingerprinting. All built from codegen'd expressions —
  * per-row, no shuffle, no UDFs — so they scale linearly with input.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword-voting
    * language-ID heuristic. Deterministic and SQL-portable. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "is", "not", "to", "in"),
    "es" -> Seq("el", "la", "de", "y", "es", "no", "un", "con"),
    "fr" -> Seq("le", "la", "de", "et", "est", "pas", "un", "dans"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我"))

  private def stopHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(w => w: Any): _*))).cast("bigint")

  /** Adds a `pred_lang` column in place — the composable per-row form:
    * a pipeline stacking several text signals computes them all in ONE
    * scan instead of joining per-signal (id, value) tables back to the
    * corpus (at 100 TB, each such self-join is a full extra pass). */
  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val scored = stopwords.foldLeft(df.withColumn("__toks", toks)) {
      case (acc, (lang, words)) => acc.withColumn(s"__hit_$lang", stopHits(col("__toks"), words))
    }
    val best = stopwords.map(_._1).foldLeft(lit(0L)) { (acc, lang) =>
      greatest(acc, col(s"__hit_$lang"))
    }
    // first language (ascending code) achieving the max vote
    val pred = stopwords.map(_._1).foldRight(lit("und")) { (lang, els) =>
      when(col(s"__hit_$lang") === col("__best") && col("__best") > 0, lit(lang))
        .otherwise(els)
    }
    scored.withColumn("__best", best)
      .withColumn("pred_lang", pred)
      .drop("__toks" +: "__best" +: stopwords.map(l => s"__hit_${l._1}"): _*)
  }

  /** Language-ID: stopword-vote argmax; ties resolved by language code
    * ascending; zero hits everywhere → "und" (undetermined). */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withLangId(df.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol), col("pred_lang"))

  /** Quality score in [0,1]: 0.4·length-score (saturating at 500 chars)
    * + 0.3·(1 − punctuation ratio) + 0.3·alpha-token ratio. The exact
    * formula is arbitrary; what matters is that it is deterministic,
    * cheap, and per-row. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
      roundDigits: Int = 4): DataFrame =
    withQuality(df.select(col(idCol), col(textCol)), textCol, roundDigits)
      .select(col(idCol), col("quality"))

  /** Adds a `quality` column in place (see [[withLangId]] on why the
    * column form matters for composition). */
  def withQuality(df: DataFrame, textCol: String,
      roundDigits: Int = 4): DataFrame = {
    val t = col(textCol)
    val toks = Text.tokens(t)
    val lenScore = least(length(t).cast("double") / 500.0d, lit(1.0d))
    val punctRatio = Text.punctCount(t).cast("double") /
      greatest(length(t).cast("double"), lit(1.0d))
    val alphaRatio = size(filter(toks, x => x.rlike("^[A-Za-z]+$"))).cast("double") /
      greatest(size(toks).cast("double"), lit(1.0d))
    df.withColumn("quality",
      round(lenScore * 0.4d + (lit(1.0d) - punctRatio) * 0.3d + alphaRatio * 0.3d,
        roundDigits))
  }

  /** Model-based quality filtering (the GPT-3 / CCNet classifier
    * shape): a logistic model over the engineered quality signals
    * scores each document and the corpus keeps only docs above
    * `threshold`. The weights are a FROZEN artifact (a trained
    * classifier's coefficients, shipped like any model file) — scoring
    * is therefore a pure per-row codegen expression: one scan, no
    * shuffle, no model server. `weights` = (bias, w_len, w_punctClean,
    * w_alpha) over the same three features [[withQuality]] engineers.
    *
    * Determinism note (oracle twin): the score is round(sigmoid(z), 4)
    * — +, ×, / are IEEE correctly-rounded and java.lang.Math.exp vs
    * libm exp agree to < 1 ulp, so a 4-digit rounding flip needs z to
    * land within ~1e-12 of a rounding boundary; across the testdata
    * SFs this never occurs (swept at sf0.001/0.01/0.1). */
  def classifierQualityFilter(
      df: DataFrame, idCol: String, textCol: String,
      weights: (Double, Double, Double, Double) = (-2.0, 2.5, 1.5, 1.5),
      threshold: Double = 0.5, roundDigits: Int = 4): DataFrame = {
    val (lenScore, punctClean, alphaRatio) = qualityFeatures(col(textCol))
    val (b, wl, wp, wa) = weights
    val z = lit(b) + lit(wl) * lenScore +
      lit(wp) * punctClean + lit(wa) * alphaRatio
    val score = lit(1.0d) / (lit(1.0d) + exp(-z))
    df.withColumn("ql_score", round(score, roundDigits))
      .filter(col("ql_score") >= threshold)
  }

  /** The engineered quality feature triple (length score, punctuation
    * cleanliness = 1 − punct ratio, alphabetic-token ratio) — the ONE
    * definition shared by [[withQuality]]'s fixed blend,
    * [[classifierQualityFilter]]'s frozen-weight scoring, and
    * [[graft.ml.QualityClassifier]]'s training featurizer, so a model
    * trained on these columns scores identically at filter time. */
  private[graft] def qualityFeatures(
      t: org.apache.spark.sql.Column): (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val toks = Text.tokens(t)
    val lenScore = least(length(t).cast("double") / 500.0d, lit(1.0d))
    val punctClean = lit(1.0d) - Text.punctCount(t).cast("double") /
      greatest(length(t).cast("double"), lit(1.0d))
    val alphaRatio = size(filter(toks, x => x.rlike("^[A-Za-z]+$"))).cast("double") /
      greatest(size(toks).cast("double"), lit(1.0d))
    (lenScore, punctClean, alphaRatio)
  }

  /** Token statistics: whitespace tokens + BPE-ish piece count. */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      Text.tokenCount(col(textCol)).as("n_tokens"),
      Text.pieceCount(col(textCol)).as("n_pieces"),
      length(col(textCol)).cast("bigint").as("n_chars_computed"))

  /** Repetition signal (Gopher-style quality filter): the fraction of
    * word n-grams that are duplicates within the document —
    * `1 − distinct/total` — flags boilerplate and degenerate loops that
    * length/punctuation scores miss. Per-row, linear, shuffle-free; the
    * distinct count is one codegen pass ([[Text.distinctNgramCount]]),
    * with [[repetitionStatsHof]] kept as the executable spec. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, roundDigits: Int = 4): DataFrame =
    withRepetition(df.select(col(idCol), col(textCol)), textCol, n, roundDigits)
      .select(col(idCol), col("n_grams"), col("dup_ratio"))

  /** Adds `n_grams` and `dup_ratio` columns in place (see [[withLangId]]
    * on why the column form matters) — the single definition of the
    * repetition formula; [[repetitionStats]] and pipeline composition
    * both go through it, so the tokenization/guard/rounding can never
    * drift between them. */
  def withRepetition(df: DataFrame, textCol: String,
      n: Int = 2, roundDigits: Int = 4): DataFrame = {
    val w = Text.tokens(col(textCol))
    val total = greatest(size(w) - (n - 1), lit(0)).cast("bigint")
    val distinct = Text.distinctNgramCount(w, n)
    df.withColumn("n_grams", total)
      .withColumn("dup_ratio",
        when(total > 0,
          round(lit(1.0d) - distinct.cast("double") / total.cast("double"),
            roundDigits))
          .otherwise(lit(0.0d)))
  }

  /** Reference higher-order-function form of [[repetitionStats]] (the
    * readable spec; tests assert both agree on the corpus). */
  def repetitionStatsHof(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, roundDigits: Int = 4): DataFrame = {
    val w = Text.tokens(col(textCol))
    val grams = when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => array_join(slice(w, i, lit(n)), " "))).otherwise(array())
    df.select(col(idCol), grams.as("__g"))
      .select(col(idCol),
        size(col("__g")).cast("bigint").as("n_grams"),
        when(size(col("__g")) > 0,
          round(lit(1.0d) - size(array_distinct(col("__g"))).cast("double") /
            size(col("__g")).cast("double"), roundDigits))
          .otherwise(lit(0.0d)).as("dup_ratio"))
  }

  /** Adds Gopher-style line-repetition signals in place (Rae et al.
    * 2021 §A1.1, the "duplicate lines" family): `n_lines`,
    * `dup_line_frac` (fraction of non-empty lines that are repeats of
    * an earlier line) and `dup_char_frac` (fraction of line characters
    * inside those repeat occurrences). A page whose boilerplate nav/
    * footer repeats scores high here while staying invisible to
    * token-level [[withRepetition]].
    *
    * Entirely per-row higher-order functions over the split array —
    * size / array_distinct / aggregate — so the operator is a narrow
    * codegen'd map: NO shuffle, no explode, nothing leaves the row.
    * `delim` is a Java regex (default literal newline). */
  def withLineRepetition(df: DataFrame, textCol: String,
      delim: String = "\n", roundDigits: Int = 4): DataFrame = {
    val lines = filter(split(col(textCol), delim), l => length(l) > 0)
    val uniq = array_distinct(lines)
    def charSum(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(0L), (acc, x) => acc + length(x).cast("long"))
    df.withColumn("__lines", lines).withColumn("__uniq", uniq)
      .withColumn("n_lines", size(col("__lines")).cast("bigint"))
      .withColumn("dup_line_frac",
        when(col("n_lines") > 0,
          round((col("n_lines") - size(col("__uniq"))).cast("double") /
            col("n_lines").cast("double"), roundDigits))
          .otherwise(lit(0.0d)))
      .withColumn("dup_char_frac",
        when(charSum(col("__lines")) > 0,
          round((charSum(col("__lines")) - charSum(col("__uniq")))
            .cast("double") / charSum(col("__lines")).cast("double"),
            roundDigits))
          .otherwise(lit(0.0d)))
      .drop("__lines", "__uniq")
  }

  /** (id, n_lines, dup_line_frac, dup_char_frac) projection of
    * [[withLineRepetition]] — the gate-query form. */
  def lineRepetitionStats(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n", roundDigits: Int = 4): DataFrame =
    withLineRepetition(df.select(col(idCol), col(textCol)), textCol,
        delim, roundDigits)
      .select(col(idCol), col("n_lines"), col("dup_line_frac"),
        col("dup_char_frac"))

  /** Gopher-style top-n-gram coverage (Rae et al. 2021 §A1.1): the
    * fraction of a document's characters covered by occurrences of its
    * single MOST FREQUENT word n-gram — the boilerplate detector that
    * [[repetitionStats]]' distinct-ratio misses when one phrase
    * dominates but the rest of the page is varied. Returns
    * (id, top_gram, top_count, top_frac); ties on count break to the
    * lexicographically smallest gram; docs with fewer than `n` tokens
    * keep ('', 0, 0.0). `top_frac = count · len(gram) / len(text)` —
    * overlapping occurrences are counted at full width (matching the
    * paper's cheap estimate), so degenerate "a a a …" docs can score
    * above 1, which is exactly the signal a filter wants to see.
    * Shape: per-row gram arrays explode to (doc, gram), ONE partial
    * agg counts them (map-side combinable — the same count shuffle as
    * TF-IDF), and a per-doc window picks the argmax; no all-pairs
    * step, no global state. */
  def topNgramCharFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, roundDigits: Int = 4): DataFrame = {
    val w = Text.tokens(col(textCol))
    val grams = when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => array_join(slice(w, i, lit(n)), " "))).otherwise(array())
    val counts = df.select(col(idCol), explode(grams).as("__gram"))
      .groupBy(col(idCol), col("__gram")).count()
    val top = counts.withColumn("__rn",
        row_number().over(Window.partitionBy(col(idCol))
          .orderBy(col("count").desc, col("__gram"))))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__gram").as("top_gram"),
        col("count").as("top_count"))
    df.select(col(idCol), length(col(textCol)).as("__len"))
      .join(top, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("top_gram"), lit("")).as("top_gram"),
        coalesce(col("top_count"), lit(0L)).as("top_count"),
        when(col("__len") > 0,
          round(coalesce(col("top_count"), lit(0L)).cast("double") *
            length(coalesce(col("top_gram"), lit(""))).cast("double") /
            col("__len").cast("double"), roundDigits))
          .otherwise(lit(0.0d)).as("top_frac"))
  }

  /** Sliding-window document chunking — the pre-tokenization stage of
    * an LLM training pipeline: split each document into token windows
    * of `chunkSize` advancing by `chunkSize − overlap`, keeping doc
    * order via a 0-based chunk_id. The gram/chunk arrays are built
    * per-row and exploded, so the operator is a linear narrow map +
    * explode — no shuffle; downstream repartitioning decides layout. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val w = Text.tokens(col(textCol))
    // chunks = 1 + ceil(max(0, n - chunkSize) / stride); Column `/` is
    // double division, so floor+cast back to int for sequence()
    val extra = greatest(size(w) - chunkSize, lit(0))
    val nChunks =
      (lit(1L) + floor((extra.cast("double") + (stride - 1)) / stride)).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(w, i * stride + 1, lit(chunkSize)), " "))
    df.select(col(idCol), posexplode(chunks).as(Seq("chunk_id", "chunk")))
      .select(col(idCol), col("chunk_id").cast("bigint").as("chunk_id"),
        col("chunk"),
        size(split(col("chunk"), " ")).cast("bigint").as("n_chunk_tokens"))
  }

  /** X222 — BPE token counts per document ([[graft.functions.Bpe]]:
    * byte-level BPE, the published GPT-2-style algorithm over a
    * caller-supplied merge table): the tokenizer-accurate budgeting
    * unit next to the whitespace proxy `Text.tokenCount` — slot the
    * output column into [[Sampling.takeTokenBudgetPortable]]'s
    * `sizeCol` (x68) to budget source mixes in REAL tokens (existing
    * gates stay on the whitespace default; this is the optional
    * unit).
    *
    * Scale shape: the rank map broadcasts once (a 50k-merge table is
    * ~1 MB); the scan is map-only `mapPartitions` (the sanctioned
    * multimodal batching shape — per-partition init of the word
    * cache, no shuffle, rows never leave their partition). Null text
    * counts 0.
    */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ranks = bc.value
        val cache = new java.util.HashMap[String, Vector[String]]()
        it.map { case (id, text) =>
          (id, if (text == null) 0L
               else graft.functions.Bpe.countTokens(text, ranks, cache))
        }
      }
      .toDF(idCol, "n_bpe_tokens")
  }

  /** X222 — BPE-unit chunking: [[chunkTokens]]' sliding window
    * (`chunkSize` tokens, `overlap` carried) measured in REAL BPE
    * tokens instead of whitespace words — the unit a training
    * pipeline's context-length packing actually needs. Chunk text is
    * [[graft.functions.Bpe.decode]] of the token slice: byte-level
    * BPE is lossless, so the chunks concatenate (minus overlaps) back
    * to the exact input bytes. Same broadcast + map-only
    * `mapPartitions` shape as [[bpeTokenCounts]]; empty/null text
    * emits one empty chunk (chunkTokens' n = 0 convention).
    */
  def chunkBpeTokens(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int,
      merges: Seq[(String, String)]): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ranks = bc.value
        val cache = new java.util.HashMap[String, Vector[String]]()
        it.flatMap { case (id, text) =>
          val toks =
            if (text == null) Vector.empty[String]
            else graft.functions.Bpe.encode(text, ranks, cache)
          val extra = math.max(toks.size - chunkSize, 0)
          val nChunks = 1 + (extra + stride - 1) / stride
          (0 until nChunks).map { c =>
            val slice = toks.slice(c * stride, c * stride + chunkSize)
            (id, c.toLong, graft.functions.Bpe.decode(slice),
              slice.size.toLong)
          }
        }
      }
      .toDF(idCol, "chunk_id", "chunk", "n_chunk_tokens")
  }

  /** BPE merge-table TRAINING over a corpus
    * ([[graft.functions.Bpe.trainFromCounts]] distributed): ONE
    * distributed pass pre-tokenizes every document and aggregates the
    * word histogram (distinct-word-bounded — natural-language vocab,
    * not corpus size), then the merge rounds iterate on that bounded
    * state: on the DRIVER when the vocabulary fits
    * `maxDriverWords` (the Bradley–Terry threshold doctrine —
    * training loops over a ≤5M-row histogram beat 2·numMerges Spark
    * jobs by orders of magnitude), else as distributed rounds (one
    * adjacent-pair count aggregate + one argmax collect + one
    * map-only rewrite per merge, the word frame checkpoint-cut every
    * [[BpeTrainCutEvery]] rounds so the plan stays linear). Both
    * paths count overlapping pair occurrences weighted by word count
    * and tie-break (count desc, pair asc) — merge tables are
    * bit-identical by construction (BpeSpec pins it).
    *
    * Returns the learned merge list in rank order — the exact input
    * [[bpeTokenCounts]] / [[chunkBpeTokens]] take, so a zero-egress
    * pipeline trains its own table and budgets tokens with it. */
  def bpeTrainMerges(df: DataFrame, textCol: String, numMerges: Int,
      maxDriverWords: Long = 5000000L): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    val hist = df.select(col(textCol)).as[String]
      .filter((t: String) => t != null)
      .flatMap(t => graft.functions.Bpe.preTokenize(t))
      .groupBy(col("value").as("__w")).agg(count(lit(1)).as("__c"))
      .select(col("__w"), col("__c")).persist()
    try {
      val nWords = hist.count()
      if (nWords <= maxDriverWords) {
        val wordCounts = hist.collect().map { r =>
          (graft.functions.Bpe.toByteSymbols(r.getString(0)),
            r.getLong(1))
        }.toSeq
        graft.functions.Bpe.trainFromCounts(wordCounts, numMerges)
      } else distributedBpeTrain(hist, numMerges)
    } finally { hist.unpersist(); () }
  }

  /** How often the distributed trainer's word frame is checkpoint-cut
    * (each merge round adds one map over the previous frame). */
  private val BpeTrainCutEvery = 16

  /** The distributed merge rounds ([[bpeTrainMerges]]' big-vocabulary
    * path): word frame = (symbols array, count), bounded by distinct
    * words forever; per round ONE pair-count aggregate (adjacent
    * overlapping pairs, flatMapped — shuffle bounded by distinct
    * pairs after map-side combine), ONE 1-row argmax collect with the
    * driver path's exact tie-break, ONE map-only
    * [[graft.functions.Bpe.mergeOnce]] rewrite. */
  private def distributedBpeTrain(hist: DataFrame, numMerges: Int)
      : Seq[(String, String)] = {
    val spark = hist.sparkSession
    import spark.implicits._
    // `cut` is the checkpoint the word chain currently reads; each new
    // cut frees the one it supersedes, the last one goes on return
    var cut = Cut.local(hist
      .select(col("__w").as("_1"), col("__c").as("_2")).as[(String, Long)]
      .map { case (w, c) => (graft.functions.Bpe.toByteSymbols(w), c) })
    var words = cut
    val merges = Vector.newBuilder[(String, String)]
    var round = 0
    var dry = false
    try while (round < numMerges && !dry) {
      val best = words.flatMap { case (w, c) =>
          (0 until w.size - 1).iterator.map(i => ((w(i), w(i + 1)), c))
        }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case ((a, b), c) => (a, b, c) }
        .toDF("__a", "__b", "__c")
        .orderBy(col("__c").desc, col("__a"), col("__b"))
        .limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val pair = (best.head.getString(0), best.head.getString(1))
        merges += pair
        val next = words.map { case (w, c) =>
          (graft.functions.Bpe.mergeOnce(w, pair), c)
        }
        round += 1
        words = next
        if (round % BpeTrainCutEvery == 0) {
          words = Cut.local(next)
          Cut.release(cut)
          cut = words
        }
      }
    } finally Cut.release(cut)
    merges.result()
  }

  /** BM25 document ranking (Robertson–Walker–Jones, TREC-3 Okapi;
    * the Robertson/Zaragoza 2009 formulation with the +1 idf guard):
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)) — THE lexical retrieval
    * baseline: next to the embedding ANN tier it answers "which
    * documents match these terms" with exact, explainable term
    * statistics (dedup triage, contamination lookups, eval-set
    * retrieval all start here).
    *
    * Shape: ONE scan — per doc, the length and each query term's tf
    * come from HOF passes over the token array (terms are a literal
    * handful by contract), so no explode and nothing shuffles but the
    * doc-bounded (id, dl, tf…) projection; corpus stats (N, Σdl,
    * per-term df) are ONE 1-row aggregate broadcast back (the house
    * scalar idiom); top-k by ROUNDED score (ties to doc id) plans as
    * TakeOrderedAndProject. Engine parity: idf's ln is pinned to 8 dp
    * through DECIMAL(18,8) (the linear-counting convention), each
    * doc×term contribution rounds to 8 dp BEFORE the exact decimal
    * row-sum (round-then-add), final score rounds at `roundDigits`.
    */
  def bm25TopDocs(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20, roundDigits: Int = 6): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16 &&
      terms == terms.distinct, s"need 1..16 distinct terms: $terms")
    require(k1 > 0 && b >= 0 && b <= 1, s"bad k1/b: $k1/$b")
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val toks = filter(Text.tokens(col(textCol)), t => t =!= "")
    val perDoc = df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), toks.as("__tk"))
      .select(col("doc_id") +: size(col("__tk")).as("__dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("__tk"), x => x === lit(t))).as(s"__tf$i")
        }: _*)
    val statCols = count(lit(1)).as("__n") +: sum(col("__dl")).as("__sdl") +:
      terms.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    def contrib(i: Int): Column = {
      val tf = col(s"__tf$i").cast("double")
      val dfi = col(s"__df$i").cast("double")
      val idf = round(log(lit(1.0d) +
        (col("__n").cast("double") - dfi + lit(0.5d)) / (dfi + lit(0.5d)))
        .cast(stable), 8).cast("double")
      val avgdl = col("__sdl").cast("double") / col("__n").cast("double")
      when(col(s"__tf$i") > 0,
        round((idf * (tf * lit(k1 + 1.0d)) /
          (tf + lit(k1) * (lit(1.0d - b) +
            lit(b) * col("__dl").cast("double") / avgdl))).cast(stable), 8))
        .otherwise(lit(0).cast(stable))
    }
    val scored = perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("__dl").cast("bigint").as("doc_len"),
        terms.indices.map(i =>
          when(col(s"__tf$i") > 0, 1).otherwise(0)).reduce(_ + _)
          .cast("int").as("n_matched"),
        round(terms.indices.map(contrib).reduce(_ + _).cast(stable),
          roundDigits).cast("double").as("bm25"))
      .filter(col("n_matched") > 0)
    Relational.topK(scored, topK, col("bm25").desc, col("doc_id").asc)
  }

  /** The inverted-index frames behind [[bm25TopDocsForQueries]]:
    * postings = (term, doc_id, tf) — one row per distinct (term, doc)
    * — and doc lengths = (doc_id, dl). ONE corpus scan builds both
    * off the same tokenization; at 100 TB these are the frames a
    * deployment persists once (parquet, bucketed by term) and probes
    * forever — the x77 persisted-index discipline applied to lexical
    * retrieval. Tokenization is [[bm25TopDocs]]'s exactly, so the two
    * BM25 forms score identically. */
  def bm25Index(df: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val toks = filter(Text.tokens(col(textCol)), t => t =!= "")
    val docs = df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), toks.as("__tk"))
    val lens = docs.select(col("doc_id"), size(col("__tk")).as("dl"))
    val postings = docs
      .select(col("doc_id"), explode(col("__tk")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    (postings, lens)
  }

  /** Ensure-or-validate a PERSISTED BM25 inverted index under `dir`
    * (the x77 persisted-index discipline applied to lexical
    * retrieval): `postings/` (term, doc_id, tf — repartitioned by
    * term so a probe's query-term join prunes to the matched term
    * partitions; a cluster deployment would `bucketBy(term)` into a
    * table for full shuffle elision) and `lens/` (doc_id, dl),
    * stamped with [[graft.operators.Dedup.corpusIdentity]] — a
    * regenerated corpus invalidates the index, never a stale probe.
    * The stamp is deleted FIRST on rebuild (crash mid-write leaves
    * "no stamp → rebuild", never a stamp vouching for partial
    * frames). Healthy call = one stamp read + two parquet opens;
    * probe cost is then O(batch + matched postings) with ZERO corpus
    * scans — the decontamination steady state
    * ([[bm25TopDocsForQueries]] over the returned frames). */
  def ensureBm25Index(corpus: DataFrame, idCol: String, textCol: String,
      dir: String): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val (mode, docs, fp) = Dedup.corpusIdentity(corpus, idCol, textCol)
    val want = s"bm25v1|$mode|$docs|$fp"
    val conf = spark.sparkContext.hadoopConfiguration
    val stamp = new org.apache.hadoop.fs.Path(dir, "source.txt")
    val fs = stamp.getFileSystem(conf)
    val postingsP = new org.apache.hadoop.fs.Path(dir, "postings")
    val lensP = new org.apache.hadoop.fs.Path(dir, "lens")
    def fresh: Boolean =
      try {
        if (!fs.exists(stamp)) false
        else {
          val in = fs.open(stamp)
          val got =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          got == want &&
            fs.exists(new org.apache.hadoop.fs.Path(postingsP, "_SUCCESS")) &&
            fs.exists(new org.apache.hadoop.fs.Path(lensP, "_SUCCESS"))
        }
      } catch { case scala.util.control.NonFatal(_) => false }
    if (!fresh) {
      fs.delete(stamp, false)
      val (postings, lens) = bm25Index(corpus, idCol, textCol)
      postings.repartition(col("term"))
        .write.mode("overwrite").parquet(postingsP.toString)
      lens.write.mode("overwrite").parquet(lensP.toString)
      val out = fs.create(stamp, true)
      try out.write(want.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    (spark.read.parquet(postingsP.toString),
      spark.read.parquet(lensP.toString))
  }

  /** Ensure-or-validate the BM25 inverted index as BUCKETED CATALOG
    * TABLES — the 100 TB steady-state deployment form the parquet-dir
    * [[ensureBm25Index]] documents but cannot deliver (a plain
    * `.parquet(path)` write silently loses bucket metadata):
    * `<table>_postings` bucketed + bucket-sorted by `term` and
    * `<table>_lens` bucketed by `doc_id`, so a probe's ONLY
    * data-sized movements — the per-term df aggregate, the
    * query-terms ⋈ postings join, and the postings ⋈ lens join —
    * read the index side WITHOUT a shuffle, every probe, forever:
    * the scan itself reports HashPartitioning(bucket key) and the
    * planner drops the index-side exchange (TextAnalysisSpec pins
    * the plan: zero Exchange nodes above either bucketed scan).
    * Only the (tiny) query side moves.
    *
    * Same staleness protocol as [[ensureBm25Index]]: a one-row
    * `<table>_stamp` table holds the [[graft.operators.Dedup
    * .corpusIdentity]] fingerprint and is dropped FIRST on rebuild —
    * a crash mid-write leaves "no stamp → rebuild", never a stamp
    * vouching for partial tables. Healthy call = one stamp read +
    * two catalog lookups. The parquet-dir form remains the portable
    * fallback for deployments without a (durable) catalog — a
    * default in-memory-catalog session loses the table METADATA at
    * shutdown, not the warehouse files. */
  def ensureBm25IndexBucketed(corpus: DataFrame, idCol: String,
      textCol: String, table: String, numBuckets: Int = 64)
      : (DataFrame, DataFrame) = {
    require(table.matches("[A-Za-z0-9_]+"), s"bad table name: $table")
    require(numBuckets >= 1 && numBuckets <= 100000,
      s"bad numBuckets: $numBuckets")
    val spark = corpus.sparkSession
    val (mode, docs, fp) = Dedup.corpusIdentity(corpus, idCol, textCol)
    val want = s"bm25bkt1|$numBuckets|$mode|$docs|$fp"
    val stampT = s"${table}_stamp"
    val postT = s"${table}_postings"
    val lensT = s"${table}_lens"
    def fresh: Boolean =
      try spark.catalog.tableExists(stampT) &&
        spark.catalog.tableExists(postT) &&
        spark.catalog.tableExists(lensT) &&
        spark.table(stampT).collect().toSeq.map(_.getString(0)) ==
          Seq(want)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!fresh) {
      spark.sql(s"DROP TABLE IF EXISTS $stampT")
      val (postings, lens) = bm25Index(corpus, idCol, textCol)
      graft.sources.Bucketing.writeBucketed(postings, postT,
        numBuckets, Seq("term"))
      graft.sources.Bucketing.writeBucketed(lens, lensT,
        numBuckets, Seq("doc_id"))
      spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(want)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("stamp",
            org.apache.spark.sql.types.StringType))))
        .write.mode("overwrite").format("parquet").saveAsTable(stampT)
    }
    (spark.table(postT), spark.table(lensT))
  }

  /** Query-TABLE BM25 (the decontamination-at-scale shape, r17 verdict
    * #3): [[bm25TopDocs]] scans the corpus once PER query — fine
    * interactively, wrong for checking 10k eval prompts against a
    * 100 TB corpus. This form joins a tokenized query table against
    * the inverted index from [[bm25Index]], so N queries cost ONE
    * job: the only data-sized shuffle is query-terms ⋈ postings
    * (bounded by the matched postings, never the corpus), corpus
    * stats are a 1-row broadcast, per-term df a term-bounded
    * aggregate, and the per-query top-k plans as WindowGroupLimit
    * (rank ≤ k pushed into the shuffle, no global sort).
    *
    * Scoring is [[bm25TopDocs]] paren-for-paren (8-dp decimal-pinned
    * idf ln, per-term 8-dp round-then-add, final round at
    * `roundDigits`), so for any query the top-k here equals the
    * literal-terms form's — TextAnalysisSpec pins the equivalence
    * query-by-query. Query terms are deduped per query (the distinct-
    * terms contract of the literal form); terms absent from the
    * corpus drop (a term no document contains contributes 0 to every
    * document in the literal form). `maxDfFraction` < 1 prunes terms
    * matching more than that fraction of the corpus — the stopword
    * guard that keeps a careless query from pulling a corpus-sized
    * posting list at scale (default 1.0 = off, matching the literal
    * form).
    *
    * CONTRACT — the query table must be SMALL (r19 ADVICE): the
    * operator's domain is an eval-prompt/probe table orders of
    * magnitude smaller than the corpus, and the plan BROADCASTS the
    * query-derived frames (the distinct query-term set, the per-term
    * stats, and the (query_id, term) fan-out table) by explicit hint
    * so the corpus side never shuffles on their account. A query
    * table too large to broadcast (≳ the 8 GB / 512 M-row broadcast
    * cap, or past driver memory) is out of contract here — use
    * repeated [[bm25TopDocs]] calls or shuffle-join variants for
    * corpus-vs-corpus workloads. */
  def bm25TopDocsForQueries(postings: DataFrame, docLens: DataFrame,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20,
      roundDigits: Int = 6, maxDfFraction: Double = 1.0): DataFrame = {
    require(k1 > 0 && b >= 0 && b <= 1, s"bad k1/b: $k1/$b")
    require(maxDfFraction > 0 && maxDfFraction <= 1,
      s"bad maxDfFraction: $maxDfFraction")
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val stats = docLens.agg(count(lit(1)).as("__n"),
      sum(col("dl")).as("__sdl"))
    val qt = queries
      .filter(col(queryIdCol).isNotNull && col(queryTextCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        explode(filter(Text.tokens(col(queryTextCol)), t => t =!= ""))
          .as("term"))
      .distinct()
    // r19 plan restructure (guide §3.2/§3.3 — prune the big side
    // before it moves, join before the explode): the BM25 contribution
    // of a (term, doc) pair does not depend on the query, yet the old
    // shape joined (query, term) rows against postings FIRST — on a
    // stopword-dense corpus (x336's synthetic docs: 31-term
    // vocabulary, df ≈ 0.5–0.8·N) that exploded to |Σ_q matched
    // postings| rows (7.3 M at sf0.1 for 125 prompts), every one
    // re-computing the full decimal contribution chain and shuffling
    // TWICE (doc_id join + group-by). Now: (1) postings prune to the
    // distinct query TERM set by broadcast semi-join before anything
    // moves; (2) contributions compute ONCE per matched (term, doc)
    // — a postings-bounded frame; (3) only then does the (query_id,
    // term) table fan the per-pair rows out, carrying three thin
    // columns into one map-side-combinable aggregate. Per-addend
    // values are identical 8-dp decimals and the per-(query, doc) sum
    // is an exact decimal sum (order-free), so scores are bit-equal
    // to the old shape's. The query side is broadcast BY CONTRACT:
    // the operator's domain is a query table orders of magnitude
    // smaller than the corpus (eval prompts vs a 100 TB crawl).
    val qTerms = qt.select(col("term")).distinct()
    val pq = postings.join(broadcast(qTerms), Seq("term"), "left_semi")
    // per-term document frequency over the pruned postings — identical
    // to the full-postings count for every surviving term (the prune
    // is term-exact), and the aggregate input shrinks from the corpus
    // vocabulary to the query vocabulary
    val dfTerm = pq.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
    val termStats = dfTerm.crossJoin(broadcast(stats))
      .filter(col("__df").cast("double") <=
        lit(maxDfFraction) * col("__n").cast("double"))
    val tf = col("tf").cast("double")
    val dfi = col("__df").cast("double")
    val idf = round(log(lit(1.0d) +
      (col("__n").cast("double") - dfi + lit(0.5d)) / (dfi + lit(0.5d)))
      .cast(stable), 8).cast("double")
    val avgdl = col("__sdl").cast("double") / col("__n").cast("double")
    val contrib = round((idf * (tf * lit(k1 + 1.0d)) /
      (tf + lit(k1) * (lit(1.0d - b) +
        lit(b) * col("dl").cast("double") / avgdl))).cast(stable), 8)
    val contribTD = pq
      .join(broadcast(termStats), Seq("term"))
      .join(docLens, Seq("doc_id"))
      .select(col("term"), col("doc_id"), col("dl"),
        contrib.as("__contrib"))
    val scored = qt.hint("broadcast")
      .join(contribTD, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("dl")).cast("bigint").as("doc_len"),
        count(lit(1)).cast("int").as("n_matched"),
        round(sum(col("__contrib")).cast(stable), roundDigits)
          .cast("double").as("bm25"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK)
      .select(col("query_id"), col("doc_id"), col("doc_len"),
        col("n_matched"), col("bm25"))
  }

  /** END-TO-END DECONTAMINATION STAGE (r18 verdict #8 — the shape a
    * 100 TB deployment actually runs: eval-prompt table in, flagged
    * document list out, ONE job): the two-tier retrieve-then-verify
    * discipline the near-dup tier uses, applied to eval leakage —
    *
    *   1. RETRIEVE: [[bm25TopDocsForQueries]] over the inverted index
    *      pulls each prompt's `topK` lexically-closest documents (the
    *      only data-sized shuffle is matched postings, never the
    *      corpus; `maxDfFraction` guards stopword blowup);
    *   2. VERIFY: exact word-`n`-gram CONTAINMENT — the x65
    *      contamination measure, per (prompt, candidate) pair —
    *      computed on the CANDIDATES ONLY: the corpus semi-joins to
    *      candidate doc ids (≤ prompts·topK docs) BEFORE shingling,
    *      so the expensive exact check never touches an unmatched
    *      document.
    *
    * A pair is FLAGGED when ≥ `minFrac` of the prompt's distinct
    * n-grams appear verbatim in the document. BM25 alone over-flags
    * (shared vocabulary ≠ leakage); n-grams alone over the full
    * corpus is the un-indexed scan this composition exists to avoid.
    *
    * Output: (query_id, doc_id, bm25, ngram_hits, ngram_frac) — one
    * row per flagged pair; a prompt with fewer than `n` tokens has no
    * n-grams and flags nothing. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      prompts: DataFrame, promptIdCol: String, promptTextCol: String,
      n: Int = 3, topK: Int = 20, minFrac: Double = 0.05,
      k1: Double = 1.2, b: Double = 0.75, maxDfFraction: Double = 1.0,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(n >= 1 && n <= 16, s"bad n: $n")
    require(minFrac >= 0 && minFrac <= 1, s"bad minFrac: $minFrac")
    val (postings, lens) = bm25Index(corpus, idCol, textCol)
    // each index frame feeds two consumers (df-aggregate + probe
    // join; stats + probe join) — persisted, the tokenize/explode
    // pass runs once (the x328 discipline; production points this at
    // ensureBm25Index / ensureBm25IndexBucketed instead)
    val p = scope.persist(postings)
    val l = scope.persist(lens)
    val cand = scope.persist(
      bm25TopDocsForQueries(p, l, prompts, promptIdCol, promptTextCol,
        k1, b, topK, roundDigits = 6, maxDfFraction = maxDfFraction)
        .select(col("query_id"), col("doc_id"), col("bm25")))
    // exact-verify tier: shingle ONLY the candidate documents
    val candDocs = corpus.join(
      cand.select(col("doc_id").as(idCol)).distinct(), Seq(idCol),
      "left_semi")
    val dg = Dedup.shingleHashes(candDocs, idCol, textCol, n)
    val qg = Dedup.shingleHashes(prompts, promptIdCol, promptTextCol, n)
    val qsz = qg.groupBy(col("doc").as("query_id"))
      .agg(count(lit(1)).as("__qn"))
    val hits = cand.select(col("query_id"), col("doc_id"))
      .join(qg.withColumnRenamed("doc", "query_id"), Seq("query_id"))
      .join(dg.select(col("doc").as("doc_id"), col("h")),
        Seq("doc_id", "h"), "left_semi")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("ngram_hits"))
    cand.join(hits, Seq("query_id", "doc_id"), "left")
      .join(qsz, Seq("query_id"))
      .select(col("query_id"), col("doc_id"), col("bm25"),
        coalesce(col("ngram_hits"), lit(0L)).as("ngram_hits"),
        round(coalesce(col("ngram_hits"), lit(0L)).cast("double") /
          col("__qn").cast("double"), 4).as("ngram_frac"))
      .filter(col("ngram_frac") >= minFrac)
  }

  /** Vocabulary extraction: global word counts, top `k` by (count desc,
    * word asc). The count is one map-side-combinable hash aggregate;
    * the top-k plans as TakeOrderedAndProject (no global sort). */
  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = df.select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    // the unpartitioned rank window runs AFTER TakeOrderedAndProject
    // pruned to k rows — bounded by k, never by vocabulary size
    Relational.topK(counts, k, col("cnt").desc, col("word").asc)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc, col("word").asc))
        .cast("bigint"))
  }

  /** TF-IDF top terms per document: tf = term count within the doc,
    * idf = ln(N/df) over the corpus, keep the top `k` terms per doc by
    * (tfidf desc, term asc). Plan shape at scale: ONE explode feeding a
    * map-side-combinable (doc, term) count, persisted because both the
    * doc-frequency agg and the scoring join consume it (column pruning
    * makes the two subtrees' exchanges differ, so ReuseExchange cannot
    * dedupe them — without the persist the corpus is scanned and
    * exploded twice); a 1-row corpus count broadcast; and a per-doc
    * ranking window (plans as WindowGroupLimit, so partial top-k runs
    * before the window shuffle). The tfidf is rounded to 4 decimals so
    * the score is engine-portable (ln differs in the last ulp across
    * libm builds). */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = scope.persist(
      df.select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
        .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n") / col("df")), 4))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(idCol), col("term"), col("tfidf"))
  }

  /** Document fingerprint: polynomial fold of per-token hashes in
    * sequence order — order-sensitive (unlike a bag-of-words hash), so
    * it distinguishes permuted documents; identical docs collide. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      Hashing.seqHash(Hashing.tokenHashes(Text.tokens(col(textCol)))).as("fp"))

  /** Unigram-LM scoring (the CCNet quality-filter stage, Wenzek et al.
    * LREC'20 shape): each batch doc scored by its mean negative
    * log-probability under an add-one-smoothed unigram model trained on
    * a frozen reference corpus — low `avg_nll` ≈ distributed like the
    * reference, high ≈ off-domain/garbled, thresholded or bucketed
    * downstream (CCNet's head/middle/tail). CCNet proper uses a 5-gram
    * KenLM; the unigram form keeps the engine-side shape (the model IS
    * a relational aggregate, broadcast to the scorer) while staying
    * oracle-expressible — a wider-context LM slots in by swapping the
    * model build, not the plan.
    *
    * Scale shape: the model is VOCABULARY-sized — one explode into a
    * map-side-combinable (term, count) agg; even a 100 TB reference
    * yields a ~10⁷-row model, broadcast to the scoring join. Totals
    * (T tokens, V vocab) ride a 1-row broadcast. The batch pays one
    * explode collapsed to per-doc (term, tf) BEFORE the join, so the
    * model join carries distinct doc-terms, not every token position.
    * The per-term log-prob and the final mean are float64, rounded at
    * `roundDigits` for engine portability (libm ulp).
    *
    * OOV terms take the smoothing floor ln(1/(T+V)) — every token
    * contributes, so a fully-OOV doc scores the worst possible value
    * instead of NULL. */
  def unigramLogProb(batch: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, roundDigits: Int = 4,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged): DataFrame = {
    // persisted for the same reason as tfidfTopTerms' tf: the totals
    // agg and the scoring join both consume the model, and without the
    // persist each consumer re-explodes the ENTIRE reference — the
    // model is vocabulary-sized, the reference is not
    val model = scope.persist(reference
      .select(explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c")))
    val totals = model.agg(
      sum(col("c")).cast("double").as("t"),
      count(lit(1)).cast("double").as("v"))
    val tf = batch
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    tf.join(broadcast(model), Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__lp",
        log((coalesce(col("c"), lit(0L)).cast("double") + 1.0d)
          / (col("t") + col("v"))))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        round(-sum(col("tf") * col("__lp")) / sum(col("tf")), roundDigits)
          .as("avg_nll"))
  }

  /** Bigram-LM scoring — one context step up from [[unigramLogProb]]
    * toward CCNet's 5-gram KenLM: P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V),
    * add-one smoothed, scored as mean NLL over a doc's bigrams. A
    * garbled doc whose unigrams are individually common (shuffled
    * word-salad) scores badly here while passing the unigram filter —
    * the failure mode the wider context exists to catch.
    *
    * Bigram construction is MAP-ONLY: the token array zipped with its
    * own tail (`zip_with(slice,slice)`) — no position explode, no
    * per-token self-join; one explode then collapses to per-doc
    * (w₁,w₂,tf) before any join. The model is bigram-vocabulary-sized
    * (broadcast), context counts c(w₁·) derive FROM the model (one
    * more vocabulary-sized agg, never a second corpus pass), and V
    * rides a 1-row broadcast. Unseen contexts take denominator V, so
    * every bigram contributes and a fully-OOV doc scores the floor,
    * not NULL. Docs with fewer than two tokens have no bigrams and no
    * row — both engines drop them identically. */
  def bigramLogProb(batch: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, roundDigits: Int = 4,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged): DataFrame = {
    def bigrams(c: Column): Column = {
      val t = Text.tokens(c)
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (w1, w2) => struct(w1.as("w1"), w2.as("w2")))
    }
    def withBigrams(df: DataFrame, cols: Column*): DataFrame =
      df.filter(size(Text.tokens(col(textCol))) >= 2)
        .select(cols :+ explode(bigrams(col(textCol))).as("bg"): _*)
        .select(cols ++ Seq(col("bg.w1").as("w1"), col("bg.w2").as("w2")): _*)
    val model = scope.persist(withBigrams(reference)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")))
    val ctx = model.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = reference
      .select(explode(Text.tokens(col(textCol))).as("term"))
      .agg(countDistinct(col("term")).cast("double").as("v"))
    val tf = withBigrams(batch, col(idCol))
      .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))
    tf.join(broadcast(model), Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__lp",
        log((coalesce(col("c2"), lit(0L)).cast("double") + 1.0d)
          / (coalesce(col("c1"), lit(0L)).cast("double") + col("v"))))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        round(-sum(col("tf") * col("__lp")) / sum(col("tf")), roundDigits)
          .as("avg_nll"))
  }

  /** X240 (r16) — stupid-backoff trigram scoring (Brants et al.,
    * "Large Language Models in Machine Translation", EMNLP 2007 §4):
    * S(w₃|w₁w₂) = c₃/c₂(w₁w₂) when the trigram was seen, else
    * α·c₂(w₂w₃)/c₁(w₂), else α²·(c₁(w₃)+1)/(N+V) — the
    * score Google built THE web-scale LM on precisely because it
    * needs no discounting statistics: every tier is a plain count
    * ratio, so the model is three count tables and the whole thing
    * distributes as aggregates + broadcast joins. One context step
    * deeper than [[bigramLogProb]] (x112): catches locally-plausible
    * bigram salads ("the cat the cat") that any bigram model scores
    * as fluent. The unigram floor is add-one smoothed (the x112
    * convention) so OOV words score finite, never −∞.
    *
    * Shape: trigram/bigram/unigram counts each from ONE map-only
    * zip pass over the reference (no positional explode/self-join);
    * batch docs aggregate to per-doc distinct-trigram term frequencies;
    * scoring is four broadcast count-table joins (the models are
    * vocab-bounded, tiny next to the corpus). Docs under 3 tokens
    * drop identically in both engines.
    */
  def stupidBackoffTrigram(batch: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.4,
      roundDigits: Int = 4,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
    : DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    def trigrams(c: Column): Column = {
      val t = Text.tokens(c)
      val z12 = zip_with(
        slice(t, lit(1), size(t) - 2), slice(t, lit(2), size(t) - 2),
        (a, b) => struct(a.as("w1"), b.as("w2")))
      zip_with(z12, slice(t, lit(3), size(t) - 2),
        (ab, c3) => struct(ab.getField("w1").as("w1"),
          ab.getField("w2").as("w2"), c3.as("w3")))
    }
    def bigrams(c: Column): Column = {
      val t = Text.tokens(c)
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (w1, w2) => struct(w1.as("w1"), w2.as("w2")))
    }
    val m3 = scope.persist(reference
      .filter(size(Text.tokens(col(textCol))) >= 3)
      .select(explode(trigrams(col(textCol))).as("tg"))
      .groupBy(col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
      .agg(count(lit(1)).as("c3")))
    val m2 = scope.persist(reference
      .filter(size(Text.tokens(col(textCol))) >= 2)
      .select(explode(bigrams(col(textCol))).as("bg"))
      .groupBy(col("bg.w1").as("wa"), col("bg.w2").as("wb"))
      .agg(count(lit(1)).as("c2")))
    val m1 = scope.persist(reference
      .select(explode(Text.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c1")))
    val nv = m1.agg(sum(col("c1")).cast("double").as("__n"),
      count(lit(1)).cast("double").as("__v"))
    val tf = batch.filter(size(Text.tokens(col(textCol))) >= 3)
      .select(col(idCol), explode(trigrams(col(textCol))).as("tg"))
      .groupBy(col(idCol), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
      .agg(count(lit(1)).as("tf"))
    val c2of12 = m2.select(col("wa").as("w1"), col("wb").as("w2"),
      col("c2").as("__c212"))
    val c2of23 = m2.select(col("wa").as("w2"), col("wb").as("w3"),
      col("c2").as("__c223"))
    val c1of2 = m1.select(col("tok").as("w2"), col("c1").as("__c12"))
    val c1of3 = m1.select(col("tok").as("w3"), col("c1").as("__c13"))
    val score = when(coalesce(col("c3"), lit(0L)) > 0L,
        col("c3").cast("double") / col("__c212").cast("double"))
      .when(coalesce(col("__c223"), lit(0L)) > 0L,
        lit(alpha) * col("__c223").cast("double")
          / col("__c12").cast("double"))
      .otherwise(lit(alpha * alpha)
        * (coalesce(col("__c13"), lit(0L)).cast("double") + 1.0d)
        / (col("__n") + col("__v")))
    tf.join(broadcast(m3), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(c2of12), Seq("w1", "w2"), "left")
      .join(broadcast(c2of23), Seq("w2", "w3"), "left")
      .join(broadcast(c1of2), Seq("w2"), "left")
      .join(broadcast(c1of3), Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .withColumn("__lp", log(score))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_trigrams"),
        round(-sum(col("tf") * col("__lp")) / sum(col("tf")), roundDigits)
          .as("avg_nll"))
  }

  /** X245 (r16) — checksum-validated payment-card scan: digit runs of
    * card length (13–19) that PASS the Luhn check
    * ([[graft.functions.Text.luhnValid]]) are counted and redacted —
    * the PII tier's precision upgrade over x72's pattern regexes,
    * because a 16-digit order id fails the checksum while real card
    * numbers never do (1-in-10 false-positive floor for random runs,
    * visible as n_candidates vs n_valid). Length gating happens in a
    * HOF filter over all-digit runs, NOT a {13,19} regex — a bounded
    * quantifier would clip the first 19 digits out of a longer run
    * and need the lookarounds neither engine's oracle regex has.
    * Redaction replaces each valid run literally (reduce-replace over
    * the ≤-a-few-per-doc valid list); everything is per-row codegen
    * HOF arithmetic, no UDF, no shuffle beyond the caller's. Docs
    * without card-length runs are dropped (the report shape). */
  def creditCardScan(df: DataFrame, idCol: String, textCol: String,
      tag: String = "<CARD>"): DataFrame = {
    val runs = regexp_extract_all(col(textCol), lit("[0-9]+"), lit(0))
    val cands = filter(runs, c => length(c).between(13, 19))
    val valid = filter(cands, Text.luhnValid(_))
    df.select(col(idCol), col(textCol).as("__t"), cands.as("__c"),
        valid.as("__v"))
      .filter(size(col("__c")) > 0)
      .select(col(idCol),
        size(col("__c")).as("n_candidates"),
        size(col("__v")).as("n_valid"),
        aggregate(col("__v"), col("__t"),
          (acc, c) => replace(acc, c, lit(tag))).as("redacted"))
  }

  /** X247 (r16) — clipped n-gram overlap scoring (the ROUGE-n /
    * BLEU-n core; Lin 2004, Papineni et al. 2002): per (reference,
    * candidate) pair, multiset-clipped n-gram matches →
    * precision = clip/|cand grams|, recall = clip/|ref grams|, F1 —
    * THE eval primitive once a pipeline produces text (summaries,
    * rewrites, distillation targets) and needs scoring against
    * references at corpus scale. Clipping is the BLEU rule: a
    * candidate repeating one reference gram can't farm precision.
    *
    * Shape: one explode + count aggregate per side to per-(pair,
    * gram) multiset counts, one full-outer join, one per-pair
    * aggregate — shuffle ∝ gram rows with (id, gram) keys, never a
    * quadratic per-row scan (the per-row HOF form is O(len²) per
    * doc — wrong at corpus scale). F1 combines the ROUNDED P/R so
    * both engines assemble identical doubles. Pairs with grams on
    * one side only score 0/null honestly; pairs under n tokens on
    * both sides have no gram rows and drop (the report shape).
    */
  def ngramOverlap(df: DataFrame, idCol: String, refCol: String,
      candCol: String, n: Int = 2, roundDigits: Int = 6): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val base = df.filter(col(refCol).isNotNull && col(candCol).isNotNull)
    def grams(c: String, out: String) = base
      .select(col(idCol), explode(Text.shingles(col(c), n)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as(out))
    val joined = grams(refCol, "__rc")
      .join(grams(candCol, "__cc"), Seq(idCol, "__g"), "full_outer")
    val rc = coalesce(col("__rc"), lit(0L))
    val cc = coalesce(col("__cc"), lit(0L))
    val sums = joined.groupBy(col(idCol)).agg(
      sum(rc).as("ref_ngrams"), sum(cc).as("cand_ngrams"),
      sum(least(rc, cc)).as("clipped"))
    val p = round(when(col("cand_ngrams") > 0L,
      col("clipped").cast("double") / col("cand_ngrams").cast("double"))
      .cast(stable), roundDigits).cast("double")
    val r = round(when(col("ref_ngrams") > 0L,
      col("clipped").cast("double") / col("ref_ngrams").cast("double"))
      .cast(stable), roundDigits).cast("double")
    sums.withColumn("precision", p).withColumn("recall", r)
      .withColumn("f1", round(when(
        col("precision") + col("recall") > 0.0,
        lit(2.0) * col("precision") * col("recall")
          / (col("precision") + col("recall"))).cast(stable), roundDigits)
        .cast("double"))
  }

  /** PMI collocations: the corpus's most strongly "glued" word pairs
    * — `PMI(a,b) = ln( p(ab) / (p(a)·p(b)) )` with `p(ab)` over
    * adjacent-bigram occurrences and `p(·)` over unigram occurrences —
    * the standard collocation extractor ("new york", "machine
    * learning") and, inverted, a tokenizer-merge signal. A `minCount`
    * support floor kills the rare-pair PMI explosion (a pair seen once
    * between two hapaxes maxes the score); `topK` returns the
    * strongest survivors.
    *
    * One scan builds unigram counts, one builds bigram counts (the
    * x112 zip_with shape — no positional self-join); both are
    * vocab-cardinality after their aggregates, so the two count joins
    * broadcast. The ratio feeding `ln` is assembled in ONE
    * left-associated double expression so both engines evaluate the
    * identical float sequence, and the top-k orders on the ROUNDED
    * score (ties by pair) via TakeOrderedAndProject — never a full
    * sort of the pair space.
    */
  def pmiCollocations(df: DataFrame, textCol: String,
      minCount: Long, topK: Int, roundDigits: Int = 4,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
    : DataFrame = {
    require(minCount >= 1 && topK > 0, "need minCount >= 1 and topK > 0")
    val toks = df.select(Text.tokens(col(textCol)).as("__w"))
    val uni = scope.persist(
      toks.select(explode(col("__w")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("__cu")))
    val uniTot = uni.agg(sum(col("__cu")).cast("double").as("__nu"))
    val bigrams = toks.filter(size(col("__w")) >= 2)
      .select(explode(zip_with(
        slice(col("__w"), lit(1), size(col("__w")) - 1),
        slice(col("__w"), lit(2), size(col("__w")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bi = scope.persist(bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_ab")))
    val biTot = bi.agg(sum(col("n_ab")).cast("double").as("__nb"))
    val ca = uni.select(col("tok").as("w1"), col("__cu").as("__ca"))
    val cb = uni.select(col("tok").as("w2"), col("__cu").as("__cb"))
    bi.filter(col("n_ab") >= minCount)
      .join(broadcast(ca), Seq("w1"))
      .join(broadcast(cb), Seq("w2"))
      .crossJoin(broadcast(uniTot))
      .crossJoin(broadcast(biTot))
      .select(col("w1"), col("w2"), col("n_ab"),
        round(log(
          col("n_ab").cast("double") * col("__nu") * col("__nu")
            / (col("__nb") * col("__ca") * col("__cb"))),
          roundDigits).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** X90 — DSIR importance resampling (Xie et al., NeurIPS'23 "Data
    * Selection for Language Models via Importance Resampling"): pick
    * the `keepN` candidate documents whose token distribution looks
    * most like a TARGET domain relative to the RAW pool. Per doc the
    * importance log-weight is the paper's
    * `Σ_f c_f · (ln p_target(f) − ln p_raw(f))` over unigram features
    * (add-one smoothed, the [[unigramLogProb]] machinery twice), and
    * selection is the paper's Gumbel-top-k — with the Gumbel noise
    * `g = −ln(−ln(u))` drawn from a DETERMINISTIC engine-portable
    * uniform (`u = (md5-prefix + 0.5)/2³²`, [[Sampling.portableSample]]'s
    * trick), so the "random" resample reproduces bit-for-bit on any
    * engine — the reproducibility a training-data freeze needs, with
    * the diversity the paper's noise term exists to add (plain top-k
    * over-concentrates on near-duplicate high-weight docs).
    *
    * Scale shape: two vocabulary-sized broadcast models + 1-row
    * totals; candidates pay one explode collapsed to (doc, term, tf)
    * before the join; selection is orderBy+limit →
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    * Ranking compares ROUNDED scores (id tiebreak) so the kept set is
    * stable under libm/summation-order ulp.
    */
  def dsirResample(
      candidates: DataFrame, target: DataFrame, raw: DataFrame,
      idCol: String, textCol: String, keepN: Int,
      roundDigits: Int = 4,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
    : DataFrame = {
    require(keepN > 0, s"keepN must be positive, got $keepN")
    def model(docs: DataFrame): (DataFrame, DataFrame) = {
      val m = scope.persist(docs
        .select(explode(Text.tokens(col(textCol))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c")))
      val tot = m.agg(sum(col("c")).cast("double").as("t"),
        count(lit(1)).cast("double").as("v"))
      (m, tot)
    }
    val (mT, totT) = model(target)
    val (mR, totR) = model(raw)
    val tf = candidates
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val scoredTerms = tf
      .join(broadcast(mT.select(col("term"), col("c").as("__ct"))), Seq("term"), "left")
      .join(broadcast(mR.select(col("term"), col("c").as("__cr"))), Seq("term"), "left")
      .crossJoin(broadcast(totT.select(col("t").as("__tt"), col("v").as("__vt"))))
      .crossJoin(broadcast(totR.select(col("t").as("__tr"), col("v").as("__vr"))))
      .withColumn("__lr",
        log((coalesce(col("__ct"), lit(0L)).cast("double") + 1.0d)
          / (col("__tt") + col("__vt"))) -
        log((coalesce(col("__cr"), lit(0L)).cast("double") + 1.0d)
          / (col("__tr") + col("__vr"))))
    val perDoc = scoredTerms.groupBy(col(idCol)).agg(
      sum(col("tf")).as("n_tokens"),
      round(sum(col("tf") * col("__lr")), roundDigits).as("log_weight"))
    // deterministic Gumbel: u in (0,1) from the md5 prefix of the id
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + 0.5d) / 4294967296.0d
    val gumbel = -log(-log(u))
    perDoc
      .withColumn("gumbel_score", round(col("log_weight") + gumbel, roundDigits))
      .orderBy(col("gumbel_score").desc, col(idCol))
      .limit(keepN)
  }

  /** X110 — BM25 ranking (Robertson & Zaragoza 2009, the Lucene
    * `1 + (N−df+0.5)/(df+0.5)` idf variant): score every document
    * against a FIXED query-term set and keep the top `k`. The retrieval
    * scorer a curation stack uses for "find training docs about X" /
    * relevance-weighted sampling.
    *
    * Shape: per-row term frequencies are higher-order `filter` counts
    * over the token array — NO explode, no token-row shuffle; the only
    * aggregate is one 1-row pass for `N`/`avgdl`/per-term `df`
    * (map-side combinable), broadcast back. The per-doc score is ONE
    * left-associated expression over the fixed term list, so both
    * engines run the identical IEEE sequence (the pmiCollocations
    * discipline); it stabilizes through DECIMAL(18,8) before the
    * top-k orders on it. Zero-score docs are dropped (docs matching no
    * query term carry no ranking signal).
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75,
      roundDigits: Int = 6): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must not be empty")
    require(topK > 0, s"topK must be positive, got $topK")
    val toks = Text.tokens(col(textCol))
    def tf(term: String): Column =
      size(filter(toks, t => t === lit(term))).cast("long")
    val withTf = df.select(
      col(idCol) +: size(toks).cast("long").as("__dl") +:
        queryTerms.zipWithIndex.map { case (t, i) => tf(t).as(s"__tf$i") }: _*)
    val aggs = avg(col("__dl")).as("__avgdl") +:
      queryTerms.indices.map(i =>
        sum((col(s"__tf$i") > 0).cast("long")).as(s"__df$i"))
    val stats = withTf.agg(count(lit(1)).as("__n"), aggs: _*)
    val scored = withTf.crossJoin(broadcast(stats))
    def idf(i: Int): Column =
      log(lit(1.0d) + (col("__n") - col(s"__df$i") + 0.5d)
        / (col(s"__df$i") + 0.5d))
    val norm = lit(k1) * (lit(1.0d - b) + lit(b) * col("__dl") / col("__avgdl"))
    val score = queryTerms.indices.map { i =>
      idf(i) * (col(s"__tf$i") * (k1 + 1.0d)) / (col(s"__tf$i") + norm)
    }.reduce(_ + _)
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    scored
      .select(col(idCol), col("__dl").as("n_tokens"),
        round(score.cast(stable), roundDigits).cast("double").as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** X132 — Zipf's-law fit: the slope of `ln(freq)` on `ln(rank)`
    * over the corpus vocabulary — natural language sits near −1;
    * template/boilerplate-heavy or synthetic corpora flatten toward 0
    * and spam-keyword-stuffed ones steepen. The one-number
    * distributional-health check a corpus freeze records next to its
    * language mix.
    *
    * Shape: one token-count aggregate to vocabulary cardinality, the
    * chunked global rank over (count desc, word) (r15 —
    * [[graft.operators.Relational.chunkedRank]]: no single-partition
    * window, no zipWithIndex RDD round-trip), then ONE moment
    * aggregate — each `ln`-product term cast to DECIMAL(28,10) and
    * summed exactly, so the closed-form OLS assembles from
    * engine-identical operands and stabilizes through DECIMAL(18,8).
    */
  def zipfFit(df: DataFrame, textCol: String, minCount: Long = 1,
      roundDigits: Int = 4,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val counts = df.select(explode(Text.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
    val ranked = graft.operators.Relational
      .chunkedRank(counts, Seq(col("__c").desc, col("__w")), "__r0", scope)
      .withColumn("__r", col("__r0") + 1L)
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val x = log(col("__r").cast("double"))
    val y = log(col("__c").cast("double"))
    val m = ranked.agg(
      count(lit(1)).as("__n"),
      sum(x.cast(dec)).as("__sx"),
      sum(y.cast(dec)).as("__sy"),
      sum((x * y).cast(dec)).as("__sxy"),
      sum((x * x).cast(dec)).as("__sxx"))
    val n = col("__n").cast("double")
    def d(c: String): Column = col(c).cast("double")
    val slope = (n * d("__sxy") - d("__sx") * d("__sy")) /
      (n * d("__sxx") - d("__sx") * d("__sx"))
    val intercept = (d("__sy") - slope * d("__sx")) / n
    def r(c: Column): Column =
      round(c.cast(stable), roundDigits).cast("double")
    m.select(col("__n").as("n_words"),
      r(when(n * d("__sxx") - d("__sx") * d("__sx") > 0, slope))
        .as("zipf_slope"),
      r(when(n * d("__sxx") - d("__sx") * d("__sx") > 0, intercept))
        .as("zipf_intercept"))
  }

  /** X111 — out-of-vocabulary rate against a reference vocabulary:
    * per batch document, the fraction of tokens absent from the
    * vocabulary of terms appearing ≥ `minCount` times in the reference
    * corpus. The tokenizer-coverage screen a pretraining mix runs
    * before committing a corpus to a frozen tokenizer (high OOV =
    * byte-fallback blowup in sequence length).
    *
    * Shape: the vocabulary is ONE reference aggregate (term counts,
    * threshold filter) — vocabulary cardinality, broadcast into the
    * token join; batch tokens explode once and aggregate straight back
    * to doc cardinality (map-side combinable). The fraction stabilizes
    * through DECIMAL(18,8). Empty-text docs count their one empty
    * token against the vocab like any other term (tokenizer
    * convention: `split("", " ") = [""]` — same on both engines).
    */
  def oovRate(batch: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, minCount: Long = 1,
      roundDigits: Int = 6): DataFrame = {
    val vocab = reference
      .select(explode(Text.tokens(col(textCol))).as("__term"))
      .groupBy(col("__term")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("__term"), lit(1L).as("__in"))
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    batch
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("__term"))
      .join(broadcast(vocab), Seq("__term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        round((col("n_oov").cast("double") / col("n_tokens"))
          .cast(stable), roundDigits).cast("double").as("oov_rate"))
  }

  /** X160 — language confusion matrix: declared language label vs
    * [[withLangId]]'s detected language, with counts and corpus
    * shares — the metadata-trust audit every multilingual curation
    * run needs BEFORE filtering by the declared label (mislabeled
    * corpora silently starve a language's sampling budget). One
    * counting aggregate over the per-row detector, ≤ langs² rows.
    */
  def langConfusion(df: DataFrame, declaredCol: String, textCol: String,
      roundDigits: Int = 4): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val counted = withLangId(df, textCol)
      .groupBy(col(declaredCol).as("declared"),
        col("pred_lang").as("detected"))
      .agg(count(lit(1)).as("n"))
    // bounded: runs over the lang² confusion grid, never the corpus
    val tot = Window.partitionBy()
    counted.select(col("declared"), col("detected"), col("n"),
      round((col("n").cast("double") / sum(col("n")).over(tot))
        .cast(stable), roundDigits).cast("double").as("share"),
      (col("declared") === col("detected")).cast("long").as("is_match"))
  }

  /** X156 — n-gram NOVELTY rate per ingestion batch: the fraction of a
    * batch's distinct word n-grams never seen in ANY earlier batch —
    * the crawl-freshness monitor ("is the pipeline still ingesting new
    * content, or re-crawling the same web?"). A falling novelty curve
    * is the earliest sign a source went stale; dedup only tells you
    * AFTER the duplicates are in.
    *
    * Shape: distinct (batch, gram-hash) pairs via the codegen shingle
    * kernel, first-seen batch per gram = one gram-cardinality MIN
    * aggregate, rebroadcast by join; per-batch counts are exact
    * integers. `batchCol` is any ordered batch label (ingestion day,
    * crawl id, id-range bucket).
    */
  def noveltyByBatch(
      df: DataFrame, batchCol: Column, textCol: String,
      n: Int = 3, roundDigits: Int = 4): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    import org.apache.spark.sql.graft.ColumnBridge
    val hashes = ColumnBridge.column(
      graft.functions.expressions.WordShingleHashes(
        ColumnBridge.expression(Text.tokens(col(textCol))), n))
    val bg = df.select(batchCol.as("__b"), explode(hashes).as("__h"))
      .distinct()
    val first = bg.groupBy(col("__h")).agg(min(col("__b")).as("__b0"))
    bg.join(first, Seq("__h"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("__b") === col("__b0")).cast("long")).as("n_novel"))
      .select(col("__b").as("batch"), col("n_grams"), col("n_novel"),
        round((col("n_novel").cast("double") / col("n_grams"))
          .cast(stable), roundDigits).cast("double").as("novelty_rate"))
  }

  /** X167 — lexical richness per document: token count, type (distinct
    * token) count, type–token ratio, and hapax legomena (tokens
    * occurring exactly once) with their rate — the vocabulary-diversity
    * signals that separate template/boilerplate text (low TTR, few
    * hapax) from natural prose, complementing the Gopher repetition
    * fractions (x96) which look at LINES, not vocabulary.
    *
    * Shape: explode to (doc, token) → one per-(doc, token) count →
    * one per-doc aggregate — all counts exact integers, the two
    * ratios divide once each through the DECIMAL(18,8) round
    * contract. Whitespace tokens, the repo-wide convention (an empty
    * text has one empty token — both engines agree).
    */
  def lexicalRichness(df: DataFrame, idCol: String, textCol: String,
      roundDigits: Int = 4): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    df.select(col(idCol), explode(graft.functions.Text.tokens(col(textCol)))
        .as("__t"))
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("__n") === 1).cast("long")).as("n_hapax"))
      .select(col(idCol), col("n_tokens"), col("n_types"), col("n_hapax"),
        round((col("n_types").cast("double") / col("n_tokens"))
          .cast(stable), roundDigits).cast("double").as("ttr"),
        round((col("n_hapax").cast("double") / col("n_tokens"))
          .cast(stable), roundDigits).cast("double").as("hapax_rate"))
  }

  /** X179 — deflate compression ratio per document:
    * `compressed_bytes / raw_bytes` of the UTF-8 text under
    * java.util.zip Deflater level 6 — the Gopher/RefinedWeb-standard
    * redundancy signal: highly-repetitive or templated text compresses
    * far below natural prose, catching degeneracy that token-level
    * stats ([[tokenEntropy]], [[withRepetition]]) see only within
    * their n-gram window. Deterministic: a fixed Deflater
    * level/strategy on fixed bytes produces identical output on any
    * JVM (spec-pinned) — but NOT reproducible in SQL, so this operator
    * is spec-gated, never oracle-hashed (SURVEY §5.3's I/O-tier rule).
    *
    * The codec is a codegen'd Catalyst expression
    * ([[graft.functions.expressions.DeflatedSize]] — the NfcNormalize
    * precedent: JDK-only, no builtin), so the corpus scan stays inside
    * whole-stage codegen with no per-row serde round-trip (r13 verdict
    * #4); the ratio arithmetic on top is all builtins. The old UDF
    * form survives as [[compressionRatioUdf]], the executable spec the
    * codegen path is pinned against (the labelEncodeWindow
    * discipline). Empty text → ratio null.
    */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String,
      roundDigits: Int = 4): DataFrame =
    df.select(col(idCol),
      length(col(textCol)).cast("bigint").as("n_chars_text"),
      when(length(col(textCol)) > 0,
        round(graft.functions.Text.deflatedSize(col(textCol), 6)
          .cast("double") / octet_length(col(textCol)).cast("double"),
          roundDigits))
        .as("compression_ratio"))

  /** The row-at-a-time UDF form of [[compressionRatio]], kept as the
    * readable executable spec the codegen path is pinned against
    * (TextAnalysisSpec asserts equality). Never on the hot path. */
  private[graft] def compressionRatioUdf(
      df: DataFrame, idCol: String, textCol: String,
      roundDigits: Int = 4): DataFrame = {
    val ratio = udf { (t: String) =>
      if (t == null || t.isEmpty) None
      else {
        val raw = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
        val dos = new java.util.zip.DeflaterOutputStream(bos,
          new java.util.zip.Deflater(6))
        dos.write(raw); dos.close()
        Some(BigDecimal(bos.size().toDouble / raw.length)
          .setScale(roundDigits, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      }
    }
    df.select(col(idCol),
      length(col(textCol)).cast("bigint").as("n_chars_text"),
      ratio(col(textCol)).as("compression_ratio"))
  }

  /** X188 — Flesch reading-ease readability per document:
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)` —
    * the standard audience-level quality signal (simple prose scores
    * 70–100, academic text 0–30) that complements the structural
    * Gopher screens: a document can pass length/punct ratios and
    * still be unreadable boilerplate.
    *
    * Counting is all single-pass regex/split arithmetic, no UDF:
    * words = whitespace tokens (the repo-wide x48 convention),
    * sentences = runs of `[.!?]+` (floored at 1 — headless fragments
    * count as one sentence), syllables = vowel-group runs
    * `[aeiouyAEIOUY]+` over the WHOLE text (whitespace already breaks
    * groups at word boundaries, so no per-word loop — same count,
    * one codegen regexp_count). The score is one float chain over
    * integer counts, stabilized through DECIMAL(18,8); empty text →
    * null score.
    */
  def readability(df: DataFrame, idCol: String, textCol: String,
      roundDigits: Int = 4): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val words = size(graft.functions.Text.tokens(col(textCol)))
      .cast("long")
    val sentences = greatest(
      regexp_count(col(textCol), lit("[.!?]+")), lit(1)).cast("long")
    val syllables = regexp_count(col(textCol), lit("[aeiouyAEIOUY]+"))
      .cast("long")
    df.select(col(idCol),
      words.as("n_words"),
      sentences.as("n_sentences"),
      syllables.as("n_syllables"),
      round(when(length(col(textCol)) > 0 && syllables > 0,
        lit(206.835d)
          - lit(1.015d) * (words.cast("double") / sentences.cast("double"))
          - lit(84.6d) * (syllables.cast("double") / words.cast("double")))
        .cast(stable), roundDigits).cast("double").as("flesch"))
  }

  /** X172 — per-document token-distribution Shannon entropy (nats) and
    * its normalized form H/ln(types) — the information-density signal
    * that separates "aaaa aaaa aaaa" (H = 0) from varied prose even
    * when TTR agrees; the per-doc twin of [[graft.operators.Profiling
    * .valueEntropy]] and a standard degenerate-generation filter for
    * LLM training data.
    *
    * Same portability discipline as valueEntropy: exact token counts,
    * each −p·ln p term rounded to DECIMAL(18,8) BEFORE the exact
    * decimal sum (round-then-add — double addition order would differ
    * between engines, decimal addition cannot).
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String,
      roundDigits: Int = 4): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val counted = df
      .select(col(idCol), explode(graft.functions.Text.tokens(col(textCol)))
        .as("__t"))
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("__n"))
    val tot = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
    val p = col("__n").cast("double") / col("__tot").cast("double")
    counted
      .withColumn("__tot", sum(col("__n")).over(tot))
      .withColumn("__term", round((-(p * log(p))).cast(stable), 8))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_types"),
        first(col("__tot")).as("n_tokens"),
        sum(col("__term")).as("__h"))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        round(col("__h").cast(stable), roundDigits).cast("double")
          .as("entropy"),
        when(col("n_types") > 1,
          round((col("__h").cast("double")
            / log(col("n_types").cast("double"))).cast(stable),
            roundDigits).cast("double")).as("norm_entropy"))
  }

  /** X213 — encoding-quality profile per source: the share of
    * documents carrying U+FFFD replacement characters (the smoking
    * gun of a bad decode step upstream), the control-character rate,
    * and the non-ASCII rate — the mojibake tripwire a crawl-ingest
    * pipeline runs per source BEFORE language ID (a source decoded
    * with the wrong charset poisons every downstream text signal,
    * and lang-id confidently mislabels mojibake). A source whose
    * replacement-doc share jumps between snapshots changed its
    * upstream decoder, not its content.
    *
    * Pure codegen per row (regexp_count / contains over fixed
    * patterns — zero UDF, the x223 discipline), ONE counting
    * aggregate to source cardinality. Exact integer counts; rates
    * stabilize through DECIMAL(18,8). NULL-text documents are
    * excluded explicitly (no bytes, no encoding claim — the x195
    * rule).
    */
  def encodingQuality(df: DataFrame, textCol: String, sourceCol: String,
      roundDigits: Int = 6): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val t = col(textCol)
    val rows = df.filter(t.isNotNull && col(sourceCol).isNotNull)
      .select(col(sourceCol).as("source"),
        t.contains(lit("�")).cast("long").as("__repl"),
        regexp_count(t, lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
          .cast("long").as("__ctrl"),
        regexp_count(t, lit("[^\\x00-\\x7F]")).cast("long").as("__nonascii"),
        length(t).cast("long").as("__chars"))
    rows.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__repl")).as("__rd"),
        sum(col("__ctrl")).as("__c"),
        sum(col("__nonascii")).as("__na2"),
        sum(col("__chars")).as("__ch"))
      .select(col("source"), col("n_docs"),
        round((col("__rd").cast("double") / col("n_docs")).cast(stable),
          roundDigits).cast("double").as("replacement_doc_rate"),
        round(when(col("__ch") > 0,
          col("__c").cast("double") / col("__ch")).cast(stable),
          roundDigits).cast("double").as("control_char_rate"),
        round(when(col("__ch") > 0,
          col("__na2").cast("double") / col("__ch")).cast(stable),
          roundDigits).cast("double").as("non_ascii_rate"))
  }

  /** Unseen-vocabulary estimate: Chao1 species richness (Chao 1984,
    * bias-corrected form `S + f1(f1-1)/(2(f2+1))`) plus the
    * Good–Turing unseen-probability mass `f1/N` — the "how much
    * vocabulary has this corpus NOT seen yet" read that tells a
    * curation pipeline whether more data of the same source still
    * buys coverage (high unseen mass) or has saturated (low). The
    * bias-corrected Chao1 stays defined when no token occurs exactly
    * twice, and both statistics are exact integer ratios.
    *
    * Shape: explode → token counts → ONE aggregate over the
    * frequency-of-frequencies; shuffle carries (token, count) cells,
    * never documents.
    */
  def chao1Coverage(df: DataFrame, textCol: String,
      roundDigits: Int = 6): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val counts = df.filter(col(textCol).isNotNull)
      .select(explode(Text.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col("__tok")).agg(count(lit(1)).as("__n"))
    val agg = counts.agg(sum(col("__n")).as("__N"),
      count(lit(1)).as("__S"),
      sum(when(col("__n") === 1, 1L).otherwise(0L)).as("__f1"),
      sum(when(col("__n") === 2, 1L).otherwise(0L)).as("__f2"))
    val nD = col("__N").cast("double")
    val chao = col("__S").cast("double") +
      (col("__f1") * (col("__f1") - 1)).cast("double") /
        (lit(2.0d) * (col("__f2") + 1).cast("double"))
    val unseen = col("__f1").cast("double") / nD
    agg.filter(col("__N") > 0)
      .select(col("__N").as("tokens"), col("__S").as("vocab"),
        col("__f1").as("f1"), col("__f2").as("f2"),
        round(chao.cast(stable), roundDigits).cast("double").as("chao1"),
        round(unseen.cast(stable), roundDigits).cast("double")
          .as("gt_unseen_mass"),
        round((lit(1.0d) - unseen).cast(stable), roundDigits)
          .cast("double").as("coverage"))
  }

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic keyword
    * extraction from individual documents"): candidate phrases are
    * maximal stopword-free token runs; each word scores
    * `degree/frequency` over the whole corpus (degree = summed length
    * of phrases containing it — favors words that live in long
    * collocations), a phrase scores the sum of its words. Top-k
    * phrases by ROUNDED score (ties to the phrase text) so the cut is
    * engine-deterministic.
    *
    * Shape: stopword split is one codegen'd regex pass; word stats
    * are one explode+count bounded by vocabulary; the final rank is a
    * TakeOrdered over distinct phrases, never a global sort.
    */
  def rakeKeywords(df: DataFrame, textCol: String,
      stopwords: Seq[String], topK: Int = 20, roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(stopwords.nonEmpty && topK >= 1, "need stopwords and topK >= 1")
    // Stopwords are spliced into a regex alternation that the DuckDB
    // oracle mirrors verbatim, so they must be plain lowercase words:
    // a metacharacter ("c++", "don't", ".") would silently corrupt the
    // pattern — and \b-semantics at a non-word edge differ anyway.
    // Loud contract beats silent mis-splitting (r16 ADVICE).
    val bad = stopwords.filterNot(_.matches("[a-z]+"))
    require(bad.isEmpty,
      s"stopwords must be plain lowercase words [a-z]+: ${bad.mkString(", ")}")
    val stopRe = "\\b(" + stopwords.mkString("|") + ")\\b"
    val phrases = scope.persist(df.filter(col(textCol).isNotNull)
      .select(explode(split(
        regexp_replace(lower(col(textCol)), stopRe, "|"), "\\|"))
        .as("__ph0"))
      .select(trim(col("__ph0")).as("__ph"))
      .filter(col("__ph") =!= "")
      .select(col("__ph"), split(col("__ph"), " +").as("__ws"))
      .select(col("__ph"), filter(col("__ws"), w => w =!= "").as("__ws"))
      .select(col("__ph"), col("__ws"), size(col("__ws")).as("__len"))
      .filter(col("__len") > 0))
    val wordStats = phrases.select(explode(col("__ws")).as("__w"),
        col("__len"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
    val distinctPh = phrases.groupBy(col("__ph"))
      .agg(count(lit(1)).as("occurrences"), first(col("__ws")).as("__ws"))
    val scored = distinctPh
      .select(col("__ph"), col("occurrences"), explode(col("__ws")).as("__w"))
      .join(wordStats, Seq("__w"))
      .groupBy(col("__ph"), col("occurrences"))
      .agg(round(sum(col("__deg").cast("double")
        / col("__freq").cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 8)), roundDigits)
        .cast("double").as("score"))
    scored.select(col("__ph").as("phrase"), col("occurrences"),
        col("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }

  /** Smoothed KL divergence between two eras' unigram distributions
    * (both directions — KL is asymmetric and the asymmetry is
    * informative: new-vocab mass shows in KL(new‖old)): add-one
    * smoothing over the UNION vocabulary keeps every term finite.
    * One count pass to per-era token cells, per-term DECIMAL(18,10)
    * sums. The token-level drift gauge next to x236's numeric JS.
    */
  def vocabKlDrift(df: DataFrame, textCol: String, inA: Column,
      roundDigits: Int = 6): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec = org.apache.spark.sql.types.DecimalType(18, 10)
    val cells = df.filter(col(textCol).isNotNull && inA.isNotNull)
      .select(inA.cast("boolean").as("__a"),
        explode(Text.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col("__tok"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    val tot = cells.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"), count(lit(1)).as("__v"))
    val p = (col("__ca").cast("double") + lit(1.0d))
      ./(col("__na").cast("double") + col("__v").cast("double"))
    val q = (col("__cb").cast("double") + lit(1.0d))
      ./(col("__nb").cast("double") + col("__v").cast("double"))
    cells.crossJoin(broadcast(tot))
      .agg(first(col("__v")).as("vocab"), first(col("__na")).as("tokens_a"),
        first(col("__nb")).as("tokens_b"),
        sum((p * log(p / q)).cast(dec)).as("__klab"),
        sum((q * log(q / p)).cast(dec)).as("__klba"))
      .filter(col("vocab") > 0)
      .select(col("vocab"), col("tokens_a"), col("tokens_b"),
        round(col("__klab").cast("double").cast(stable), roundDigits)
          .cast("double").as("kl_ab"),
        round(col("__klba").cast("double").cast(stable), roundDigits)
          .cast("double").as("kl_ba"))
  }

  /** "Fightin' Words" log-odds with an informative Dirichlet prior
    * (Monroe, Colaresi & Quinn 2008 §3.5.2): for each token, the
    * z-scored log-odds-ratio of its usage between corpus A and B,
    * with the pooled corpus as the prior — THE principled "which
    * words distinguish these two sources" read (raw frequency ratios
    * over-weight rare words; the prior shrinks them). Per token:
    * `δ_w = ln((y_aw+α_w)/(n_a+α₀-y_aw-α_w)) - ln(same for B)`,
    * `z_w = δ_w / sqrt(1/(y_aw+α_w) + 1/(y_bw+α_w))`.
    *
    * Shape: one explode+count to per-side token cells, a full-outer
    * merge on token (absent side = 0), and pure per-row math —
    * shuffle bounded by vocabulary.
    */
  def fightinWords(df: DataFrame, textCol: String, inA: Column,
      alpha0: Double = 100.0, minCount: Long = 5,
      roundDigits: Int = 6): DataFrame = {
    require(alpha0 > 0, s"alpha0 must be > 0: $alpha0")
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val toks = df.filter(col(textCol).isNotNull && inA.isNotNull)
      .select(inA.cast("boolean").as("__a"),
        explode(Text.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
    val cells = toks.groupBy(col("__tok"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ya"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__yb"))
      .filter(col("__ya") + col("__yb") >= minCount)
    val tot = cells.agg(sum(col("__ya")).as("__na"),
      sum(col("__yb")).as("__nb"),
      sum(col("__ya") + col("__yb")).as("__nt"))
    val aw = lit(alpha0) * (col("__ya") + col("__yb")).cast("double")
      ./(col("__nt").cast("double"))
    val withTot = cells.crossJoin(broadcast(tot))
      .select(col("__tok"), col("__ya"), col("__yb"),
        col("__na"), col("__nb"), aw.as("__aw"))
    val ya = col("__ya").cast("double") + col("__aw")
    val yb = col("__yb").cast("double") + col("__aw")
    val ra = col("__na").cast("double") + lit(alpha0)
      .-(col("__ya").cast("double")).-(col("__aw"))
    val rb = col("__nb").cast("double") + lit(alpha0)
      .-(col("__yb").cast("double")).-(col("__aw"))
    val delta = log(ya / ra) - log(yb / rb)
    val z = delta / sqrt(lit(1.0d) / ya + lit(1.0d) / yb)
    withTot.filter(ra > 0 && rb > 0)
      .select(col("__tok").as("token"),
        col("__ya").as("count_a"), col("__yb").as("count_b"),
        round(delta.cast(stable), roundDigits).cast("double")
          .as("log_odds"),
        round(z.cast(stable), roundDigits).cast("double").as("z"))
      .orderBy(col("token"))
  }

  /** Pairwise cosine similarity between the sources' unigram count
    * vectors — the "are these two crawls the same kind of text"
    * matrix a mixing plan reads before weighting sources (near-1 =
    * redundant vocabularies, low = genuinely complementary). The dot
    * products and norms are INTEGER sums over (source, token) count
    * cells (exact in DECIMAL(38,0)); the only float math is the final
    * cosine.
    *
    * Shape: one explode+count to the (source, token) cell table;
    * the pair join shuffles on token (bounded by vocabulary, never
    * documents); sources is a bounded dimension so the output is
    * sources²/2 rows.
    */
  def sourceVocabCosine(df: DataFrame, sourceCol: String,
      textCol: String, roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = scope.persist(
      df.filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
        .select(col(sourceCol).cast("string").as("__s"),
          explode(Text.tokens(col(textCol))).as("__tok"))
        .filter(col("__tok") =!= "")
        .groupBy(col("__s"), col("__tok")).agg(count(lit(1)).as("__n")))
    val norms = cells.groupBy(col("__s"))
      .agg(sum((col("__n").cast(d38) * col("__n").cast(d38)).cast(d38))
        .as("__nrm2"))
    val dots = cells.select(col("__s").as("source_a"), col("__tok"),
        col("__n").as("__na"))
      .join(cells.select(col("__s").as("source_b"), col("__tok"),
        col("__n").as("__nb")), Seq("__tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum((col("__na").cast(d38) * col("__nb").cast(d38))
        .cast(d38)).as("__dot"))
    dots
      .join(norms.select(col("__s").as("source_a"),
        col("__nrm2").as("__n2a")), Seq("source_a"))
      .join(norms.select(col("__s").as("source_b"),
        col("__nrm2").as("__n2b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        round((col("__dot").cast("double")
          / (sqrt(col("__n2a").cast("double"))
            * sqrt(col("__n2b").cast("double")))).cast(stable),
          roundDigits).cast("double").as("cosine"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Distinct-n diversity per source (the self-BLEU-adjacent corpus
    * diversity read, Li et al. 2016 "A diversity-promoting objective
    * function"): distinct unigrams / total unigrams and distinct
    * bigrams / total bigrams — low distinct-2 = templated or
    * mode-collapsed text even when individual docs look fine. One
    * explode+count per n; all integer until the final ratios.
    */
  def distinctN(df: DataFrame, sourceCol: String, textCol: String,
      roundDigits: Int = 6): DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    def stats(gram: Column, name: String): DataFrame =
      df.filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
        .select(col(sourceCol).cast("string").as("__s"),
          explode(gram).as("__g"))
        .filter(col("__g") =!= "")
        .groupBy(col("__s"), col("__g")).agg(count(lit(1)).as("__n"))
        .groupBy(col("__s"))
        .agg(sum(col("__n")).as(s"${name}_total"),
          count(lit(1)).as(s"${name}_distinct"))
    val uni = stats(Text.tokens(col(textCol)), "unigram")
    val bi = stats(Text.shingles(col(textCol), 2), "bigram")
    uni.join(bi, Seq("__s"), "left")
      .select(col("__s").as("source"),
        col("unigram_total"), col("unigram_distinct"),
        round((col("unigram_distinct").cast("double")
          / col("unigram_total").cast("double")).cast(stable),
          roundDigits).cast("double").as("distinct_1"),
        coalesce(col("bigram_total"), lit(0L)).as("bigram_total"),
        coalesce(col("bigram_distinct"), lit(0L)).as("bigram_distinct"),
        round(when(col("bigram_total") > 0,
          col("bigram_distinct").cast("double")
            / col("bigram_total").cast("double")).cast(stable),
          roundDigits).cast("double").as("distinct_2"))
      .orderBy(col("source"))
  }
}
