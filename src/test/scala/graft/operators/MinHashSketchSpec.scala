package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The row-local MinHash sketch behind the persisted near-dup index and
  * its probe: per doc it must equal the grouped spec — `shingleHashes`
  * → `minhashSignatures` → `lshBandKeys` — including the edge docs the
  * index manifest carries (short, empty, null text) and ids shared by
  * several rows (one merged set). */
class MinHashSketchSpec extends SparkSpec {
  import spark.implicits._

  private val (s, n, r) = (3, 16, 4)

  private lazy val docs: DataFrame = {
    // a small vocabulary, so shingles repeat within a doc and across docs
    val rng = new scala.util.Random(7)
    val corpus = (0 until 120).map(i => (i.toLong,
      Seq.fill(3 + rng.nextInt(40))(s"w${rng.nextInt(25)}").mkString(" ")))
    val edge = Seq[(Long, String)](
      (-1L, "too short"), // fewer tokens than the shingle width
      (-2L, ""),
      (-3L, null),
      // one id, two texts: a single merged set, never two docs
      (-4L, "alpha beta gamma delta epsilon"),
      (-4L, "zeta eta theta iota kappa alpha beta gamma"))
    (corpus ++ edge).toDF("doc_id", "text")
  }

  private def setsOf(df: DataFrame): Map[Long, (Seq[Long], Long)] =
    df.select(col("doc"), col("hs"), col("sz")).as[(Long, Seq[Long], Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap

  private def bandsOf(df: DataFrame): Set[(Long, Long, String)] =
    df.select(col("doc"), col("band"), col("bkey")).as[(Long, Long, String)]
      .collect().toSet

  /** The grouped form: explode + distinct, then per-doc aggregates. */
  private def spec(df: DataFrame) = {
    val sh = Dedup.shingleHashes(df, "doc_id", "text", s)
    val sig = Dedup.minhashSignatures(sh, n)
    val sets = df.select(col("doc_id").as("doc")).distinct()
      .join(sh.groupBy(col("doc"))
        .agg(sort_array(collect_list(col("h"))).as("hs"), count(lit(1)).as("sz")),
        Seq("doc"), "left")
      .select(col("doc"), coalesce(col("hs"), array().cast("array<bigint>")).as("hs"),
        coalesce(col("sz"), lit(0L)).as("sz"))
    (sig, sets, Dedup.lshBandKeys(sig, n, r))
  }

  private val mhCols = (0 until n).map(j => col(s"mh_$j"))

  /** Signature per doc that has one; a doc without shingles must carry
    * an all-null signature (the grouped form has no row for it). */
  private def signaturesOf(df: DataFrame, idCol: String): Map[Long, Seq[Long]] = {
    assert(df.where(col("sz") === 0 && mhCols.map(_.isNotNull).reduce(_ || _)).isEmpty,
      "a doc without shingles has a null signature")
    df.where(col("sz") > 0).select(col(idCol), array(mhCols: _*))
      .as[(Long, Seq[Long])].collect().toMap
  }

  test("doc sketches equal shingleHashes → minhashSignatures → lshBandKeys per doc") {
    val (sig, sets, bands) = spec(docs)
    val expectSig = sig.select(col("doc"), array(mhCols: _*))
      .as[(Long, Seq[Long])].collect().toMap
    // a local frame is sketched by the interpreted eval at plan time
    // (ConvertToLocalRelation); behind a shuffle the projection is codegen'd
    Seq(docs, docs.repartition(3)).foreach { frame =>
      val sketched = Dedup.docSketches(
        Dedup.minhashSketch(frame, "text", s, n), "doc_id", n)
      assert(signaturesOf(sketched, "doc") == expectSig, "signature per doc")
      assert(setsOf(sketched) == setsOf(sets), "hs and sz per doc")
      assert(bandsOf(Dedup.indexOfSketches(sketched, s, n, r).bands) == bandsOf(bands),
        "band keys per doc")
    }
    val edge = setsOf(sets)
    assert(Seq(-1L, -2L, -3L).forall(d => edge(d) == ((Nil, 0L))),
      "short, empty and null text carry an empty set")
    assert(edge(-4L)._2 == 8L, "the shared id's two texts merge into one set")
  }

  test("the row-local sketch of each row alone equals its grouped sketch") {
    // checkpointed, so the sketch is planned rather than folded into a
    // local relation at plan time
    val single = docs.filter(col("doc_id") =!= -4L).localCheckpoint()
    val (sig, sets, _) = spec(single)
    val sketched = Dedup.minhashSketch(single, "text", s, n)
    assert(sketched.columns.toSeq ==
      Seq("doc_id", "text", "hs", "sz") ++ (0 until n).map(j => s"mh_$j"))
    val plan = sketched.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      s"the sketch must be a per-row projection:\n$plan")
    assert(setsOf(sketched.withColumnRenamed("doc_id", "doc")) == setsOf(sets))
    assert(signaturesOf(sketched, "doc_id") ==
      sig.select(col("doc"), array(mhCols: _*)).as[(Long, Seq[Long])].collect().toMap)
  }

  test("buildNearDupIndex rows equal the explode/groupBy form") {
    val (_, sets, bands) = spec(docs)
    val index = Dedup.buildNearDupIndex(docs.localCheckpoint(), "doc_id", "text", s, n, r)
    assert(setsOf(index.sets) == setsOf(sets))
    assert(bandsOf(index.bands) == bandsOf(bands))
    assert(index.sets.schema.map(f => (f.name, f.dataType)) ==
      sets.schema.map(f => (f.name, f.dataType)), "sets keeps its parquet schema")
    Seq(index.sets, index.bands).foreach { rel =>
      val plan = rel.queryExecution.executedPlan.toString
      assert(plan.contains("wordshinglehashes") &&
        !plan.contains("explode(wordshinglehashes"),
        s"shingle hashes stay in their doc's row, never exploded:\n$plan")
    }
  }
}
