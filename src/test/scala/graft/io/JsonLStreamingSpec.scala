package graft.io

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.SparkSpec
import graft.streaming.Incremental

/** The full ingestion story composed from existing pieces: a JSONL
  * crawl directory streamed with `readStream`, corrupt lines routed to
  * a quarantine dir, parseable rows dedup-curated into the store —
  * no line dropped, no line fatal, the curated output identical to
  * what batch curation of the clean rows would produce. */
class JsonLStreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType)

  test("streamed JSONL: corrupt lines quarantined, clean rows curated") {
    val tmp = Files.createTempDirectory("graft-jsonl-stream").toString
    val inDir = s"$tmp/in"; val refDir = s"$tmp/ref"
    val curDir = s"$tmp/curated"; val qDir = s"$tmp/quarantine"
    val ck = s"$tmp/ck"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    Seq((1L, "frozen reference doc")).toDF("doc_id", "text")
      .write.parquet(refDir)

    val badLine = """{"doc_id": 12 "text": "missing comma"}"""
    val lines = Seq(
      """{"doc_id": 10, "text": "alpha beta"}""",
      badLine,
      """{"doc_id": 11, "text": "frozen reference doc"}""", // ref dup
      """{"doc_id": 13, "text": "alpha beta"}""",           // intra dup
      """{"doc_id": 14, "text": "gamma delta"}""")
    Files.write(java.nio.file.Paths.get(inDir, "crawl0.jsonl"),
      String.join("\n", lines: _*).getBytes("UTF-8"))

    // readStream under the SAME schema+corrupt-col contract as the
    // batch source; the split happens inside foreachBatch, where the
    // micro-batch is materialized
    val stream = spark.readStream
      .schema(schema.add(JsonL.CorruptCol, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", JsonL.CorruptCol)
      .json(inDir)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // the micro-batch is still file-source-backed, so a corrupt-
        // only projection hits the same SPARK-26156 guard as the batch
        // reader (even under persist(), whose cache materializes too
        // late). An EAGER localCheckpoint cuts the file source out of
        // the plan entirely — both splits then read materialized rows.
        val b = batch.localCheckpoint()
        try {
          b.filter(col(JsonL.CorruptCol).isNotNull)
            // renamed for the sink: a JSONL column named
            // _corrupt_record cannot be re-read (it becomes the
            // internal corrupt column of the NEXT reader) — the same
            // reason JsonL.Ingested.corrupt exposes RawCol
            .select(col(JsonL.CorruptCol).as(JsonL.RawCol))
            .write.mode("append").json(qDir)
          Incremental.curateBatch(b.sparkSession,
            b.filter(col(JsonL.CorruptCol).isNull).drop(JsonL.CorruptCol),
            "doc_id", "text", refDir, curDir)
        } finally graft.util.Cut.release(b)
      }
      .start()
      .awaitTermination()

    val curated = spark.read.parquet(curDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(curated == Set(10L -> "alpha beta", 14L -> "gamma delta"),
      s"clean rows must be curated (ref dup + intra dup dropped): $curated")
    val quarantined = spark.read.schema(
        new StructType().add(JsonL.RawCol, StringType))
      .json(qDir).as[String].collect().toSeq
    assert(quarantined == Seq(badLine),
      s"the broken line must land verbatim in quarantine: $quarantined")
  }
}
