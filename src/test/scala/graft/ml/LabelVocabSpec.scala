package graft.ml

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Relational

class LabelVocabSpec extends SparkSpec {
  import spark.implicits._

  // "�" < "😀" in UTF-8 bytes (EF.. < F0..) but > in Java's UTF-16
  // order (FFFD > D83D), so a driver sort in String order would swap them
  private val trainRows = Seq(
    ("b", "�", "x"), ("a", "😀", null), (null, "é", "x"),
    ("B", "�", "y"), ("", "z", null), ("a", "😀", "y"))
  private val cols = Seq("c1", "c2", "c3")

  test("codes equal Relational.labelEncode's column by column; null and unseen map to -1") {
    val train = trainRows.toDF(cols: _*)
    val vocab = LabelVocab.fit(train, cols)
    assert(vocab.columns.map(_._1) == cols)
    assert(vocab.columns(1)._2 == IndexedSeq("z", "é", "�", "😀"),
      "values must sort in UTF-8 byte order")

    // predict-time frame: every train value, nulls, and values never seen
    val testRows = trainRows ++ Seq(("unseen", "😁", "w"), (null, null, null))
    val test = testRows.zipWithIndex.map { case ((a, b, c), i) => (i, a, b, c) }
      .toDF("row" +: cols: _*)
    val refs = cols.map(c =>
      Relational.labelEncode(train, c).as[(String, Long)].collect().toMap)
    // a local frame is projected by the interpreted eval at plan time
    // (ConvertToLocalRelation); behind a shuffle the projection is codegen'd
    Seq(test, test.repartition(2)).foreach { frame =>
      val encoded = vocab.encode(frame)
      val plan = encoded.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"),
        s"encoding must be a narrow projection:\n$plan")
      val got = encoded.collect()
      assert(got.length == testRows.size)
      for ((c, i) <- cols.zipWithIndex; r <- got) {
        val v = testRows(r.getInt(0)).productElement(i).asInstanceOf[String]
        val expect = if (v == null) -1L else refs(i).getOrElse(v, -1L)
        assert(r.getLong(i + 1) == expect, s"$c: code of '$v'")
      }
    }
    assert(vocab.arity == cols.map(c =>
      c -> (Relational.labelEncode(train, c).count().toInt + 1)).toMap)
  }

  test("save/load round-trips values, column order and arities") {
    val vocab = LabelVocab(Seq(
      "id" -> IndexedSeq("", "a,b", "quote\"s", "new\nline", "�", "😀"),
      "empty" -> IndexedSeq.empty,
      "dept" -> IndexedSeq("FOODS")))
    val path = s"${Files.createTempDirectory("vocab")}/model/vocab.json"
    vocab.save(path)
    assert(LabelVocab.load(path) == vocab)
    assert(vocab.arity == Map("id" -> 7, "empty" -> 1, "dept" -> 2))
  }

  test("fit runs the same number of Spark jobs for 2 and 8 string columns") {
    val frame = spark.range(200).select((0 until 8).map(i =>
      concat(lit(s"v$i-"), (col("id") % (i + 2)).cast("string")).as(s"s$i")): _*)
    def jobsToFit(n: Int): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val marker = new java.util.concurrent.atomic.AtomicBoolean(false)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val group = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          if (group.contains("graft-vocab-marker")) marker.set(true)
          else jobs.incrementAndGet(): Unit
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val vocab = LabelVocab.fit(frame, (0 until n).map(i => s"s$i"))
        assert(vocab.arity == (0 until n).map(i => s"s$i" -> (i + 3)).toMap)
        // flush: the listener bus is FIFO, so once the marker lands
        // every job the fit submitted has been counted
        spark.sparkContext.setJobGroup("graft-vocab-marker", "flush")
        try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
        val deadline = System.nanoTime() + 10_000_000_000L
        while (!marker.get && System.nanoTime() < deadline) Thread.sleep(20)
        assert(marker.get, "listener bus never delivered the marker job")
        jobs.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val two = jobsToFit(2)
    val eight = jobsToFit(8)
    info(s"jobs per fit: 2 columns $two, 8 columns $eight")
    assert(two > 0 && two == eight,
      s"fit must not run per-column actions: 2 columns $two jobs, 8 columns $eight")
  }
}
