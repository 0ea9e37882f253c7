package graft

import org.apache.spark.sql.functions.lit

/** The bench harness's measurement contract (r7 VERDICT "What's wrong"
  * #1/#2): deterministic query order, loud setup failures that fail the
  * query rather than silently absorbing the one-time build into the
  * timed runs, and SPARK_GRAFT_ONLY validation. */
class BenchSpec extends SparkSpec {

  test("selectQueries runs in sorted name order, stable across additions") {
    val names = Bench.selectQueries(None).map(_._1)
    assert(names == names.sorted,
      "bench order must be sorted so adding a query never reshuffles " +
        "every other query's JVM/GC neighborhood")
    assert(!names.contains("x44_embedding_neardup"),
      "gateOnly oracle twins stay out of the default bench")
  }

  test("explicit SPARK_GRAFT_ONLY overrides the gateOnly exclusion") {
    val names = Bench.selectQueries(Some(Set("x44_embedding_neardup"))).map(_._1)
    assert(names == Seq("x44_embedding_neardup"),
      "naming a query explicitly is a request to time it, gateOnly or not")
  }

  test("SPARK_GRAFT_ONLY with an unknown name fails instead of benching nothing") {
    val e = intercept[RuntimeException] {
      Bench.selectQueries(Some(Set("x41_minhash_neardup", "x99_typo")))
    }
    assert(e.getMessage.contains("x99_typo"),
      s"the unknown name must be reported: ${e.getMessage}")
  }

  test("a broken benchSetup fails the query with -1, never a timed run") {
    val t = Bench.measure(spark, "/nonexistent", "q_broken",
      (s, _) => s.range(1).toDF(),
      setup = Some((_, _) => sys.error("setup exploded")))
    assert(t.median == -1.0 && t.runs.forall(_ == -1.0),
      s"setup failure must yield the -1 sentinel, got $t")
  }

  test("a healthy query measures a positive median over all runs, with telemetry") {
    val t = Bench.measure(spark, "unused", "q_ok",
      (s, _) => s.range(10).toDF().withColumn("c", lit(1)), setup = None)
    assert(t.median > 0 && t.runs.size == 3 && t.runs.forall(_ > 0),
      s"expected 3 positive runs, got $t")
    // degradation telemetry (r13 verdict #1): GC delta is non-negative
    // by construction, heap-in-use is a real positive reading
    assert(t.gcMs >= 0 && t.heapMb > 0, s"telemetry must be sane: $t")
  }

  test("a query that throws mid-run records -1 for the whole query") {
    val t = Bench.measure(spark, "unused", "q_fail",
      (_, _) => sys.error("query exploded"), setup = None)
    assert(t.median == -1.0)
  }

  test("ONLY-mode warm-up absorbs a cold first run; a genuine mid-run spike still flags (r15 verdict #4)") {
    // a query whose FIRST invocation is slow (the fresh-JVM JIT/cache
    // shape: judge's isolated x111 ran [22.8, 9.1, 8.4])
    def coldFirst(): (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame = {
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      (s, _) => {
        if (calls.getAndIncrement() == 0) Thread.sleep(5500)
        s.range(5).toDF()
      }
    }
    // without warm-up the cold run lands in the timed vector → suspect
    val cold = Bench.measure(spark, "unused", "q_cold", coldFirst(), setup = None)
    assert(Bench.isSuspect(cold.runs),
      s"a >5 s cold first timed run must flag: ${cold.runs}")
    // with warm-up (the SPARK_GRAFT_ONLY adjudication path) the cold
    // invocation is absorbed untimed → all timed runs warm, run stays clean
    val warm = Bench.measure(spark, "unused", "q_cold_warm", coldFirst(),
      setup = None, warmup = true)
    assert(warm.runs.forall(_ > 0) && !Bench.isSuspect(warm.runs),
      s"warm-up must absorb the cold run: ${warm.runs}")
    // a GENUINE mid-run spike is not hidden by the warm-up — still flags
    val spikeCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val spiky = Bench.measure(spark, "unused", "q_spike",
      (s, _) => {
        if (spikeCalls.getAndIncrement() == 2) Thread.sleep(5500) // timed run #2
        s.range(5).toDF()
      }, setup = None, warmup = true)
    assert(Bench.isSuspect(spiky.runs),
      s"a mid-run spike must still flag under warm-up: ${spiky.runs}")
  }

  test("a warm-up failure is non-fatal: timed runs still measure (or fail loudly themselves)") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val t = Bench.measure(spark, "unused", "q_warmfail",
      (s, _) => {
        if (calls.getAndIncrement() == 0) sys.error("warm-up exploded")
        s.range(5).toDF()
      }, setup = None, warmup = true)
    assert(t.median > 0 && t.runs.forall(_ > 0),
      s"a throw confined to the warm-up must not fail the query: $t")
  }

  test("isSuspect flags r14's mid-sweep turbulence and clears the clean run (r14 verdict #2)") {
    // the three BENCH_r14 inflations the single end-of-run sentinel
    // missed — all must flag
    assert(Bench.isSuspect(Seq(4.749, 147.554, 6.708)), "x164's 147.5 s run")
    assert(Bench.isSuspect(Seq(8.175, 81.912, 7.5)), "x158's 81.9 s run")
    assert(Bench.isSuspect(Seq(26.565, 20.259, 14.096)),
      "x194's uniformly inflated runs (12.5 s spread)")
    // clean-run shapes must NOT flag: a sub-second query's 6× warm-up
    // ratio (t39/t49 in the clean r14 artifact), an ordinary heavy
    // query's 3 s spread (x175), and failure sentinels
    assert(!Bench.isSuspect(Seq(0.35, 2.15, 0.33)), "fast-query warm-up")
    assert(!Bench.isSuspect(Seq(5.1, 8.2, 6.3)), "3 s spread on a heavy query")
    assert(!Bench.isSuspect(Seq(-1.0, -1.0, -1.0)), "failures are failed, not suspect")
    assert(!Bench.isSuspect(Seq(1.211, 0.644, 0.683)), "t01's clean shape")
  }

  test("subset runs default their artifact under /tmp, full sweeps to the scoreboard (r17 verdict #1)") {
    assert(Bench.defaultOutPath(isSubset = true).startsWith("/tmp/"),
      "an adjudication run that omits SPARK_GRAFT_BENCH_OUT must not " +
        "land on the repo-root scoreboard")
    assert(Bench.defaultOutPath(isSubset = false) == "bench.json",
      "the full sweep IS the scoreboard write")
  }

  test("the clobber guard refuses to shrink an existing board (r17 verdict #1 second layer)") {
    def board(qs: String*): String =
      """{"metric":"total","value":1.0,"queries":{""" +
        qs.map(q => s""""$q":0.5""").mkString(",") + "}}"
    val full = board("t01", "t02", "x325")
    val one = board("x325")
    assert(Bench.wouldClobberBoard(Some(full), one),
      "a 1-query line must never overwrite a 3-query board")
    assert(!Bench.wouldClobberBoard(Some(one), full),
      "growing the board is always allowed")
    assert(!Bench.wouldClobberBoard(Some(full), full),
      "same-size rewrite (a fresh full sweep) is allowed")
    assert(!Bench.wouldClobberBoard(None, one),
      "no existing file, nothing to protect")
    assert(!Bench.wouldClobberBoard(Some("not json at all"), one),
      "garbage at the target is not a board")
    assert(Bench.boardQueryCount(full) == 3 &&
      Bench.boardQueryCount("{}") == -1)
  }

  test("the shrink guard exempts FULL sweeps — a retired query must " +
      "shrink the board, not strand automation on a stale one " +
      "(r18 ADVICE)") {
    def board(qs: String*): String =
      """{"metric":"total","value":1.0,"queries":{""" +
        qs.map(q => s""""$q":0.5""").mkString(",") + "}}"
    val full = board("t01", "t02", "x325")
    val smaller = board("t01", "t02")
    // a FULL sweep whose registry shrank writes the new truth
    assert(!Bench.divertToPartial(isSubset = false,
      scratchDefault = false, force = false, Some(full), smaller),
      "a full sweep is the new board even when smaller")
    // a SUBSET run shrinking a board still diverts
    assert(Bench.divertToPartial(isSubset = true,
      scratchDefault = false, force = false, Some(full), smaller),
      "a subset run must never shrink a board")
    // the /tmp scratch default and the force override stay exempt
    assert(!Bench.divertToPartial(isSubset = true,
      scratchDefault = true, force = false, Some(full), smaller))
    assert(!Bench.divertToPartial(isSubset = true,
      scratchDefault = false, force = true, Some(full), smaller))
  }

  test("compactLine renders a key missing from the full line as null, keeping the JSON valid") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val full = """{"metric":"total","value":12.5,"failed":0,"degraded":false,""" +
      """"sf":"sf0.01","chunks":1,"queries":{"t01":0.5,"t02":0.7}}"""
    val compact = Bench.compactLine(full)
    val j = JsonMethods.parse(compact)
    assert(j \ "runs" == JNull, s"absent key must be null: $compact")
    assert(j \ "value" == JDouble(12.5) && j \ "n_queries" == JInt(2), compact)
  }
}
