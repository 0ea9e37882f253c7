package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One timed interval around a call into a layer. `parent` is the span
  * that caused it (0 for a root); spans of one operation share `run`. */
final case class Span(id: Long, name: String, run: String, parent: Long,
    startNs: Long, endNs: Long)

/** Spark engine counters for one job group (one benchmark call). */
final class GroupStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var input = 0L; var output = 0L
  val stageRunMsByFile = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** Everything the traced run records from outside the program: spans
  * kept in memory, and a SparkListener that files every job, stage and
  * task under the job group the benchmark set around the call. With
  * tracing off, `span` runs the body bare and no listener is installed. */
final class Recorder(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, run: String, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, name, run, parent, t0, System.nanoTime()))
    }

  /** Run `body` with the Spark job group set on this thread, so the
    * listener can attribute its jobs. */
  def inGroup[T](group: String)(body: => T): T =
    if (!enabled) body
    else {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageFile = mutable.Map.empty[Int, String]
  private val executionFile = mutable.Map.empty[Long, String]
  private val blockMem = mutable.Map.empty[String, Long]
  private var storageNow = 0L
  private var storagePeak = 0L
  private var evictedBlocks = 0L

  def groupsWithPrefix(prefix: String): Seq[GroupStats] =
    synchronized(groups.collect { case (g, s) if g.startsWith(prefix) => s }.toSeq)

  /** Source file of the innermost graft frame in a stage's call site, so
    * stage time lands on the operator that ran the job; stages launched
    * straight from the benchmark (lazy plans executed by a sink) land on
    * "harness". */
  private def fileOf(details: String): String = {
    val frame = """(?m)^\s*(?:at )?graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r
    frame.findFirstMatchIn(details).map(_.group(1)).getOrElse(
      if ("""(?m)^\s*(?:at )?perfbench\.""".r.findFirstIn(details).isDefined) "harness"
      else "other")
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("none")
      val s = groups.getOrElseUpdate(g, new GroupStats)
      s.jobs += 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
      // the job's call site names the code that ran it
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.long")))
        .orElse(e.stageInfos.lastOption.map(_.details)).getOrElse("")
      // jobs a SQL execution runs on helper threads (broadcasts, AQE
      // stages) carry only that thread's stack: use the execution's site
      val file = Some(fileOf(site)).filter(_ != "other").orElse(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionFile.get(id.toLong))).getOrElse("other")
      e.stageInfos.foreach(st => stageFile(st.stageId) = file)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Recorder.this.synchronized(executionFile(x.executionId) = fileOf(x.details))
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized {
        val info = e.stageInfo
        stageGroup.get(info.stageId).foreach { g =>
          val s = groups.getOrElseUpdate(g, new GroupStats)
          s.stages += 1
          val m = info.taskMetrics
          if (m != null)
            s.stageRunMsByFile(stageFile.getOrElse(info.stageId, fileOf(info.details))) +=
              m.executorRunTime
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val s = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "none"), new GroupStats)
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Recorder.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isInstanceOf[RDDBlockId]) {
        val key = info.blockId.name
        val before = blockMem.getOrElse(key, 0L)
        // a block that leaves memory while still stored on disk was
        // evicted (MEMORY_AND_DISK drop), not unpersisted
        if (before > 0 && info.memSize == 0 && info.diskSize > 0) evictedBlocks += 1
        storageNow += info.memSize - before
        if (info.memSize > 0) blockMem(key) = info.memSize else blockMem -= key
        storagePeak = math.max(storagePeak, storageNow)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Per-group counters summed and divided by `ops`, as the named
    * `spark.*` per-layer metrics (mb = 2^20 bytes). */
  def sparkLayers(prefix: String, ops: Int): Map[String, Double] = {
    // the listener bus is asynchronous: let queued events land first
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    val gs = groupsWithPrefix(prefix)
    val n = math.max(1, ops).toDouble
    def sum(f: GroupStats => Long) = gs.map(f).sum.toDouble / n
    val mb = 1024.0 * 1024.0
    val byFile = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    gs.foreach(_.stageRunMsByFile.foreach { case (f, ms) => byFile(f) += ms / 1e3 / n })
    Map(
      "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.executor_run_s" -> sum(_.runMs) / 1e3,
      "spark.executor_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.scheduler_delay_s" -> sum(_.schedDelayMs) / 1e3,
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / mb,
      "spark.shuffle_read_mb" -> sum(_.shuffleRead) / mb,
      "spark.spill_mb" -> sum(_.spill) / mb,
      "spark.input_mb" -> sum(_.input) / mb,
      "spark.output_mb" -> sum(_.output) / mb,
      "spark.failed_tasks" -> sum(_.failedTasks)) ++
      Recorder.StageFiles.map(f => s"spark.stage_s.$f" -> byFile(f)) ++
      Seq("spark.stage_s.other" ->
        byFile.collect { case (f, s) if !Recorder.StageFiles.contains(f) => s }.sum)
  }

  def cacheLayers: Map[String, Double] = synchronized(Map(
    "cache.storage_peak_mb" -> storagePeak / (1024.0 * 1024.0),
    "cache.evicted_blocks" -> evictedBlocks.toDouble))

  /** Self time per span name: each span's duration minus the part of it
    * its children cover, summed by name. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
            if (a >= end) (acc + (b - a), b)
            else if (b > end) (acc + (b - end), b)
            else (acc, end)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json.render(Map("id" -> s.id, "name" -> s.name, "run" -> s.run,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Recorder {
  /** Graft source files whose stage time is reported by name: the ones
    * a listed workload's jobs start from (analytics_mix's queries are
    * lazy plans its noop sink runs, so they land on "harness"). */
  val StageFiles: Seq[String] = Seq("M5Pipeline", "TweedieGbt", "HistTree", "Dedup",
    "Incremental", "Cut", "harness")

  /** Live heap after a full collection: the sum of every heap pool's
    * collection usage, read after `System.gc()`. A collection makes
    * Spark's ContextCleaner release the blocks of unreferenced RDDs,
    * shuffles and broadcasts asynchronously, so collect again after a
    * pause until two readings in a row stop falling (at most eight
    * rounds). */
  def liveHeapMb(): Double = {
    def afterGc(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
        .map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
    }
    var last = afterGc()
    var rounds = 1
    var flat = 0
    while (flat < 2 && rounds < 8) {
      Thread.sleep(500)
      val now = afterGc()
      flat = if (now < last * 0.99) 0 else flat + 1
      last = math.min(last, now)
      rounds += 1
    }
    last
  }
}
