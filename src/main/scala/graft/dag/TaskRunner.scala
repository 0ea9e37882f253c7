package graft.dag

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable

/** O40/O41/O2 — the thin task-DAG layer over Spark jobs: file-target
  * dataflow edges, topo-ordered execution, memoization by
  * target-existence, and eager cleanup of consumed intermediates.
  * Ref: Luigi requires()/output()/complete() (pipeline.py:23-403),
  * OutputFile/InputTask (common.py:33-72).
  *
  * Deliberately NOT a scheduler: at 100 TB the parallelism lives
  * INSIDE each task (Spark partitions across executors); the DAG only
  * sequences coarse checkpoint-to-checkpoint stages, so a single
  * driver-side topological walk is the whole runtime.
  */
object TaskRunner {

  /** A dataflow edge endpoint: something on storage a task produces or
    * an external process pre-places. */
  trait Target {
    def path: String
    /** Luigi `complete()` semantics: the target existing IS the
      * memoization bit. Parquet directories only count once fully
      * committed (_SUCCESS), so a killed run never poisons a rerun. */
    def exists: Boolean
    def delete(): Unit = {
      val p = Paths.get(path)
      if (Files.exists(p)) {
        if (Files.isDirectory(p))
          Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
        else Files.delete(p)
      }
    }
  }

  /** Spark parquet checkpoint (directory + _SUCCESS marker). */
  final case class ParquetTarget(path: String) extends Target {
    def exists: Boolean = Files.exists(Paths.get(path, "_SUCCESS"))
  }

  /** A plain file (CSV source/sink, manifest). */
  final case class FileTarget(path: String) extends Target {
    def exists: Boolean = Files.exists(Paths.get(path))
  }

  /** A DAG node. `body` runs only when `target` does not yet exist and
    * all deps' targets do. `cleanup` lists targets that are safe to
    * delete once THIS task's target is committed (O41 — the reference
    * deletes consumed train/feature pickles, pipeline.py:297-304,
    * 319-327). */
  final case class Task(
      name: String,
      target: Target,
      deps: Seq[Task] = Nil,
      body: () => Unit = () => (),
      cleanup: Seq[Target] = Nil,
      external: Boolean = false)

  /** O2 — external-source declaration: a leaf the pipeline consumes
    * but never produces; a missing one is a configuration error, not a
    * runnable task. Ref: InputTask (common.py:68-72). */
  def external(name: String, target: Target): Task =
    Task(name, target, external = true)

  sealed trait Outcome
  case object Ran extends Outcome
  case object Skipped extends Outcome

  final case class RunReport(outcomes: Seq[(String, Outcome)]) {
    def ran: Seq[String] = outcomes.collect { case (n, Ran) => n }
    def skipped: Seq[String] = outcomes.collect { case (n, Skipped) => n }
  }

  /** Depth-first post-order over the dep graph (= topological order),
    * each task at most once, memoized by target existence. */
  def run(roots: Seq[Task], log: String => Unit = _ => (),
      doCleanup: Boolean = true): RunReport = {
    val done = mutable.LinkedHashMap.empty[String, Outcome]
    val inStack = mutable.Set.empty[String]

    def visit(t: Task): Unit = {
      if (done.contains(t.name)) return
      if (!inStack.add(t.name))
        throw new IllegalStateException(s"dependency cycle through task ${t.name}")
      try {
        t.deps.foreach(visit)
        done(t.name) = execute(t, log, doCleanup)
      } finally inStack.remove(t.name)
    }

    roots.foreach(visit)
    RunReport(done.toSeq)
  }

  /** One task whose deps have committed: check an external input, skip
    * on an existing target, else run the body, require its target and
    * delete the consumed targets. Both walks call this. */
  private def execute(t: Task, log: String => Unit,
      doCleanup: Boolean): Outcome =
    if (t.external) {
      if (!t.target.exists)
        throw new IllegalStateException(
          s"external input missing for task ${t.name}: ${t.target.path}")
      Skipped
    } else if (t.target.exists) {
      log(s"[dag] skip ${t.name} (target exists: ${t.target.path})")
      Skipped
    } else {
      log(s"[dag] run  ${t.name} -> ${t.target.path}")
      t.body()
      if (!t.target.exists)
        throw new IllegalStateException(
          s"task ${t.name} completed without committing its target ${t.target.path}")
      if (doCleanup) t.cleanup.foreach { c =>
        log(s"[dag] gc   ${c.path} (consumed by ${t.name})")
        c.delete()
      }
      Ran
    }

  /** Parallel run: independent ready tasks execute concurrently on a
    * fixed pool (O36 — the per-(store, week) fan-out). Spark's
    * scheduler is thread-safe for concurrent job submission, so N
    * driver threads keep the executor slots busy while small tasks
    * checkpoint. Dependency order is still honored (a task starts only
    * after every dep committed); memoization and cleanup behave as in
    * [[run]]. The first failure stops NEW submissions, waits for
    * in-flight tasks, then rethrows. */
  def runParallel(roots: Seq[Task], parallelism: Int,
      log: String => Unit = _ => (), doCleanup: Boolean = true): RunReport = {
    require(parallelism >= 1, "parallelism must be >= 1")
    if (parallelism == 1) return run(roots, log, doCleanup)

    // collect the graph once, by name
    val tasks = mutable.LinkedHashMap.empty[String, Task]
    def collect(t: Task): Unit = if (!tasks.contains(t.name)) {
      tasks(t.name) = t
      t.deps.foreach(collect)
    }
    roots.foreach(collect)
    val dependents = mutable.Map.empty[String, List[String]].withDefaultValue(Nil)
    val indegree = mutable.Map.empty[String, Int]
    tasks.values.foreach { t =>
      indegree(t.name) = t.deps.map(_.name).distinct.size
      t.deps.map(_.name).distinct.foreach(d => dependents(d) ::= t.name)
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    val outcomes = mutable.LinkedHashMap.empty[String, Outcome]
    val lock = new Object
    var inFlight = 0
    var failure: Option[Throwable] = None

    def submit(name: String): Unit = {
      inFlight += 1 // caller holds lock
      pool.execute { () =>
        val t = tasks(name)
        val result = try Right(execute(t, log, doCleanup)) catch { case e: Throwable => Left(e) }
        lock.synchronized {
          result match {
            case Right(o) =>
              outcomes(name) = o
              dependents(name).foreach { d =>
                indegree(d) -= 1
                if (indegree(d) == 0 && failure.isEmpty) submit(d)
              }
            case Left(e) =>
              if (failure.isEmpty) failure = Some(e)
          }
          inFlight -= 1
          lock.notifyAll()
        }
      }
    }

    lock.synchronized {
      tasks.keys.filter(indegree(_) == 0).foreach(submit)
      if (inFlight == 0 && tasks.nonEmpty)
        throw new IllegalStateException("dependency cycle: no ready tasks")
      // done when nothing is running AND (all finished, or a failure
      // stopped new submissions and in-flight work drained)
      while (inFlight > 0 || (failure.isEmpty && outcomes.size < tasks.size)) {
        if (inFlight == 0 && failure.isEmpty && outcomes.size < tasks.size)
          throw new IllegalStateException(
            s"dependency cycle among: ${tasks.keys.filterNot(outcomes.contains).mkString(", ")}")
        lock.wait(200)
      }
    }

    pool.shutdown()
    pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
    failure.foreach(throw _)
    RunReport(outcomes.toSeq)
  }
}
