package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call at a layer boundary. `parent` is -1 for a statement's root
  * span; every span of one statement carries the statement's id.
  */
final case class Span(id: Int, parent: Int, name: String, stmt: Int,
    startNs: Long, endNs: Long, attrs: Map[String, Double])

/** In-memory span recorder. Spans are kept until the run ends and written
  * out then; with `enabled` false nothing is recorded and calls pass through.
  */
final class Tracer(var enabled: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  def newId(): Int = nextId.getAndIncrement()

  def add(id: Int, parent: Int, name: String, stmt: Int, startNs: Long, endNs: Long,
      attrs: Map[String, Double] = Map.empty): Unit =
    if (enabled) spans.add(Span(id, parent, name, stmt, startNs, endNs, attrs))

  /** Time `f` as a span under `parent`; returns the result. */
  def span[A](name: String, parent: Int, stmt: Int)(f: => A): A = {
    val id = newId()
    val t0 = System.nanoTime()
    try f finally add(id, parent, name, stmt, t0, System.nanoTime())
  }
}

/** Spark's own counters for the statements of a traced run.
  *
  * Jobs are keyed by their job group (`spark.jobGroup.id`); stage metrics
  * are charged to the group of the job that ran the stage. Catalyst phase
  * times come from each executed query's `QueryPlanningTracker`, counted
  * once per `QueryExecution` instance so a reused DataFrame that plans
  * nothing contributes nothing.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  final class Acc {
    var jobs, stages, skipped, tasks = 0L
    var cpuNs, gcMs, inputBytes, shuffleWrite, shuffleRead, spillBytes = 0L
    var jobWallMs = 0.0
    def add(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; skipped += o.skipped; tasks += o.tasks
      cpuNs += o.cpuNs; gcMs += o.gcMs; inputBytes += o.inputBytes
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spillBytes += o.spillBytes; jobWallMs += o.jobWallMs
    }
  }

  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val groupOfJob = new ConcurrentHashMap[Int, String]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  private val stagesOfJob = new ConcurrentHashMap[Int, Seq[Int]]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()

  private def acc(group: String): Acc = byGroup.computeIfAbsent(group, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    groupOfJob.put(e.jobId, group)
    jobStartMs.put(e.jobId, e.time)
    stagesOfJob.put(e.jobId, e.stageIds)
    e.stageIds.foreach(s => jobOfStage.putIfAbsent(s, e.jobId))
    val a = acc(group)
    a.synchronized { a.jobs += 1; a.stages += e.stageIds.size }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted.add(e.stageInfo.stageId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val group = Option(jobOfStage.get(info.stageId)).flatMap(j => Option(groupOfJob.get(j))).getOrElse("")
    val m = info.taskMetrics
    val a = acc(group)
    a.synchronized {
      a.tasks += info.numTasks
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val group = Option(groupOfJob.remove(e.jobId)).getOrElse("")
    val start = Option(jobStartMs.remove(e.jobId)).getOrElse(e.time)
    val skipped = Option(stagesOfJob.remove(e.jobId)).getOrElse(Nil).count(s => !submitted.contains(s))
    val a = acc(group)
    a.synchronized { a.skipped += skipped; a.jobWallMs += (e.time - start).toDouble }
  }

  /** Sum and reset the counters of `groups`. */
  def take(groups: Set[String]): Acc = {
    val out = new Acc
    groups.foreach(g => Option(byGroup.remove(g)).foreach(a => a.synchronized(out.add(a))))
    out
  }

  // ---- Catalyst phases ----
  private val phaseQueue = new ConcurrentLinkedQueue[Map[String, Double]]()
  private val seen = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  private def record(qe: QueryExecution): Unit =
    if (seen.put(qe, java.lang.Boolean.TRUE) == null)
      phaseQueue.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble })

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = record(qe)

  /** Sum and reset the phase times (ms) recorded since the last call. */
  def takePhases(): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var p = phaseQueue.poll()
    while (p != null) {
      p.foreach { case (k, v) => out(k) += v }
      p = phaseQueue.poll()
    }
    Seq("parsing", "analysis", "optimization", "planning").map(k => k -> out(k)).toMap
  }

  /** Forget everything recorded so far (between replay phases). */
  def reset(): Unit = { byGroup.clear(); phaseQueue.clear() }
}
