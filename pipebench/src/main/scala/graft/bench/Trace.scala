package graft.bench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric sums of the jobs of one job group. */
final class GroupSums {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var recordsWritten = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Sums task metrics per job group. The benchmark sets a fresh group on its
  * own thread before each traced call, so every job that call launches (AQE
  * query stages included) carries the group in its properties.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val sums = new ConcurrentHashMap[String, GroupSums]()
  private def of(g: String): GroupSums = sums.computeIfAbsent(g, _ => new GroupSums)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val s = of(g)
        s.synchronized(s.jobs += 1)
        e.stageIds.foreach(stageGroup.put(_, g))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val s = of(g)
      s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.recordsWritten += m.outputMetrics.recordsWritten
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  def take(g: String): GroupSums = Option(sums.remove(g)).getOrElse(new GroupSums)
}

/** One recorded call: its name, wall interval (ns since the run started),
  * enclosing span, run id, the task sums of its job group, the rows it
  * produced and the rows its explode operators emitted.
  */
final case class Span(run: String, name: String, parent: String, startNs: Long,
                      endNs: Long, sums: GroupSums, rowsOut: Long, explodeRows: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, it only runs the body, so traced and
  * untraced runs share one code path. Enabled, each span gets its own job
  * group; after the body the listener bus is drained so the span's task sums
  * and executed plans are complete before they are read.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val t0 = System.nanoTime()
  private val listener = new GroupListener
  private val plans = new ConcurrentLinkedQueue[QueryExecution]()
  private var parent = "run"
  private var seq = 0
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Runs `body` as the span `name`; `rows` reads the rows it produced. */
  def span[A](name: String)(body: => A)(rows: A => Long): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      seq += 1
      val group = s"bench-$runId-$seq"
      BenchBus.drain(sc)
      plans.clear()
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val start = System.nanoTime()
      val a = try body finally sc.clearJobGroup()
      val end = System.nanoTime()
      BenchBus.drain(sc)
      val explode = explodeRows(drainPlans())
      spans += Span(runId, name, parent, start - t0, end - t0, listener.take(group),
        rows(a), explode)
      a
    }

  /** Runs `body` with `name` as the parent of the spans it records. */
  def within[A](name: String)(body: => A): A = {
    val saved = parent
    parent = name
    val start = System.nanoTime()
    try body
    finally {
      parent = saved
      if (enabled)
        spans += Span(runId, name, saved, start - t0, System.nanoTime() - t0,
          new GroupSums, 0L, 0L)
    }
  }

  private def drainPlans(): Seq[QueryExecution] = {
    val out = ArrayBuffer.empty[QueryExecution]
    var qe = plans.poll()
    while (qe != null) { out += qe; qe = plans.poll() }
    out.toSeq
  }

  /** Rows emitted by every explode (GenerateExec) of the executed plans,
    * read from the plans' SQL metrics.
    */
  private def explodeRows(qes: Seq[QueryExecution]): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other =>
        other +: (other.children ++ other.innerChildren.collect { case c: SparkPlan => c })
          .flatMap(nodes)
    }
    qes.flatMap(qe => nodes(qe.executedPlan)).collect {
      case g: GenerateExec => g.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  /** The spans as JSON lines. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    Json.write(Json.obj(
      "run" -> s.run, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> s.sums.jobs,
      "tasks" -> s.sums.tasks, "cpu_ns" -> s.sums.cpuNs,
      "records_written" -> s.sums.recordsWritten,
      "shuffle_write_bytes" -> s.sums.shuffleWriteBytes,
      "spill_bytes" -> s.sums.spillBytes, "rows_out" -> s.rowsOut,
      "explode_rows" -> s.explodeRows))
  }
}
