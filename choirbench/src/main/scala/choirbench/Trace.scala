package choirbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchSql, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted at one span: Spark listener totals for the jobs submitted
  * while the span was innermost on the submitting thread. */
final class Counts {
  var jobs, stages, tasks, sqlExecs, sheetScans, sheetScanTasks = 0L
  var taskNs, schedDelayNs, gcNs, planNs = 0L
  var shuffleBytes, spillBytes, inputBytes, outputBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; sqlExecs += o.sqlExecs
    sheetScans += o.sheetScans; sheetScanTasks += o.sheetScanTasks
    taskNs += o.taskNs; schedDelayNs += o.schedDelayNs; gcNs += o.gcNs; planNs += o.planNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
  }
}

final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, plus the Spark
  * listener counts attributed to them. A span's id rides on the submitting
  * thread as a SparkContext local property, so every job (and its stages,
  * tasks and SQL execution) is charged to the innermost open span even with
  * several client threads. Everything is kept in memory; [[Tracer.json]]
  * renders it once at the end of the run.
  *
  * With `enabled = false` no listener is registered and no span is opened:
  * that is the untraced configuration end-to-end metrics come from. A
  * traced run alternates untraced and traced operations, attaching the
  * listeners only around the traced ones; the first warm operation, still
  * slower while the JIT catches up, is untraced and left out of the
  * overhead comparison, so both sides run equally warm code. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val lock = new Object
  private val sc = spark.sparkContext
  private val nextId = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val opOf = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val counts = mutable.HashMap.empty[Int, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]

  private def at(span: Int): Counts = counts.getOrElseUpdate(span, new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(0)
      e.stageIds.foreach(stageSpan(_) = span)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.getOrElseUpdate(x.toLong, span))
      at(span).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      at(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => onExecutionEnd(end)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = at(stageSpan.getOrElse(e.stageId, 0))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        c.taskNs += m.executorRunTime * 1000000L
        c.gcNs += m.jvmGCTime * 1000000L
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        c.schedDelayNs += math.max(0L, delay) * 1000000L
      }
    }
  }

  // A QueryExecutionListener sees the query but not its execution id; the
  // execution-end event carries both. Whichever of the two arrives second
  // charges the planning time and sheet scans to the execution's span.
  private val planned = new java.util.IdentityHashMap[QueryExecution, (Long, Seq[Long])]
  private val ended = new java.util.IdentityHashMap[QueryExecution, Long]

  private def charge(execId: Long, planNs: Long, sheetTasks: Seq[Long]): Unit = {
    val c = at(execSpan.getOrElse(execId, 0))
    c.sqlExecs += 1
    c.planNs += planNs
    if (sheetTasks.nonEmpty) { c.sheetScans += 1; c.sheetScanTasks += sheetTasks.sum }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planNs = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(p => p.durationMs * 1000000L).sum
      val sheetTasks = scans(qe.executedPlan).collect {
        case b: BatchScanExec if b.scan.getClass.getName.contains("widesheet") =>
          b.inputRDD.getNumPartitions.toLong
      }
      lock.synchronized {
        if (ended.containsKey(qe)) charge(ended.remove(qe), planNs, sheetTasks)
        else planned.put(qe, (planNs, sheetTasks))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def onExecutionEnd(e: SparkListenerSQLExecutionEnd): Unit =
    BenchSql.queryExecution(e).foreach { qe =>
      lock.synchronized {
        if (planned.containsKey(qe)) {
          val (planNs, sheetTasks) = planned.remove(qe)
          charge(e.executionId, planNs, sheetTasks)
        } else ended.put(qe, e.executionId)
      }
    }

  /** Start counting. Untraced operations run detached, so they pay for no
    * listener. */
  def attach(): Unit = if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait for the listener bus to deliver what was posted, then stop
    * counting; everything counted so far stays readable. */
  def detach(): Unit = if (enabled) {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Mark the start of operation `op` on this thread: spans opened until
    * the next call belong to it. */
  def beginOp(op: Int): Unit = opOf.set(op)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      val s = Span(id, name, parents.headOption.getOrElse(0), opOf.get, System.nanoTime(), 0L)
      lock.synchronized(spans += s)
      stack.set(id :: parents)
      sc.setLocalProperty(Prop, id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(parents)
        sc.setLocalProperty(Prop, parents.headOption.map(_.toString).orNull)
      }
    }

  /** Counts of every span, children included. */
  def inclusive: Map[Int, Counts] = lock.synchronized {
    val total = mutable.HashMap.empty[Int, Counts]
    val parentOf = spans.map(s => s.id -> s.parent).toMap
    counts.foreach { case (id, c) =>
      var cur = id
      while (cur != 0) { total.getOrElseUpdate(cur, new Counts).add(c); cur = parentOf.getOrElse(cur, 0) }
    }
    total.toMap
  }

  /** Self time of a span: its duration minus what its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    s.seconds - kids.map(_.seconds).sum
  }

  def json: String = lock.synchronized {
    val inc = inclusive
    spans.map { s =>
      val c = inc.getOrElse(s.id, new Counts)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f,""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"sql_execs":${c.sqlExecs},""" +
        s""""task_ns":${c.taskNs},"plan_ns":${c.planNs},"sched_delay_ns":${c.schedDelayNs},"gc_ns":${c.gcNs},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},"input_bytes":${c.inputBytes},""" +
        s""""output_bytes":${c.outputBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }

}

object Tracer {
  val Prop = "choirbench.span"

  /** Leaf plan nodes of an executed plan, looking through adaptive
    * execution's wrappers. */
  def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other if other.children.isEmpty => Seq(other)
    case other => other.children.flatMap(scans)
  }
}
