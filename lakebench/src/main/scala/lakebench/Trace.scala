package lakebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-job-group Spark execution totals (one group per traced operation). */
final class ExecTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var jobMs = 0.0; var taskRunMs = 0.0; var taskCpuMs = 0.0; var taskGcMs = 0.0
  var inputBytes = 0L; var inputRows = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L; var outputBytes = 0L

  def add(o: ExecTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; jobMs += o.jobMs
    taskRunMs += o.taskRunMs; taskCpuMs += o.taskCpuMs; taskGcMs += o.taskGcMs
    inputBytes += o.inputBytes; inputRows += o.inputRows
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes
  }

  def toJson: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"job_ms":${Json.num(jobMs)},""" +
      s""""task_run_ms":${Json.num(taskRunMs)},"task_cpu_ms":${Json.num(taskCpuMs)},""" +
      s""""task_gc_ms":${Json.num(taskGcMs)},"input_bytes":$inputBytes,""" +
      s""""input_rows":$inputRows,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""spill_bytes":$spillBytes,"output_bytes":$outputBytes}"""
}

/** Stage metrics keyed by the job group that submitted them — the
  * listener pattern of graft.StageAudit, split per operation.
  */
final class GroupListener extends SparkListener {
  val groups = new java.util.concurrent.ConcurrentHashMap[String, ExecTotals]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()

  private def totals(g: String): ExecTotals = groups.computeIfAbsent(g, _ => new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      jobStart.put(e.jobId, (grp, e.time))
      e.stageIds.foreach(s => stageGroup.put(s, grp))
      totals(grp).synchronized { totals(grp).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (grp, t0) =>
      val t = totals(grp)
      t.synchronized { t.jobMs += (e.time - t0).toDouble }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageGroup.remove(si.stageId)).foreach { grp =>
      val t = totals(grp)
      val m = si.taskMetrics
      t.synchronized {
        t.stages += 1
        t.tasks += si.numTasks
        if (m != null) {
          t.taskRunMs += m.executorRunTime.toDouble
          t.taskCpuMs += m.executorCpuTime / 1e6
          t.taskGcMs += m.jvmGCTime.toDouble
          t.inputBytes += m.inputMetrics.bytesRead
          t.inputRows += m.inputMetrics.recordsRead
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
}

/** Spans and counts recorded by the benchmark around its calls into each
  * layer. Nothing is recorded outside a traced cycle: untraced cycles run
  * the same calls with no timing around them.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  final case class Span(name: String, start: Long, var end: Long, parent: Int, op: Long)
  final case class Op(id: Long, kind: String, cycle: Int, var wallMs: Double = 0.0)

  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Summed counts of the traced cycles, by name. */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  val listener: Option[GroupListener] =
    if (enabled) { val l = new GroupListener; sc.addSparkListener(l); Some(l) } else None

  /** True inside a traced cycle. */
  var active = false
  private var stack: List[Int] = Nil
  private var currentOp: Option[Op] = None

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1),
        currentOp.map(_.id).getOrElse(-1L))
      stack = idx :: stack
      try body
      finally { spans(idx).end = System.nanoTime(); stack = stack.tail }
    }

  /** Runs `body` only in a traced cycle (extra calls that exist to be measured). */
  def traced(body: => Unit): Unit = if (active) body

  def count(name: String, v: Double): Unit =
    if (active) counts(name) = counts.getOrElse(name, 0.0) + v

  /** One operation: its own job group and a top-level span. */
  def op[T](kind: String, cycle: Int)(body: => T): T =
    if (!active) body
    else {
      val o = Op(ops.size.toLong, kind, cycle)
      ops += o
      currentOp = Some(o)
      sc.setJobGroup(s"lakebench-op-${o.id}", kind, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try span(s"op.$kind")(body)
      finally {
        o.wallMs = (System.nanoTime() - t0) / 1e6
        sc.clearJobGroup()
        currentOp = None
      }
    }

  def execOf(o: Op): ExecTotals = {
    org.apache.spark.lakebenchbridge.Bus.drain(sc)
    listener.flatMap(l => Option(l.groups.get(s"lakebench-op-${o.id}"))).getOrElse(new ExecTotals)
  }

  /** Self time (span minus its children) summed by span name, in ms. */
  def selfMs: Map[String, Double] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) =>
      n -> is.map(i => spans(i).end - spans(i).start - child(i)).sum / 1e6
    }
  }

  def spansJson: String = spans.map { s =>
    s"""{"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},""" +
      s""""parent":${s.parent},"op":${s.op}}"""
  }.mkString("[", ",\n", "]")

  def opsJson: String = ops.map { o =>
    s"""{"op":${o.id},"kind":${Json.str(o.kind)},"cycle":${o.cycle},""" +
      s""""wall_ms":${Json.num(o.wallMs)},"exec":${execOf(o).toJson}}"""
  }.mkString("[", ",\n", "]")
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
