package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Entry point the workloads use to mark a call into one graft module.
  * Costs one volatile read when no traced op is running. */
object Trace {
  @volatile private[perfbench] var active: Tracer = null

  def layer[T](name: String)(body: => T): T = {
    val t = active
    if (t == null || !t.inOp) body else t.span(name)(body)
  }
}

/** In-memory span recorder. Spans: each op is a root span, each call into a
  * graft module (and the final consumption of the result by Spark) is a
  * child. Spark jobs and Catalyst phases are recorded from listeners and
  * attributed to spans afterwards: jobs by the span id carried in the
  * submitting thread's local properties, phases by time. Everything stays
  * in memory until [[export]]. Times are epoch milliseconds (fractional for
  * spans) so span, job and phase clocks line up. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowMs: Double = (System.nanoTime() + epochOffsetNs) / 1e6

  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var currentOp = -1
  private val spans = ArrayBuffer.empty[SpanRec]
  private val opAttrs = ArrayBuffer.empty[(Int, Map[String, Double])]

  // listener-bus side (another thread)
  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobEnds = scala.collection.mutable.HashMap.empty[Int, Long]
  private val stages = ArrayBuffer.empty[StageRec]
  private val phases = ArrayBuffer.empty[PhaseRec]

  def inOp: Boolean = currentOp >= 0

  /** Root span of op `i`; only the client thread calls this. */
  def op[T](i: Int, kind: String)(body: => T): T = {
    currentOp = i
    try span("op:" + kind)(body) finally currentOp = -1
  }

  /** Extra per-op measurements taken outside the timed window. */
  def annotate(i: Int, attrs: Map[String, Double]): Unit = opAttrs += i -> attrs

  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val cg0 = CodeGenerator.compileTime
    val cn0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      spans += SpanRec(id, parent, currentOp, name, t0, t1,
        CodeGenerator.compileTime - cg0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cn0)
      sc.setLocalProperty(SpanKey, prev)
      stack = stack.tail
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      // the read-back stats job runs under TableIO.collectFileStats; its
      // call site is in the stage's long-form call stack
      val readback = e.stageInfos.exists(_.details.contains("collectFileStats"))
      Tracer.this.synchronized {
        jobs += JobRec(e.jobId, e.time, span.map(_.toLong), e.stageIds, readback)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobEnds(e.jobId) = e.time }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) Tracer.this.synchronized {
        stages += StageRec(i.stageId, i.numTasks, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ps = qe.tracker.phases
      Tracer.this.synchronized {
        Seq("analysis", "optimization", "planning").foreach { n =>
          ps.get(n).foreach(p => phases += PhaseRec(n, p.startTimeMs, p.endTimeMs))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Write every record as one JSON object per line. */
  def export(path: Path, meta: Map[String, Any]): Unit = synchronized {
    Files.createDirectories(path.getParent)
    val w = new PrintWriter(Files.newBufferedWriter(path))
    try {
      w.println(Json.obj(meta + ("t" -> "meta")))
      spans.foreach(s => w.println(Json.obj(Map("t" -> "span", "id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "cg_ns" -> s.cgNs,
        "cg_n" -> s.cgN))))
      opAttrs.foreach { case (i, a) =>
        w.println(Json.obj(a ++ Map("t" -> "opattr", "op" -> i)))
      }
      jobs.foreach(j => w.println(Json.obj(Map("t" -> "job", "job" -> j.id,
        "start" -> j.start, "end" -> jobEnds.getOrElse(j.id, j.start),
        "span" -> j.span.getOrElse(0L), "stages" -> j.stageIds,
        "readback" -> j.readback))))
      stages.foreach(s => w.println(Json.obj(Map("t" -> "stage",
        "stage" -> s.id, "tasks" -> s.tasks, "run_ms" -> s.runMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_read" -> s.shR,
        "shuffle_write" -> s.shW, "spill" -> s.spill, "input" -> s.in,
        "output" -> s.out))))
      phases.foreach(p => w.println(Json.obj(Map("t" -> "phase",
        "name" -> p.name, "start" -> p.start, "end" -> p.end))))
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class SpanRec(id: Long, parent: Long, op: Int, name: String,
      start: Double, end: Double, cgNs: Long, cgN: Long)
  final case class JobRec(id: Int, start: Long, span: Option[Long],
      stageIds: Seq[Int], readback: Boolean)
  final case class StageRec(id: Int, tasks: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, shR: Long, shW: Long, spill: Long, in: Long, out: Long)
  final case class PhaseRec(name: String, start: Long, end: Long)
}

/** Just enough JSON writing for flat records of numbers, strings, booleans
  * and number lists. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case o => str(o.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + value(v) }
      .mkString("{", ",", "}")
}
