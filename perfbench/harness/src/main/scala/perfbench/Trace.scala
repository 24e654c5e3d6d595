package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds, the clock Spark's
  * listener events use, so harness spans and Spark job spans line up. */
final class Span(val id: Int, val parent: Int, val layer: String, val name: String,
    val start: Double, var end: Double) {
  def ms: Double = end - start
}

/** In-memory span store. Spans are kept until the run ends and are then
  * written out once ([[Trace.json]]); nothing is written while timing. */
final class Trace {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]

  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def add(parent: Int, layer: String, name: String, start: Double, end: Double): Int =
    synchronized {
      spans += new Span(spans.size, parent, layer, name, start, end)
      spans.size - 1
    }

  def open(parent: Int, layer: String, name: String): Int = add(parent, layer, name, now(), Double.NaN)
  def close(id: Int): Unit = synchronized { spans(id).end = now() }

  def span[T](parent: Int, layer: String, name: String)(body: Int => T): T = {
    val id = open(parent, layer, name)
    try body(id) finally close(id)
  }

  def get(id: Int): Span = synchronized(spans(id))
  def all: Seq[Span] = synchronized(spans.toList)

  /** Spans below `root` (inclusive), closed ones only. */
  def subtree(root: Int): Seq[Span] = {
    val ss = all.filter(!_.end.isNaN)
    val kids = ss.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).filter(_.id != s.id).flatMap(walk)
    ss.find(_.id == root).map(walk).getOrElse(Nil)
  }

  /** The innermost span under `root` whose interval contains `t`. */
  def innermost(root: Int, t: Double, layers: Set[String]): Int = {
    val inside = subtree(root).filter(s => layers(s.layer) && s.start <= t && t <= s.end)
    if (inside.isEmpty) root else inside.minBy(_.ms).id
  }

  def json: String = all.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Trace.esc(s.name)}",""" +
      f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s0, e0) <- iv.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (curE.isNaN || s0 > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s0; curE = e0
      } else curE = curE.max(e0)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Per-layer self time: a span's duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).filter(_.id != s.id).map(c => (c.start, c.end))
        s.ms - covered(ch, s.start, s.end)
      }.sum
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** What the benchmark's SparkListener records: jobs, stages and tasks. */
final case class JobRec(id: Int, start: Long, end: Long, stageIds: Seq[Int], callSite: String)
final case class StageRec(id: Int, submit: Long, done: Long)
final case class TaskRec(stageId: Int, launch: Long, finish: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, output: Long)

/** SparkListener registered by the benchmark (never by the engine). It
  * records only while `active`, so untraced units in a traced run pay
  * nothing but the bus dispatch. */
final class SparkRecorder extends SparkListener {
  @volatile var active = false
  /** Time spent inside the callbacks while active: the listener's share of
    * the tracing overhead. */
  val hookNs = new AtomicLong
  private def timed(body: => Unit): Unit = if (active) {
    val t0 = System.nanoTime()
    body
    hookNs.addAndGet(System.nanoTime() - t0)
  }
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int], String)]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  /** SQL executions: (start, description), where the description is the
    * action's call site, e.g. "first at ConnectedComponents.scala:147". */
  val sqlStarts = new ConcurrentLinkedQueue[(Long, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed(e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlStarts.add((s.time, s.description))
    case _ =>
  })

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    // the result stage is named after the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobStarts.put(e.jobId, (e.time, e.stageIds, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val st = jobStarts.remove(e.jobId)
    if (st != null) jobs.add(JobRec(e.jobId, st._1, e.time, st._2, st._3))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    for (s <- i.submissionTime; d <- i.completionTime) stages.add(StageRec(i.stageId, s, d))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(if (e.taskInfo != null) {
    val m = e.taskMetrics
    val (sw, sr, sp, out) =
      if (m == null) (0L, 0L, 0L, 0L)
      else (m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, sw, sr, sp, out))
  })

  def clear(): Unit = { jobs.clear(); stages.clear(); tasks.clear(); sqlStarts.clear(); hookNs.set(0) }

  /** Job spans and Spark-stage spans, each job parented to the innermost
    * harness span (pipeline stage, call or unit) containing its start. */
  def addSpans(tr: Trace, root: Int): Unit = {
    val stageById = stages.asScala.toSeq.groupBy(_.id)
    for (j <- jobs.asScala.toSeq.sortBy(_.start)) {
      val parent = tr.innermost(root, j.start.toDouble, Set("unit", "call", "stage"))
      val jid = tr.add(parent, "job", s"job ${j.id}: ${j.callSite}", j.start, j.end)
      for (sid <- j.stageIds; s <- stageById.getOrElse(sid, Nil))
        tr.add(jid, "sparkstage", s"stage $sid", s.submit, s.done)
    }
  }

  /** Spark execution metrics over the recorded unit. */
  def metrics(wallMs: Double, cores: Int): Map[String, Double] = {
    val ts = tasks.asScala.toSeq
    val byStage = ts.groupBy(_.stageId)
    val st = stages.asScala.toSeq
    val busy = ts.map(t => (t.finish - t.launch).toDouble).sum
    val waitMs = st.map { s =>
      val iv = byStage.getOrElse(s.id, Nil).map(t => (t.launch.toDouble, t.finish.toDouble))
      (s.done - s.submit) - Trace.covered(iv, s.submit.toDouble, s.done.toDouble)
    }.sum
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark.busy_frac" -> (if (wallMs > 0) busy / (wallMs * cores) else 0.0),
      "spark.wait_ms" -> waitMs,
      "spark.task_skew" -> SparkRecorder.skew(byStage.values.toSeq, busy),
      "TableIO.write_mb" -> ts.map(_.output).sum / mb)
  }

  /** ConnectedComponents metrics from the jobs started inside `span`. Each
    * round ends with one convergence `first()`, so rounds = those actions. */
  def ccMetrics(span: Span): Map[String, Double] = {
    def inside(t: Long) = t >= span.start && t <= span.end
    val js = jobs.asScala.toSeq.filter(j => inside(j.start))
    val ids = js.flatMap(_.stageIds).toSet
    val ts = tasks.asScala.toSeq.filter(t => ids(t.stageId))
    Map(
      "ConnectedComponents.rounds" -> sqlStarts.asScala.count { case (t, d) =>
        inside(t) && d.startsWith("first at ConnectedComponents") }.toDouble,
      "ConnectedComponents.max_task_ms" ->
        (if (ts.isEmpty) 0.0 else ts.map(t => (t.finish - t.launch).toDouble).max),
      "ConnectedComponents.task_skew" ->
        SparkRecorder.skew(ts.groupBy(_.stageId).values.toSeq, ts.map(t => (t.finish - t.launch).toDouble).sum))
  }
}

object SparkRecorder {
  /** The largest max/median task-time ratio among the stages that carry at
    * least a tenth of the task time (small stages only add noise). */
  def skew(stages: Seq[Seq[TaskRec]], totalTaskMs: Double): Double = {
    val ratios = stages.flatMap { ts =>
      val d = ts.map(t => (t.finish - t.launch).toDouble.max(1.0))
      if (ts.size >= 2 && d.sum >= 0.1 * totalTaskMs) Some(d.max / Trace.median(d)) else None
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** log4j appender the benchmark attaches to count code generation:
  * compiles and their time (CodeGenerator's "Code generated in N ms"
  * lines) and whole-stage-codegen fallbacks. */
final class CodegenLog extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val compiles = new AtomicLong
  val compileMs = new DoubleAdder
  val fallbacks = new AtomicLong
  /** Time spent inside append while active (its share of the overhead). */
  val hookNs = new AtomicLong
  @volatile var active = false
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored

  override def append(e: LogEvent): Unit = if (active) {
    val t0 = System.nanoTime()
    val m = e.getMessage.getFormattedMessage
    m match {
      case Generated(ms) => compiles.incrementAndGet(); compileMs.add(ms.toDouble)
      case _ =>
        if (m.contains("Whole-stage codegen disabled") || m.contains("Failed to compile") ||
            m.contains("falling back to interpreter mode")) fallbacks.incrementAndGet()
    }
    hookNs.addAndGet(System.nanoTime() - t0)
  }

  def reset(): Unit = { compiles.set(0); compileMs.reset(); fallbacks.set(0); hookNs.set(0) }

  def metrics: Map[String, Double] = Map(
    "codegen.compile_ms" -> compileMs.sum(),
    "codegen.compiles" -> compiles.get.toDouble,
    "codegen.wscg_fallbacks" -> fallbacks.get.toDouble)
}

object CodegenLog {
  /** Attach to the root logger (WARN and up: fallback warnings from any
    * logger) and to the two codegen loggers at INFO, non-additive so the
    * INFO lines reach only this appender. */
  def attach(): CodegenLog = {
    val app = new CodegenLog
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(app, null, null)
    for (name <- Seq(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
        "org.apache.spark.sql.execution.WholeStageCodegenExec")) {
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(app, null, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
    app
  }
}
