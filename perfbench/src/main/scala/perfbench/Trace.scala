package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, PerfbenchHooks, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer: `parent` is the enclosing span's id (-1 at
  * the root), `req` the request it served (-1 outside requests). Times are
  * `System.nanoTime`; the wall-clock pair lines the span up with Spark's
  * task launch and finish times. */
final case class Span(
    id: Int, name: String, req: Long, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

object Stats {
  /** Percentile levels a tail is reported at, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder percentile with at least ten of `n` samples beyond
    * it, if any. */
  def tailLevel(n: Int): Option[Double] =
    Ladder.find(p => math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= 10)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length covered by the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** A span's self time: its duration minus the part of its interval its
    * child spans cover (children may overlap each other or outlive it). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Spark work attributed to one span through its job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, shuffleBytes, spillBytes, bytesWritten = 0L
  val taskMs = mutable.ArrayBuffer.empty[(Long, Long)]
  val queries = mutable.ArrayBuffer.empty[QueryExecution]
}

/** Listener that files every job, stage, task and SQL execution under the
  * job group it ran in. The tracer gives each span its own group. */
final class Attribution extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val byGroup = mutable.Map.empty[String, Counters]

  private def acc(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)
  private def groupOf(p: Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  def counters(group: String): Counters = synchronized(byGroup.getOrElse(group, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      acc(g).jobs += 1
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = acc(g)
      c.tasks += 1
      c.taskMs += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(execGroup.put(s.executionId, _))
      case x: SparkListenerSQLExecutionEnd =>
        for (g <- execGroup.remove(x.executionId); qe <- PerfbenchHooks.queryExecution(x))
          acc(g).queries += qe
      case _ =>
    }
  }
}

/** Facts a span's body reports about its own call: the frame whose
  * planning time counts, and values such as rows returned. */
final class SpanCtx(live: Boolean) {
  private var frame0: Option[DataFrame] = None
  val notes = mutable.Map.empty[String, Double]
  def frame: Option[DataFrame] = frame0
  def frame(df: DataFrame): DataFrame = { if (live) frame0 = Some(df); df }
  def put(key: String, v: Double): Unit =
    if (live) notes(key) = notes.getOrElse(key, 0.0) + v
}

/** Spans around the benchmark's calls into the engine. Off, it only runs
  * the bodies. On, it keeps every span in memory, puts each span's Spark
  * jobs in a job group of its own and registers the listener that reads
  * them back. One client thread drives it. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ctxs = mutable.Map.empty[Int, SpanCtx]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val attribution: Option[Attribution] =
    if (on) { val a = new Attribution; sc.addSparkListener(a); Some(a) } else None

  /** While paused, spans are not recorded: the traced run interleaves
    * paused and recorded requests to measure the tracing overhead. */
  var paused = false

  private def group(id: Int) = s"perfbench-$id"

  def span[T](name: String, req: Long = -1L)(body: SpanCtx => T): T =
    if (!on || paused) body(Tracer.Off)
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val ctx = new SpanCtx(live = true)
      stack = id :: stack
      sc.setJobGroup(group(id), name)
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body(ctx)
      finally {
        val (s1, m1) = (System.nanoTime(), System.currentTimeMillis())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), "")
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, req, parent, s0, s1, m0, m1)
        ctxs(id) = ctx
      }
    }

  /** Everything recorded, once the listener bus has delivered it. */
  def finish(): Tracer.Recorded = {
    if (on) PerfbenchHooks.drainListeners(sc)
    val self = Stats.selfTimes(spans.toSeq)
    Tracer.Recorded(spans.toSeq.map { s =>
      val c = attribution.map(_.counters(group(s.id))).getOrElse(new Counters)
      Tracer.Call(s, self(s.id), c, ctxs.getOrElse(s.id, Tracer.Off))
    })
  }
}

object Tracer {
  private[perfbench] val Off = new SpanCtx(live = false)

  final case class Call(span: Span, selfNs: Long, c: Counters, ctx: SpanCtx) {
    def ms: Double = selfNs / 1e6
    /** Wall time in which none of the call's own tasks was running. */
    def driverMs: Double = {
      val busy = Stats.unionLength(c.taskMs.toSeq.map { case (a, b) =>
        (math.max(a, span.startMs), math.min(b, span.endMs)) })
      math.max(0.0, span.durNs / 1e6 - busy)
    }
    def planMs: Double = ctx.frame.map(Plans.planningMs).getOrElse(0.0)
  }

  final case class Recorded(calls: Seq[Call]) {
    def named(n: String): Seq[Call] = calls.filter(_.span.name == n)

    /** Spans as JSON lines: name, start, end, parent and request id. */
    def spanLines: Seq[String] = calls.map { k =>
      val s = k.span
      s"""{"id":${s.id},"name":"${s.name}","req":${s.req},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${k.selfNs},""" +
        s""""jobs":${k.c.jobs},"tasks":${k.c.tasks}}"""
    }
  }
}
