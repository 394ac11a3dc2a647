package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer: name, start, end and the enclosing span. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled (untraced runs), `span` is a plain call;
  * enabled, every call records one span and the spans are written once, at
  * the end of the run.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Total self time per span name: a span's duration minus its children's. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: java.nio.file.Path, originNs: Long): Unit = {
    val lines = all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        f""""start_ms":${(s.startNs - originNs) / 1e6}%.3f,"end_ms":${(s.endNs - originNs) / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Engine counters of one operation, read from the benchmark's listeners. */
final case class EngineOp(jobs: Int, tasks: Int, planMs: Double, coveredMs: Double,
    uncoveredMs: Double, taskRunMs: Double, taskCpuMs: Double, shuffleBytes: Long,
    gcMs: Double)

/** Accumulates Spark listener events into the operation currently open. The
  * listener classes below are registered through Spark's static listener
  * confs, so they see every session, child sessions included.
  */
object EngineProbe {
  private final class Acc {
    var jobs = 0
    var tasks = 0
    val jobStart = mutable.Map.empty[Int, Long]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var runMs = 0L
    var cpuNs = 0L
    var shuffle = 0L
    var planMs = 0.0
  }
  private var acc = new Acc
  private val batches = mutable.ArrayBuffer.empty[Map[String, Long]]

  def onJobStart(id: Int, t: Long): Unit = synchronized {
    acc.jobs += 1; acc.jobStart(id) = t
  }
  def onJobEnd(id: Int, t: Long): Unit = synchronized {
    acc.jobStart.remove(id).foreach(s => acc.intervals += ((s, t)))
  }
  def onTask(runMs: Long, cpuNs: Long, shuffle: Long): Unit = synchronized {
    acc.tasks += 1; acc.runMs += runMs; acc.cpuNs += cpuNs; acc.shuffle += shuffle
  }
  def onPlan(ms: Double): Unit = synchronized { acc.planMs += ms }
  def onBatch(d: Map[String, Long]): Unit = synchronized { batches += d }

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Run `body` as one operation and return its engine counters. */
  def measure[T](sc: org.apache.spark.SparkContext)(body: => T): (T, EngineOp) = {
    org.apache.spark.GraftBenchBus.drain(sc)
    synchronized { acc = new Acc }
    val gc0 = gcMs
    val t0 = System.currentTimeMillis()
    val out = body
    val t1 = System.currentTimeMillis()
    org.apache.spark.GraftBenchBus.drain(sc)
    val gc = gcMs - gc0
    val a = synchronized { val cur = acc; acc = new Acc; cur }
    val covered = union(a.intervals.toSeq)
    val wall = (t1 - t0).toDouble
    (out, EngineOp(a.jobs, a.tasks, a.planMs, covered, math.max(0.0, wall - covered),
      a.runMs.toDouble, a.cpuNs / 1e6, a.shuffle, gc.toDouble))
  }

  /** Total length of the union of intervals (jobs may run concurrently). */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total.toDouble
  }

  def drainBatches(): Seq[Map[String, Long]] = synchronized {
    val out = batches.toSeq; batches.clear(); out
  }
}

class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = EngineProbe.onJobStart(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = EngineProbe.onJobEnd(e.jobId, e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      EngineProbe.onTask(m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten)
  }
}

class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    EngineProbe.onPlan(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    EngineProbe.onBatch(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** Spark confs that register the three listeners above. */
object Listeners {
  val confs: Map[String, String] = Map(
    "spark.extraListeners" -> classOf[JobListener].getName,
    "spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamListener].getName)
}

/** Named samples, summarised as means. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  def addEngine(e: EngineOp): Unit = {
    add("spark.jobs", e.jobs); add("spark.tasks", e.tasks); add("spark.plan_ms", e.planMs)
    add("spark.job_covered_ms", e.coveredMs); add("spark.uncovered_ms", e.uncoveredMs)
    add("spark.task_run_ms", e.taskRunMs); add("spark.task_cpu_ms", e.taskCpuMs)
    add("spark.shuffle_bytes", e.shuffleBytes.toDouble); add("spark.gc_ms", e.gcMs)
  }
  def get(name: String): Seq[Double] = m.get(name).map(_.toSeq).getOrElse(Nil)
  def means: Map[String, Double] =
    m.collect { case (k, v) if v.nonEmpty => k -> v.sum / v.size }.toMap
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def nums(kv: Iterable[(String, Double)]): String = obj(kv.map { case (k, v) => k -> num(v) })

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
