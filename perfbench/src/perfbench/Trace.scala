package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval. Times are `System.nanoTime` values; job spans
  * carry the Spark job id in `name` and layer "engine".
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long)

/** In-memory span recorder. Spans nest by call order on a single stack:
  * the benchmark blocks in one call at a time, and a streaming micro-batch
  * runs its sink append on the stream thread while the caller waits, so
  * one stack still yields a tree. Disabled, `span` just runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = nextId
        nextId += 1
        val p = stack.headOption.getOrElse(0)
        stack = id :: stack
        (id, p)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          stack = stack.filterNot(_ == id)
          spans += Span(id, parent, name, layer, t0, t1)
        }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Per-task counters kept by [[EngineListener]]. */
final case class TaskRec(stageId: Int, cpuNs: Long, shuffleWrite: Long, spill: Long)

/** Spark listener registered by the benchmark: job intervals and task
  * counters, attributed afterwards to the benchmark's own spans.
  */
final class EngineListener extends SparkListener {
  val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  val stageJob = new ConcurrentHashMap[Int, Integer]()
  val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]() // id, start ms, end ms
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.get(e.jobId)).foreach(t0 => jobs.add((e.jobId, t0.longValue, e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

/** Spark-side counters summed over a set of jobs. */
final case class EngineStats(jobs: Int, tasks: Int, cpuS: Double, shuffleBytes: Long,
    spillBytes: Long, sparkS: Double)

object Trace {

  /** nanoTime value of an epoch-millisecond instant. */
  private val nanoOffset: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNano(ms: Long): Long = ms * 1000000L - nanoOffset

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionNs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Job intervals (nanoTime domain) overlapping [lo, hi]. */
  def jobsWithin(l: EngineListener, lo: Long, hi: Long): Seq[(Int, Long, Long)] =
    l.jobs.asScala.toSeq.map { case (id, s, e) => (id, msToNano(s), msToNano(e)) }
      .filter { case (_, s, e) => e > lo && s < hi }

  /** Counters of the jobs that started inside [lo, hi]. */
  def stats(l: EngineListener, lo: Long, hi: Long): EngineStats = {
    val js = jobsWithin(l, lo, hi).filter { case (_, s, _) => s >= lo - 1000000L }
    val ids = js.map(_._1).toSet
    val ts = l.tasks.asScala.toSeq.filter { t =>
      val j = l.stageJob.get(t.stageId)
      j != null && ids.contains(j.intValue)
    }
    EngineStats(js.size, ts.size, ts.map(_.cpuNs).sum / 1e9, ts.map(_.shuffleWrite).sum,
      ts.map(_.spill).sum, unionNs(js.map(j => (j._2, j._3)), lo, hi) / 1e9)
  }

  /** Job spans, each hung under the innermost benchmark span that
    * contains its start.
    */
  def jobSpans(l: EngineListener, spans: Seq[Span], firstId: Int): Seq[Span] =
    l.jobs.asScala.toSeq.sortBy(_._1).zipWithIndex.map { case ((id, s, e), i) =>
      val (ns, ne) = (msToNano(s), msToNano(e))
      val parent = spans.filter(sp => sp.start <= ns && ns <= sp.end)
        .sortBy(sp => sp.end - sp.start).headOption
      val (ps, pe) = parent.map(p => (p.start, p.end)).getOrElse((ns, ne))
      Span(firstId + i, parent.map(_.id).getOrElse(0), s"job-$id", "engine",
        math.max(ns, ps), math.min(math.max(ne, ns), pe))
    }

  /** Self time per layer: every instant of the traced run goes to the
    * deepest span open at that instant (the latest-started one among
    * equals), so the layers partition the wall time exactly even where
    * sibling Spark jobs overlap. Returns layer -> seconds.
    */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = Iterator.iterate(s)(x => byId.getOrElse(x.parent, null))
      .takeWhile(_ != null).size
    val depths = spans.map(s => s.id -> depth(s)).toMap
    val cuts = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val open = spans.filter(s => s.start <= a && s.end >= b)
      if (open.nonEmpty) {
        val top = open.maxBy(s => (depths(s.id), s.start))
        out(top.layer) += b - a
      }
    }
    out.map { case (k, v) => k -> v / 1e9 }.toMap
  }

  /** Total JVM garbage-collection time so far, seconds. */
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
}

/** Minimal JSON rendering for the result file. */
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

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => str(other.toString)
  }
}
