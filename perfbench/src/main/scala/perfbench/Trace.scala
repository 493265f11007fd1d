package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. `parent` is the span that
  * was open when this one began (-1 for a unit's root); `unit` numbers the
  * lifecycle or pass the span belongs to.
  */
final case class Span(id: Long, name: String, parent: Long, unit: Int,
                      startMs: Long, startNs: Long,
                      var endMs: Long = -1L, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of one run, kept in memory. The id of the innermost open span is
  * set as a Spark local property, so every job the client thread submits
  * (and every broadcast job Spark submits on its behalf) carries it; the
  * [[JobListener]] attributes jobs, tasks, bytes and CPU by that id.
  */
final class Spans(sc: SparkContext) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 0L

  def apply[T](name: String, unit: Int)(body: => T): (T, Span) = {
    val s = Span(nextId, name, stack.headOption.fold(-1L)(_.id), unit,
      System.currentTimeMillis(), System.nanoTime())
    nextId += 1
    all += s
    stack = s :: stack
    sc.setLocalProperty(Spans.Key, s.id.toString)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Spans.Key, stack.headOption.map(_.id.toString).orNull)
    }
  }
}

object Spans { val Key = "perfbench.span" }

/** Listener counts for one span: tasks, executor CPU, GC, input bytes and
  * shuffle bytes written, summed over the tasks of the span's jobs.
  */
final class Counts {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  def add(o: Counts): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes
  }
}

final case class JobRec(span: Long, startMs: Long, var endMs: Long = -1L)

class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  val counts = new ConcurrentHashMap[Long, Counts]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Spans.Key))).fold(-1L)(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    jobs.put(e.jobId, JobRec(span, e.time))
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val span: Long = Option(stageSpan.get(e.stageId)).fold(-1L)(_.longValue)
      val c = counts.computeIfAbsent(span, _ => new Counts)
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def clear(): Unit = { jobs.clear(); stageSpan.clear(); counts.clear() }
}

/** Per-span measures derived after a traced unit: `s` wall, `jobs`,
  * `driver_s` (wall not covered by any running job of the span or its
  * descendants), listener counts, and `self_s` (wall not covered by child
  * spans).
  */
object Derive {
  final case class SpanStats(span: Span, jobs: Int, driverS: Double,
                             selfS: Double, counts: Counts)

  private def coveredMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def apply(spans: Seq[Span], l: JobListener): Seq[SpanStats] = {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val jobsBySpan = l.jobs.values().asScala.toSeq.groupBy(_.span)
    spans.map { s =>
      val tree = subtree(s)
      val ids = tree.map(_.id).toSet
      val js = ids.toSeq.flatMap(i => jobsBySpan.getOrElse(i, Nil))
      val ivs = js.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs))
      val driver = math.max(0.0, s.seconds - coveredMs(ivs, s.startMs, s.endMs) / 1e3)
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      val self = math.max(0.0, s.seconds - coveredMs(kids, s.startMs, s.endMs) / 1e3)
      val c = new Counts
      ids.foreach(i => Option(l.counts.get(i)).foreach(c.add))
      SpanStats(s, js.size, driver, self, c)
    }
  }
}
