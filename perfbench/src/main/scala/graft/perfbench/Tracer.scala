package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans around the public calls the CLIs make, plus a `SparkListener` that
  * charges every job, stage and task to the span that was open on the
  * driver thread when the job was submitted (a thread-local property, which
  * Spark copies onto the broadcast and subquery threads it spawns; a job
  * without it is counted in `unattributedJobs`).
  *
  * Spans live in memory and are reduced to per-layer counters once the
  * traced phase ends. Counters of a span include its descendants' work;
  * `selfS` is its wall time minus its children's. */
final class Tracer(sc: SparkContext, nproc: Int) extends SparkListener {
  import Tracer._

  final class Span(val id: Int, var name: String, val parent: Int) {
    val t0Ms: Long = System.currentTimeMillis()
    val t0Ns: Long = System.nanoTime()
    var t1Ms: Long = -1L
    var t1Ns: Long = -1L
    def wallS: Double = (t1Ns - t0Ns) / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  private final class Job(val span: Int, val startMs: Long) { var endMs: Long = -1L }
  private final class Acc {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val acc = mutable.Map.empty[Int, Acc]

  def begin(name: String): Span = synchronized {
    val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id))
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    s
  }

  def end(s: Span): Unit = synchronized {
    require(open.headOption.contains(s), s"span ${s.name} closed out of order")
    s.t1Ms = System.currentTimeMillis()
    s.t1Ns = System.nanoTime()
    open = open.tail
    sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
  }

  def span[A](name: String)(body: => A): A = {
    val s = begin(name)
    try body finally end(s)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .fold(-1)(_.toInt)
    jobs(e.jobId) = new Job(span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, -1)
    val a = acc.getOrElseUpdate(span, new Acc)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  /** Per-instance counters, after the listener bus has drained. */
  final case class Counters(name: String, parent: Int, wallS: Double, selfS: Double,
      driverS: Double, jobs: Long, cpuS: Double, runS: Double, tasks: Long,
      shuffleMb: Double, spillMb: Double, skew: Option[Double])

  def counters(): Seq[Counters] = {
    org.apache.spark.perfbenchbridge.Bus.drain(sc)
    synchronized {
      require(open.isEmpty, s"open spans at report time: ${open.map(_.name)}")
      val children = spans.groupBy(_.parent)
      // a span's work includes its descendants'
      def subtree(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSeq
      val intervals = jobs.values.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).toSeq.sorted
      spans.toSeq.map { s =>
        val ids = subtree(s.id).toSet
        val as = ids.toSeq.flatMap(acc.get)
        val busyMs = coveredMs(intervals, s.t0Ms, s.t1Ms)
        val stages = stageSpan.collect { case (st, sp) if ids(sp) => st }.toSet
        val skews = stageTaskMs.collect {
          case ((st, _), ms) if stages(st) && ms.size >= nproc =>
            val sorted = ms.sorted
            sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
        }
        val kidsS = children.getOrElse(s.id, Nil).map(_.wallS).sum
        Counters(s.name, s.parent, s.wallS, s.wallS - kidsS,
          math.max(0.0, s.wallS - busyMs / 1e3),
          jobs.values.count(j => ids(j.span)).toLong,
          as.map(_.cpuNs).sum / 1e9, as.map(_.runMs).sum / 1e3, as.map(_.tasks).sum,
          as.map(_.shuffleBytes).sum / 1e6, as.map(_.spillBytes).sum / 1e6,
          skews.maxOption)
      }
    }
  }

  /** Jobs the listener could charge to no span (should stay 0). */
  def unattributedJobs: Long = synchronized(jobs.values.count(_.span < 0).toLong)
}

object Tracer {
  val SpanProp = "graft.perfbench.span"

  /** Length of the union of `intervals` (sorted by start) inside [lo, hi]. */
  def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    def flush(): Unit =
      if (curHi > curLo) covered += math.max(0L, math.min(curHi, hi) - math.max(curLo, lo))
    intervals.foreach { case (a, b) =>
      if (a > curHi) { flush(); curLo = a; curHi = b }
      else curHi = math.max(curHi, b)
    }
    flush()
    covered
  }
}
