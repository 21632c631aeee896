package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task counters of one span's own jobs (children not included). */
final class Counters {
  var taskS = 0.0
  var gcS = 0.0
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var retried = 0
  val stages = mutable.HashSet[Int]()
  /** Wall-clock [launch, finish] of every task, epoch ms. */
  val intervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Attributes every finished task to the span whose job group submitted its
  * stage. Events arrive on the listener-bus thread only. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap[Int, Int]()
  val counters = mutable.HashMap[Int, Counters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
      val id = g.stripPrefix(Tracer.GroupPrefix).toInt
      e.stageIds.foreach(s => stageSpan(s) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).foreach { id =>
      val c = counters.getOrElseUpdate(id, new Counters)
      val info = e.taskInfo
      c.taskS += (info.finishTime - info.launchTime) / 1e3
      c.intervals += ((info.launchTime, info.finishTime))
      c.stages += e.stageId
      if (info.attemptNumber > 0) c.retried += 1
      val m = e.taskMetrics
      if (m != null) {
        c.gcS += m.jvmGCTime / 1e3
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

/** One timed call into a graft module, or a group of them. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
                      startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
  /** The layer is the name's first component: `kernels.pagerank` → kernels. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Inclusive counters of a span: its own jobs plus its descendants'. */
final case class SpanStats(taskS: Double, gcS: Double,
                           shuffleReadMb: Double, shuffleWriteMb: Double,
                           spillMb: Double, stages: Int, tasksRetried: Int,
                           driverS: Double, coreBusyFrac: Double) {
  def metrics(prefix: String): Seq[(String, Double)] = Seq(
    s"$prefix.task_s" -> taskS, s"$prefix.gc_s" -> gcS,
    s"$prefix.shuffle_read_mb" -> shuffleReadMb,
    s"$prefix.shuffle_write_mb" -> shuffleWriteMb,
    s"$prefix.spill_mb" -> spillMb, s"$prefix.stages" -> stages.toDouble,
    s"$prefix.tasks_retried" -> tasksRetried.toDouble,
    s"$prefix.driver_s" -> driverS, s"$prefix.core_busy_frac" -> coreBusyFrac)
}

/** Records spans (name, start, end, parent id) around module calls made by
  * the benchmark. While enabled, each span runs its jobs under its own
  * Spark job group so the listener can attribute task metrics to it; while
  * disabled, `span` only runs its body. */
final class Tracer(sc: SparkContext, cores: Int) {
  private val listener = new SpanListener
  private val recorded = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var enabled = false

  def spans: Seq[Span] = recorded.toSeq

  def enable(): Unit = if (!enabled) { sc.addSparkListener(listener); enabled = true }

  def disable(): Unit = if (enabled) {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    enabled = false
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(recorded.length, name, stack.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    recorded += s
    stack = s :: stack
    sc.setJobGroup(Tracer.GroupPrefix + s.id, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def descendants(s: Span): Seq[Span] = {
    val kids = recorded.filter(_.parent == s.id).toSeq
    s +: kids.flatMap(descendants)
  }

  /** Inclusive counters of `s`; call after [[disable]] (bus drained). */
  def stats(s: Span): SpanStats = {
    val cs = descendants(s).flatMap(d => listener.counters.get(d.id))
    // Time inside the span during which no task of it ran: the serial,
    // driver-side term.
    val iv = cs.flatMap(_.intervals)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busyMs = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busyMs += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busyMs += curB - curA
    val wall = s.wallS
    val taskS = cs.map(_.taskS).sum
    SpanStats(taskS, cs.map(_.gcS).sum, cs.map(_.shuffleReadB).sum / 1e6,
      cs.map(_.shuffleWriteB).sum / 1e6, cs.map(_.spillB).sum / 1e6,
      cs.map(_.stages.size).sum, cs.map(_.retried).sum,
      math.max(0.0, wall - busyMs / 1e3),
      if (wall > 0) taskS / (wall * cores) else 0.0)
  }

  /** Every span with its inclusive counters, as a JSON array. */
  def json: String = recorded.map { s =>
    val st = stats(s)
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS}%.6f,"task_s":${st.taskS}%.6f,"gc_s":${st.gcS}%.6f,"shuffle_read_mb":${st.shuffleReadMb}%.6f,"shuffle_write_mb":${st.shuffleWriteMb}%.6f,"spill_mb":${st.spillMb}%.6f,"stages":${st.stages},"tasks_retried":${st.tasksRetried},"driver_s":${st.driverS}%.6f,"core_busy_frac":${st.coreBusyFrac}%.6f}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}
