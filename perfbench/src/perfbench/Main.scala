package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.util.Sentinel

/** Peak old-generation occupancy after GC, from the memory-pool beans. It
  * is read after a full collection at the end of every timed pass, so it
  * is the live heap a pass leaves behind, not garbage that young
  * collections happened to promote (which made the reading swing 5x
  * between runs of the same input). */
final class HeapWatch {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  private var peak = 0L

  def fullGc(record: Boolean): Unit = {
    // Spark drops unpersisted blocks and cleans unreachable broadcasts and
    // shuffles asynchronously, after a GC finds them: let that finish and
    // collect again, so the reading does not depend on the cleaner's timing.
    System.gc()
    Thread.sleep(300)
    System.gc()
    if (record) peak = math.max(peak, oldPools.map(_.getCollectionUsage.getUsed).sum)
  }

  def peakMb: Double = peak / 1e6
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: String, traceOut: String)

  /** Inputs are prepared this many times; set-up reports the median. */
  val SetupReps = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("work"), m("trace-out"))
  }

  private def secondsOf[T](body: => T): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    spark
  }

  /** Sum of the inclusive counters of `spans`, as one layer's figures. */
  private def layerStats(tracer: Tracer, spans: Seq[Span], cores: Int, prefix: String): Seq[(String, Double)] = {
    val st = spans.map(tracer.stats)
    val wall = spans.map(_.wallS).sum
    val task = st.map(_.taskS).sum
    SpanStats(task, st.map(_.gcS).sum, st.map(_.shuffleReadMb).sum,
      st.map(_.shuffleWriteMb).sum, st.map(_.spillMb).sum, st.map(_.stages).sum,
      st.map(_.tasksRetried).sum, st.map(_.driverS).sum,
      if (wall > 0) task / (wall * cores) else 0.0).metrics(prefix)
  }

  val Layers = Seq("pages", "graph", "linalg", "kernels", "operators", "checkpoint")
  /** Spans whose counters are reported on their own. */
  val KeySpans = Seq("kernels.pagerank", "operators.bool_spgemm")

  def main(args: Array[String]): Unit = {
    // Exit explicitly: a failed run must not wait on Spark's non-daemon
    // threads.
    val code = try { bench(parse(args)); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  def bench(o: Opts): Unit = {
    val sentinel = new Sentinel(periodMs = 1000)
    sentinel.start()
    val heap = new HeapWatch

    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, o.cores)
    val w = Workload(o.workload, spark, o.seed, o.work)
    val prepS = Workload.median((1 to SetupReps).map { i =>
      if (i > 1) w.release()
      secondsOf(w.prepare())
    })
    val serialRefS = secondsOf(w.reference())
    // Untimed passes: the first one runs about twice as long as the next
    // while the JIT compiles Spark's planner and the generated code.
    val warm = Seq.fill(w.warmupPasses) { val p = new Pass(tracer); w.run(p); p }
    val warmS = warm.map(_.wall).sum
    val setupS = sessionS + prepS + warmS
    System.err.println(f"perfbench: set-up: session $sessionS%.3f s, inputs $prepS%.3f s (median of $SetupReps), " +
      f"${warm.length} warm-up pass(es) $warmS%.3f s; reference $serialRefS%.3f s")
    heap.fullGc(record = false)

    // Closed loop, one client: passes back to back until the time is up.
    // A traced run alternates untraced and traced passes so that both are
    // measured under the same conditions.
    val passes = mutable.ArrayBuffer[(Pass, Option[Span])]()
    val minPasses = if (o.trace) 2 else 1
    val loopT0 = System.nanoTime()
    while (passes.length < minPasses || (System.nanoTime() - loopT0) / 1e9 < o.seconds) {
      val traced = o.trace && passes.length % 2 == 1
      if (traced) tracer.enable()
      val p = new Pass(tracer)
      tracer.span("bench.pass")(w.run(p))
      val span = if (traced) tracer.spans.reverseIterator.find(_.name == "bench.pass") else None
      tracer.disable()
      passes += ((p, span))
      System.err.println(f"perfbench: pass ${passes.length}${if (traced) " (traced)" else ""}: " +
        p.seconds.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
      heap.fullGc(record = true)
    }

    val probes = new Pass(tracer)
    if (o.trace) {
      tracer.enable()
      tracer.span("bench.probes")(w.probes(probes))
      tracer.disable()
    }
    val ext = sentinel.stop()
    System.err.println(f"perfbench: other-process CPU mean ${ext.extMean}%.2f max ${ext.extMax}%.2f cores; " +
      f"single-thread spin ${ext.spinPre}%.3f s before, ${ext.spinPost}%.3f s after")

    val all = warm ++ passes.map(_._1) :+ probes
    val attempted = all.map(_.calls).sum
    val failed = all.map(_.failed).sum
    val correct = failed == 0
    val untraced = passes.collect { case (p, None) => p }
    val tracedPasses = passes.collect { case (p, Some(s)) => (p, s) }
    val wallS = Workload.median(untraced.map(_.wall).toSeq)
    val metrics = mutable.LinkedHashMap[String, Double]()

    if (!o.trace) {
      metrics ++= Seq(
        "setup_s" -> setupS,
        "wall_s" -> wallS,
        "peak_heap_mb" -> heap.peakMb,
        "results_ok" -> (if (correct) 1.0 else 0.0))
    } else {
      val tracedWalls = tracedPasses.map(_._1.wall)
      // Layer counters: the layer's spans in the median traced pass plus
      // its probe spans.
      val (_, medSpan) = tracedPasses.sortBy(_._1.wall).apply(tracedPasses.length / 2)
      val probeRoot = tracer.spans.find(_.name == "bench.probes")
      val children = tracer.spans.filter(s => s.parent == medSpan.id || probeRoot.exists(_.id == s.parent))
      for (layer <- Layers)
        metrics ++= layerStats(tracer, children.filter(_.layer == layer), o.cores, layer)
      for (name <- KeySpans)
        metrics ++= layerStats(tracer, children.filter(s => s.name == name && s.parent == medSpan.id),
          o.cores, name)
      metrics ++= w.layerMetrics(tracedPasses.map(_._1).toSeq, probes)
      metrics ++= Seq(
        "bench.serial_ref_s" -> serialRefS,
        "bench.trace_overhead_s" -> (Workload.median(tracedWalls.toSeq) - wallS),
        "bench.ext_cpu_mean_cores" -> ext.extMean,
        "bench.ext_cpu_max_cores" -> ext.extMax,
        "bench.ops_failed_frac" -> failed.toDouble / attempted)
      val out = new File(o.traceOut, s"${o.workload}-seed${o.seed}.json")
      out.getParentFile.mkdirs()
      Files.writeString(out.toPath,
        s"""{"workload":"${o.workload}","seed":${o.seed},"cores":${o.cores},"spans":${tracer.json}}""")
      System.err.println(s"perfbench: spans written to ${out.getPath}")
    }
    spark.stop()
    val body = metrics.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${body.mkString(",")}}}""")
  }
}
