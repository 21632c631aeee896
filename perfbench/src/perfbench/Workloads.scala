package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.SnapshotStore
import graft.graph.{Dictionary, WebGraph}
import graft.kernels._
import graft.linalg.{BlockMatrix, BoolOrAnd, PlusTimes, SpMV}
import graft.operators.MatrixOps
import graft.pages.{Extract, PageGen}

/** One pass over a workload's job sequence. Every module call is a step:
  * timed, traced as a span when tracing is on, and checked afterwards. */
final class Pass(tracer: Tracer) {
  val seconds = mutable.LinkedHashMap[String, Double]()
  val facts = mutable.LinkedHashMap[String, Double]()
  var calls = 0
  var failed = 0

  def step[T](name: String)(body: => T): T = {
    calls += 1
    val t0 = System.nanoTime()
    val out = try tracer.span(name)(body) catch { case e: Throwable => failed += 1; throw e }
    seconds(name) = seconds.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    out
  }

  def check(ok: Boolean, what: String): Unit =
    if (!ok) { failed += 1; System.err.println(s"perfbench: wrong result from $what") }

  /** Time spent inside module calls. */
  def wall: Double = seconds.values.sum
  def sec(name: String): Double = seconds.getOrElse(name, 0.0)
}

/** A workload: inputs made from the seed, a reference, and the timed job
  * sequence. */
trait Workload {
  /** Generate and persist the inputs. */
  def prepare(): Unit
  def release(): Unit
  /** Single-threaded expected results. */
  def reference(): Unit
  /** The timed job sequence; checks every result against the reference. */
  def run(p: Pass): Unit
  /** Untimed passes before the timed ones (part of set-up). */
  def warmupPasses: Int = 1
  /** Calls that isolate single layers (traced runs only). */
  def probes(p: Pass): Unit
  /** Named per-layer metrics from the traced passes and the probes. */
  def layerMetrics(passes: Seq[Pass], probes: Pass): Seq[(String, Double)]
}

object Workload {
  val PageRankIters = 10
  val LpRounds = 5

  def apply(name: String, spark: SparkSession, seed: Long, work: String): Workload =
    name match {
      case "web_pipeline" => new WebPipeline(spark, seed, work)
      case "dense_spgemm" => new DenseSpgemm(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 + 1e-6 * math.abs(b)

  /** Rows (vid, value) cover every vertex once and match `ok(vid, value)`. */
  def perVertex(rows: Array[Row], n: Int)(ok: (Int, Row) => Boolean): Boolean = {
    val seen = new java.util.BitSet(n)
    rows.length == n && rows.forall { r =>
      val v = r.getLong(0)
      v >= 0 && v < n && !seen.get(v.toInt) && { seen.set(v.toInt); ok(v.toInt, r) }
    }
  }

  def ranksMatch(rows: Array[Row], ref: Array[Double]): Boolean =
    perVertex(rows, ref.length)((v, r) => close(r.getDouble(1), ref(v)))

  def labelsMatch(rows: Array[Row], ref: Array[Int]): Boolean =
    perVertex(rows, ref.length)((v, r) => r.getLong(1) == ref(v))

  /** count and Σ pairKey(src, dst) of an edge frame. */
  def edgeStats(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)),
      coalesce(sum(col("src") * Reference.pairKey(1, 0) + col("dst")), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Expected results on the web graph. */
final class WebReference(seed: Long, nPages: Int, nSites: Int, crawled: Long => Boolean) {
  val (graph, links) = Reference.webGraph(seed, nPages, nSites, crawled)
  val sym: EdgeList = Reference.symmetrize(graph)
  val pagerank: Array[Double] = Reference.pagerank(graph, Workload.PageRankIters)
  val components: Array[Int] = Reference.components(sym)
  val labels: Array[Int] = Reference.labelPropagation(sym, Workload.LpRounds)
  val triangles: Long = Reference.triangles(sym)
}

/** The persisted outputs of ingest: directed edges, vertices, symmetric edges. */
final case class WebGraphFrames(edges: DataFrame, vertices: DataFrame, sym: DataFrame,
                                dict: DataFrame) {
  def unpersist(): Unit = Seq(edges, vertices, sym, dict).foreach(_.unpersist(false))
}

/** pages → WebGraph.build → symmetrize → PageRank, CC, LP, triangle count.
  * Its probes time the single layers, and PageRank committing every
  * iteration to a SnapshotStore, with a crash and a resume. */
final class WebPipeline(spark: SparkSession, seed: Long, work: String) extends Workload {
  import Workload._
  val Pages: Int = 1 << 12
  val Sites = 97
  /** Every Uncrawled-th page is left out of the pages table, as a crawl
    * frontier: its url is still a link target, so the graph has dangling
    * vertices with in-links, as real crawls do. Without them PageRank took
    * its closed-form path on some seeds and the per-iteration sink
    * aggregation on others, and pass times split into two groups. */
  val Uncrawled = 16
  private def crawled(i: Long): Boolean = i % Uncrawled != 0
  private var pages: DataFrame = _
  private var ref: WebReference = _
  private val ccRounds = mutable.ArrayBuffer[Double]()

  def prepare(): Unit = {
    // warc_ts is BaseTs + 1 s × page index.
    pages = PageGen.pages(spark, Pages, seed, Sites)
      .where(expr(s"(unix_millis(warc_ts) - ${PageGen.BaseTs}) div 1000 % $Uncrawled != 0"))
      .persist()
    pages.count()
  }
  def release(): Unit = pages.unpersist(true)
  def reference(): Unit = ref = new WebReference(seed, Pages, Sites, crawled)

  private def ingest(p: Pass): WebGraphFrames = {
    val (built, edges, vertices, stats, nV) = p.step("graph.edges") {
      val b = WebGraph.build(pages)
      val e = b.edges.persist()
      val v = b.vertices.persist()
      (b, e, v, edgeStats(e), v.count())
    }
    p.check(stats == ((ref.graph.m.toLong, ref.graph.checksum)) && nV == ref.graph.n,
      "WebGraph.build")
    val (sym, symStats) = p.step("graph.symmetrize") {
      val s = WebGraph.symmetrize(edges).persist()
      (s, edgeStats(s))
    }
    p.check(symStats == ((ref.sym.m.toLong, ref.sym.checksum)), "WebGraph.symmetrize")
    WebGraphFrames(edges, vertices, sym, built.dict)
  }

  def run(p: Pass): Unit = {
    val g = ingest(p)
    val pr = p.step("kernels.pagerank") {
      PageRank.run(g.edges, g.vertices, PageRankIters).collect()
    }
    p.check(ranksMatch(pr, ref.pagerank), "PageRank.run")
    val cc = p.step("kernels.cc") { ConnectedComponents.run(g.sym, g.vertices).collect() }
    ccRounds += BlockCC.lastRounds
    p.check(labelsMatch(cc, ref.components), "ConnectedComponents.run")
    val lp = p.step("kernels.lp") {
      LabelPropagation.run(g.sym, g.vertices, LpRounds).collect()
    }
    p.check(labelsMatch(lp, ref.labels), "LabelPropagation.run")
    val tri = p.step("kernels.tricnt") { Triangles.count(g.sym).first().getLong(0) }
    p.check(tri == ref.triangles, "Triangles.count")
    g.unpersist()
  }

  def probes(p: Pass): Unit = {
    val links = p.step("pages.extract") { Extract.linkTable(pages).count() }
    p.check(links == ref.links, "Extract.linkTable")
    p.facts("pages.links") = links.toDouble
    val urls = p.step("graph.dictionary") {
      val all = pages.select(col("url"))
        .union(Extract.linkTable(pages).select(col("dstUrl").as("url")))
      Dictionary.encode(all, "url").count()
    }
    p.check(urls == ref.graph.n, "Dictionary.encode")
    p.facts("graph.urls") = urls.toDouble

    // The graph for the probes below; a tracer that is never enabled keeps
    // this rebuild out of the graph layer's spans.
    val g = p.step("bench.probe_graph") { ingest(new Pass(new Tracer(spark.sparkContext, 1))) }
    val n = ref.graph.n
    val ySum = p.step("linalg.spmv") {
      SpMV(g.edges, g.vertices.select(col("v"), lit(1.0 / n).as("xv")), PlusTimes)
        .agg(sum(col("yv"))).first().getDouble(0)
    }
    p.check(close(ySum, ref.graph.m.toDouble / n), "SpMV")
    val blockSize = 1 << 11
    val (nBlocks, maxNnz, sumNnz) = p.step("linalg.block_build") {
      val blocks = BlockMatrix.fromEdges(g.edges, blockSize).persist()
      val st = BlockMatrix.blockStats(blocks)
        .agg(count(lit(1)), max(col("nnz")), sum(col("nnz"))).first()
      blocks.unpersist(false)
      (st.getLong(0), st.getLong(1), st.getLong(2))
    }
    p.check(sumNnz == ref.graph.m, "BlockMatrix.fromEdges")
    p.facts("linalg.blocks") = nBlocks.toDouble
    p.facts("linalg.block_imbalance") = maxNnz / (sumNnz.toDouble / nBlocks)

    val (prep, iter) = p.step("kernels.pagerank_profile") {
      PageRank.profile(g.edges, g.vertices, PageRankIters)
    }
    p.facts("kernels.pagerank_prep_s") = prep
    p.facts("kernels.pagerank_iter_s") = iter
    val arr = p.step("kernels.pagerank_arr") {
      PageRankArray.run(g.edges, g.vertices, PageRankIters).collect()
    }
    p.check(ranksMatch(arr, ref.pagerank), "PageRankArray.run")
    val (bc, job, drv) = PageRankArray.lastPhases
    p.facts("kernels.pagerank_arr_bcast_s") = bc / PageRankIters
    p.facts("kernels.pagerank_arr_job_s") = job / PageRankIters
    p.facts("kernels.pagerank_arr_driver_s") = drv / PageRankIters
    p.facts("kernels.pagerank_arr_iter_s") = (bc + job + drv) / PageRankIters

    checkpointProbes(p, g)
    g.unpersist()
  }

  /** PageRank stopped after 5 iterations (a simulated crash) and resumed to
    * 10, then the resumable CC and LP, each committing every iteration to
    * a fresh SnapshotStore; then SnapshotStore.commit and load on their
    * own. */
  private def checkpointProbes(p: Pass, g: WebGraphFrames): Unit = {
    val dir = new File(work, "snapshots")
    def storeAt(name: String) = new SnapshotStore(new File(dir, name).getPath)
    val prStore = storeAt("pr")
    p.step("kernels.pagerank_crash") {
      PageRank.resumable(g.edges, g.vertices, prStore, PageRankIters, stopAfter = Some(5)).count()
    }
    p.check(prStore.latest().map(_.iteration).contains(5), "PageRank.resumable(stopAfter = 5)")
    val pr = p.step("kernels.pagerank_resume") {
      PageRank.resumable(g.edges, g.vertices, prStore, PageRankIters).collect()
    }
    p.check(ranksMatch(pr, ref.pagerank), "PageRank.resumable")
    val ccStore = storeAt("cc")
    val cc = p.step("kernels.cc_resumable") {
      ConnectedComponents.resumable(g.sym, g.vertices, ccStore).collect()
    }
    p.check(labelsMatch(cc, ref.components), "ConnectedComponents.resumable")
    val lpStore = storeAt("lp")
    val lp = p.step("kernels.lp_resumable") {
      LabelPropagation.resumable(g.sym, g.vertices, lpStore, LpRounds).collect()
    }
    p.check(labelsMatch(lp, ref.labels), "LabelPropagation.resumable")
    val commits = Seq(prStore, ccStore, lpStore).map(_.snapshots().size).sum
    val bytes = dirBytes(dir).toDouble
    p.facts("checkpoint.commits") = commits.toDouble
    p.facts("checkpoint.bytes_per_commit") = bytes / commits
    p.facts("checkpoint.snapshot_mb") = bytes / 1e6
    deleteTree(dir)

    val store = new SnapshotStore(dir.getPath)
    val vec = g.vertices.select(col("v"), lit(1.0 / ref.graph.n).as("r")).persist()
    vec.count()
    val reps = 3
    for (i <- 1 to reps) p.step("checkpoint.commit") { store.commit(vec, i, ref.graph.m, 0L) }
    p.facts("checkpoint.commit_s") = p.sec("checkpoint.commit") / reps
    val total = p.step("checkpoint.load") {
      store.load(spark, store.latest().get).agg(sum(col("r"))).first().getDouble(0)
    }
    p.check(close(total, 1.0), "SnapshotStore.load")
    vec.unpersist(false)
    deleteTree(dir)
  }

  def layerMetrics(passes: Seq[Pass], probes: Pass): Seq[(String, Double)] = {
    def med(step: String) = median(passes.map(_.sec(step)))
    val edges = ref.graph.m.toDouble
    val resumable = probes.sec("kernels.pagerank_crash") + probes.sec("kernels.pagerank_resume")
    Seq(
      "pages.extract_s" -> probes.sec("pages.extract"),
      "graph.dictionary_s" -> probes.sec("graph.dictionary"),
      "graph.edges_s" -> med("graph.edges"),
      "graph.edges" -> edges,
      "graph.dedup_ratio" -> edges / probes.facts("pages.links"),
      "graph.symmetrize_s" -> med("graph.symmetrize"),
      "graph.max_indegree" -> ref.graph.inDegrees.max.toDouble,
      "linalg.spmv_s" -> probes.sec("linalg.spmv"),
      "linalg.block_build_s" -> probes.sec("linalg.block_build"),
      "kernels.pagerank_eps" -> PageRankIters * edges / med("kernels.pagerank"),
      "kernels.cc_s" -> med("kernels.cc"),
      "kernels.cc_rounds" -> median(ccRounds.toSeq),
      "kernels.lp_s" -> med("kernels.lp"),
      "kernels.tricnt_s" -> med("kernels.tricnt"),
      "kernels.triangles" -> ref.triangles.toDouble,
      "checkpoint.resume_s" -> probes.sec("kernels.pagerank_resume"),
      "checkpoint.load_s" -> probes.sec("checkpoint.load"),
      "checkpoint.overhead_frac" -> (resumable / med("kernels.pagerank") - 1)) ++
      probes.facts.toSeq
  }
}

/** Boolean A·A and the Galerkin product S·A·Sᵀ on a dense, hub-free graph:
  * the SpGEMM layer does nearly all the work. MCL runs as a probe. */
final class DenseSpgemm(spark: SparkSession, seed: Long) extends Workload {
  import Workload._
  val N = 1536
  val Draws = 24
  val Group = 8
  val MclIters = 1
  /** A pass is short, and the JIT still speeds it up after the first: after
    * a single warm-up pass the timed passes of one run fell by nearly half. */
  override val warmupPasses = 5
  private var g: EdgeList = _
  private var edges: DataFrame = _
  private var vertices: DataFrame = _
  private var refBool: (Long, Long) = _
  private var refGalerkin: Map[Long, Double] = _

  def prepare(): Unit = {
    import spark.implicits._
    g = Reference.denseGraph(seed, N, Draws)
    edges = g.src.indices.map(i => (g.src(i).toLong, g.dst(i).toLong, g.w(i)))
      .toDF("src", "dst", "w").persist()
    vertices = spark.range(N).select(col("id").as("v")).persist()
    edges.count(); vertices.count()
  }
  def release(): Unit = { edges.unpersist(true); vertices.unpersist(true) }

  def reference(): Unit = {
    refBool = Reference.boolProduct(g)
    refGalerkin = Reference.galerkin(g, Group)
  }

  def run(p: Pass): Unit = {
    val bool = p.step("operators.bool_spgemm") {
      val e = edges.select(col("src"), col("dst"), lit(true).as("w"))
      edgeStats(MatrixOps.spgemm(e, e, BoolOrAnd).where(col("w")))
    }
    p.check(bool == refBool, "MatrixOps.spgemm")
    p.facts("operators.spgemm_out_nnz") = bool._1.toDouble
    val coarse = p.step("operators.galerkin") {
      val s = vertices.select(expr(s"v div $Group").as("src"), col("v").as("dst"),
        lit(1.0).as("w"))
      MatrixOps.galerkin(s, edges, PlusTimes).collect()
    }
    p.check(coarse.length == refGalerkin.size && coarse.forall { r =>
      refGalerkin.get(Reference.pairKey(r.getLong(0), r.getLong(1))).contains(r.getDouble(2))
    }, "MatrixOps.galerkin")
  }

  /** MCL (its expansion is a SpGEMM), twice: the assignment must be total
    * and the same both times. */
  def probes(p: Pass): Unit = {
    val runs = Seq.fill(2) {
      val mcl = p.step("kernels.mcl") {
        MarkovClustering.run(edges, vertices, maxIters = MclIters).collect()
      }
      // Total: one cluster per vertex, named by the smallest vid in it.
      val clusters = new Array[Int](N)
      val total = perVertex(mcl, N) { (v, r) =>
        val c = r.getLong(1)
        c >= 0 && c <= v && { clusters(v) = c.toInt; true }
      } && clusters.indices.forall(v => clusters(clusters(v)) == clusters(v))
      p.check(total, "MarkovClustering.run")
      clusters
    }
    p.check(runs(0).sameElements(runs(1)), "MarkovClustering.run (repeat)")
  }

  def layerMetrics(passes: Seq[Pass], probes: Pass): Seq[(String, Double)] = {
    def med(step: String) = median(passes.map(_.sec(step)))
    val flops = Reference.spgemmFlops(g).toDouble
    val outNnz = median(passes.map(_.facts("operators.spgemm_out_nnz")))
    Seq(
      "kernels.mcl_s" -> probes.sec("kernels.mcl") / 2,
      "operators.bool_spgemm_s" -> med("operators.bool_spgemm"),
      "operators.galerkin_s" -> med("operators.galerkin"),
      "operators.spgemm_flops" -> flops,
      "operators.spgemm_out_nnz" -> outNnz,
      "operators.spgemm_useful_ratio" -> outNnz / flops)
  }
}
