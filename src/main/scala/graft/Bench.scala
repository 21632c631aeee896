package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.kernels._
import graft.linalg.{PlusTimes, SpMV}
import graft.util.Sentinel

/** Benchmark driver. Builds the link graph ONCE (persisted — the analog of
  * the one-time DCSC build), then times the flagship kernels plus the
  * heavy round-3/4 operators (bool_spgemm, galerkin, mcl_clusters,
  * dedup_lsh_pairs — perf-relevant queries whose regressions would
  * otherwise ship silently). Prints one JSON line:
  *   {"metric":"total","value":S,"unit":"sec","queries":{...},"sf":...,
  *    "cpus":N,"nnz":E,"pagerank_eps":EPS,
  *    "sentinel_samples":K,"sentinel_min_sec":...,"sentinel_max_sec":...,
  *    "sentinel_drift":...,"cpu_util":...,"valid":true|false}
  * pagerank_eps = iterations × nnz / seconds — the edges/sec SpMV
  * throughput of BASELINE.json (TEPS-style, reference TopDownBFS.cpp:460).
  *
  * Contention sentinel ([[graft.util.Sentinel]]): pre/post single-thread
  * spins (steady-load detector) PLUS a background thread sampling
  * other-process CPU from /proc every ~5 s for the WHOLE run — any
  * contaminated window marks the run `valid: false` (rerun, don't
  * publish). The round-4 artifact was poisoned by a load that started
  * after the pre-run spin and ended before the post-run spin — the
  * mid-run /proc sampler closes that blind spot.
  *
  * Run at two parallelism levels (SPARK_GRAFT_CPUS=8 vs 32) on the same
  * input to evidence scaling efficiency (BASELINE.md).
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shuffle partitions sized to the DATA, not the cores: at sf0.1 the
    // contribution exchange volume grows with partition count (see
    // BENCH.md), so 8 is optimal across local[8..32].
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val edges = LinkGraph.edges(spark, sfDir).persist()
    val verts = LinkGraph.vertices(spark, sfDir).persist()
    // Weighted edges pre-materialized like the other static operands — the
    // sssp entry must time the kernel, not the one-time derivation.
    val wedges = LinkGraph.weightedEdges(spark, sfDir).persist()
    val nnz = edges.count()
    val nv = verts.count()
    wedges.count()

    // JIT/IO warmup: one SpMV round
    SpMV(edges, verts.select(col("v"), lit(1.0).as("xv")), PlusTimes).count()

    val sentinel = new Sentinel()
    sentinel.start()

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val prIters = 10
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    results("pagerank") = time { PageRank.run(edges, verts, prIters).count() }
    // in-memory rank-vector kernel (same iteration count; differential-
    // tested against the relational result at 1e-9 in KernelSpec)
    results("pagerank_arr") = time { PageRankArray.run(edges, verts, prIters).count() }
    results("cc_fastsv") = time { ConnectedComponents.run(edges, verts).count() }
    results("labelprop") = time { LabelPropagation.run(edges, verts).count() }
    results("tricnt") = time { Triangles.count(edges).collect() }
    results("bfs") = time {
      val root = verts.agg(min(col("v"))).first().getLong(0)
      BFS.levels(edges, root).count()
    }
    results("sssp") = time {
      val root = verts.agg(min(col("v"))).first().getLong(0)
      SSSP.run(wedges, root).count()
    }
    results("spgemm") = time {
      operators.MatrixOps.spgemm(edges, edges, PlusTimes)
        .groupBy(col("src")).agg(sum(col("w"))).count()
    }
    results("dedup_minhash") = time {
      dedup.Dedup.minhash(Tables.documents(spark, sfDir)).count()
    }
    results("ann_topk") = time {
      sim.Ann.cosineTopK(Tables.embeddings(spark, sfDir), 20, 5).count()
    }
    // Heavy operators: a regression in the 202M-row boolean product, the
    // S·A·Sᵀ triple product, MCL, or the capped LSH pair join must show up
    // in the round artifact, not only in the sf0.01 correctness gate.
    // bool_spgemm/galerkin/dedup_lsh_pairs run the exact gate plans; MCL
    // runs the PRODUCTION path (chaos-terminated MarkovClustering.run) —
    // the gate's FP-pinned mode sorts every operand group for hash
    // exactness (707 s at sf0.1, 3.5× everything else combined) and its
    // SpGEMM core is already covered by bool_spgemm.
    results("bool_spgemm") = time { SparkEntry.queries("bool_spgemm")(spark, sfDir).count() }
    results("galerkin") = time { SparkEntry.queries("galerkin")(spark, sfDir).count() }
    results("mcl") = time {
      MarkovClustering.run(graft.graph.LinkGraph.weightedEdges(spark, sfDir),
        graft.graph.LinkGraph.vertices(spark, sfDir)).count()
    }
    results("dedup_lsh_pairs") = time { SparkEntry.queries("dedup_lsh_pairs")(spark, sfDir).count() }

    val rep = sentinel.stop()

    val eps = prIters.toLong * nnz / results("pagerank")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.values.sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,"vertices":$nv,"nnz":$nnz,"pagerank_eps":$eps%.0f,${rep.json}}""")
    if (!rep.valid)
      System.err.println(f"[bench] WARNING: sentinel drift ${rep.drift}%.2fx / " +
        f"external CPU mean ${rep.extMean}%.2f max ${rep.extMax}%.2f cores — " +
        "external load contaminated this run; numbers are NOT publishable")
    spark.stop()
  }
}
