package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.checkpoint.SnapshotStore
import graft.graph.LinkGraph
import graft.kernels.PageRank
import graft.linalg.BlockMatrix

/** CLI driver: prints the block-CSR layout of a testdata graph, then
  * crashes a resumable PageRank run after 4 iterations, resumes it to 10
  * and checks the ranks against an uninterrupted run. Usage:
  *   runMain graft.Demo <sfDir> <snapshotDir>
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val snapDir = if (args.length > 1) args(1) else
      java.nio.file.Files.createTempDirectory("graft-demo").toString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val edges = LinkGraph.edges(spark, sfDir).persist()
    val verts = LinkGraph.vertices(spark, sfDir).persist()
    println(s"[demo] graph: ${verts.count()} vertices, ${edges.count()} directed edges")

    val blocks = BlockMatrix.fromEdges(edges, 256)
    val stats = BlockMatrix.blockStats(blocks)
      .agg(count(lit(1)).as("blocks"), sum("nnz").as("nnz")).first()
    println(s"[demo] block-CSR: ${stats.getLong(0)} blocks, nnz=${stats.getLong(1)}")

    val plain = PageRank.run(edges, verts).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val store = new SnapshotStore(snapDir)
    PageRank.resumable(edges, verts, store, iters = 10, stopAfter = Some(4))
    println(s"[demo] simulated crash at iteration ${store.latest().get.iteration}; resuming")
    val resumed = new SnapshotStore(snapDir)
    val rr = PageRank.resumable(edges, verts, resumed, iters = 10)
      .select(col("v"), round(col("r"), 6).as("pr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxDiff = plain.map { case (k, v) => math.abs(v - rr(k)) }.max
    val snaps = resumed.snapshots()
    println(f"[demo] resumed-vs-plain max|Δ| = $maxDiff%.2e over ${plain.size} vertices; " +
      s"${snaps.length} snapshots, lineage ${snaps.map(_.iteration).mkString("→")}, " +
      s"last nnz=${snaps.last.nnz} flops=${snaps.last.flops}")
    val ok = maxDiff == 0.0
    println(s"[demo] ${if (ok) "PASS" else "DIVERGENCE"}")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
