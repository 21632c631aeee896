package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.linalg.{PlusTimes, SpMV}
import graft.kernels.{ConnectedComponents, PageRank}

/** Properties (SURVEY.md §5 test plan): SpMV linearity and permutation
  * invariance of kernel results. Spark cases are
  * kept few and small (each property round-trips the cluster). */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  test("SpMV(PlusTimes) is linear: y(αx) = α·y(x)") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val pairs = RefKernels.randomGraph(30, 90, seed)
      val e = undirected(pairs)
      val alpha = 2.5
      val x1 = verticesOf(pairs).select(col("v"), (col("v") % 5 + 1).cast("double").as("xv"))
      val x2 = x1.select(col("v"), (col("xv") * alpha).as("xv"))
      val y1 = SpMV(e, x1, PlusTimes).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val y2 = SpMV(e, x2, PlusTimes).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      for ((k, v) <- y1) assert(math.abs(y2(k) - alpha * v) < 1e-9)
    }
  }

  test("kernels are invariant under vertex relabeling (permutation)") {
    for (seed <- Seq(11L, 12L)) {
      val pairs = RefKernels.randomGraph(40, 100, seed)
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      // permutation π preserving ORDER STRUCTURE is not required for CC
      // labels themselves, only for component PARTITIONS — compare those.
      val rnd = new scala.util.Random(seed)
      val perm = rnd.shuffle(verts).zip(verts).map { case (p, v) => v -> p }.toMap
      val permPairs = pairs.map { case (a, b) => (perm(a), perm(b)) }

      val cc1 = ConnectedComponents.run(undirected(pairs), verticesOf(pairs))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val cc2 = ConnectedComponents.run(undirected(permPairs), verticesOf(permPairs))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // partitions must correspond under π
      val parts1 = cc1.groupBy(_._2).values.map(_.keys.map(perm).toSet).toSet
      val parts2 = cc2.groupBy(_._2).values.map(_.keys.toSet).toSet
      assert(parts1 == parts2)

      // PageRank: scores must transport through π (allclose — sum order differs)
      val pr1 = PageRank.runExact(undirected(pairs), verticesOf(pairs), 5, 0.85)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val pr2 = PageRank.runExact(undirected(permPairs), verticesOf(permPairs), 5, 0.85)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      for ((v, s) <- pr1) assert(math.abs(pr2(perm(v)) - s) < 1e-9, s"$v")
    }
  }
}
