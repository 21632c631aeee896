package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.RMat
import graft.operators.{EWise, MatrixOps, VectorOps}

/** Coverage tests for the generalized ewise/indexing/vector operators. */
class OperatorSpec extends AnyFunSuite {
  import TestSpark._

  lazy val s2 = spark
  import s2.implicits._

  def m(rows: (Long, Long, Double)*) = rows.toDF("src", "dst", "w")
  def vec(rows: (Long, Double)*) = rows.toDF("v", "xv")

  test("ewiseApply full-outer with defaults; inner = intersect") {
    val a = m((1, 2, 1.0), (2, 3, 2.0))
    val b = m((2, 3, 10.0), (3, 4, 20.0))
    val fo = EWise.ewiseApply(a, b, _ + _).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(fo == Map((1L, 2L) -> 1.0, (2L, 3L) -> 12.0, (3L, 4L) -> 20.0))
    val in = EWise.ewiseApply(a, b, _ * _, join = "inner").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(in == Map((2L, 3L) -> 20.0))
  }

  test("subsRef and spAsgn") {
    val a = m((1, 2, 1.0), (2, 3, 2.0), (3, 1, 3.0))
    val rows = Seq(1L, 2L).toDF("v")
    val cols = Seq(2L, 3L).toDF("v")
    val sub = EWise.subsRef(a, rows, cols).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sub == Set((1L, 2L), (2L, 3L)))
    val b = m((1, 2, 9.0))
    val asg = EWise.spAsgn(a, rows, cols, b).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(asg == Map((1L, 2L) -> 9.0, (3L, 1L) -> 3.0))
  }

  test("pruneColumn thresholds per dst") {
    val a = m((1, 2, 1.0), (3, 2, 5.0), (1, 4, 2.0))
    val thr = vec((2, 3.0), (4, 1.0))
    val out = EWise.pruneColumn(a, thr).collect()
      .map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(out == Set((2L, 3L), (4L, 1L)))
  }

  test("gather / scatterMin / uniq / invert / concat / minElement") {
    val dense = vec((0, 10.0), (1, 11.0), (2, 12.0))
    val sv = vec((5, 2.0), (6, 0.0)) // gather indices 2 and 0
    val g = VectorOps.gather(sv, dense).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(g == Map(5L -> 12.0, 6L -> 10.0))

    val upd = Seq((1L, 5.0), (1L, 3.0), (2L, 20.0)).toDF("target", "xv")
    val sc = VectorOps.scatterMin(dense, upd).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sc == Map(0L -> 10.0, 1L -> 3.0, 2L -> 12.0))

    val u = VectorOps.uniq(vec((3, 7.0), (1, 7.0), (2, 8.0))).collect()
      .map(r => r.getDouble(1) -> r.getLong(0)).toMap
    assert(u == Map(7.0 -> 1L, 8.0 -> 2L))

    val inv = VectorOps.invert(vec((1, 7.0), (2, 7.0), (3, 8.0))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inv == Map(7L -> 1.0, 8L -> 3.0))

    assert(VectorOps.concat(vec((0, 1.0)), vec((0, 2.0)), 10).collect().length == 2)
    val me = VectorOps.minElement(vec((1, 5.0), (2, 3.0), (3, 3.0))).collect()(0)
    assert(me.getLong(0) == 2L && me.getDouble(1) == 3.0)
  }

  test("bandwidth stats") {
    val r = EWise.bandwidth(m((0, 5, 1.0), (2, 3, 1.0))).collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 2L && r.getLong(2) == 2L)
  }

  test("galerkin triple product: association-invariant, equals coarse group-sum") {
    import graft.operators.MatrixOps
    import graft.linalg.PlusTimes
    val rnd = new scala.util.Random(11L)
    val a = m((1 to 150).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong,
        (rnd.nextInt(5) + 1).toDouble)).distinct: _*)
    val sR = (0L until 40L).toDF("v")
      .select(expr("v div 8").as("src"), col("v").as("dst"), lit(1.0).as("w"))
    def collectG(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val left = collectG(MatrixOps.galerkin(sR, a, PlusTimes))
    // right-evaluated S·(A·Sᵀ) — Galerkin.cpp's other timed order
    val right = collectG(MatrixOps.spgemm(sR,
      MatrixOps.spgemm(a, MatrixOps.transpose(sR), PlusTimes), PlusTimes))
    assert(left == right, "association orders differ")
    val direct = collectG(a.groupBy(expr("src div 8").as("src"),
        expr("dst div 8").as("dst"))
      .agg(sum("w").as("w")).select("src", "dst", "w"))
    assert(left == direct, "triple product differs from coarse group-sum")
  }

  test("RMAT generator: deterministic, parallelism-invariant, hub-skewed") {
    val a = RMat.edges(spark, scale = 8, edgeFactor = 8, seed = 1L)
    val b = RMat.edges(spark, scale = 8, edgeFactor = 8, seed = 1L).repartition(13)
    assert(a.count() == (1L << 8) * 8)
    val sa = a.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val sb = b.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(sa.sameElements(sb))
    val deg = RMat.symmetricGraph(spark, 8, 8, 1L)
      .groupBy("src").count().agg(max("count").as("mx"), avg("count").as("mean")).collect()(0)
    assert(deg.getLong(0) > 4 * deg.getDouble(1), "RMAT should be hub-skewed")
  }

  test("selectCandidates is seeded-deterministic") {
    val degs = Seq((1L, 3L), (2L, 0L), (3L, 5L), (4L, 2L)).toDF("v", "outdeg")
    val a = VectorOps.selectCandidates(degs, 2, 7L).collect().map(_.getLong(0)).toSeq
    val b = VectorOps.selectCandidates(degs.repartition(5), 2, 7L).collect().map(_.getLong(0)).toSeq
    assert(a == b && a.length == 2 && !a.contains(2L))
  }

  test("dimApplyRows: both regimes agree; broadcast gated by vector size") {
    val a = m((1, 2, 2.0), (1, 3, 4.0), (2, 3, 6.0))
    val v = vec((1, 10.0), (2, 100.0))
    def collectD(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val expected = Map((1L, 2L) -> 20.0, (1L, 3L) -> 40.0, (2L, 3L) -> 600.0)
    val bcast = MatrixOps.dimApplyRows(a, v, _ * _, broadcastMax = Long.MaxValue)
    val shuf = MatrixOps.dimApplyRows(a, v, _ * _, broadcastMax = 0L)
    assert(collectD(bcast) == expected)
    assert(collectD(shuf) == expected)
    // plan assertions: below the gate → BroadcastHashJoin; above → no broadcast
    val bplan = bcast.queryExecution.executedPlan.toString
    assert(bplan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$bplan")
    val splan = shuf.queryExecution.executedPlan.toString
    assert(!splan.contains("BroadcastHashJoin"), s"gate must block broadcast:\n$splan")
  }

  test("inducedSubgraphStats: per-component nnz/nrows/nsrc, empty components kept") {
    // two components {1,2,3} and {10,11}, plus isolated vertex 20 and a
    // cross-component edge (3→10) that induced semantics must drop
    val edges = m((1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0), (10, 11, 1.0), (3, 10, 1.0))
      .select("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (20L, 20L))
      .toDF("vid", "component")
    val out = MatrixOps.inducedSubgraphStats(edges, labels).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      1L -> ((3L, 3L, 2L)),   // 3 vertices, 3 induced edges, srcs {1,2}
      10L -> ((2L, 1L, 1L)),  // 2 vertices, 1 induced edge, src {10}
      20L -> ((1L, 0L, 0L)))) // isolated: zero edges but still reported
  }
}
