package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.linalg._

/** Differential tests: the 2D block-CSR path must equal the plain
  * DataFrame path (SURVEY.md §7 build order step 3). */
class BlockSpec extends AnyFunSuite {
  import TestSpark._

  val pairs = RefKernels.randomGraph(100, 400, seed = 11L)
  lazy val e = undirected(pairs).persist()
  lazy val v = verticesOf(pairs).persist()

  test("block build: nnz conserved, blocks keyed correctly") {
    val blocks = BlockMatrix.fromEdges(e, 32)
    val stats = BlockMatrix.blockStats(blocks).collect()
    assert(stats.map(_.getLong(2)).sum == e.count())
    assert(stats.forall(r => r.getInt(0) >= 0 && r.getInt(1) >= 0))
  }

  test("block SpMV (+,*) equals DataFrame SpMV") {
    val spark2 = spark
    import spark2.implicits._
    val x = v.select(col("v"), (col("v") % 5 + 1).cast("double").as("xv"))
    val plain = SpMV(e, x, PlusTimes).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val blocks = BlockMatrix.fromEdges(e, 32)
    val nb = BlockMatrix.numBlocks(100, 32)
    val y = BlockMatrix.toVector(
      BlockMatrix.spmv(blocks, BlockMatrix.toSegments(x, 32, nb), 32, 0.0, _ + _, _ * _),
      32, suppress = Some(0.0))
    val blocked = y.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(blocked == plain)
  }

  test("block SpMV (min, select2nd) equals DataFrame SpMV") {
    val x = v.select(col("v"), col("v").cast("double").as("xv"))
    val plain = SpMV(e, x, Select2ndMin).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val blocks = BlockMatrix.fromEdges(e, 32)
    val nb = BlockMatrix.numBlocks(100, 32)
    val inf = Double.PositiveInfinity
    val y = BlockMatrix.toVector(
      BlockMatrix.spmv(blocks, BlockMatrix.toSegments(x, 32, nb), 32, inf,
        math.min, (_, xv) => xv),
      32, suppress = Some(inf))
    val blocked = y.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(blocked == plain)
  }

  test("block SpGEMM equals relational SpGEMM (A²)") {
    val spark2 = spark
    import spark2.implicits._
    val we = e.withColumn("w", (col("src") % 3 + 1).cast("double"))
    val plain = graft.operators.MatrixOps.spgemm(we, we, PlusTimes).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val blocks = BlockMatrix.fromEdges(we, 32)
    val c = BlockMatrix.spgemm(blocks, blocks, 32, 0.0, _ + _, _ * _)
    val blocked = BlockMatrix.toCoo(c, 32).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(blocked.keySet == plain.keySet)
    for ((k, v) <- plain) assert(math.abs(blocked(k) - v) < 1e-9, s"$k")
  }

  test("phased SpGEMM (MemEfficient analog) equals single-phase") {
    val spark2 = spark
    import spark2.implicits._
    val we = e.withColumn("w", (col("src") % 3 + 1).cast("double"))
    val blocks = BlockMatrix.fromEdges(we, 32)
    val nb = BlockMatrix.numBlocks(100, 32)
    def coo(c: org.apache.spark.sql.Dataset[MatrixBlock]) =
      BlockMatrix.toCoo(c, 32).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val one = coo(BlockMatrix.spgemm(blocks, blocks, 32, 0.0, _ + _, _ * _))
    val phased = coo(BlockMatrix.spgemmPhased(blocks, blocks, 32, nb, 3, 0.0, _ + _, _ * _))
    assert(one == phased)
  }
}
