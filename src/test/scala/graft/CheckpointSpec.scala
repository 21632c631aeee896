package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.checkpoint.SnapshotStore
import graft.kernels.{ConnectedComponents, LabelPropagation, PageRank}

/** Kill-and-resume semantics (SURVEY.md §7 step 4; BASELINE.md
  * resumability row): a run interrupted mid-iteration resumes from the
  * latest snapshot and produces BIT-IDENTICAL results to an uninterrupted
  * run; manifests carry lineage + metrics; garbage manifests are ignored. */
class CheckpointSpec extends AnyFunSuite {
  import TestSpark._

  val pairs = RefKernels.randomGraph(60, 200, seed = 3L)
  lazy val e = undirected(pairs)
  lazy val v = verticesOf(pairs)

  private def tmpdir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kill-and-resume reproduces the uninterrupted run (≤1e-12)") {
    val full = ranks(PageRank.runExact(e, v, 10, 0.85))

    val root = tmpdir("resume")
    val store = new SnapshotStore(root)
    // crash after 4 iterations
    PageRank.resumable(e, v, store, iters = 10, stopAfter = Some(4))
    assert(store.latest().get.iteration == 4)
    // resume in a "new process" (fresh store handle) and finish
    val store2 = new SnapshotStore(root)
    val resumed = ranks(PageRank.resumable(e, v, store2, iters = 10))
    assert(resumed.keySet == full.keySet)
    for ((k, x) <- resumed)
      assert(math.abs(x - full(k)) < 1e-12, s"$k: $x vs ${full(k)}")
    assert(store2.latest().get.iteration == 10)
    // resuming a finished run commits nothing and returns the same vector
    val again = ranks(PageRank.resumable(e, v, new SnapshotStore(root), iters = 10))
    assert(again == resumed, "resume of a finished run changed the ranks")
    assert(store2.snapshots().length == 11, "resume of a finished run committed")
  }

  test("manifests carry lineage chain and nnz/flop metrics") {
    // (kernel, run 3 iterations into a store). Every vertex of the random graph has an edge, so FastSV (which
    // iterates only over connected vertices) commits v.count() rows too.
    val kernels = Seq[(String, SnapshotStore => Unit)](
      "pagerank" -> (s => PageRank.resumable(e, v, s, iters = 3)),
      "cc" -> (s => ConnectedComponents.resumable(e, v, s, maxIters = 3)),
      "lp" -> (s => LabelPropagation.resumable(e, v, s, rounds = 3)))
    val nnz = e.count()
    val rows = v.count()
    for ((name, run) <- kernels) {
      val store = new SnapshotStore(tmpdir(s"lineage-$name"))
      run(store)
      val snaps = store.snapshots()
      assert(snaps.map(_.iteration) == (0 to 3), name) // init + 3 iterations
      assert(snaps.head.parentId == -1L, name)
      assert(snaps.sliding(2).forall { case Seq(a, b) => b.parentId == a.snapshotId }, name)
      for (s <- snaps) {
        assert(s.nnz == nnz, s"$name @${s.iteration}: nnz ${s.nnz}")
        assert(s.flops == (if (s.iteration == 0) 0L else 2 * nnz),
          s"$name @${s.iteration}: flops ${s.flops}")
        assert(s.rows == rows, s"$name @${s.iteration}: rows ${s.rows}")
      }
      // per-partition lineage sidecar exists and sums to the row count
      val ps = store.partitionStats(spark, snaps.last)
      assert(ps.agg(org.apache.spark.sql.functions.sum("rows")).collect()(0).getLong(0) == rows, name)
    }
  }

  test("CC kill-and-resume is bit-identical to the uninterrupted run") {
    // arrayMax=0 forces the relational FastSV path — the one resumable()
    // always takes (same labels either way, asserted by KernelSpec).
    val full = labels(ConnectedComponents.run(e, v, arrayMax = 0L))
    val root = tmpdir("cc-resume")
    ConnectedComponents.resumable(e, v, new SnapshotStore(root),
      stopAfter = Some(2))
    val store2 = new SnapshotStore(root)
    assert(store2.latest().get.iteration == 2)
    val resumed = labels(ConnectedComponents.resumable(e, v, store2))
    assert(resumed == full, "resumed CC differs from uninterrupted run")
    // resuming an already-converged run is a no-op round, same labels
    val again = labels(ConnectedComponents.resumable(e, v, new SnapshotStore(root)))
    assert(again == full, "resume-at-convergence changed labels")
    val snaps = store2.snapshots()
    assert(snaps.map(_.iteration) == (0 until snaps.length))
    assert(snaps.sliding(2).forall { case Seq(a, b) => b.parentId == a.snapshotId })
    assert(snaps.last.flops == 2 * e.count())
  }

  test("label propagation kill-and-resume is bit-identical") {
    val full = labels(LabelPropagation.run(e, v, rounds = 5))
    val root = tmpdir("lp-resume")
    LabelPropagation.resumable(e, v, new SnapshotStore(root), rounds = 5,
      stopAfter = Some(3))
    val store2 = new SnapshotStore(root)
    assert(store2.latest().get.iteration == 3)
    val resumed = labels(LabelPropagation.resumable(e, v, store2, rounds = 5))
    assert(resumed == full, "resumed LP differs from uninterrupted run")
    assert(store2.snapshots().map(_.iteration) == Seq(0, 1, 2, 3, 4, 5))
    // resuming a finished run commits nothing and returns the same vector
    val again = labels(LabelPropagation.resumable(e, v, new SnapshotStore(root), rounds = 5))
    assert(again == full, "resume of a finished run changed the labels")
    assert(store2.snapshots().length == 6, "resume of a finished run committed")
  }

  test("garbage and torn manifests are ignored on resume") {
    val root = tmpdir("garbage")
    val store = new SnapshotStore(root)
    PageRank.resumable(e, v, store, iters = 2)
    Files.writeString(Paths.get(root, "manifest-999999.json"), "{ torn garbage")
    Files.writeString(Paths.get(root, ".manifest-7.tmp"), "{}")
    val store2 = new SnapshotStore(root)
    assert(store2.latest().get.iteration == 2)
  }
}
