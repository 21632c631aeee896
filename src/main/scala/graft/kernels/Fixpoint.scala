package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.checkpoint.SnapshotStore
import graft.util.Checkpoints

/** The iteration policy shared by the SpMV fixpoint kernels (PageRank,
  * label propagation, relational FastSV): resume or initialise, step until
  * no change or the round limit, truncate lineage, commit, free.
  *
  * The driver knows nothing about the kernel that calls it. A kernel keeps
  * its own state (PageRank's sink mass, FastSV's neighbour-min and
  * convergence sums) inside the [[Step]] it builds from the starting
  * iterate.
  */
private[kernels] object Fixpoint {

  /** One kernel round. `apply` plans iterate k+1 from iterate k (the driver
    * checkpoints it); `changed` inspects the checkpointed iterate k+1, and
    * false ends the run. */
  trait Step {
    def apply(x: DataFrame): DataFrame
    def changed(next: DataFrame): Boolean = true
  }

  /** Iterate from the newest snapshot in `store`, or else from `init`
    * (committed as iteration 0), until a round reports no change or
    * `min(iters, stopAfter)` rounds are done. Each iterate is committed
    * projected to the starting iterate's columns, with `nnz` and 2·nnz
    * flops (one multiply and one add per stored edge), and replaces the one
    * before it. At the end every frame `cp` tracks is freed except the
    * result and `keep`.
    * @param start builds the kernel's step from the starting iterate and
    *              its iteration number
    * @return the last iterate */
  def run(cp: Checkpoints, init: => DataFrame, nnz: Long, iters: Int,
          store: Option[SnapshotStore], stopAfter: Option[Int],
          keep: Seq[DataFrame] = Nil)
         (start: (DataFrame, Int) => Step): DataFrame = {
    val resumed = store.flatMap(_.latest())
    var x = resumed match {
      case Some(s) => cp(store.get.load(cp.spark, s))
      case None =>
        val x0 = cp(init)
        store.foreach(_.commit(x0, 0, nnz, 0L))
        x0
    }
    var it = resumed.map(_.iteration).getOrElse(0)
    val committed = x.columns.map(col)
    val step = start(x, it)
    val limit = stopAfter.fold(iters)(math.min(_, iters))
    var changed = true
    while (changed && it < limit) {
      it += 1
      val next = cp(step(x))
      changed = step.changed(next)
      store.foreach(_.commit(next.select(committed: _*), it, nnz, 2L * nnz))
      cp.free(x)
      x = next
    }
    cp.freeAllExcept(x +: keep: _*)
    x
  }
}
