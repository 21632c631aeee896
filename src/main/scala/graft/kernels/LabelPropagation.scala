package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation with the argmax-count "semiring"
  * (reference Applications/CC_ipdps18/HPCGraph/0.1/labelprop.cpp:67-260).
  *
  * Per round, every vertex adopts the label most frequent among its
  * neighbors (edges are symmetric, so in+out neighbors as in the
  * reference); vertices with no neighbors keep their own label
  * (labelprop.cpp keep-own semantics). The reference's tiebreak is
  * hash-map iteration order (labelprop.cpp:227 `get_max_key`) — an
  * unspecified order — so we PIN the deterministic tiebreak
  * (max count, then min label) and encode the same rule in the oracle.
  *
  * Scale design: the edge table is persisted ONCE (pre-partitioned by src
  * in the shuffle-join regime) — per round only the label vector moves.
  * The count-then-argmax is two hash aggregates, both map-side combinable:
  * the argmax is a struct-max (count, −label) — lexicographic struct
  * ordering implements the pinned tiebreak with partial aggregation, where
  * a row_number window would force a per-vertex sort instead. A fixed
  * round count keeps the result well-defined (synchronous LP may
  * oscillate).
  */
object LabelPropagation {

  /** Vector sizes below this broadcast into the edge join; above it the
    * labels shuffle to the src-partitioned edge table (only the 8-byte
    * label rows move — the per-round broadcast is a serial term that does
    * not shrink with executors, so at-scale runs want the shuffle path). */
  val BroadcastMax: Long =
    sys.env.getOrElse("SPARK_GRAFT_LP_BCAST_MAX", "5000000").toLong

  /** @param edges symmetric (src, dst); @return (vid: long, label: long) */
  def run(edges: DataFrame, vertices: DataFrame, rounds: Int = 5): DataFrame =
    lp(edges, vertices, rounds, None, None)

  /** Checkpointed run: commits every round's label vector to `store`
    * (atomic manifest + per-partition lineage + nnz/flop metrics) and
    * resumes from the latest snapshot. Rounds are pure functions of the
    * previous vector, so a resumed run is bit-identical to an
    * uninterrupted one. Pass `stopAfter` to abandon mid-run (crash
    * simulation). */
  def resumable(edges: DataFrame, vertices: DataFrame,
                store: graft.checkpoint.SnapshotStore, rounds: Int = 5,
                stopAfter: Option[Int] = None): DataFrame =
    lp(edges, vertices, rounds, Some(store), stopAfter)

  private def lp(edges: DataFrame, vertices: DataFrame, rounds: Int,
                 store: Option[graft.checkpoint.SnapshotStore],
                 stopAfter: Option[Int]): DataFrame = {
    val bcast = vertices.count() < BroadcastMax
    // Int-pack the persisted edge cache when ids fit 2^31: the per-round
    // join + double aggregate streams this table, and it is DRAM-bound at
    // scale — 8 bytes/edge instead of 16. The label vector is projected to
    // the same width before the join (cast on the edge side would break
    // reuse of the build-once src partitioning); counts and the struct-max
    // tiebreak are exact integer ops at either width, so results are
    // identical.
    val mm = edges.agg(
      coalesce(greatest(max(col("src")), max(col("dst"))), lit(-1L)),
      coalesce(least(min(col("src")), min(col("dst"))), lit(0L))).first()
    val idType =
      if (mm.getLong(1) >= 0 && mm.getLong(0) < Int.MaxValue.toLong) "int"
      else "bigint"
    val ePacked = edges.select(col("src").cast(idType).as("src"),
      col("dst").cast(idType).as("dst"))
    val e = (if (bcast) ePacked else ePacked.repartition(col("src"))).persist()
    val nnz = e.count()
    // 2 flops per stored edge per round: the count accumulate plus the
    // argmax struct-max compare.
    val labels = Fixpoint.run(new graft.util.Checkpoints(edges.sparkSession),
        vertices.select(col("v"), col("v").as("label")), nnz, rounds, store,
        stopAfter) { (_, _) => labels =>
      val lbl = labels.select(col("v").cast(idType).as("src"),
        col("label").cast(idType).as("label"))
      val counts = e.join(if (bcast) broadcast(lbl) else lbl.hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst").as("v"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax-count with (max c, min label) tiebreak: labels are nonneg
      // vertex ids, so max over (c, −label) structs picks it exactly
      val best = counts.groupBy("v")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("v").cast("long").as("v"),
          (-col("m.nl")).cast("long").as("newLabel"))
      labels.join(best, Seq("v"), "left")
        .select(col("v"), coalesce(col("newLabel"), col("label")).as("label"))
    }
    e.unpersist(false)
    labels.select(col("v").as("vid"), col("label"))
  }
}
