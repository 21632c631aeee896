package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.linalg.{Select2ndMin, SpMV}

/** Connected components via FastSV-style min-label iteration
  * (reference Applications/FastSV.h:335-374; LACC semantics CC.h:1404-1544).
  *
  * Each iteration over symmetric edges:
  *   1. mngp(v)  = min over in-neighbors u of f(u)       — SpMV⟨Select2ndMin⟩
  *   2. hooking  : cand(L) = min over the tree {v : f(v)=L} of mngp(v) — the
  *      scatter-with-min-reduction of reference CC.h:746-1028 `Assign`; the
  *      candidate is folded back to EVERY tree member in the same join
  *      (hook + spread fused):  f'(v) = min(f(v), mngp(v), cand(f(v)))
  *   3. shortcut : f''(v) = f'(f'(v))                    — pointer jumping
  *      (reference FastSV.h:359-366 `Extract` gather), realized against the
  *      LABEL-RESTRICTED map only (one row per live label, not per vertex).
  *
  * Per-vertex labels are monotone non-increasing and component-closed, so
  * the fixpoint is the exact min vertex id per component — LACC `LabelCC`
  * semantics.
  *
  * Scale design (what survives 1000 executors):
  *  - the edge table is persisted ONCE (pre-partitioned by src in the
  *    shuffle-join regime) — per iteration only the n-row label vector
  *    moves, never the edges;
  *  - CHANGE-VECTOR frontier (round 5): labels are monotone non-increasing,
  *    so the neighbor-min vector mngp is maintained INCREMENTALLY —
  *    mngp'(v) = min(mngp(v), min over changed neighbors u of f'(u)).
  *    Only round 1 pays the full O(E) SpMV join + aggregate; every later
  *    round scans the cached edges once sequentially (a codegen'd hash
  *    probe against the shrinking changed set) and aggregates only
  *    O(Σ deg(changed)) rows. The per-round O(E) hash aggregation — the
  *    DRAM-latency term that capped the scale-23 2→8-core pair at 0.53 —
  *    exists only while the frontier is dense. Values are integer mins,
  *    so per-round labels are bit-identical to the full recompute;
  *  - f ⋈ mngp is fused into one (v, label, mngp) state frame (round 1 of
  *    this engine joined them twice);
  *  - `hooks` (one row per live label) and the shortcut `labelMap` SHRINK
  *    geometrically: once the live-label count — tracked exactly by the
  *    convergence scan, and never increasing — drops under the broadcast
  *    ceiling, hooking and shortcutting become broadcast joins and the
  *    n-row tables stop shuffling entirely. On a web graph with a giant
  *    component this happens after round 1, cutting the serial floor from
  *    ~6 to ~2 exchanges per iteration;
  *  - convergence = unchanged label sum, one scan of the cached vector
  *    (the reference's cheap Allreduce test, FastSV.h:364), fused with the
  *    live-label count in the same aggregate.
  */
object ConnectedComponents {

  /** Vector sizes below this use a broadcast SpMV join (the persisted edge
    * table is never re-shuffled — CombBLAS's Allgatherv analog). Measured
    * crossover (BENCH.md round 2): broadcasting the label vector wins up to
    * ~1M connected vertices; past that the per-iteration driver collect is
    * the Amdahl bottleneck and the pre-partitioned shuffle join scales. */
  val BroadcastMax = 1000000L

  /** Broadcast ceiling for the per-iteration small tables (hooks/labelMap),
    * keyed by live-label count. */
  val SmallMax: Long =
    sys.env.getOrElse("SPARK_GRAFT_BCAST_MAX", "200000").toLong

  /** Vertex-id spaces up to this size run the in-memory label-vector
    * kernel ([[BlockCC]] — one treeAggregate job per round plus free
    * driver-side full pointer compression, ~4 rounds instead of ~14);
    * beyond it the fully-distributed relational FastSV runs. 2^23 labels
    * = 32 MB per per-partition accumulator — the array path's footprint
    * is O(V) per task, which is why its ceiling sits far below
    * [[BFS.BitmapMax]]'s. */
  val ArrayMax: Long =
    sys.env.getOrElse("SPARK_GRAFT_CC_ARRAY_MAX", (1L << 23).toString).toLong

  /** @param edges symmetric (src, dst); @return (vid: long, component: long) */
  def run(edges: DataFrame, vertices: DataFrame, maxIters: Int = 50,
          broadcastMax: Long = BroadcastMax,
          arrayMax: Long = ArrayMax): DataFrame = {
    if (arrayMax > 0) {
      // Probe min ids too: negative vertex ids are legal on the relational
      // FastSV path but would mis-bucket in the packed-long block build —
      // fall through to relational rather than corrupt.
      val vr = vertices.agg(coalesce(max(col("v")), lit(-1L)),
        coalesce(min(col("v")), lit(0L))).first()
      val er = edges.agg(
        coalesce(greatest(max(col("src")), max(col("dst"))), lit(-1L)),
        coalesce(least(min(col("src")), min(col("dst"))), lit(0L))).first()
      val maxId = math.max(vr.getLong(0), er.getLong(0))
      val minId = math.min(vr.getLong(1), er.getLong(1))
      if (minId >= 0 && maxId >= 0 && maxId + 1 <= arrayMax)
        return BlockCC.run(edges, vertices, maxId, maxIters = maxIters)
    }
    fastsv(edges, vertices, maxIters, broadcastMax, None, None)
  }

  /** Checkpointed FastSV: commits every iteration's label vector to `store`
    * (atomic manifest + per-partition lineage + nnz/flop metrics) and
    * resumes from the latest snapshot — the convergence state (label sum,
    * live-label count) is re-derived from the loaded vector with the same
    * one-scan aggregate the loop already runs, so a resumed run continues
    * bit-identically. Pass `stopAfter` to abandon mid-run (crash
    * simulation). Always the fully-distributed relational kernel: per-round
    * parquet commits would dominate the in-memory array kernel's 1-3 s
    * rounds, and at the scale where resumability matters (above
    * [[ArrayMax]]) the relational path is the dispatch target anyway. */
  def resumable(edges: DataFrame, vertices: DataFrame,
                store: graft.checkpoint.SnapshotStore, maxIters: Int = 50,
                broadcastMax: Long = BroadcastMax,
                stopAfter: Option[Int] = None): DataFrame =
    fastsv(edges, vertices, maxIters, broadcastMax, Some(store), stopAfter)

  private def fastsv(edges: DataFrame, vertices: DataFrame, maxIters: Int,
                     broadcastMax: Long,
                     store: Option[graft.checkpoint.SnapshotStore],
                     stopAfter: Option[Int]): DataFrame = {
    val cp = new graft.util.Checkpoints(edges.sparkSession)
    val e = edges.select("src", "dst")
    // Isolated vertices are their own component by construction and can
    // never change label — iterating over them only pads every per-round
    // table AND keeps the live-label count pinned above the broadcast
    // ceiling (on RMAT/web graphs a third of the id space is isolated, so
    // without this the hooks/label-map tables never become broadcastable).
    val connected = cp(vertices
      .join(e.select(col("src").as("v")), Seq("v"), "left_semi"))
    val isolated = vertices.join(connected, Seq("v"), "left_anti")
    val nVerts = connected.count()
    val bcast = nVerts < broadcastMax
    val eP = (if (bcast) e else e.repartition(col("src"))).persist()
    val nnz = eP.count()
    // Sum as DECIMAL(38) so 10^12 × 10^12-scale ids can't overflow.
    def scan(df: DataFrame): (java.math.BigDecimal, Long) = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)")),
        count_distinct(col("label"))).first()
      (r.getDecimal(0), r.getLong(1))
    }
    // In-loop variant: the frame carries oldLabel, so the changed-vertex
    // count rides the same one-scan aggregate (it gates the frontier
    // broadcasts below — labelCount is NOT a bound on it: one surviving
    // label can still mean millions of vertices that just adopted it).
    def scan3(df: DataFrame): (java.math.BigDecimal, Long, Long) = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)")),
        count_distinct(col("label")),
        count(when(col("label") =!= col("oldLabel"), 1))).first()
      (r.getDecimal(0), r.getLong(1), r.getLong(2))
    }
    // The iterate is the round's (v, oldLabel, mngp, label) frame; the
    // driver commits its (v, label) projection. 2 flops per stored edge per
    // round: the Select2ndMin compare folded into the maintained mngp merge
    // plus the hook/shortcut min fold.
    val labels = Fixpoint.run(cp, connected.select(col("v"), col("v").as("label")),
        nnz, maxIters, store, stopAfter, keep = Seq(connected)) { (f0, from) =>
      new Fixpoint.Step {
        // On resume the convergence state comes from the same one-scan
        // aggregate over the loaded vector (an extra fixpoint round is a
        // no-op by label monotonicity, so a run resumed at convergence
        // still ends with identical labels).
        var (prevSum, labelCount) =
          if (from == 0) (scan(f0)._1, nVerts) // live labels never grow
          else scan(f0)
        var nChanged = 0L
        // The loop state fuses the label vector with the maintained
        // neighbor-min: (v, label, mngp) where mngp(v) = min over
        // neighbors u of label(u).
        var state: DataFrame = null

        def small(df: DataFrame): DataFrame =
          if (labelCount < SmallMax) broadcast(df) else df

        /** (v, label, mngp) for the iterate `x` a round starts from. */
        private def mngpState(x: DataFrame): DataFrame =
          if (x eq f0) {
            // ONE full SpMV for the starting vector. Every connected vertex
            // has an in-neighbor (edges are symmetric), so the coalesce
            // never actually fires — it is belt-and-braces for degenerate
            // inputs.
            val mngp0 = SpMV(eP, f0.select(col("v"), col("label").as("xv")),
                Select2ndMin, broadcastX = bcast)
              .select(col("v"), col("yv").as("mngp"))
            cp(f0.join(mngp0, Seq("v"), "left")
              .select(col("v"), col("label"),
                coalesce(col("mngp"), col("label")).as("mngp")))
          } else {
            // Change-vector mngp maintenance: only edges OUT of vertices
            // whose label just dropped can lower a neighbor's mngp (labels
            // are monotone non-increasing, so the min never needs
            // un-doing). The join streams the cached edge table once
            // (sequential probe against the changed build side — never a
            // re-shuffle of the edges) and the aggregate sees only
            // O(Σ deg(changed)) rows. deltas is checkpointed so its ROW
            // COUNT (≤ Σ deg(changed) distinct dsts — nChanged alone does
            // not bound it through hubs) can pick broadcast vs shuffle for
            // the state merge for free.
            val chg = x.filter(col("label") =!= col("oldLabel"))
              .select(col("v").as("cv"), col("label").as("clabel"))
            val chgJ = if (bcast || nChanged < SmallMax) broadcast(chg)
                       else chg.hint("shuffle_hash")
            val deltas = cp(eP.join(chgJ, eP("src") === col("cv"))
              .groupBy(eP("dst").as("v")).agg(min(col("clabel")).as("d")))
            val dJ = if (bcast || deltas.count() < SmallMax) broadcast(deltas)
                     else deltas.hint("shuffle_hash")
            val merged = cp(x.join(dJ, Seq("v"), "left")
              .select(col("v"), col("label"),
                least(col("mngp"), coalesce(col("d"), col("mngp"))).as("mngp")))
            cp.free(deltas)
            merged
          }

        def apply(x: DataFrame): DataFrame = {
          state = mngpState(x)
          // the round reads only `state` from here on: free `x` now, not
          // after the next iterate is built (the driver's free is then a
          // no-op), so `x` is not live beside `state` and the next iterate
          cp.free(x)
          // 1. hook + spread: candidate per tree, folded back to all members
          val hooks = state.groupBy(col("label")).agg(min(col("mngp")).as("cand"))
          val hooked = state.join(small(hooks), Seq("label"), "left")
            .select(col("v"), col("label").as("oldLabel"), col("mngp"),
              least(col("label"), col("mngp"),
                coalesce(col("cand"), col("label"))).as("hlabel"))
          // 2. shortcut against the label-restricted map (small after
          // round 1). Post-hook label values are least(label, mngp, cand)
          // — every one a PRE-hook label of some vertex — so the map's
          // domain is exactly hooks' key set, already computed: no extra
          // n-row distinct needed.
          val labelMap = hooked.join(small(hooks.select(col("label").as("v"))),
              Seq("v"), "left_semi")
            .select(col("v").as("pv"), col("hlabel").as("glabel"))
          // (A second pointer-jump per round was tried and measured SLOWER
          // at scale-22 — the extra materialization outweighs the saved
          // rounds.)
          hooked.join(small(labelMap), col("hlabel") === col("pv"), "left")
            .select(col("v"), col("oldLabel"), col("mngp"),
              coalesce(col("glabel"), col("hlabel")).as("label"))
        }

        override def changed(next: DataFrame): Boolean = {
          val (s, lc, nc) = scan3(next)
          cp.free(state)
          val moved = s.compareTo(prevSum) != 0
          prevSum = s; labelCount = lc; nChanged = nc
          moved
        }
      }
    }
    eP.unpersist(false)
    // `isolated` is an anti-join against `connected`, so the result still
    // reads the connected frame, which the driver keeps.
    labels.select(col("v"), col("label"))
      .unionByName(isolated.select(col("v"), col("v").as("label")))
      .select(col("v").as("vid"), col("label").as("component"))
  }
}
