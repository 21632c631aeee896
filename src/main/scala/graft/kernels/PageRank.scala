package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.checkpoint.SnapshotStore
import graft.util.Checkpoints

/** PageRank over the (+, *) semiring — the flagship SpMV iteration.
  *
  * Semantics follow the reference implementation bundled with CombBLAS
  * (Applications/CC_ipdps18/HPCGraph/0.1/pagerank.cpp:59-182): damping
  * d = 0.85, init 1/n, out-degree normalization, dangling-vertex mass
  * redistributed uniformly each iteration:
  *   pr'(v) = (1-d)/n + d * (Σ_{(u,v)∈E} pr(u)/outdeg(u) + sinkSum/n)
  *
  * Scale design (the plan you'd want at 1000 executors):
  *  - STATIC operands built once and persisted: the degree-normalized edge
  *    table (w = 1/outdeg — DimApply, reference SpParMat.cpp:801-887) and
  *    the dangling vertex set. Per iteration only the rank vector moves —
  *    the analog of building DCSC once (reference SpParMat.cpp:2893);
  *  - the rank vector is BROADCAST into the SpMV join when it fits
  *    (vertices < broadcastMax): the edge table is never re-shuffled, which
  *    is exactly CombBLAS's dense-vector Allgatherv down the process column
  *    (reference ParFriends.h:1938-2010). Past the threshold it degrades to
  *    a shuffle hash join and AQE takes over;
  *  - the contribution aggregate is map-side combined (their per-process
  *    local SpMV + MPI_Reduce along the proc row);
  *  - dangling mass: one semi-join aggregate on the cached vector, folded
  *    back lazily via a broadcast 1-row cross join — no driver action in
  *    the loop;
  *  - the loop is [[Fixpoint]]'s, shared with label propagation and
  *    FastSV: it truncates lineage every iteration so planning cost stays
  *    O(1) in iteration count, and for [[resumable]] commits every
  *    iteration to a [[SnapshotStore]] (Iceberg-style manifest,
  *    per-partition lineage, nnz/flop metrics) and restarts from the latest
  *    snapshot. `run`, `runExact`, `profile` and `resumable` all go
  *    through the one private `iterate`.
  */
object PageRank {

  /** Vector sizes below this use a broadcast SpMV join. Above it, the
    * broadcast build (a serial driver-side collect) becomes the Amdahl
    * bottleneck, so the pre-partitioned shuffle join wins — the same
    * dense/sparse switch the reference hand-rolls (CC.h:1256-1294). */
  val BroadcastMax: Long =
    sys.env.getOrElse("SPARK_GRAFT_BCAST_MAX", "200000").toLong

  /** @return (vid: long, pr: double rounded to 6 decimals) */
  def run(edges: DataFrame, vertices: DataFrame, iters: Int = 10,
          d: Double = 0.85): DataFrame =
    runExact(edges, vertices, iters, d)
      .select(col("v").as("vid"), round(col("r"), 6).as("pr"))

  private case class Ctx(edgesNorm: DataFrame, dangling: DataFrame,
                         noInbound: DataFrame, verts: DataFrame,
                         n: Long, nnz: Long, bcast: Boolean,
                         /** persisted edge-cache id width: "int" when every
                           * id fits 2^31 (cuts the per-iteration DRAM scan
                           * of the cached table — the measured wall at
                           * scale-23 — from 24 to 12 bytes/edge), "bigint"
                           * beyond. */
                         idType: String,
                         /** #dangling when every dangling vertex is isolated
                           * (no in-edges) — then the sink mass follows a
                           * closed-form driver-side recurrence and the
                           * per-iteration sink aggregation job disappears.
                           * None → general semi-join path. */
                         isolatedSinks: Option[Long])

  private def prepare(edges: DataFrame, vertices: DataFrame,
                      broadcastMax: Long = BroadcastMax): Ctx = {
    val n = vertices.count()
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // Int-pack when ids fit: (src, dst, od) as 3 ints = 12 bytes/edge in
    // the columnar cache vs (long, long, double)'s 24. w = 1.0/od computed
    // at scan time is the SAME double the old cache stored, so results are
    // bit-identical; the division is pipelined compute on a scan that is
    // DRAM-bandwidth-bound, so halving the bytes is a straight win.
    val mm = edges.agg(
      coalesce(greatest(max(col("src")), max(col("dst"))), lit(-1L)),
      coalesce(least(min(col("src")), min(col("dst"))), lit(0L))).first()
    val idType =
      if (mm.getLong(1) >= 0 && mm.getLong(0) < Int.MaxValue.toLong) "int"
      else "bigint"
    // Pre-partitioned by src ONCE: in the shuffle-join path only the rank
    // vector moves per iteration (the 2D-distribution-built-once analog).
    val edgesNorm = edges.join(outdeg, "src")
      .select(col("src").cast(idType).as("src"),
        col("dst").cast(idType).as("dst"),
        col("outdeg").cast(idType).as("od"))
      .repartition(col("src"))
      .persist()
    val nnz = edgesNorm.count()
    val verts = vertices.persist()
    val dangling = verts
      .join(outdeg.select(col("src").as("v")), Seq("v"), "left_anti").persist()
    dangling.count()
    // Vertices with no in-edges are STATIC: their new rank needs no join,
    // only the per-iteration sink scalar — so the assembly is a union, not
    // a verts-wide join.
    val noInbound = verts
      .join(edges.select(col("dst").as("v")).distinct(), Seq("v"), "left_anti")
      .persist()
    noInbound.count()
    val kDangling = dangling.count()
    val danglingWithIn = dangling
      .join(edges.select(col("dst").as("v")).distinct(), Seq("v"), "left_semi")
      .count()
    val iso = if (danglingWithIn == 0) Some(kDangling) else None
    Ctx(edgesNorm, dangling, noInbound, verts, n, nnz, n < broadcastMax,
      idType, iso)
  }

  /** One synchronous iteration (pure function of the previous vector).
    * `sinkIn` is the current dangling mass when the closed-form recurrence
    * applies (isolated sinks); None → compute it with a semi-join agg. */
  private def step(ctx: Ctx, pr: DataFrame, d: Double,
                   sinkIn: Option[Double]): DataFrame = {
    // shuffle_hash on the vector side: build the hash table from the small
    // rank vector and stream the static edge table — never sort-merge
    // (sorting 16M cached edge rows per iteration is pure waste). The rank
    // vector is projected to the cache's id width FIRST so the join keys
    // match natively — a cast on the edge side would both widen the probe
    // and break reuse of the build-once src partitioning.
    val prW = pr.select(col("v").cast(ctx.idType).as("v"), col("r"))
    val x = if (ctx.bcast) broadcast(prW) else prW.hint("shuffle_hash")
    val contribs = ctx.edgesNorm.join(x, ctx.edgesNorm("src") === x("v"))
      .groupBy(ctx.edgesNorm("dst").as("v"))
      .agg(sum((lit(1.0) / col("od")) * col("r")).as("s"))
      .select(col("v").cast("long").as("v"), col("s"))
    val sink = sinkIn match {
      case Some(sv) =>
        val spark = pr.sparkSession
        import spark.implicits._
        broadcast(Seq(sv).toDF("sinkSum"))
      case None => broadcast(sinkSum(ctx, pr))
    }
    def formula(s: org.apache.spark.sql.Column) =
      lit((1 - d) / ctx.n) + lit(d) * (s + col("sinkSum") / ctx.n)
    contribs.crossJoin(sink).select(col("v"), formula(col("s")).as("r"))
      .unionByName(ctx.noInbound.crossJoin(sink)
        .select(col("v"), formula(lit(0.0)).as("r")))
  }

  /** The dangling mass of `pr`: one semi-join aggregate, 1 row. */
  private def sinkSum(ctx: Ctx, pr: DataFrame): DataFrame =
    pr.join(ctx.dangling, Seq("v"), "left_semi")
      .agg(coalesce(sum(col("r")), lit(0.0)).as("sinkSum"))

  private def release(ctx: Ctx): Unit = {
    ctx.edgesNorm.unpersist(false); ctx.dangling.unpersist(false)
    ctx.noInbound.unpersist(false); ctx.verts.unpersist(false)
  }

  /** The one PageRank loop, on [[Fixpoint]]. For isolated sinks the sink
    * mass follows the driver-side recurrence sink' = k · ((1−d)/n +
    * d·sink/n) (every isolated vertex holds the same rank); a run resumed
    * past iteration 0 recovers it with one aggregate. */
  private def iterate(ctx: Ctx, iters: Int, d: Double,
                      store: Option[SnapshotStore],
                      stopAfter: Option[Int]): DataFrame =
    Fixpoint.run(new Checkpoints(ctx.verts.sparkSession),
        ctx.verts.select(col("v"), lit(1.0 / ctx.n).as("r")), ctx.nnz, iters,
        store, stopAfter) { (pr0, from) =>
      var sink = ctx.isolatedSinks.map { k =>
        if (from == 0) k * (1.0 / ctx.n)
        else sinkSum(ctx, pr0).first().getDouble(0)
      }
      pr => {
        val next = step(ctx, pr, d, sink)
        sink = for (k <- ctx.isolatedSinks; s <- sink)
          yield k * ((1 - d) / ctx.n + d * s / ctx.n)
        next
      }
    }

  /** Phase-timed run for benchmarking: (prepareSec, perIterSec). */
  def profile(edges: DataFrame, vertices: DataFrame, iters: Int,
              d: Double = 0.85,
              broadcastMax: Long = BroadcastMax): (Double, Double) = {
    val t0 = System.nanoTime()
    val ctx = prepare(edges, vertices, broadcastMax)
    val t1 = System.nanoTime()
    iterate(ctx, iters, d, None, None)
    val t2 = System.nanoTime()
    release(ctx)
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9 / iters)
  }

  /** Unrounded ranks (v: long, r: double). */
  def runExact(edges: DataFrame, vertices: DataFrame, iters: Int,
               d: Double, broadcastMax: Long = BroadcastMax): DataFrame = {
    val ctx = prepare(edges, vertices, broadcastMax)
    val pr = iterate(ctx, iters, d, None, None)
    release(ctx)
    pr
  }

  /** Checkpointed run: commits every iteration's vector to `store` and
    * resumes from the latest snapshot. Pass `stopAfter` to abandon the run
    * mid-way (crash simulation / test).
    * @return (v, r) at the last completed iteration ≤ iters */
  def resumable(edges: DataFrame, vertices: DataFrame, store: SnapshotStore,
                iters: Int = 10, d: Double = 0.85,
                stopAfter: Option[Int] = None): DataFrame = {
    val ctx = prepare(edges, vertices)
    val pr = iterate(ctx, iters, d, Some(store), stopAfter)
    release(ctx)
    pr
  }
}
