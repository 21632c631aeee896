package graft.kernels

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank with an in-memory rank vector — the third member of the
  * array-kernel family ([[BlockBFS]], [[BlockCC]]), for the regime where
  * |V| doubles fit in driver/executor memory (32 MB at 2^22 — the
  * FullyDistVec dense-vector analog; CombBLAS allgathers exactly this
  * array down the processor column per SpMV, ParFriends.h:1938-2010).
  *
  * Per iteration: broadcast the rank array, ONE job scans the persisted
  * value-carrying CSR blocks (w = 1/outdeg folded in at build, so the
  * matrix is column-stochastic over non-dangling sources) and emits
  * per-rowBlock partial contribution segments. The merge is adaptive on
  * MEASURED partial volume ([[DriverCollectMaxBytes]]): small partial
  * sets are collected directly and merged in-process (ONE stage per
  * iteration — the two-stage executor merge was a measured 0.2 s/iter of
  * pure scheduling at scale-22); large ones merge per rowBlock on
  * executors first (one keyed shuffle of dense segments) so the driver
  * collects only the merged |V| doubles. Either way the driver recovers
  * the dangling mass as Σx − Σy (each non-dangling column sums to 1) and
  * applies the teleport formula in a flat array pass. The relational path's 2 keyed per-edge exchanges
  * become at most one per-segment exchange plus a ≤128 MB collect.
  *
  * Determinism: per-row columns are sorted at build
  * ([[BlockBuild.csrValBlocks]]), blocks emit in (rb, cb) order, and the
  * driver adds partial segments in (rb, partitionId) order — the FP sum
  * order is fixed for a fixed shuffle-partition count. Across DIFFERENT
  * partition counts (or vs the relational path's hash aggregation) sums
  * agree to ulps, not bits — so the gate's exact-hash pagerank query
  * stays on the relational kernel and this one is differential-tested
  * against it at 1e-9 (tighter than the north rule's 1e-6 allclose).
  *
  * Beyond ~2^27 vertices the rank array outgrows sensible broadcast
  * sizes and the relational kernel (vector-only movement, keyed joins)
  * is the path that scales on executors — same regime split as the other
  * array kernels.
  */
object PageRankArray {

  /** Cumulative per-phase seconds of the last [[runOn]] call — broadcast
    * (serialize + torrent write of the rank array), job (the SpMV stages
    * through collect of merged segments), driver (merge/teleport array
    * passes). Read by ScalingBench's pr_array mode so the scaling-pair
    * analysis attributes the Amdahl term to a measured phase instead of a
    * guess. Not thread-safe — bench-only. */
  @volatile var lastPhases: (Double, Double, Double) = (0.0, 0.0, 0.0)

  /** Id spaces up to this merge partial segments on the driver (the whole
    * partial set is a few MB — an executor-side merge stage is pure
    * scheduling overhead there, measured +1.4 s over 10 iterations at
    * sf0.1); above it the merge mode is chosen by MEASURED partial volume
    * (see [[DriverCollectMaxBytes]]). */
  val DriverMergeMax: Int = 1 << 20

  /** Partial-segment volume (bytes) up to which the driver collects the
    * per-(partition, rowBlock) partials DIRECTLY and merges in-process —
    * one stage per iteration instead of two. The executor-merge stage
    * halves the collected bytes but costs a full extra stage of task
    * scheduling plus a shuffle write/read of the same segments; measured
    * at scale-22 ef16 (64 MB of partials, colSplits=2) the one-stage path
    * is the faster per-iteration shape, while at 256 MB (colSplits=8,
    * round-3 v1) the two-stage merge won — the crossover this default
    * encodes. Env-tunable via SPARK_GRAFT_PR_COLLECT_MAX. */
  val DriverCollectMaxBytes: Long =
    sys.env.getOrElse("SPARK_GRAFT_PR_COLLECT_MAX", (128L << 20).toString).toLong

  /** @param edges (src, dst); @param vertices (v) — dense ids ≤ maxId
    * @param colSplits column sub-splits per rowBlock: build-time balance
    *        vs per-iteration segment-shuffle volume (= colSplits × |V|
    *        doubles — 2 measured best at scale-22: 64 MB/iter vs 8-split's
    *        256 MB for identical build time)
    * @return (vid, pr) UNROUNDED, one row per vertex (differential specs
    *         compare against [[PageRank.runExact]] at 1e-9) */
  def run(edges: DataFrame, vertices: DataFrame, iters: Int = 10,
          d: Double = 0.85, blockSize: Int = 65536,
          colSplits: Int = 2,
          collectMaxBytes: Long = DriverCollectMaxBytes): DataFrame = {
    val spark = edges.sparkSession
    val vr = vertices.agg(coalesce(max(col("v")), lit(-1L)),
      coalesce(min(col("v")), lit(0L))).first()
    val er = edges.agg(
      coalesce(greatest(max(col("src")), max(col("dst"))), lit(-1L)),
      coalesce(least(min(col("src")), min(col("dst"))), lit(0L))).first()
    val maxId = math.max(vr.getLong(0), er.getLong(0))
    require(math.min(vr.getLong(1), er.getLong(1)) >= 0,
      "array path requires non-negative ids")
    require(maxId >= 0 && maxId + 1 <= Int.MaxValue.toLong,
      "array path requires V < 2^31")
    val n = vertices.count()

    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesNorm = edges.join(outdeg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("outdeg")).as("w"))
    val blocks = BlockBuild.csrValBlocks(edgesNorm, blockSize,
        Seq(col("rb"), pmod(col("cb"), lit(colSplits))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count()
    val out = runOn(spark, blocks, vertices, (maxId + 1).toInt, n, iters, d,
      blockSize, collectMaxBytes)
    blocks.unpersist(blocking = false)
    out
  }

  /** Iterations over pre-built persisted blocks (bench kernel-2 boundary).
    * @param nIds  size of the id space (maxId + 1)
    * @param nVerts |vertices| — the PageRank n in the teleport formula */
  def runOn(spark: SparkSession, blocks: RDD[ValBlock], vertices: DataFrame,
            nIds: Int, nVerts: Long, iters: Int, d: Double,
            blockSize: Int,
            collectMaxBytes: Long = DriverCollectMaxBytes): DataFrame = {
    val sc = spark.sparkContext
    import spark.implicits._
    val bs = blockSize
    val nn = nIds
    var pr = new Array[Double](nIds)
    // init 1/n on actual vertices only (id space may be sparse)
    val isVertex = new Array[Boolean](nIds)
    vertices.select(col("v").cast("long")).as[Long].collect()
      .foreach(v => isVertex(v.toInt) = true)
    val init = 1.0 / nVerts
    var v0 = 0
    while (v0 < nIds) { if (isVertex(v0)) pr(v0) = init; v0 += 1 }

    // One-time probe: how many (partition, rowBlock) partial segments will
    // each iteration emit? Their byte volume picks the merge mode (driver
    // one-stage collect vs executor two-stage merge) — see
    // [[DriverCollectMaxBytes]]. A single cheap job over the persisted
    // blocks, outside the iteration loop.
    val segCount = blocks.mapPartitions { it =>
      val rbs = collection.mutable.HashSet[Int]()
      it.foreach(b => rbs += b.rowBlock)
      Iterator.single(rbs.size.toLong)
    }.fold(0L)(_ + _)
    val driverMerge = nIds <= DriverMergeMax ||
      segCount * bs * 8L <= collectMaxBytes

    var tBcast = 0.0; var tJob = 0.0; var tDriver = 0.0
    for (_ <- 1 to iters) {
      val tb0 = System.nanoTime()
      val bcX = sc.broadcast(pr)
      tBcast += (System.nanoTime() - tb0) / 1e9
      val tj0 = System.nanoTime()
      // Stage 1: per-partition partial contribution segments, keyed by
      // rowBlock. Stage 2: merge the partials per rowBlock IN PARALLEL on
      // executors (the old driver-side merge of all partitions × rowBlocks
      // segments — ~256 MB at scale-22 — was the measured serial term that
      // capped the 2→8-core pair efficiency at 0.28; only the merged
      // |V|-doubles vector is collected now). Adding pid-sorted keeps the
      // FP order identical to the former (rb, pid)-sorted driver merge, so
      // results are bit-unchanged for a fixed partition count.
      val partials = blocks.mapPartitionsWithIndex { (pid, iter) =>
        val x = bcX.value
        val perRb = collection.mutable.LinkedHashMap[Int, Array[Double]]()
        iter.foreach { blk =>
          val seg = perRb.getOrElseUpdate(blk.rowBlock, new Array[Double](bs))
          val cbase = blk.colBlock * bs
          val rbase = blk.rowBlock * bs
          val rMax = math.min(bs, nn - rbase)
          var r = 0
          while (r < rMax) {
            var p = blk.rowPtr(r)
            val end = blk.rowPtr(r + 1)
            var s = seg(r)
            while (p < end) {
              s += blk.values(p) * x(cbase + blk.colIdx(p))
              p += 1
            }
            seg(r) = s
            r += 1
          }
        }
        perRb.iterator.map { case (rb, seg) => (rb, (pid, seg)) }
      }
      // Below the measured partial-volume threshold, collect and merge
      // in-process, skipping a shuffle stage of pure overhead. Above it,
      // merge per rowBlock on executors. Both add pid-sorted, so the FP
      // order — and hence the result — is identical.
      val segs =
        if (driverMerge)
          partials.collect().groupBy(_._1).toArray.map { case (rb, parts) =>
            val acc = new Array[Double](bs)
            parts.sortBy(_._2._1).foreach { case (_, (_, seg)) =>
              var r = 0
              while (r < bs) { acc(r) += seg(r); r += 1 }
            }
            (rb, acc)
          }
        else
          partials.groupByKey()
            .map { case (rb, parts) =>
              val acc = new Array[Double](bs)
              parts.toArray.sortBy(_._1).foreach { case (_, seg) =>
                var r = 0
                while (r < bs) { acc(r) += seg(r); r += 1 }
              }
              (rb, acc)
            }.collect()
      bcX.destroy() // public destroy() is non-blocking in Spark 4
      tJob += (System.nanoTime() - tj0) / 1e9
      val td0 = System.nanoTime()

      val y = new Array[Double](nIds)
      segs.foreach { case (rb, seg) =>
        val rbase = rb * bs
        val rMax = math.min(bs, nIds - rbase)
        var r = 0
        while (r < rMax) { y(rbase + r) += seg(r); r += 1 }
      }
      var sx = 0.0; var sy = 0.0
      var i = 0
      while (i < nIds) { sx += pr(i); sy += y(i); i += 1 }
      val sink = sx - sy // dangling mass (columns of A sum to 1 or 0)
      val next = new Array[Double](nIds)
      val tele = (1 - d) / nVerts
      i = 0
      while (i < nIds) {
        if (isVertex(i)) next(i) = tele + d * (y(i) + sink / nVerts)
        i += 1
      }
      pr = next
      tDriver += (System.nanoTime() - td0) / 1e9
    }
    lastPhases = (tBcast, tJob, tDriver)

    val bcPr = sc.broadcast(pr)
    val out = vertices.select(col("v").cast("long")).as[Long]
      .mapPartitions { it =>
        val p = bcPr.value
        it.map(v => (v, p(v.toInt)))
      }.toDF("vid", "pr").localCheckpoint()
    bcPr.destroy()
    out
  }
}
