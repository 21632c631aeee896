package perfbench

import scala.collection.mutable
import graft.pages.PageGen

/** A directed graph over dense ids `0 until n` as parallel edge arrays,
  * distinct and loop-free, sorted by (src, dst); `w` is optional. */
final case class EdgeList(n: Int, src: Array[Int], dst: Array[Int],
                          w: Array[Double] = Array.empty) {
  def m: Int = src.length

  /** Row pointers and column ids of the rows `by` (src or dst) → the other end. */
  def csr(bySrc: Boolean): (Array[Int], Array[Int]) = {
    val (row, col) = if (bySrc) (src, dst) else (dst, src)
    val ptr = new Array[Int](n + 1)
    row.foreach(r => ptr(r + 1) += 1)
    for (i <- 0 until n) ptr(i + 1) += ptr(i)
    val fill = ptr.clone()
    val adj = new Array[Int](m)
    for (e <- 0 until m) { adj(fill(row(e))) = col(e); fill(row(e)) += 1 }
    (ptr, adj)
  }

  def outDegrees: Array[Int] = { val d = new Array[Int](n); src.foreach(d(_) += 1); d }
  def inDegrees: Array[Int] = { val d = new Array[Int](n); dst.foreach(d(_) += 1); d }

  /** Order-independent fingerprint the Spark side computes the same way. */
  def checksum: Long = {
    var s = 0L
    for (e <- 0 until m) s += Reference.pairKey(src(e), dst(e))
    s
  }
}

/** Single-threaded reference results over collected edge arrays. It shares
  * no code with the modules it checks; it reads only the page generator,
  * which defines the input. Its run time is the COST baseline. */
object Reference {

  def pairKey(a: Long, b: Long): Long = a * 1000003L + b

  /** Distinct loop-free edges, sorted; `w` (if given) is keyed by the pair. */
  def edgeList(n: Int, src: Array[Int], dst: Array[Int],
               weight: Option[(Int, Int) => Double] = None): EdgeList = {
    val keys = mutable.ArrayBuilder.make[Long]
    for (i <- src.indices) if (src(i) != dst(i)) keys += (src(i).toLong << 32) | dst(i)
    val sorted = keys.result().sorted.distinct
    val s = sorted.map(k => (k >>> 32).toInt)
    val d = sorted.map(k => (k & 0xffffffffL).toInt)
    EdgeList(n, s, d, weight.map(f => s.indices.map(i => f(s(i), d(i))).toArray)
      .getOrElse(Array.empty))
  }

  def symmetrize(g: EdgeList): EdgeList =
    edgeList(g.n, g.src ++ g.dst, g.dst ++ g.src)

  /** The link graph of the crawled subset of PageGen's `nPages` pages
    * (page i is crawled iff `crawled(i)`): vid = rank of the url among all
    * crawled-page and link-target urls in byte order; duplicate links and
    * self links dropped. Also returns the number of links before dedup. */
  def webGraph(seed: Long, nPages: Int, nSites: Int, crawled: Long => Boolean): (EdgeList, Long) = {
    val pages = (0 until nPages).filter(i => crawled(i))
    val links = pages.map(i => PageGen.links(seed, i, nPages, nSites))
    val urls = (pages.map(i => PageGen.url(i, nSites)) ++ links.flatten).distinct.sorted
    val vid = urls.zipWithIndex.toMap
    val src = mutable.ArrayBuilder.make[Int]
    val dst = mutable.ArrayBuilder.make[Int]
    for ((i, ls) <- pages.zip(links); t <- ls) {
      src += vid(PageGen.url(i, nSites)); dst += vid(t)
    }
    (edgeList(urls.length, src.result(), dst.result()), links.map(_.length.toLong).sum)
  }

  /** Uniform random weighted undirected graph (both directions stored):
    * every vertex draws `draws` partners; weights are whole numbers 1..8 so
    * every sum of them is exact in any order. */
  def denseGraph(seed: Long, n: Int, draws: Int): EdgeList = {
    val a = mutable.ArrayBuilder.make[Int]
    val b = mutable.ArrayBuilder.make[Int]
    for (i <- 0 until n; t <- 0 until draws) {
      val j = java.lang.Long.remainderUnsigned(PageGen.mix(seed ^ (i.toLong * draws + t)), n).toInt
      a += i; b += j
    }
    val (s, d) = (a.result(), b.result())
    def weight(u: Int, v: Int): Double =
      1.0 + (PageGen.mix(seed * 31 + pairKey(math.min(u, v), math.max(u, v))) & 7L)
    edgeList(n, s ++ d, d ++ s, Some(weight))
  }

  /** PageRank with dangling mass spread uniformly (graft's semantics). */
  def pagerank(g: EdgeList, iters: Int, d: Double = 0.85): Array[Double] = {
    val n = g.n
    val od = g.outDegrees
    var pr = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      var sink = 0.0
      for (v <- 0 until n) if (od(v) == 0) sink += pr(v)
      val c = new Array[Double](n)
      for (e <- 0 until g.m) c(g.dst(e)) += pr(g.src(e)) / od(g.src(e))
      pr = Array.tabulate(n)(v => (1 - d) / n + d * (c(v) + sink / n))
    }
    pr
  }

  /** Component label = min vertex id of the component (union-find). */
  def components(g: EdgeList): Array[Int] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    for (e <- 0 until g.m) {
      val a = find(g.src(e)); val b = find(g.dst(e))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(g.n)(find)
  }

  /** Synchronous label propagation: each vertex with in-neighbors adopts
    * their most frequent label, ties to the smallest; others keep theirs. */
  def labelPropagation(g: EdgeList, rounds: Int): Array[Int] = {
    val (ptr, nbr) = g.csr(bySrc = false)
    var lab = Array.tabulate(g.n)(identity)
    val buf = new Array[Int](math.max(1, (0 until g.n).map(v => ptr(v + 1) - ptr(v)).max))
    for (_ <- 1 to rounds) {
      val next = lab.clone()
      for (v <- 0 until g.n) {
        val k = ptr(v + 1) - ptr(v)
        if (k > 0) {
          for (i <- 0 until k) buf(i) = lab(nbr(ptr(v) + i))
          java.util.Arrays.sort(buf, 0, k)
          var best = buf(0); var bestC = 0
          var i = 0
          while (i < k) {
            var j = i
            while (j < k && buf(j) == buf(i)) j += 1
            if (j - i > bestC) { bestC = j - i; best = buf(i) }
            i = j
          }
          next(v) = best
        }
      }
      lab = next
    }
    lab
  }

  /** Triangles of a symmetric graph, each counted once. */
  def triangles(g: EdgeList): Long = {
    val (ptr, adj) = g.csr(bySrc = true) // rows sorted: edges are (src, dst)-sorted
    var t = 0L
    for (u <- 0 until g.n; i <- ptr(u) until ptr(u + 1)) {
      val v = adj(i)
      if (v > u) {
        var p = i + 1 // N(u) entries above v
        var q = ptr(v)
        while (q < ptr(v + 1) && adj(q) <= v) q += 1
        while (p < ptr(u + 1) && q < ptr(v + 1)) {
          if (adj(p) == adj(q)) { t += 1; p += 1; q += 1 }
          else if (adj(p) < adj(q)) p += 1
          else q += 1
        }
      }
    }
    t
  }

  /** Pattern of A·A: (nnz, Σ pairKey(i, j)). */
  def boolProduct(g: EdgeList): (Long, Long) = {
    val (ptr, adj) = g.csr(bySrc = true)
    val row = new java.util.BitSet(g.n)
    var nnz = 0L
    var sum = 0L
    for (i <- 0 until g.n) {
      row.clear()
      for (p <- ptr(i) until ptr(i + 1); k = adj(p); q <- ptr(k) until ptr(k + 1))
        row.set(adj(q))
      var j = row.nextSetBit(0)
      while (j >= 0) { nnz += 1; sum += pairKey(i, j); j = row.nextSetBit(j + 1) }
    }
    (nnz, sum)
  }

  /** Multiply-adds of A·A: Σₖ indeg(k)·outdeg(k). */
  def spgemmFlops(g: EdgeList): Long = {
    val in = g.inDegrees; val out = g.outDegrees
    (0 until g.n).map(k => in(k).toLong * out(k)).sum
  }

  /** S·A·Sᵀ with S(c, v) = 1 iff v div `group` = c, over (+, ×): the coarse
    * entries keyed by pairKey(c1, c2). */
  def galerkin(g: EdgeList, group: Int): Map[Long, Double] = {
    val acc = mutable.HashMap[Long, Double]()
    for (e <- 0 until g.m) {
      val k = pairKey(g.src(e) / group, g.dst(e) / group)
      acc(k) = acc.getOrElse(k, 0.0) + g.w(e)
    }
    acc.toMap
  }
}
