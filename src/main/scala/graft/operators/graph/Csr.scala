package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Compressed sparse row adjacency of a `(src, dst)` edge table: node
  * `i` is `ids(i)` (sorted ascending) and its neighbours are the node
  * indices `tgt(off(i) until off(i + 1))`. Every `dst` must also be a
  * `src` — true of sym, which holds both directions of every edge, of
  * any component of it, and of a trimmed SCC core, where every node
  * keeps an in- and an out-edge. Footprint: 4 bytes per edge row plus
  * 12 per node, so an 8M-row sym is a 32 MB target array plus the
  * nodes; [[Csr.of]] collects about 8 bytes per edge on the way.
  */
private[graft] final class Csr(val ids: Array[Long], val off: Array[Int],
    val tgt: Array[Int]) extends Serializable {

  def n: Int = ids.length

  /** Index of node `u`, negative when `u` has no edges. */
  def indexOf(u: Long): Int = java.util.Arrays.binarySearch(ids, u)

  /** Level-synchronous BFS from `sources` (indices, repeats allowed),
    * at most `maxDepth` hops. Returns `(dist, reached)`: `dist(v)` is
    * the first-reach hop of node `v` or -1, and `reached` lists the
    * reached nodes in BFS order — distinct sources first, so `dist` is
    * non-decreasing along it. */
  def bfs(sources: Array[Int], maxDepth: Int): (Array[Int], Array[Int]) = {
    val dist = Array.fill(n)(-1)
    val queue = new Array[Int](n)
    var tail = 0
    sources.foreach { s =>
      if (dist(s) < 0) { dist(s) = 0; queue(tail) = s; tail += 1 }
    }
    var head = 0
    while (head < tail) {
      val v = queue(head)
      head += 1
      val d = dist(v) + 1
      if (d <= maxDepth) {
        var p = off(v)
        while (p < off(v + 1)) {
          val w = tgt(p)
          if (dist(w) < 0) { dist(w) = d; queue(tail) = w; tail += 1 }
          p += 1
        }
      }
    }
    (dist, java.util.Arrays.copyOf(queue, tail))
  }

  /** Strongly connected components by one iterative Tarjan pass: the
    * smallest member id of node `v`'s component, per node index.
    * Working heap beyond the CSR: five int arrays and one boolean
    * array of `n`, plus the `n`-long result. */
  def sccMinIds(): Array[Long] = {
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)  // Tarjan's stack of open nodes
    var top = 0
    val path = new Array[Int](n)   // the DFS path; next(v) is v's next edge
    val next = new Array[Int](n)
    var depth = 0
    val minId = new Array[Long](n)
    var counter = 0
    def open(w: Int): Unit = {
      path(depth) = w; depth += 1
      next(w) = off(w)
      index(w) = counter; low(w) = counter; counter += 1
      stack(top) = w; top += 1; onStack(w) = true
    }
    var root = 0
    while (root < n) {
      if (index(root) < 0) {
        open(root)
        while (depth > 0) {
          val v = path(depth - 1)
          if (next(v) < off(v + 1)) {
            val w = tgt(next(v))
            next(v) += 1
            if (index(w) < 0) open(w)
            else if (onStack(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            depth -= 1
            if (low(v) == index(v)) {
              // v roots a component: its members sit above it on the
              // stack, and ids are sorted, so the least index is the min
              var first = top - 1
              var mn = v
              while (stack(first) != v) { mn = math.min(mn, stack(first)); first -= 1 }
              var k = first
              while (k < top) { onStack(stack(k)) = false; minId(stack(k)) = ids(mn); k += 1 }
              top = first
            }
            if (depth > 0) {
              val parent = path(depth - 1)
              if (low(v) < low(parent)) low(parent) = low(v)
            }
          }
        }
      }
      root += 1
    }
    minId
  }
}

private[graft] object Csr {

  /** Builds the CSR of `edges` (`src`, `dst` long columns, both
    * non-null). Each partition is sorted by `src` (a no-op on sym's
    * cached layout) and ships three primitive arrays — its distinct
    * srcs, their degrees and the dsts in src order — so one collect
    * job moves ~8 bytes per edge and no `Row` is ever built. The
    * driver then merges the partitions; a src split over several
    * partitions is merged too. */
  def of(edges: DataFrame): Csr = {
    val parts = edges.select(col("src"), col("dst"))
      .sortWithinPartitions(col("src"))
      .queryExecution.toRdd.mapPartitions { it =>
        val srcs = Array.newBuilder[Long]
        val degs = Array.newBuilder[Int]
        val dsts = Array.newBuilder[Long]
        var prev = 0L
        var deg = 0
        it.foreach { r =>
          require(!r.isNullAt(0) && !r.isNullAt(1), "CSR edges must have non-null endpoints")
          val s = r.getLong(0)
          if (deg > 0 && s != prev) { srcs += prev; degs += deg; deg = 0 }
          prev = s
          deg += 1
          dsts += r.getLong(1)
        }
        if (deg > 0) { srcs += prev; degs += deg }
        Iterator((srcs.result(), degs.result(), dsts.result()))
      }.collect()

    val all = parts.flatMap(_._1)
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    def idx(u: Long): Int = {
      val j = java.util.Arrays.binarySearch(ids, u)
      require(j >= 0, s"CSR edge target $u is not a source: the edge set must be closed")
      j
    }

    val off = new Array[Int](n + 1)
    parts.foreach { case (srcs, degs, _) =>
      i = 0
      while (i < srcs.length) { off(idx(srcs(i)) + 1) += degs(i); i += 1 }
    }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    val tgt = new Array[Int](off(n))
    parts.foreach { case (srcs, degs, dsts) =>
      var p = 0
      i = 0
      while (i < srcs.length) {
        val s = idx(srcs(i))
        var k = 0
        while (k < degs(i)) { tgt(fill(s)) = idx(dsts(p)); fill(s) += 1; p += 1; k += 1 }
        i += 1
      }
    }
    new Csr(ids, off, tgt)
  }
}
