package graftbench

import scala.collection.mutable

/** Single-threaded, driver-side reference algorithms over collected edges.
  * They share no code with the engine: the benchmark checks every engine
  * output against these, outside the timed region.
  *
  * The graph is the undirected closure of the given pairs (both directions,
  * duplicates dropped, self-loops dropped, so every vertex has a neighbour),
  * stored as CSR over dense local indices; `ids` maps a local index back to
  * the engine's vertex id.
  */
final class RefGraph private (val ids: Array[Long], offs: Array[Int], nbrs: Array[Int]) {
  val n: Int = ids.length
  def arcs: Long = nbrs.length.toLong
  def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  def degree(v: Int): Int = offs(v + 1) - offs(v)

  /** Every arc as (src id, dst id), sorted. */
  def arcPairs: Array[(Long, Long)] =
    (for (u <- 0 until n; i <- offs(u) until offs(u + 1)) yield (ids(u), ids(nbrs(i)))).toArray

  /** Hop distances from `s`; -1 where unreachable. */
  def bfs(s: Int): Array[Int] = {
    val dist = Array.fill(n)(-1)
    val queue = new Array[Int](n)
    var head = 0
    var tail = 0
    dist(s) = 0
    queue(tail) = s; tail += 1
    while (head < tail) {
      val u = queue(head); head += 1
      var i = offs(u)
      while (i < offs(u + 1)) {
        val w = nbrs(i)
        if (dist(w) < 0) { dist(w) = dist(u) + 1; queue(tail) = w; tail += 1 }
        i += 1
      }
    }
    dist
  }

  /** (farness, harmonic, reachable) of a BFS from `s`, reachable counting `s`. */
  def scores(s: Int): (Long, Double, Long) = {
    val d = bfs(s)
    var far = 0L
    var harm = 0.0
    var reach = 0L
    var v = 0
    while (v < n) {
      if (d(v) >= 0) { reach += 1; far += d(v) }
      if (d(v) > 0) harm += 1.0 / d(v)
      v += 1
    }
    (far, harm, reach)
  }

  /** Component label per local index: the smallest vertex id in the
    * component (union-find with path halving).
    */
  lazy val componentLabels: Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (u <- 0 until n; i <- offs(u) until offs(u + 1)) {
      val a = find(u)
      val b = find(nbrs(i))
      // ids are sorted, so the smaller local index carries the smaller id
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(n)(v => ids(find(v)))
  }

  /** Arcs (Σ degree) of the component holding each local index: what one
    * full BFS from that vertex visits.
    */
  lazy val componentArcs: Array[Long] = {
    val perLabel = mutable.HashMap.empty[Long, Long]
    for (v <- 0 until n) perLabel(componentLabels(v)) = perLabel.getOrElse(componentLabels(v), 0L) + degree(v)
    Array.tabulate(n)(v => perLabel(componentLabels(v)))
  }

  /** Power iteration with the engine's recurrence: every vertex has
    * neighbours, so there is no dangling mass; stops at the first round whose
    * L∞ change is ≤ tol. Returns (ranks, rounds).
    */
  def pageRank(damping: Double, tol: Double, maxIter: Int): (Array[Double], Int) = {
    var pr = Array.fill(n)(1.0 / n)
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta > tol) {
      val msg = new Array[Double](n)
      for (u <- 0 until n) {
        val w = pr(u) / degree(u)
        var i = offs(u)
        while (i < offs(u + 1)) { msg(nbrs(i)) += w; i += 1 }
      }
      val next = msg.map(m => (1 - damping) / n + damping * m)
      delta = next.indices.map(v => math.abs(next(v) - pr(v))).max
      pr = next
      iter += 1
    }
    (pr, iter)
  }

  /** Synchronous label propagation: each round a vertex takes the label
    * most frequent among its neighbours, ties to the smallest label.
    */
  def labelProp(rounds: Int): Array[Long] = {
    var labels = ids.clone()
    for (_ <- 0 until rounds) {
      labels = Array.tabulate(n) { u =>
        val counts = mutable.HashMap.empty[Long, Int]
        for (i <- offs(u) until offs(u + 1)) counts(labels(nbrs(i))) = counts.getOrElse(labels(nbrs(i)), 0) + 1
        counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    labels
  }

  /** Triangles, each counted once (neighbours ordered by local index). */
  def triangles: Long = {
    val mark = Array.fill(n)(-1)
    var total = 0L
    for (u <- 0 until n) {
      for (i <- offs(u) until offs(u + 1)) mark(nbrs(i)) = u
      for (i <- offs(u) until offs(u + 1)) {
        val v = nbrs(i)
        if (v > u) for (j <- offs(v) until offs(v + 1)) {
          val w = nbrs(j)
          if (w > v && mark(w) == u) total += 1
        }
      }
    }
    total
  }
}

object RefGraph {

  /** Undirected closure of the pairs `(src(i), dst(i))`. */
  def undirected(src: Array[Long], dst: Array[Long]): RefGraph = {
    val arcs = src.indices.filter(i => src(i) != dst(i))
    val ids = arcs.flatMap(i => Seq(src(i), dst(i))).distinct.sorted.toArray
    def ix(id: Long) = java.util.Arrays.binarySearch(ids, id)
    val pairs = mutable.HashSet.empty[Long]
    val adj = Array.fill(ids.length)(mutable.ArrayBuilder.make[Int])
    for (i <- arcs) {
      val a = ix(src(i))
      val b = ix(dst(i))
      val key = math.min(a, b).toLong << 32 | math.max(a, b)
      if (pairs.add(key)) { adj(a) += b; adj(b) += a }
    }
    val lists = adj.map(_.result().sorted)
    val offs = lists.scanLeft(0)(_ + _.length)
    new RefGraph(ids, offs, lists.flatten)
  }

  /** Exact closeness top-k with ties: vertices whose farness is no worse
    * than the k-th smallest, farness 0 (isolated) ranking last. Returns
    * (id, farness) pairs sorted by (farness, id).
    */
  def closenessTopK(g: RefGraph, k: Int): Seq[(Long, Long)] = {
    val far = (0 until g.n).map(v => (g.ids(v), g.scores(v)._1))
    def rank(f: Long) = if (f > 0) f else Long.MaxValue
    val sorted = far.sortBy { case (id, f) => (rank(f), id) }
    if (sorted.size <= k) sorted
    else {
      val bound = rank(sorted(k - 1)._2)
      sorted.filter { case (_, f) => rank(f) <= bound }
    }
  }
}
