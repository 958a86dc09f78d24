package perfbench

import scala.collection.mutable

/** A symmetric graph on the driver, nodes renumbered 0..n-1 in id order: the input
  * the oracles below recompute the library's outputs from.
  */
final class DriverGraph(val ids: Array[Long], val xadj: Array[Int], val adj: Array[Int],
    val weight: Array[Long]) {
  val n: Int = ids.length
  private lazy val index: Map[Long, Int] = ids.iterator.zipWithIndex.toMap
  def indexOf(id: Long): Option[Int] = index.get(id)
}

object DriverGraph {
  /** From the half-edges (src, dst, w) of a symmetric edge table. */
  def apply(halfEdges: Array[(Long, Long, Long)]): DriverGraph = {
    val ids = halfEdges.iterator.map(_._1).toArray.distinct.sorted
    val index = ids.iterator.zipWithIndex.toMap
    val sorted = halfEdges.sortBy(e => (e._1, e._2))
    val xadj = new Array[Int](ids.length + 1)
    sorted.foreach(e => xadj(index(e._1) + 1) += 1)
    for (i <- 0 until ids.length) xadj(i + 1) += xadj(i)
    new DriverGraph(ids, xadj, sorted.map(e => index(e._2)), sorted.map(_._3))
  }
}

/** Output checks. Each returns the failures it found; an empty result is a pass. */
object Checks {

  /** The checks of `Graphs.validate` on the driver: no self-loops, positive weights,
    * and every half-edge has its reverse with the same weight. (The Spark version
    * takes 3-5 s on a 60k-row table, which would lengthen every run.)
    */
  def edgeTable(g: DriverGraph): Seq[String] = {
    val half = for (u <- 0 until g.n; i <- g.xadj(u) until g.xadj(u + 1)) yield (u, g.adj(i), g.weight(i))
    val asymmetric = half.groupBy(e => (math.min(e._1, e._2), math.max(e._1, e._2), e._3))
      .count(_._2.size != 2)
    Seq(
      Option.when(half.exists(e => e._1 == e._2))("extract: self-loops"),
      Option.when(half.exists(_._3 <= 0L))("extract: non-positive weights"),
      Option.when(asymmetric > 0)(s"extract: $asymmetric edges without an equal reverse")).flatten
  }

  /** Dense driver-side PageRank with the library's semantics: damping d, uniform
    * contributions over out-edges, dangling mass spread uniformly.
    */
  def pagerankOracle(g: DriverGraph, iterations: Int, damping: Double = 0.85): Array[Double] = {
    val n = g.n
    var pr = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iterations) {
      val contrib = new Array[Double](n)
      var dangling = 0.0
      for (u <- 0 until n) {
        val deg = g.xadj(u + 1) - g.xadj(u)
        if (deg == 0) dangling += pr(u)
        else {
          val c = pr(u) / deg
          var i = g.xadj(u)
          while (i < g.xadj(u + 1)) { contrib(g.adj(i)) += c; i += 1 }
        }
      }
      pr = contrib.map(c => (1.0 - damping) / n + damping * (c + dangling / n))
    }
    pr
  }

  def pagerank(g: DriverGraph, got: Array[(Long, Double)], oracle: Array[Double],
      rtol: Double = 1e-6): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    if (got.length != g.n) fails += s"pagerank: ${got.length} ranks for ${g.n} nodes"
    val bad = got.count { case (id, pr) =>
      g.indexOf(id).forall(i => math.abs(pr - oracle(i)) > rtol * math.abs(oracle(i)))
    }
    if (bad > 0) fails += s"pagerank: $bad ranks differ from the dense oracle by more than rtol $rtol"
    val sum = got.map(_._2).sum
    if (math.abs(sum - 1.0) > 1e-6) fails += s"pagerank: ranks sum to $sum"
    fails.toSeq
  }

  /** Component label of every node: the smallest node id in its component. */
  def componentsOracle(g: DriverGraph): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    for (u <- 0 until g.n; i <- g.xadj(u) until g.xadj(u + 1)) {
      val (a, b) = (find(u), find(g.adj(i)))
      // union towards the smaller index, which is the smaller id
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    Array.tabulate(g.n)(u => g.ids(find(u)))
  }

  def components(g: DriverGraph, got: Array[(Long, Long)], oracle: Array[Long]): Seq[String] = {
    val bad = got.count { case (id, c) => g.indexOf(id).forall(i => oracle(i) != c) }
    Seq(
      Option.when(got.length != g.n)(s"cc: ${got.length} labels for ${g.n} nodes"),
      Option.when(bad > 0)(s"cc: $bad labels differ from union-find")).flatten
  }

  /** Triangles by degree-ordered orientation and sorted-list intersection. */
  def trianglesOracle(g: DriverGraph): Long = {
    def deg(u: Int) = g.xadj(u + 1) - g.xadj(u)
    def before(u: Int, v: Int) = deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
    val out = Array.tabulate(g.n)(u =>
      (g.xadj(u) until g.xadj(u + 1)).map(g.adj).filter(v => before(u, v)).toArray.sorted)
    var count = 0L
    for (u <- 0 until g.n; v <- out(u)) {
      val (a, b) = (out(u), out(v))
      var i = 0
      var j = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { count += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
    }
    count
  }

  def triangles(got: Long, oracle: Long): Seq[String] =
    Option.when(got != oracle)(s"triangles: $got, driver count $oracle").toSeq

  /** Label propagation: one label per node, and every label is a node id. */
  def communities(g: DriverGraph, got: Array[(Long, Long)]): Seq[String] = {
    val nodes = got.map(_._1)
    Seq(
      Option.when(nodes.length != g.n || nodes.distinct.length != g.n ||
        nodes.exists(g.indexOf(_).isEmpty))(s"lp: labels cover ${nodes.distinct.length} of ${g.n} nodes"),
      Option.when(got.exists(r => g.indexOf(r._2).isEmpty))("lp: a label is not a node id")
    ).flatten
  }

  /** What a partition run returned, as the checks need it. */
  final case class PartitionOut(assignment: Array[(Long, Int)], cut: Long,
      blockWeights: Array[Long], maxBlockWeight: Long, k: Int)

  /** Every node assigned once to a block in [0, k); the recomputed cut and block
    * weights equal the returned ones; the weights sum to W and respect the bound.
    * Nodes weigh 1, as the partitioner weighs them when given no node weights.
    */
  def partition(g: DriverGraph, out: PartitionOut, recomputedCut: Long): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val nodes = out.assignment.map(_._1)
    if (nodes.length != g.n || nodes.distinct.length != g.n || nodes.exists(g.indexOf(_).isEmpty))
      fails += s"partition: ${out.assignment.length} assignments for ${g.n} nodes"
    if (out.assignment.exists(a => a._2 < 0 || a._2 >= out.k)) fails += "partition: block id outside [0, k)"
    else {
      val w = new Array[Long](out.k)
      out.assignment.foreach(a => w(a._2) += 1L)
      if (!w.sameElements(out.blockWeights))
        fails += "partition: block weights differ from the assignment's"
    }
    if (recomputedCut != out.cut) fails += s"partition: cut ${out.cut}, recomputed $recomputedCut"
    if (out.blockWeights.sum != g.n) fails += s"partition: block weights sum to ${out.blockWeights.sum}, W = ${g.n}"
    if (out.blockWeights.exists(_ > out.maxBlockWeight)) fails += "partition: infeasible"
    fails.toSeq
  }
}
