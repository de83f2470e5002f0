package graft.plans

/** Union-find over long ids with MIN-id roots and path compression —
  * the driver form of the component kernels: `find` labels every node
  * with its component's minimum, the same labeling as min-label
  * propagation and star contraction (DedupSpec pins the three equal).
  * Ids never passed to [[union]] are their own root. */
final class UnionFind {
  private val parent = scala.collection.mutable.HashMap.empty[Long, Long]
  private val seen = scala.collection.mutable.LinkedHashSet.empty[Long]

  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (parent.getOrElse(c, c) != c) {
      val n = parent(c); parent(c) = r; c = n
    }
    r
  }

  def union(a: Long, b: Long): Unit = {
    seen += a; seen += b
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
  }

  /** Every id passed to [[union]], in first-seen order. */
  def nodes: Iterator[Long] = seen.iterator
}

object UnionFind {
  /** The union-find over `edges`. */
  def of(edges: Iterator[(Long, Long)]): UnionFind = {
    val uf = new UnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    uf
  }
}
