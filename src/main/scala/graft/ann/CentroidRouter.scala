package graft.ann

import graft.functions.VectorFunctions.l2sq

/** Centroid ranking: the reference's FlatInitializer, at every K. The
  * reference switches to an HNSW initializer only at K ≥ 20000
  * (inc/index/IVF.hpp:155-160) — a single-node speed mechanism, not
  * part of what a search returns — and graft ranks flat throughout, so
  * a query's probe list is the exact nprobe nearest centroids whatever
  * the index size.
  */
object CentroidRouter {
  /** Exact flat ranking over an arbitrary centroid array — bounded
    * top-nprobe selection (KnnExact's heap), not a full K-sort: this
    * runs once per query, on the driver or in a query partition, where
    * the old sort-everything form allocated K boxed tuples and paid
    * O(K log K) for typically nprobe ≤ 64 results. Order out is ascending
    * (dist, id) — the heap's own drain order, no sort. */
  def rankFlat(centroids: Array[Array[Float]], q: Array[Float], nprobe: Int): Array[Int] = {
    val n = math.min(nprobe, centroids.length)
    if (n <= 0) return Array.empty
    val top = new graft.ann.KnnExact.BoundedTopK(n)
    var i = 0
    while (i < centroids.length) {
      top.insert(l2sq(q, centroids(i)), i.toLong)
      i += 1
    }
    top.drainSorted()._1.map(_.toInt)
  }
}
