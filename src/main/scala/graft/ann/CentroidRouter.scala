package graft.ann

import scala.collection.mutable

import graft.functions.VectorFunctions.l2sq

/** Sub-linear centroid ranking for large K — the role of the
  * reference's HNSW initializer (inc/index/IVF.hpp:155-160 switches
  * from flat scan to HNSW at K ≥ 20000).
  *
  * Implementation: a deterministic navigable-small-world graph over the
  * centroids (single layer + fixed entry point), built and queried on
  * the driver — centroid counts are thousands-to-hundreds-of-thousands,
  * never corpus-sized. Greedy beam search (ef) finds candidate
  * centroids; the beam is then ranked exactly. A tree/coarse-quantizer
  * router was measured at ~0.3 routing recall on unstructured
  * high-dimensional centroids — graphs are the right structure, as the
  * reference found.
  *
  * Determinism: insertion order, neighbor pruning and tie-breaks are
  * all (distance, id)-ordered; no randomness beyond the input order.
  */
final class CentroidRouter(
    centroids: Array[Array[Float]],
    m: Int = 16,
    efConstruction: Int = 64) extends Serializable {
  private val k = centroids.length

  /** Adjacency lists, built by incremental NSW insertion. Lazy: the
    * flat path must never pay the graph build. */
  private[graft] lazy val neighbors: Array[Array[Int]] = {
    val adj = Array.fill(k)(mutable.ArrayBuffer.empty[Int])
    // in-degree guard: pruning must never remove a node's last
    // incoming edge, else it becomes unreachable from the entry point
    // and its cluster is silently never probed
    val inDeg = new Array[Int](k)
    var i = 1
    while (i < k) {
      // find efConstruction approx-nearest among nodes [0, i)
      val near = beamSearch(centroids(i), math.min(i, efConstruction), i, adj(_))
      val links = near.take(m)
      links.foreach { case (_, j) =>
        adj(i) += j; inDeg(j) += 1
        adj(j) += i; inDeg(i) += 1
        if (adj(j).length > 2 * m) {
          // prune j's list toward the 2m closest, keeping any node
          // whose only incoming edge is from j
          val sorted = adj(j).toArray
            .map(x => (l2sq(centroids(j), centroids(x)), x))
            .sortBy(t => (t._1, t._2)).map(_._2)
          val keep = mutable.ArrayBuffer.empty[Int]
          sorted.foreach { x =>
            if (keep.length < 2 * m || inDeg(x) <= 1) keep += x
            else inDeg(x) -= 1
          }
          adj(j).clear(); adj(j) ++= keep
        }
      }
      i += 1
    }
    // Reachability repair: the in-degree guard above preserves SOME
    // incoming edge per node, but in-degree ≥ 1 does not imply
    // reachability from the entry — pruning can strand a mutually-
    // linked pod (a↔b sustain each other's in-degree while every edge
    // into the pod is legally dropped one at a time), and a stranded
    // node's cluster would be silently unfindable at any nprobe. One
    // BFS from the entry, then each stranded node is re-attached via
    // an edge FROM its exact nearest reachable node and its pod
    // flood-filled; deterministic (first-minimum ties), O(strays · K),
    // and strays are rare, so the repair is usually a no-op scan.
    val reachable = new java.util.BitSet(k)
    val queue = new java.util.ArrayDeque[Integer]()
    def flood(start: Int): Unit = {
      reachable.set(start); queue.add(start)
      while (!queue.isEmpty) {
        val c = queue.poll()
        adj(c).foreach { n =>
          if (!reachable.get(n)) { reachable.set(n); queue.add(n) }
        }
      }
    }
    flood(0)
    var s = 0
    while (s < k) {
      if (!reachable.get(s)) {
        var best = 0
        var bestD = Double.MaxValue
        var t = 0
        while (t < k) {
          if (reachable.get(t)) {
            val d = l2sq(centroids(s), centroids(t))
            if (d < bestD) { bestD = d; best = t } // ascending t: first-min wins ties
          }
          t += 1
        }
        adj(best) += s
        flood(s) // the whole pod becomes reachable through s
      }
      s += 1
    }
    adj.map(_.toArray)
  }

  /** Beam search over the first `limit` nodes (entry = node 0).
    * Returns up to `ef` (dist, id) pairs sorted ascending. */
  private def beamSearch(
      q: Array[Float],
      ef: Int,
      limit: Int,
      adj: Int => scala.collection.IndexedSeq[Int]): Array[(Double, Int)] = {
    if (limit <= 0) return Array.empty
    val visited = new java.util.BitSet(limit)
    // candidates: min-heap by (dist, id); results: max-heap by (dist, id)
    val candOrd = Ordering.by[(Double, Int), (Double, Int)](identity).reverse
    val cand = mutable.PriorityQueue.empty[(Double, Int)](candOrd)
    val res = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), (Double, Int)](identity))
    val d0 = l2sq(q, centroids(0))
    visited.set(0); cand.enqueue((d0, 0)); res.enqueue((d0, 0))
    while (cand.nonEmpty) {
      val (cd, c) = cand.dequeue()
      if (res.size >= ef && cd > res.head._1) {
        cand.clear() // nothing closer can be reached
      } else {
        val ns = adj(c)
        var x = 0
        while (x < ns.length) {
          val n = ns(x)
          if (n < limit && !visited.get(n)) {
            visited.set(n)
            val d = l2sq(q, centroids(n))
            if (res.size < ef || d < res.head._1 ||
                (d == res.head._1 && n < res.head._2)) {
              cand.enqueue((d, n))
              res.enqueue((d, n))
              if (res.size > ef) res.dequeue()
            }
          }
          x += 1
        }
      }
    }
    res.dequeueAll.toArray.sortBy(identity)
  }

  /** Exact flat ranking (the FlatInitializer path); does not touch the
    * lazy graph. */
  def rankFlat(q: Array[Float], nprobe: Int): Array[Int] =
    CentroidRouter.rankFlat(centroids, q, nprobe)

  /** Graph-routed ranking: beam of ef = max(4·nprobe, 64) candidates,
    * exact-ranked, top nprobe returned. When the beam would cover the
    * whole graph anyway, fall back to the exact flat scan (also
    * guarantees nprobe ≈ K behaves like the flat initializer). */
  def rank(q: Array[Float], nprobe: Int, ef: Int = 0): Array[Int] = {
    if (k == 0) return Array.empty
    val effEf = math.min(k, math.max(math.min(nprobe, k),
      if (ef > 0) ef else math.max(4 * nprobe, 64)))
    if (effEf >= k) return rankFlat(q, nprobe)
    beamSearch(q, effEf, k,
      i => scala.collection.immutable.ArraySeq.unsafeWrapArray(neighbors(i)))
      .take(math.min(nprobe, k)).map(_._2)
  }
}

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
