package graft.ann

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.functions.VectorFunctions.l2sq

/** Exact brute-force top-k nearest neighbors (ground truth;
  * reference: /root/reference/python/compute_gt.py).
  *
  * Scale design: the query set is small by definition (it's a query
  * workload, not the corpus), so it is broadcast; each base partition
  * computes a *local* bounded heap per query (map-side top-k), and only
  * `numPartitions × nQueries` sorted top-k lists are shuffled — never
  * O(N·Q). This is the distributed analogue of the reference's
  * ResultPool (inc/index/Pool.hpp) and survives a 1000-executor /
  * 100 TB corpus because the shuffle is independent of corpus size.
  */
object KnnExact {
  /** Bounded max-heap of (dist, id), keeping the k smallest with
    * deterministic (dist, id) lexicographic ordering. */
  final class BoundedTopK(k: Int) {
    // k=0 would NPE on heap.peek() inside executor tasks — fail loudly
    // on the driver instead
    require(k > 0, s"top-k bound must be positive, got $k")
    private val heap = new java.util.PriorityQueue[(Double, Long)](
      math.max(1, k),
      // max-heap: worst (largest dist, then largest id) at the head
      (p1: (Double, Long), p2: (Double, Long)) => {
        val c = java.lang.Double.compare(p2._1, p1._1)
        if (c != 0) c else java.lang.Long.compare(p2._2, p1._2)
      })
    def insert(dist: Double, id: Long): Unit = {
      if (heap.size < k) heap.add((dist, id))
      else {
        val worst = heap.peek()
        if (dist < worst._1 || (dist == worst._1 && id < worst._2)) {
          heap.poll(); heap.add((dist, id))
        }
      }
    }
    /** Current pruning threshold: the worst kept distance once the heap
      * is full, else `default` (nothing can be pruned yet). */
    def worstOrElse(default: Double): Double =
      if (heap.size >= k) heap.peek()._1 else default
    def nonEmpty: Boolean = !heap.isEmpty
    /** Empty the heap into (ids, dists) ascending under [[DistIdOrder]]:
      * the heap polls worst first, so it fills from the back. */
    def drainSorted(): (Array[Long], Array[Double]) = {
      val n = heap.size
      val ids = new Array[Long](n)
      val dists = new Array[Double](n)
      var i = n - 1
      while (i >= 0) {
        val (d, id) = heap.poll()
        ids(i) = id; dists(i) = d
        i -= 1
      }
      (ids, dists)
    }
  }

  /** The (dist, id) order both top-k merges rank by: a total order on
    * the distance (`java.lang.Double.compare`), ties to the smaller id. */
  private[graft] val DistIdOrder: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  /** The first `k` of the union of two candidate lists, each sorted
    * ascending under [[DistIdOrder]], as one linear merge — equal to
    * sorting the union and taking `k`. Both top-k merges fold their
    * per-partition lists through this. */
  private[graft] def mergeSorted(
      aIds: Array[Long], aDists: Array[Double],
      bIds: Array[Long], bDists: Array[Double],
      k: Int): (Array[Long], Array[Double]) = {
    val n = math.min(k, aIds.length + bIds.length)
    val ids = new Array[Long](n)
    val dists = new Array[Double](n)
    var i = 0; var j = 0; var o = 0
    while (o < n) {
      val takeA = j == bIds.length || (i < aIds.length && {
        val c = java.lang.Double.compare(aDists(i), bDists(j))
        c < 0 || (c == 0 && aIds(i) <= bIds(j))
      })
      if (takeA) { ids(o) = aIds(i); dists(o) = aDists(i); i += 1 }
      else { ids(o) = bIds(j); dists(o) = bDists(j); j += 1 }
      o += 1
    }
    (ids, dists)
  }

  /** Merge per-partition candidate lists — one (query_id, ids, dists)
    * row per (partition, query), each list sorted under [[DistIdOrder]]
    * ([[IVFIndex.scanRuns]]' rows) — into the global per-query top-k:
    * (query_id, neighbor_id, rk), rk 1-based in (dist, id) order. The
    * rows are grouped by query (a shuffle of at most partitions ×
    * queries rows) and each group's lists fold through
    * [[mergeSorted]], so no candidate is shuffled or sorted on its own.
    * The result stays distributed (IVF searchAll's merge). */
  def mergeTopK(
      spark: SparkSession,
      partial: Dataset[(Long, Array[Long], Array[Double])],
      k: Int): DataFrame =
    mergeLists(spark, partial, k).select("query_id", "neighbor_id", "rk")

  /** [[mergeTopK]] keeping each neighbor's distance: (query_id,
    * neighbor_id, rk, d2). */
  private def mergeLists(
      spark: SparkSession,
      partial: Dataset[(Long, Array[Long], Array[Double])],
      k: Int): DataFrame = {
    import spark.implicits._
    partial.groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        var ids = Array.emptyLongArray
        var dists = Array.emptyDoubleArray
        it.foreach { case (_, i, d) =>
          val m = mergeSorted(ids, dists, i, d, k); ids = m._1; dists = m._2
        }
        ids.indices.iterator.map(r => (q, ids(r), r + 1, dists(r)))
      }
      .toDF("query_id", "neighbor_id", "rk", "d2")
  }

  /** The schema of every search result, (query_id, neighbor_id, rk),
    * all non-nullable: what mergeTopK's tuple encoder derives, built
    * once so a local result frame needs no per-call reflection. */
  private[graft] val ResultSchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("rk", IntegerType, nullable = false)))

  /** A per-query top-k held on the driver: [[add]] folds sorted
    * candidate lists (one (query_id, ids, dists) row each, sorted under
    * [[DistIdOrder]]) through [[mergeSorted]], so lists of one query id
    * merge in any order. */
  private[graft] final class DriverTopK(k: Int) {
    require(k > 0, s"top-k bound must be positive, got $k")
    private val best = scala.collection.mutable.HashMap.empty[Long, (Array[Long], Array[Double])]
    def add(rows: Array[(Long, Array[Long], Array[Double])]): Unit =
      rows.foreach { case (q, ids, dists) =>
        val (bi, bd) = best.getOrElse(q, (Array.emptyLongArray, Array.emptyDoubleArray))
        best(q) = mergeSorted(bi, bd, ids, dists, k)
      }
    /** The local result frame ([[ResultSchema]]): each distinct id of
      * `queryIds` in first-seen order, rk ascending. */
    def frame(spark: SparkSession, queryIds: Array[Long]): DataFrame = {
      val out = new java.util.ArrayList[Row]()
      val seen = scala.collection.mutable.HashSet.empty[Long]
      queryIds.foreach { q =>
        if (seen.add(q)) best.get(q).foreach { case (ids, _) =>
          var i = 0
          while (i < ids.length) { out.add(Row(q, ids(i), i + 1)); i += 1 }
        }
      }
      spark.createDataFrame(out, ResultSchema)
    }
  }

  /** The shared exact-top-k kernel, keeping the squared distance:
    * (query_id, neighbor_id, rk, d2). [[topK]] is this minus `d2`; the
    * sweep harness (graft.SweepRef) uses the distances as the ratio
    * denominator (reference get_ratio, tools.hpp:16-46). Each base
    * partition emits one sorted top-k list per query, merged like
    * [[mergeTopK]]'s: the shuffle is at most numPartitions × nQueries
    * rows. */
  def topKDist(
      spark: SparkSession,
      base: DataFrame,
      queries: Array[(Long, Array[Float])],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // validate BEFORE launching the corpus job: the heaps are built
    // inside executor tasks, where BoundedTopK's own require would
    // fail as 4x-retried task errors instead of one driver exception
    require(k > 0, s"top-k bound must be positive, got $k")
    import spark.implicits._
    val qb = spark.sparkContext.broadcast(queries)
    val ds = base.select(col(idCol).cast(LongType), col(vecCol)).as[(Long, Array[Float])]
    mergeLists(spark, ds.mapPartitions { iter =>
      val qs = qb.value
      val heaps = Array.fill(qs.length)(new BoundedTopK(k))
      iter.foreach { case (id, vec) =>
        var qi = 0
        while (qi < qs.length) { heaps(qi).insert(l2sq(qs(qi)._2, vec), id); qi += 1 }
      }
      qs.iterator.zip(heaps.iterator).collect {
        case ((q, _), h) if h.nonEmpty =>
          val (ids, dists) = h.drainSorted()
          (q, ids, dists)
      }
    }, k)
  }

  /** Exact re-rank of a small per-query candidate list (the second
    * stage of the reference's HIGH_ACC_FAST_SCAN path,
    * HASearcher.hpp): the tiny (Q × candidates)-row list is broadcast
    * against the corpus — one corpus scan, no driver collect — each
    * pair gets its exact distance, and the per-query top-k by
    * (distance, id) survives. Output: (query_id, neighbor_id, rk,
    * exact_d) with exact_d the rounded exact L2 — the surface the b12
    * oracle recomputes end-to-end from the candidate sidecar. */
  def rerankExact(
      spark: SparkSession,
      corpus: DataFrame,
      queries: Array[(Long, Array[Float])],
      cand: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.vec_l2sq
    val q = queries.toSeq.toDF("qid", "qvec")
    val e = corpus.select(col(idCol).cast(LongType).as("nid"), col(vecCol).as("nvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy("d2", "neighbor_id")
    e.join(broadcast(cand.select("query_id", "neighbor_id")
        .join(q, col("query_id") === col("qid"))),
        col("neighbor_id") === col("nid"))
      .select(col("query_id"), col("neighbor_id"),
        vec_l2sq(col("qvec"), col("nvec")).as("d2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"),
        round(sqrt(col("d2")), 4).as("exact_d"))
  }

  /** Top-k neighbors of each query among `base` rows by squared L2.
    * Output: (query_id, neighbor_id, rk) with rk 1-based, ties broken
    * by neighbor id. */
  def topK(
      spark: SparkSession,
      base: DataFrame,
      queries: Array[(Long, Array[Float])],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    topKDist(spark, base, queries, k, idCol, vecCol).drop("d2")
}
