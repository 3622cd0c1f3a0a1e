package graft.ann

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.LongAccumulator

import graft.functions.VectorFunctions.l2sq

/** IVF + (Ex)RaBitQ index: Spark-first re-expression of
  * /root/reference/inc/index/IVF.hpp and /root/reference/python/ivf.py.
  *
  * Build (reference: faiss k-means + IVF::construct):
  *  - k-means centroids via MLlib (seeded), trained on a bounded sample
  *    — at 100 TB you train on ~1M rows, constant cost;
  *  - one narrow pass assigns each vector to its nearest centroid
  *    (broadcast centroids), rotates the residual and quantizes it —
  *    no shuffle except the final repartition by cluster for locality;
  *  - the build packs its (cluster, block) layout straight into packed
  *    runs (the reference's FastScan blocks), the model's one in-memory
  *    form; its `index` Dataset is an uncached view of them. On disk the
  *    entries are parquet partitioned by cluster, beside `model.bin`, the
  *    header of the reference's single binary blob (IVF.hpp:219-252);
  *  - the built model carries what the build did
  *    ([[IVFModel.buildReport]]); the library prints nothing.
  *
  * Search (reference: IVF::search, IVF.hpp:295-324):
  *  - one prepare (`IVFModel.prepare`) rotates a query and ranks all K
  *    centroids with the exact flat scan (the reference's
  *    FlatInitializer, at every K): on the driver from the model's own
  *    rotator and rotated centroids for ad-hoc search, in the query
  *    frame's own partitions from one model-lifetime broadcast of them
  *    for batch `searchAll`;
  *  - the model's one in-memory layout is its packed runs: a built
  *    model holds them from its build, and a loaded or hand-made model
  *    packs them from its `index` on first use and caches them;
  *  - every scan (`IVFIndex.scanRuns`) reads only probed clusters and
  *    keeps a bounded heap per query: 1-bit estimate → error-bound prune
  *    (vs the heap's kth distance) → extended-code rerank;
  *  - while its runs' packed bytes fit a share of the driver heap
  *    (`IVFModel.replicaMaxBytes`) the model keeps a REPLICA of its runs
  *    for its lifetime: every cluster's entries in id order, packed once
  *    on the driver. A query scanning it keeps ONE pool across its probed
  *    clusters (the reference's result pool, `inc/index/Pool.hpp`), in
  *    centroid-rank and then id order, so its rows depend only on
  *    (index, query, params). Ad-hoc `search` scans it on the driver
  *    (no Spark job once the replica is built); batch `searchAll`
  *    scans one model-lifetime broadcast of it in the query frame's own
  *    partitions (one narrow stage, no shuffle, no merge);
  *    `searchFiltered` is `search` on a call-scoped model of the allowed
  *    entries of the probed clusters, so it takes the same paths;
  *  - over the cap each runs partition keeps its own pool per query
  *    and returns that query's local top-k as a list sorted by
  *    (dist, id). The merges fold those lists linearly
  *    (`KnnExact.mergeSorted`): ad-hoc searches on the
  *    driver as task results arrive (one plain RDD job, no shuffle);
  *    `searchAll` after grouping the rows by query (a shuffle of
  *    ≤ partitions × queries rows), in one lazy plan that sends each
  *    query only to the partitions holding a cluster it probes. These
  *    are the only paths whose rows can depend on the runs' layout
  *    (`ClusterBlockRows`).
  */
object IVFIndex {
  /** Persisted-index layout version, in `model.bin`; bump when it or
    * the Entry encoding changes (v2 = bit-packed ex_code, v3 =
    * `model.bin`). Load and compact fail fast on a mismatch. */
  val FormatVersion = 3

  /** The always-on search counters: entries buffered, estimates,
    * reranks, and bound violations (reranked entries whose estimated
    * lower bound exceeded their reranked distance — the rate the
    * one-pool prune rests on). Each scan adds its four totals once
    * ([[SearchAccs.add]]). Registered once per SparkContext — keyed by
    * context, not JVM lifetime, so a session restart in the same JVM
    * (the test-suite pattern) gets fresh accumulators instead of
    * silently adding to (or failing on) stale ones. Counters are
    * cumulative across concurrent tasks and calls; a listener reads
    * per-task deltas. */
  @transient @volatile private var searchAccsV: (
    org.apache.spark.SparkContext, SearchAccs) = _
  private[graft] def searchAccs(spark: SparkSession): SearchAccs = synchronized {
    val sc = spark.sparkContext
    if (searchAccsV == null || (searchAccsV._1 ne sc))
      searchAccsV = (sc, new SearchAccs(
        sc.longAccumulator("graft.search.entries"),
        sc.longAccumulator("graft.search.estimates"),
        sc.longAccumulator("graft.search.reranks"),
        sc.longAccumulator("graft.search.bound_violations")))
    searchAccsV._2
  }

  /** The four `graft.search.*` accumulators of one context. */
  private[graft] final class SearchAccs(
      val entries: LongAccumulator,
      val estimates: LongAccumulator,
      val reranks: LongAccumulator,
      val boundViolations: LongAccumulator) extends Serializable {
    /** One scan's totals. Synchronized: a task adds to its own copy,
      * but the replica search adds to the driver's from several
      * threads at once, and `LongAccumulator.add` is not atomic. */
    def add(nEntries: Long, nEst: Long, nRerank: Long, nViolations: Long): Unit =
      synchronized {
        entries.add(nEntries); estimates.add(nEst)
        reranks.add(nRerank); boundViolations.add(nViolations)
      }
  }

  /** Placement granularity of a built index: entries are assigned
    * to `ceil(clusterSize / this)` blocks per cluster and the packed
    * runs partition on (cluster_id, block), so the unit the partitioner
    * places is never more than this many rows. k-means on real corpora
    * grows catch-all clusters near the data mean that most queries
    * rank into their probe set; with plain hash-on-cluster placement
    * such a cluster's whole scan ran as a single task (measured: one
    * 22-minute straggler on 2 cores while 30 sat idle, d=1536 / 1M
    * rows / 2048-query batch). Blocking spreads a hot cluster
    * ~uniformly over ALL partitions — a partition's share of an
    * S-row cluster is ~S/numShufflePartitions (plus hash variance),
    * NOT capped at this constant, which only bounds the placement
    * unit. Under the replica cap ([[IVFModel.replicaMaxBytes]]) the
    * layout never reaches a result: every search scans a replica (for
    * `searchFiltered`, its call-scoped model's), one pool per query in
    * one canonical order. Over the cap each runs partition keeps its
    * own pool per query, and results are layout-independent only up to
    * the estimate bound: the prune skips a candidate when its estimated lower bound exceeds the
    * partition-local kth distance, and that estimate is a true lower
    * bound with high probability (the spec-pinned ~>0.95 fac_err
    * guarantee), not certainty — on a bound violation the skip
    * decision can depend on which rows share the partition. All
    * tie-breaks are (dist, id). The on-disk layout needs no analogue:
    * parquet scans already split fat cluster dirs at
    * `maxPartitionBytes`. */
  val ClusterBlockRows: Int = 2048

  /** One indexed vector (columnar analogue of SHORT_DATA/LONG_CODE/
    * EX_FACTOR/IDs, IVF.hpp:29-33). */
  final case class Entry(
      id: Long,
      cluster_id: Int,
      sign_bits: Array[Long],
      ex_code: Array[Byte],
      x2: Float,
      fac_ip: Float,
      sum_xb: Float,
      fac_err: Float,
      xipnorm: Float)

  /** One cluster's entries in BLOCK-MAJOR PACKED form — the
    * scan-side analogue of the reference's `fastscan/pack_codes.hpp`
    * layout and a model's one in-memory form ([[IVFModel.runs]]),
    * packed once per model (a [[IVFModel.searchFiltered]] call's
    * scoped model packs its allowed entries like any other) and scanned
    * by every probing query of a call. Sign-bit words of all
    * entries live in ONE contiguous long array (entry i's words at
    * [i·words, (i+1)·words)); the per-entry estimate factors are
    * parallel primitive columns. The packing replaces a per-(query,
    * entry) object-pointer chase on the estimate hot loop with a
    * sequential stream; `exCode` stays a reference column because it
    * is only touched on the rare post-prune rerank. Serializable so the
    * model's runs can spill (MEMORY_AND_DISK). Never persisted: the
    * index's only on-disk form is its entries, packed in memory by
    * [[packRuns]] and recovered by [[unpackRuns]]. */
  private[graft] final class PackedRun(
      val words: Int, val dim: Int, val exBits: Int, initialRows: Int = 64)
      extends Serializable {
    /** exBits ≤ 7 ⇒ F_d = bit·2^exBits + code fits a byte: pre-unpack
      * the full code at pack time (`exF`, dim bytes/entry) so rerank
      * streams bytes; exBits = 8 (B=9) keeps the bit-packed ex_code
      * refs and reranks through the unpack path. */
    val packExF: Boolean = exBits >= 1 && exBits <= 7
    /** Hard row bound per run: callers roll over to a fresh run when
      * [[isFull]] ([[packRuns]] does). Bounds every backing-array length
      * to safe Int territory — a monster catch-all cluster landing in
      * one partition must never push `cap * dim` / `cap * words` past
      * Int.MaxValue (2^21 entries at d=1536 would), and scanRuns
      * iterates a cluster's runs in insertion order so the rollover is
      * scan-order-neutral. 2^15 rows × d=1536 keeps exF ≤ 50 MB. */
    val maxRows: Int = math.min(1 << 15,
      Int.MaxValue / math.max(math.max(dim, words), 1))
    def isFull: Boolean = n >= maxRows
    var n = 0
    // initial cap clamped to maxRows: when the Int-safety bound drops
    // maxRows under 64 (pathological dim), the backing arrays must
    // never exceed the row bound (cap * dim could otherwise overflow)
    private var cap = math.min(math.max(initialRows, 1), maxRows)
    var ids = new Array[Long](cap)
    var sign = new Array[Long](cap * words)
    var x2 = new Array[Float](cap)
    var facIp = new Array[Float](cap)
    var facErr = new Array[Float](cap)
    var xipnorm = new Array[Float](cap)
    var exF: Array[Byte] = if (packExF) new Array[Byte](cap * dim) else null
    var exCode: Array[Array[Byte]] = if (packExF) null else new Array[Array[Byte]](cap)
    /** Bytes of the n packed rows: what a trimmed run holds. */
    def bytes: Long = n * (8L * (words + 1) + 16L) +
      (if (packExF) n.toLong * dim else exCode.iterator.take(n).map(_.length.toLong).sum)
    def add(e: Entry): Unit = {
      nextRow()
      ids(n) = e.id
      System.arraycopy(e.sign_bits, 0, sign, n * words, words)
      x2(n) = e.x2
      facIp(n) = e.fac_ip
      facErr(n) = e.fac_err
      xipnorm(n) = e.xipnorm
      if (packExF) RaBitQ.packF(e.sign_bits, e.ex_code, dim, exBits, exF, n * dim)
      else exCode(n) = e.ex_code
      n += 1
    }
    /** Append row `i` of `src` (same words, dim and exBits), every
      * field copied as stored. */
    def addRow(src: PackedRun, i: Int): Unit = {
      nextRow()
      ids(n) = src.ids(i)
      System.arraycopy(src.sign, i * words, sign, n * words, words)
      x2(n) = src.x2(i)
      facIp(n) = src.facIp(i)
      facErr(n) = src.facErr(i)
      xipnorm(n) = src.xipnorm(i)
      if (packExF) System.arraycopy(src.exF, i * dim, exF, n * dim, dim)
      else exCode(n) = src.exCode(i)
      n += 1
    }
    private def nextRow(): Unit = {
      require(n < maxRows,
        s"PackedRun overflow: $maxRows rows (dim=$dim) — caller must roll over on isFull")
      if (n == cap) grow()
    }
    private def grow(): Unit = {
      cap = math.min(cap << 1, maxRows)
      ids = java.util.Arrays.copyOf(ids, cap)
      sign = java.util.Arrays.copyOf(sign, cap * words)
      x2 = java.util.Arrays.copyOf(x2, cap)
      facIp = java.util.Arrays.copyOf(facIp, cap)
      facErr = java.util.Arrays.copyOf(facErr, cap)
      xipnorm = java.util.Arrays.copyOf(xipnorm, cap)
      if (packExF) exF = java.util.Arrays.copyOf(exF, cap * dim)
      else exCode = java.util.Arrays.copyOf(exCode, cap)
    }
    /** Trim backing arrays to exactly n rows — called once on a
      * model's runs before persisting (grow() doubles, so an untrimmed
      * run can hold ~2× its data for the model lifetime), a filtered
      * call's scoped model included. */
    def trim(): Unit = if (cap > n) {
      cap = math.max(n, 1)
      ids = java.util.Arrays.copyOf(ids, cap)
      sign = java.util.Arrays.copyOf(sign, cap * words)
      x2 = java.util.Arrays.copyOf(x2, cap)
      facIp = java.util.Arrays.copyOf(facIp, cap)
      facErr = java.util.Arrays.copyOf(facErr, cap)
      xipnorm = java.util.Arrays.copyOf(xipnorm, cap)
      if (packExF) exF = java.util.Arrays.copyOf(exF, cap * dim)
      else exCode = java.util.Arrays.copyOf(exCode, cap)
    }
  }

  /** One partition's packed runs, indexed by cluster id: that
    * cluster's [[PackedRun]]s in stream order, null where the partition
    * holds none. The one element per partition of a model's
    * [[IVFModel.runs]]; a model's [[IVFModel.replica]] is one too. */
  private[graft] type Runs = Array[scala.collection.mutable.ArrayBuffer[PackedRun]]

  /** Pack one partition's entries into its [[Runs]] (`nClusters`
    * slots): each cluster's entries in stream order, rolling over to a
    * fresh run when the last one [[PackedRun.isFull]]. The one pack loop
    * behind every model's [[IVFModel.runs]], a filtered call's scoped
    * model included. */
  private[graft] def packRuns(entries: Iterator[Entry], dim: Int, exBits: Int,
      nClusters: Int): Runs = {
    val runs: Runs = new Array(nClusters)
    entries.foreach { e =>
      val cid = e.cluster_id
      if (runs(cid) == null) runs(cid) = scala.collection.mutable.ArrayBuffer(
        new PackedRun(e.sign_bits.length, dim, exBits))
      val rs = runs(cid)
      if (rs.last.isFull) rs += new PackedRun(e.sign_bits.length, dim, exBits)
      rs.last.add(e)
    }
    runs
  }

  /** The inverse of [[packRuns]]: one partition's entries, clusters
    * ascending and each cluster's runs in order (a built layout's
    * (cluster_id, id) order), every field bit for bit: `sum_xb` is the
    * sign words' popcount and `ex_code` each F byte's low exBits
    * re-packed, as [[RaBitQ.quantize]] derives them. */
  private[graft] def unpackRuns(runs: Runs): Iterator[Entry] =
    runs.iterator.zipWithIndex.filter(_._1 != null).flatMap { case (rs, cid) =>
      rs.iterator.flatMap(run => Iterator.tabulate(run.n) { i =>
        val (w, d, mask) = (run.words, run.dim, (1 << run.exBits) - 1)
        val sign = java.util.Arrays.copyOfRange(run.sign, i * w, (i + 1) * w)
        val exCode = if (!run.packExF) run.exCode(i)
          else RaBitQ.packBits(Array.tabulate(d)(j => run.exF(i * d + j) & mask), run.exBits)
        Entry(run.ids(i), cid, sign, exCode, run.x2(i), run.facIp(i),
          sign.map(java.lang.Long.bitCount).sum.toFloat, run.facErr(i), run.xipnorm(i))
      })
    }

  /** The QUERY-MAJOR scan over packed runs — the one kernel behind
    * every search. Per (query, cluster): ONE residual/LUT prepare, then
    * a sequential stream through the cluster's packed blocks. `runs` is
    * one [[Runs]]: a runs partition's, or the model's replica
    * ([[IVFModel.replica]]), which holds every cluster's entries in id
    * order, so a query scanning it keeps one pool across all its probed
    * clusters. Only the clusters a query of `qs` probes are read, and
    * only their entries count as buffered. `accs` are the search
    * counters ([[searchAccs]]); a reranked entry whose lower bound
    * exceeds its reranked distance counts as a bound violation.
    *
    * Returns one (query_id, ids, dists) row per query with at least one
    * candidate in `runs`: its top-k there, ascending under
    * [[KnnExact.DistIdOrder]] — the sorted lists the top-k merges fold
    * linearly ([[KnnExact.mergeSorted]]).
    *
    * Surviving entries are reranked in speculative PAIRS on the F-byte
    * path: when entry i passes `lower <= distK`, the scan looks ahead
    * for the next entry j that passes the same distK and reranks both
    * in one pass ([[RaBitQ.rerankDistF2]], two accumulators, each
    * bit-identical to [[RaBitQ.rerankDistF]]). i is inserted first and
    * j re-checked against the updated distK before it is. distK only
    * shrinks, so the entries skipped between i and j fail it anyway:
    * every skip/admit decision, every heap, and the rerank and
    * bound-violation counters (admissions only) equal the one-at-a-time
    * loop's. The B=9 unpack path reranks one entry at a time. */
  private[graft] def scanRuns(
      qs: Array[(Long, Array[Float], Array[Int])],
      runs: Runs,
      rotCents: Array[Array[Float]],
      k: Int,
      queryBits: Int,
      exBits: Int,
      accs: SearchAccs)
      : Iterator[(Long, Array[Long], Array[Double])] = {
    val heaps = Array.fill(qs.length)(new KnnExact.BoundedTopK(k))
    var nEst = 0L; var nRerank = 0L; var nViolations = 0L
    var nEntries = 0L
    val counted = new java.util.BitSet(runs.length)
    qs.foreach(_._3.foreach { cid =>
      if (runs(cid) != null && !counted.get(cid)) {
        counted.set(cid); runs(cid).foreach(nEntries += _.n)
      }
    })
    // partition-owned prepare scratch: one residual + one LUT buffer
    // reused across every (query, cluster) prepare — fresh allocation
    // per prepare measured ~10 GB per 2048 queries of GC load at the reference
    // shape (see RaBitQ.prepareQueryInto)
    var rBuf: Array[Float] = null
    var lutBuf: Array[Int] = null
    val pair = new Array[Double](2) // rerankDistF2's out slots
    // scan order: per QUERY, its probed clusters in CENTROID-RANK
    // order (qs(qi)._3 is already ranked) — the nearest cluster
    // tightens the query's distK before the farther
    // probes are scanned, which is where the prune does its work
    // (cluster-major order left distK at MaxValue through most of a
    // query's candidate volume; measured 61% rerank rate at the
    // reference shape). The skip rule is order-safe: lower >
    // distK_now ≥ distK_final implies the candidate cannot enter the
    // final top-k (modulo the documented fac_err bound-violation
    // caveat, same as layout).
    var qi = 0
    while (qi < qs.length) {
      val rankedCls = qs(qi)._3
      var distK = Double.MaxValue
      val heap = heaps(qi)
      var c = 0
      while (c < rankedCls.length) {
        val cid = rankedCls(c)
        val rs = runs(cid)
        if (rs != null) {
          if (rBuf == null) {
            val d = rotCents(cid).length
            rBuf = new Array[Float](d)
            if (queryBits > 0) lutBuf = new Array[Int](RaBitQ.lutLength(d))
          }
          val qc = RaBitQ.prepareQueryInto(
            qs(qi)._2, rotCents(cid), queryBits, rBuf, lutBuf)
          var b = 0
          while (b < rs.length) {
            val run = rs(b)
            val words = run.words
            val dim = run.dim
            val useF = run.packExF
            // run columns hoisted to locals: they are var FIELDS, and
            // the heap.insert call inside the loop forces the JIT to
            // re-load each field per entry — the r16 kernel A/B
            // measured the un-hoisted loop at 0.95x the per-entry
            // layout at d=1536 and the hoisted one at 1.02-1.14x
            // (1.43x at d=64); results/kernel_layout_ab_r16.json
            val sign = run.sign
            val x2s = run.x2
            val ips = run.facIp
            val errs = run.facErr
            val xns = run.xipnorm
            val idsA = run.ids
            val exFA = run.exF
            val exCodeA = run.exCode
            val nRun = run.n
            def lowerOf(e: Int): Double =
              if (queryBits > 0)
                RaBitQ.estimateLowerLutPacked(qc, sign, e * words, words,
                  x2s(e), ips(e), errs(e))
              else
                RaBitQ.estimateLowerPacked(qc, sign, e * words, words,
                  x2s(e), ips(e), errs(e))
            var i = 0
            while (i < nRun) {
              val lowerI = lowerOf(i)
              if (lowerI <= distK) {
                if (useF) {
                  // speculative partner: the next entry passing this distK
                  var j = i + 1
                  var lowerJ = 0.0
                  var found = false
                  while (!found && j < nRun) {
                    lowerJ = lowerOf(j)
                    if (lowerJ <= distK) found = true else j += 1
                  }
                  if (found) {
                    RaBitQ.rerankDistF2(qc, exFA, i * dim, x2s(i), xns(i),
                      j * dim, x2s(j), xns(j), exBits, pair)
                    nRerank += 1
                    if (lowerI > pair(0)) nViolations += 1
                    heap.insert(pair(0), idsA(i))
                    distK = heap.worstOrElse(Double.MaxValue)
                    if (lowerJ <= distK) {
                      nRerank += 1
                      if (lowerJ > pair(1)) nViolations += 1
                      heap.insert(pair(1), idsA(j))
                      distK = heap.worstOrElse(Double.MaxValue)
                    }
                  } else {
                    val dist = RaBitQ.rerankDistF(qc, exFA, i * dim,
                      x2s(i), xns(i), exBits)
                    nRerank += 1
                    if (lowerI > dist) nViolations += 1
                    heap.insert(dist, idsA(i))
                    distK = heap.worstOrElse(Double.MaxValue)
                  }
                  i = j // past the partner, or past the run
                } else {
                  val dist = RaBitQ.rerankDistPacked(qc, sign, i * words,
                    exCodeA(i), x2s(i), xns(i), exBits)
                  nRerank += 1
                  if (lowerI > dist) nViolations += 1
                  heap.insert(dist, idsA(i))
                  distK = heap.worstOrElse(Double.MaxValue)
                }
              }
              i += 1
            }
            nEst += nRun
            b += 1
          }
        }
        c += 1
      }
      qi += 1
    }
    accs.add(nEntries, nEst, nRerank, nViolations)
    qs.iterator.zip(heaps.iterator).collect {
      case ((qid, _, _), h) if h.nonEmpty =>
        val (ids, dists) = h.drainSorted()
        (qid, ids, dists)
    }
  }

  /** Build and search parameters. The build has one recipe: the
    * reference's `IVF{K},Flat` (python/ivf.py:26-35) — k-means on a
    * bounded sample, then every vector assigned to its exact nearest
    * centroid — with the fat-cell split between the two, which sizes
    * cells at [[AutoSplitFactor]] and ships only when its build-time
    * self-probe says the fat cells are clustering artifacts. */
  final case class Params(
      k: Int = 16,
      totalBits: Int = 4, // B; exBits = B-1. Reference supports B ∈ {3,4,5,7,8,9}
      seed: Long = 42L,
      // Training-sample bound. The fat-cell split holds the sample on
      // the DRIVER: maxTrainRows × dim × 4 bytes of heap (1M rows at
      // d=1536 is 6 GB). It is fetched one partition at a time
      // (toLocalIterator), so it never meets spark.driver.maxResultSize
      // (1 GiB by default), which a single collect of it would exceed.
      maxTrainRows: Long = 1000000L,
      // Search-time knob, NOT index state (never persisted): 0 = exact
      // float query residual on the estimate phase (default; strictly
      // more accurate than the reference); >0 = scalar-quantize the
      // residual to this many bits and accumulate Σu through one
      // 256-entry table per 8 dims (RaBitQ.QueryLut) — the reference's
      // BQUERY=14 FastScan mechanism (Searcher.hpp:16,122-172), whose
      // tables are 4-bit; trading a sliver of estimate accuracy for a
      // cheaper per-entry hot loop.
      queryBits: Int = 0,
      // k-means|| init rounds: each round D²-samples ~2k candidates
      // AND the collected candidate set feeds a SERIAL driver-side
      // k-means++ finish whose cost grows with rounds·k — at K=4096,
      // d=1536 that finish dominates the whole build, so large-K
      // builds cut rounds first (recall delta measured in the sweep
      // meta before committing a config).
      kmeansInitSteps: Int = 2) {
    require(Set(3, 4, 5, 7, 8, 9).contains(totalBits), s"unsupported totalBits $totalBits")
    require(queryBits == 0 || (queryBits >= 4 && queryBits <= 16),
      s"queryBits must be 0 (exact) or in [4,16], got $queryBits")
    def exBits: Int = totalBits - 1
  }

  /** Cap factor the fat-cell split sizes cells against: 8× the
    * mean cell size. Round-9 measured genuine catch-all artifacts at
    * ~100–175× mean; 8× is far above balanced-k-means jitter (≤3×
    * observed on every corpus swept) so the split only triggers
    * on real skew. */
  val AutoSplitFactor: Double = 8.0

  /** Lloyd iterations of the centroid training: recall is insensitive
    * beyond ~10 on these corpora (verified by the recall specs), and
    * train time is the dominant one-time build cost. */
  private val KMeansMaxIter = 12

  /** Outcome of the split's build-time self-probe ([[selfProbe]]):
    * candidate recall of the flat and the split centroids at `nprobe`
    * over `nQueries` sample queries, and K before (`kFlat`) and after
    * (`kSplit`) the candidate split. `verdict` is "artifact" (the split
    * ships) or "mass" (the flat centroids ship). */
  final case class SplitProbe(
      flatRecall: Double,
      splitRecall: Double,
      nprobe: Int,
      nQueries: Int,
      verdict: String,
      kFlat: Int,
      kSplit: Int)

  /** What [[splitFatClusters]] did, sized on the training sample: the
    * trained cells held `meanRows` sample rows on average and `maxRows`
    * at most, and `fatCells` of them held more than `capRows`
    * ([[AutoSplitFactor]] × `meanRows`). `undersplit` children of the
    * candidate split still held an estimated share above the cap (the
    * split's width and depth bounds), the worst `worstResidual` rows.
    * `probe` is the self-probe's verdict, None when no cell was fat
    * (the trained centroids ship as they are). */
  final case class SplitOutcome(
      fatCells: Int,
      capRows: Double,
      meanRows: Double,
      maxRows: Long,
      undersplit: Int,
      worstResidual: Double,
      probe: Option[SplitProbe])

  /** The training half of a [[BuildReport]]: the sample's rows, the
    * trainer's wall in seconds (the k-means fit plus the sample's
    * fetch to the driver), K as trained, and the split's outcome. */
  final case class TrainReport(
      sampleRows: Int,
      trainS: Double,
      kTrained: Int,
      split: SplitOutcome)

  /** What a build did, on the model it returns
    * ([[IVFModel.buildReport]]): its training (None when the centroids
    * were given, [[buildWithCentroids]]), K as shipped, the wall in
    * seconds of the assign, rotate, quantize and pack pass (the layout
    * shuffle included), and the built index's largest cell and its
    * entries per shipped cell. */
  final case class BuildReport(
      train: Option[TrainReport],
      kShipped: Int,
      quantizeS: Double,
      maxCell: Long,
      meanCell: Double)

  /** Exact nearest centroid: one strict-< scan in raw space, the lower
    * index winning a tie. The build's one assignment kernel — the
    * split's sizing and self-probe, [[localKMeans]] and [[quantizeRow]]
    * — so no step can drift from the assignment the index ships. */
  private def nearestCentroid(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var b = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = l2sq(v, cents(c))
      if (d < bestD) { bestD = d; b = c }
      c += 1
    }
    b
  }

  /** `f(i)` for every i in [0, n), across the driver's cores. Each
    * call must write only its own slot: the result is then independent
    * of the thread count. */
  private[ann] def parallelFor(n: Int)(f: Int => Unit): Unit =
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => f(i))

  /** Seeded driver-local Lloyd with k-means++ init, over a small point
    * set (a fat cell's subsampled members — at most a few thousand
    * rows). Returns (centroids, assignment). Empty cells keep their
    * previous centroid (standard Lloyd degeneracy handling). */
  private[graft] def localKMeans(
      pts: Array[Array[Float]], m: Int, seed: Long, iters: Int = 10)
      : (Array[Array[Float]], Array[Int]) = {
    val rnd = new scala.util.Random(seed)
    val n = pts.length
    val dim = pts(0).length
    val cents = new Array[Array[Float]](m)
    cents(0) = pts(rnd.nextInt(n)).clone()
    val d2 = Array.fill(n)(Double.MaxValue)
    var ci = 1
    while (ci < m) {
      var i = 0; var sum = 0.0
      while (i < n) {
        val d = l2sq(pts(i), cents(ci - 1))
        if (d < d2(i)) d2(i) = d
        sum += d2(i)
        i += 1
      }
      var pick = n - 1
      if (sum > 0) {
        var r = rnd.nextDouble() * sum
        i = 0
        var found = false
        while (i < n && !found) {
          r -= d2(i)
          if (r <= 0) { pick = i; found = true }
          i += 1
        }
      } else pick = rnd.nextInt(n)
      cents(ci) = pts(pick).clone()
      ci += 1
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        assign(i) = nearestCentroid(pts(i), cents)
        i += 1
      }
      val sums = Array.ofDim[Double](m, dim)
      val cnt = new Array[Int](m)
      i = 0
      while (i < n) {
        val a = assign(i); val p = pts(i)
        var d = 0
        while (d < dim) { sums(a)(d) += p(d); d += 1 }
        cnt(a) += 1
        i += 1
      }
      var j = 0
      while (j < m) {
        if (cnt(j) > 0) {
          val c = new Array[Float](dim)
          var d = 0
          while (d < dim) { c(d) = (sums(j)(d) / cnt(j)).toFloat; d += 1 }
          cents(j) = c
        }
        j += 1
      }
      it += 1
    }
    var i = 0
    while (i < n) { assign(i) = nearestCentroid(pts(i), cents); i += 1 }
    (cents, assign)
  }

  /** Recursively split one fat cell's subsampled members until every
    * child's ESTIMATED sample share fits under `cap` (estimates scale
    * the parent's share by the child's subsample fraction — the
    * subsample is uniform within the cell). Terminal cells return
    * their local mean; dead children (no members) are dropped. Depth
    * is bounded: the m-way split targets the cap directly, so
    * recursion only mops up uneven splits. */
  private def splitCell(
      pts: Array[Array[Float]],
      estRows: Double,
      cap: Double,
      seed: Long,
      depth: Int): Array[(Array[Float], Double)] = {
    if (estRows <= cap || pts.length < 16 || depth >= 4) {
      val dim = pts(0).length
      val c = new Array[Float](dim)
      pts.foreach { p => var d = 0; while (d < dim) { c(d) += p(d); d += 1 } }
      var d = 0
      while (d < dim) { c(d) /= pts.length; d += 1 }
      return Array((c, estRows))
    }
    val m = math.max(2, math.min(math.ceil(estRows / cap).toInt, pts.length / 8))
    val (cents, assign) = localKMeans(pts, m, seed)
    val groups = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Array[Float]])
    var i = 0
    while (i < pts.length) { groups(assign(i)) += pts(i); i += 1 }
    (0 until m).iterator.flatMap { j =>
      val sub = groups(j)
      if (sub.isEmpty) Iterator.empty
      else {
        val est = estRows * sub.length / pts.length
        if (est <= cap || sub.length < 16 || depth + 1 >= 4)
          Iterator.single((cents(j), est))
        else splitCell(sub.toArray, est, cap, seed ^ ((j + 1) * 0x9E3779B97F4A7C15L),
          depth + 1).iterator
      }
    }.toArray
  }

  /** Post-training balanced-IVF split. k-means on real corpora grows
    * catch-all cells near the data mean that most queries rank into
    * their probe set (the round-9 chunk profile measured cells ~100×
    * the mean size driving 54M estimates per 2048-query chunk). Size
    * every trained cell on the training sample (one exact assignment
    * across driver cores), then build the candidate set that replaces
    * each cell whose share exceeds cap = [[AutoSplitFactor]] × mean
    * with locally re-clustered children: a seeded member subsample of
    * each fat cell (~32·children + 64 of its rows), re-clustered by
    * [[localKMeans]]. All of it runs on the driver, over the training
    * sample the centroids were fitted on. The candidate set
    * ships only when [[selfProbe]] says the fat cells are clustering
    * artifacts (recall holds at equal nprobe), not genuine neighbor
    * mass (the r10 sweep measured recall trading ~1:1 with
    * work-per-probe there); the single quantize pass then assigns
    * against the centroids returned. Returns them with the
    * [[SplitOutcome]] (the sizing, the undersplit children and the
    * verdict), which [[build]] puts in its [[BuildReport]]. */
  private[graft] def splitFatClusters(
      sample: Array[Array[Float]],
      centroids: Array[Array[Float]],
      params: Params): (Array[Array[Float]], SplitOutcome) = {
    val k0 = centroids.length
    val assign = new Array[Int](sample.length)
    parallelFor(sample.length) { i => assign(i) = nearestCentroid(sample(i), centroids) }
    val counts = new Array[Long](k0)
    assign.foreach(c => counts(c) += 1L)
    val mean = sample.length.toDouble / k0
    val cap = math.max(AutoSplitFactor * mean, 2.0)
    val fat = counts.indices.filter(counts(_) > cap)
    def outcome(undersplit: Int, worstResidual: Double, probe: Option[SplitProbe]) =
      SplitOutcome(fat.length, cap, mean, counts.max, undersplit, worstResidual, probe)
    if (fat.isEmpty) return (centroids, outcome(0, 0.0, None))
    val keepFrac = new Array[Double](k0)
    fat.foreach { c =>
      val m = math.ceil(counts(c) / cap)
      val want = math.min(32.0 * m + 64.0, 4096.0)
      keepFrac(c) = math.min(1.0, want / counts(c))
    }
    val members = Array.fill(k0)(scala.collection.mutable.ArrayBuffer.empty[Array[Float]])
    val rnd = new scala.util.Random(params.seed ^ 0xA24BAED4963EE407L)
    var i = 0
    while (i < sample.length) {
      val c = assign(i)
      if (keepFrac(c) > 0 && rnd.nextDouble() < keepFrac(c)) members(c) += sample(i)
      i += 1
    }
    val fatSet = fat.toSet
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    var undersplit = 0
    var worstResidual = 0.0
    counts.indices.foreach { c =>
      if (!fatSet(c)) out += centroids(c)
      else {
        val pts = members(c).toArray
        if (pts.length < 16) out += centroids(c) // degenerate draw: keep as-is
        else splitCell(pts, counts(c).toDouble, cap,
          params.seed ^ (c * 0xC2B2AE3D27D4EB4FL), 0).foreach { case (cent, est) =>
            // the split bounds width at pts.length/8 and depth at 4, so
            // a cell needing more than ~512 children (or a stubborn
            // depth-4 residual) can terminate above cap — the outcome
            // counts those children (the cap is a contract)
            if (est > cap) { undersplit += 1; worstResidual = math.max(worstResidual, est) }
            out += cent
          }
      }
    }
    val enriched = out.toArray
    val probe = selfProbe(sample, centroids, enriched, params)
    (if (probe.verdict == "artifact") enriched else centroids,
      outcome(undersplit, worstResidual, Some(probe)))
  }

  /** The split's self-probe: does replacing the fat centroids with
    * their children preserve CANDIDATE-GENERATION recall at equal
    * probe count? Draws `nq` distinct queries from the training sample
    * (seeded), finds each query's exact top-k within the sample by
    * brute force (ties broken by (distance, sample index); queries run
    * across driver cores), then assigns the true neighbors to flat and
    * split cells and measures the fraction reachable within the
    * query's `nprobe` nearest centroids under each layout. Verdict
    * "artifact" (split ships) when split recall ≥ flat recall − 0.02;
    * "mass" otherwise. Cost: nq·|sample| distances + nq·k·(K+K') —
    * seconds against a multi-minute build. */
  private[graft] def selfProbe(
      sample: Array[Array[Float]],
      flat: Array[Array[Float]],
      split: Array[Array[Float]],
      params: Params,
      nq: Int = 64,
      k: Int = 10): SplitProbe = {
    val n = sample.length
    val queries: Array[Int] =
      if (n <= nq) Array.range(0, n)
      else {
        val rnd = new scala.util.Random(params.seed ^ 0x51AB7E93C41D2F68L)
        val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (picked.size < nq) picked += rnd.nextInt(n)
        picked.toArray
      }
    val truth = new Array[Array[Long]](queries.length)
    parallelFor(queries.length) { qi =>
      val q = sample(queries(qi))
      val top = new KnnExact.BoundedTopK(k)
      var i = 0
      while (i < n) { top.insert(l2sq(q, sample(i)), i.toLong); i += 1 }
      truth(qi) = top.drainSorted()._1
    }
    val nprobe = math.max(2, math.min(64, flat.length / 50))
    // ONE flat-ranking implementation package-wide (deterministic
    // (dist, id) order) — the probe must rank exactly like the search
    // path it predicts
    var flatHit = 0L; var splitHit = 0L; var totalGt = 0L
    var qi = 0
    while (qi < queries.length) {
      val q = sample(queries(qi))
      val probedFlat = CentroidRouter.rankFlat(flat, q, nprobe).toSet
      val probedSplit = CentroidRouter.rankFlat(split, q, nprobe).toSet
      truth(qi).foreach { j =>
        val v = sample(j.toInt)
        totalGt += 1
        if (probedFlat(nearestCentroid(v, flat))) flatHit += 1
        if (probedSplit(nearestCentroid(v, split))) splitHit += 1
      }
      qi += 1
    }
    val fr = if (totalGt == 0) 0.0 else flatHit.toDouble / totalGt
    val sr = if (totalGt == 0) 0.0 else splitHit.toDouble / totalGt
    val verdict = if (sr >= fr - 0.02) "artifact" else "mass"
    SplitProbe(fr, sr, nprobe, queries.length, verdict, flat.length, split.length)
  }

  /** Train centroids (k-means, then the fat-cell split) + assign +
    * quantize. `df` must have (idCol: long, vecCol: array<float>). The
    * model's [[IVFModel.buildReport]] says what the build did
    * ([[BuildReport]]), the split's verdict included. */
  def build(
      spark: SparkSession,
      df: DataFrame,
      params: Params,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): IVFModel = {
    import spark.implicits._
    val data = df.select(col(idCol).cast(LongType).as("id"), col(vecCol).as("vec"))
    val firstDim = data.select(size(col("vec"))).head(1)
    require(firstDim.nonEmpty, "cannot build an IVF index on an empty dataset")
    val dim = firstDim(0).getInt(0)
    require(dim > 0, "cannot build an IVF index on empty vectors")

    // --- k-means on a bounded sample (python/ivf.py:26-29) ---
    // Fraction sampling needs the total row count, which at 100 TB is a
    // dedicated full-corpus scan. Instead each partition reservoir-
    // samples up to maxTrainRows/numPartitions rows in ONE pass:
    // near-uniform when partition sizes are comparable (parquet splits
    // are size-bounded), and exactly the full corpus whenever it is
    // smaller than the training budget.
    val typed = data.as[(Long, Array[Float])]
    val nParts = math.max(1, typed.rdd.getNumPartitions)
    val perPart = math.min(params.maxTrainRows / nParts, Int.MaxValue.toLong).toInt.max(1)
    val sampled = typed.rdd.mapPartitionsWithIndex { (pi, iter) =>
      val rnd = new scala.util.Random(params.seed ^ pi)
      val buf = new scala.collection.mutable.ArrayBuffer[Array[Float]](math.min(perPart, 4096))
      var n = 0L // elements seen so far in this partition
      iter.foreach { case (_, v) =>
        if (buf.length < perPart) buf += v
        else {
          val j = (rnd.nextDouble() * (n + 1)).toLong // algorithm R
          if (j < perPart) buf(j.toInt) = v
        }
        n += 1
      }
      buf.iterator
    }
    // persisted: k-means reads it once per Lloyd iteration, and the
    // split reads it once more, fetched to the driver
    val sampledP = sampled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // MLlib's default k-means|| init. SURVEY §6 records the two
    // cheaper inits measured against it at the reference shape:
    // random (recall@5 0.81 → 0.24) and a one-round D² oversample
    // (0.39) — the serial k-means++ finish is where the recall comes
    // from on micro-topic corpora
    val train = sampledP.toDF("vec")
      .withColumn("features", array_to_vector(col("vec")))
    val t0 = System.nanoTime()
    val (trained, sample) = try {
      val trained = new KMeans()
        .setK(params.k).setSeed(params.seed)
        .setMaxIter(KMeansMaxIter)
        .setInitSteps(params.kmeansInitSteps)
        .setFeaturesCol("features")
        .fit(train).clusterCenters.map(_.toArray.map(_.toFloat))
      // fetched one partition at a time (see Params.maxTrainRows): the
      // split runs on the driver over this array
      val rows = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
      sampledP.toLocalIterator.foreach(rows += _)
      (trained, rows.toArray)
    } finally sampledP.unpersist(blocking = false)
    val trainS = (System.nanoTime() - t0) / 1e9
    val (centroids, split) = splitFatClusters(sample, trained, params)

    buildWithCentroids(spark, data, centroids, dim, params,
      Some(TrainReport(sample.length, trainS, trained.length, split)))
  }

  /** The build after training: assign, rotate, quantize and pack `data`
    * against `centroids`. The model's [[BuildReport]] carries `train`
    * (None when the centroids were given). */
  private[graft] def buildWithCentroids(
      spark: SparkSession,
      data: DataFrame,
      centroids: Array[Array[Float]],
      dim: Int,
      params: Params,
      train: Option[TrainReport] = None): IVFModel = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val rotator = new Rotator(dim, params.seed)
    val rotatedCentroids = rotator.rotateAll(centroids)
    val bc = spark.sparkContext.broadcast((rotator, centroids, rotatedCentroids))
    val exBits = params.exBits

    // --- assign + rotate + quantize in one narrow pass (IVF::construct) ---
    val entries: Dataset[Entry] = data.as[(Long, Array[Float])].mapPartitions { iter =>
      val (rot, cents, rotCents) = bc.value
      iter.map { case (id, vec) => quantizeRow(rot, cents, rotCents, exBits, dim, id, vec) }
    }
    // cluster the index by (cluster_id, block) for scan locality with
    // balanced task size: blocks spread a hot cluster across the
    // partitions instead of handing it to one task (see
    // ClusterBlockRows — hash-on-cluster alone turned catch-all
    // clusters into multi-minute single-task stragglers). The block
    // key hashes the id first: raw pmod(id, nblocks) would collapse
    // under structured id spaces (all-even ids, snowflake-style
    // constant low bits, strides sharing a residue class) and quietly
    // reinstate the one-task scan.
    // The layout is pinned fully deterministic: an EXPLICIT partition
    // count (AQE coalesces a bare repartition(col) and its decision
    // could differ between the build and a later re-plan) and
    // sortWithinPartitions for the row order (shuffle fetch order is
    // randomized) — every search is bit-reproducible, and the
    // (cluster_id, id) row order is the order unpackRuns returns, so a
    // built model's `index` view reads the layout's rows in order.
    // The quantize pass is persisted (disk-backed) so the per-cluster
    // count and the final layout don't each recompute it; the handle
    // is dropped once the packed runs are materialized (they recompute
    // from the layout's shuffle output).
    val quantized = entries.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val k = centroids.length
      val runs = IVFModel.packCached(blockLayout(spark, quantized),
        rotator.paddedDim, exBits, k)
      // materializes the runs before the unpersist, and sizes the cells
      val cells = runs.map(_.map(rs => if (rs == null) 0L else rs.iterator.map(_.n.toLong).sum))
        .fold(new Array[Long](k)) { (a, b) => a.indices.foreach(c => a(c) += b(c)); a }
      val report = BuildReport(train, k, (System.nanoTime() - t0) / 1e9,
        cells.max, cells.sum.toDouble / k)
      val index = spark.createDataset(runs.mapPartitions(_.flatMap(unpackRuns)))
      new IVFModel(params, rotator, centroids, rotatedCentroids, index,
        new IVFModel.SharedSearchState(runs), Some(report))
    } finally quantized.unpersist(blocking = false)
  }

  /** The deterministic (cluster_id, hashed-block) layout — ONE copy of
    * the layout rule (see the comment above). */
  private def blockLayout(
      spark: SparkSession, entries: Dataset[Entry]): Dataset[Entry] = {
    import spark.implicits._
    val n = spark.sessionState.conf.numShufflePartitions
    val blocks = entries.groupBy("cluster_id").agg(
      ceil(count(lit(1)) / lit(ClusterBlockRows.toDouble))
        .cast("int").as("nblocks"))
    entries
      .join(broadcast(blocks), Seq("cluster_id"))
      .withColumn("_blk", pmod(xxhash64(col("id")), col("nblocks").cast("long")).cast("int"))
      .repartition(n, col("cluster_id"), col("_blk"))
      .sortWithinPartitions("cluster_id", "id")
      .select("id", "cluster_id", "sign_bits", "ex_code", "x2",
        "fac_ip", "sum_xb", "fac_err", "xipnorm")
      .as[Entry]
  }

  /** The per-vector assign + rotate + quantize kernel, shared by the
    * batch build and the streaming ingest path: the vector's exact
    * nearest centroid (in raw space), then RaBitQ on its rotated
    * residual against that centroid. */
  private[graft] def quantizeRow(
      rot: Rotator,
      cents: Array[Array[Float]],
      rotCents: Array[Array[Float]],
      exBits: Int,
      dim: Int,
      id: Long,
      vec: Array[Float]): Entry = {
    require(vec.length == dim,
      s"vector $id has ${vec.length} dims; index dimension is $dim")
    val rot_x = rot.rotate(vec)
    // nearestCentroid (one strict-< scan in raw space) — one kernel,
    // so assignment can never drift from the split's sizing and probe
    val best = IVFIndex.nearestCentroid(vec, cents)
    val cRot = rotCents(best)
    val residual = new Array[Float](rot.paddedDim)
    var i = 0
    while (i < rot.paddedDim) { residual(i) = rot_x(i) - cRot(i); i += 1 }
    val q = RaBitQ.quantize(residual, exBits)
    Entry(id, best, q.signBits, q.exCode, q.x2, q.facIp, q.sumXb, q.facErr, q.xipnorm)
  }

  /** Incremental ingest (b13): quantize a STREAM of vectors with an
    * existing model's centroids/rotation and append them to a
    * persisted index's entries directory — continuous corpus growth
    * with zero changes to the search path (IVFModel.load sees the new
    * cluster-partitioned files on the next load). Centroids stay
    * fixed, as in every production IVF ingest path; retrain + rebuild
    * when drift warrants it. Blocks until all currently-available
    * input is processed (AvailableNow). A load also needs the
    * `model.bin` that [[IVFModel.saveMeta]] writes, before or after.
    *
    * The sink is a foreachBatch plain-parquet write, NOT the
    * FileStreamSink: the stream sink's `_spark_metadata` log would
    * shadow any batch-written entries on load (Spark's batch reader
    * trusts the log exclusively), and its batch-id dedup keyed to a
    * per-call checkpoint would silently drop later calls' data. The
    * source checkpoint lives under `indexPath`, so repeated calls
    * ingest only files that arrived since the last call.
    *
    * Delivery is effectively EXACTLY-ONCE across crashes: foreachBatch
    * itself is at-least-once, so each micro-batch commits through its
    * own directory (`entries_batches/batch-N`, idempotently
    * overwritten) plus a marker in `_ingest_log` written only after
    * the data is complete. A re-delivered batch finds its marker and
    * skips; a batch whose crash left partial files has no marker —
    * readers never see it — and the re-delivery overwrites it.
    * IVFModel.load unions `entries` with the marked batch dirs;
    * IVFModel.compact folds them into the main layout. */
  def appendStream(
      spark: SparkSession,
      model: IVFModel,
      srcDir: String,
      indexPath: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      onCheckpointReset: String = "fail"): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    require(Seq("fail", "reingest").contains(onCheckpointReset),
      s"onCheckpointReset must be 'fail' or 'reingest', got '$onCheckpointReset'")
    // finish any interrupted compact swap BEFORE committing new
    // batches: a pending finish-swap deletes the batch dirs its
    // compacted copy folded in — batches committed below must never be
    // in that delete set (they postdate the copy)
    IVFModel.recoverCompact(spark, indexPath)
    // --- marker-log ↔ checkpoint identity guard ---
    // Markers are keyed to the checkpoint's batch-id sequence. If the
    // checkpoint was reset (deleted to re-ingest, or lost), batch ids
    // restart at 0 and a RETAINED marker would silently swallow a
    // re-numbered batch that carries files the old batch never had —
    // unreported data loss. The checkpoint's stable query id
    // (checkpoint/metadata) is recorded next to the markers AT QUERY
    // START (below), so even a crashed run leaves the binding; markers
    // with no stored id and no live checkpoint are treated as reset
    // too (legacy indexes whose crashed run predates the start-time
    // write). A reset never silently deletes committed batch data:
    // batches already folded by compact are safe in `entries`, but
    // unfolded ones exist ONLY under entries_batches, and the fresh
    // checkpoint can re-create them only if the source dir still holds
    // every ingested file — which this code cannot verify. Default
    // ('fail') stops with the recovery options; 'reingest' is the
    // operator's explicit assertion that the source dir is complete,
    // and clears the marker log + batch dirs for full re-ingest.
    locally {
      import org.apache.hadoop.fs.Path
      val fs = new Path(indexPath).getFileSystem(spark.sessionState.newHadoopConf())
      val idFile = new Path(s"$indexPath/_ingest_log/_checkpoint_id")
      val stored = IVFModel.readSmallFile(fs, idFile).map(_.trim)
      val current = IVFModel.checkpointQueryId(fs, indexPath)
      val hasMarkers = fs.exists(new Path(s"$indexPath/_ingest_log")) &&
        fs.listStatus(new Path(s"$indexPath/_ingest_log"))
          .exists(_.getPath.getName.startsWith("batch-"))
      val reset = (stored, current) match {
        case (Some(s), Some(c)) => s != c
        case (Some(_), None) => true // markers outlived their checkpoint
        case (None, None) => hasMarkers // crashed legacy run, checkpoint since lost
        case (None, Some(_)) => false // legacy index, binding continues below
      }
      if (reset) {
        val batches = new Path(s"$indexPath/entries_batches")
        // 'fail' must stop on ANY ingest history, not only unfolded
        // batch data: after compact folds the batches (markers kept,
        // batch dirs gone), a reset + silent re-ingest would duplicate
        // every folded vector in the index — the exact loss mode this
        // mode exists to stop
        if (onCheckpointReset == "fail" && (fs.exists(batches) || hasMarkers))
          throw new IllegalStateException(
            s"ingest checkpoint reset detected at $indexPath with ingest history " +
              "(committed batch data and/or fold markers). Blind re-ingest would " +
              "duplicate already-ingested vectors. If entries_batches still exists, " +
              "either run IVFModel.compact first to fold it, or re-run with " +
              "onCheckpointReset=\"reingest\" IF the source dir still holds every " +
              "ingested file. If batches were already FOLDED by compact (markers " +
              "only), the index already contains them: retire already-ingested " +
              "source files yourself, then re-run with onCheckpointReset=\"reingest\" " +
              "— re-ingesting the full source dir WILL duplicate folded vectors.")
        // the mismatched checkpoint must go too: in the (Some, Some)
        // arm a LIVE foreign checkpoint survives here, and the fresh
        // query would resume from its source-file offsets — silently
        // skipping files it recorded, breaking reingest's promise of a
        // full re-ingest of the source dir. Deleted FIRST for crash
        // safety: a crash mid-reset then leaves (stored=Some,
        // current=None), which the next run detects as reset again —
        // deleting the marker log first would instead leave
        // (None, Some(foreign)), the arm that RESUMES the foreign
        // checkpoint, re-opening the silent-skip hole.
        // delete order is crash-ordered: checkpoint → batches → log.
        // After any prefix of these a retry still detects reset
        // ((stored=Some, current=None) while the log survives), so no
        // crash point leaves either a resumable foreign checkpoint or
        // orphaned unmarked batch dirs (the log must outlive the
        // batches: markers-without-batches re-fires reset, while
        // batches-without-markers would be invisible leaked storage).
        fs.delete(new Path(s"$indexPath/_ingest_checkpoint"), true)
        fs.delete(batches, true)
        fs.delete(new Path(s"$indexPath/_ingest_log"), true)
      }
    }
    val dim = model.rotator.dim
    val exBits = model.params.exBits
    val bc = spark.sparkContext.broadcast(
      (model.rotator, model.centroids, model.rotatedCentroids))
    val schema = StructType(Seq(
      StructField(idCol, LongType), StructField(vecCol, ArrayType(FloatType))))
    val entries = spark.readStream.schema(schema).parquet(srcDir)
      .select(col(idCol).cast(LongType), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { iter =>
        val (rot, cents, rotCents) = bc.value
        iter.map { case (id, vec) => quantizeRow(rot, cents, rotCents, exBits, dim, id, vec) }
      }
    val fsPost = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val q = entries.toDF().writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.hadoop.fs.Path
        val fs = new Path(indexPath)
          .getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
        val marker = new Path(s"$indexPath/_ingest_log/batch-$batchId")
        if (!fs.exists(marker)) {
          batch.write.mode("overwrite").partitionBy("cluster_id")
            .parquet(s"$indexPath/entries_batches/batch-$batchId")
          fs.create(marker, true).close()
        }
      }
      .option("checkpointLocation", s"$indexPath/_ingest_checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // bind the (possibly new) checkpoint's identity to the marker log
    // BEFORE any batch commits: q.id IS the stable id persisted in the
    // checkpoint's metadata file, so a run that crashes mid-stream
    // still leaves markers and binding together (writing only after
    // awaitTermination left crashed runs with markers but no id — the
    // exact blind spot the (None, None) reset arm now also covers)
    locally {
      val out = fsPost.create(
        new org.apache.hadoop.fs.Path(s"$indexPath/_ingest_log/_checkpoint_id"), true)
      try out.write(q.id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    q.awaitTermination()
  }
}

object IVFModel {
  /** Queries per [[IVFIndex.scanRuns]] call in a [[IVFModel.searchAll]]
    * task: a task scans its queries in slices of this many, which
    * bounds the live per-query heaps at slice × k. */
  val ScanSliceQueries = 65536

  /** The replica cap: a model keeps a replica ([[IVFModel.replica]])
    * only while its runs' packed bytes are at most this, 1/16 of the
    * driver's max heap (256 MB at `-Xmx4g`). The cap bounds memory, not
    * speed. Measured at d=384, B=4, K=32, nprobe 8, local[4], `-Xmx4g`:
    *  - at 59.8 MB of packed runs, building the replica from the
    *    collected runs took 0.35 s and peaked at 596 MB of heap in use;
    *    G1's heap after a pause peaked 184 MB (3.1× the packed bytes)
    *    above the pre-build heap, dead humongous arrays (every column
    *    over 1 MB) included, and the replica then held 76 MB (1.3×);
    *  - at 239 MB, the replica's first construction (every entry
    *    unpacked to an object, sorted and re-packed) raised the live
    *    heap by ~2.4× its packed bytes, with 2.3 GB of heap in use
    *    before the collection that freed the garbage;
    *  - a model searched by both `search` and `searchAll` then held
    *    ~2.4× for its life (the replica and its broadcast's serialized
    *    pieces), beside its cached runs: at the cap, about a fifth
    *    of the heap;
    *  - the driver scan beat the per-partition paths at every size
    *    measured (3.7 to 239 MB): 1-query `search` 53 vs 63 ms, 5-query
    *    `search` 95 vs 141 ms, 2048-query `searchAll` 12.1 vs 14.0 s at
    *    239 MB. */
  private[graft] def replicaMaxBytes: Long = Runtime.getRuntime.maxMemory / 16

  private[ann] def requireKNprobe(k: Int, nprobe: Int): Unit = {
    // fail loudly on the driver: nprobe <= 0 would silently return an
    // empty frame (empty probe set -> nothing scanned), which reads as
    // "no neighbors" instead of a caller bug
    require(k > 0, s"search k must be positive, got $k")
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
  }

  /** FNV-1a, one Long id per step: the searchAll manifest's
    * order-sensitive query fingerprint. */
  private[ann] val FnvOffset = 0xcbf29ce484222325L
  private[ann] def fnv(h: Long, id: Long): Long = (h ^ id) * 0x100000001b3L

  /** What [[prepare]] reads: the rotator and the rotated centroids. */
  private[graft] type PrepareState = (Rotator, Array[Array[Float]])

  /** Where each cluster's runs live (for each cluster, the runs
    * partitions holding one of its runs, ascending) and the packed
    * bytes of all runs ([[IVFIndex.PackedRun.bytes]]). */
  private[graft] final case class Layout(clusterParts: Array[Array[Int]], packedBytes: Long)

  /** Search-time state SHARED across [[IVFModel.withQueryBits]] copies:
    * the model's runs, a build's as given, any other model's made by
    * `makeRuns` on first use, and, all of it
    * a function of the centroids and the runs and all of it dropped by
    * [[IVFModel.freeSearchCaches]], the broadcast of the
    * [[PrepareState]], the runs' [[Layout]], and the replica with its
    * broadcast. A call-scoped model ([[IVFModel.searchFiltered]]) has
    * its parent's rotator and centroids, so its state reads the
    * parent's prepare broadcast (`prepareOwner`) and makes none. */
  private[graft] final class SharedSearchState(
      makeRuns: () => RDD[IVFIndex.Runs], parent: SharedSearchState = null) {
    /** State over runs already made (a build's): a release frees them
      * even when the model was never searched. */
    def this(made: RDD[IVFIndex.Runs]) = { this(() => made); runsV = made }
    val prepareOwner: SharedSearchState = if (parent == null) this else parent.prepareOwner
    @volatile private var runsV: RDD[IVFIndex.Runs] = _
    def runs: RDD[IVFIndex.Runs] = Option(runsV).getOrElse(synchronized {
      if (runsV == null) runsV = makeRuns()
      runsV
    })
    /** The runs if they were made: what a release frees. */
    def madeRuns: Option[RDD[IVFIndex.Runs]] = Option(runsV)
    @volatile var prepareBc: Broadcast[PrepareState] = _
    @volatile var layout: Layout = _
    @volatile var replica: IVFIndex.Runs = _
    @volatile var replicaBc: Broadcast[IVFIndex.Runs] = _
  }

  /** One query made ready to scan: (id, rotated vector, its `nprobe`
    * nearest clusters, nearest first), ranked by the exact flat scan
    * ([[CentroidRouter.rankFlat]], the reference's FlatInitializer) at
    * every K. The one query prepare of every search: on the driver for
    * search/searchFiltered, in the query frame's partitions for
    * searchAll. */
  private[graft] def prepare(rotator: Rotator, rotatedCentroids: Array[Array[Float]],
      nprobe: Int)(q: (Long, Array[Float])): (Long, Array[Float], Array[Int]) = {
    val qr = rotator.rotate(q._2)
    (q._1, qr, CentroidRouter.rankFlat(rotatedCentroids, qr, nprobe))
  }

  /** A model's runs: `entries` packed into one [[IVFIndex.Runs]] per
    * partition ([[IVFIndex.packRuns]]; `dim` is the padded dim, the
    * residual and ex_code length), each run trimmed, persisted
    * MEMORY_AND_DISK, filled by the first action over them. Adaptive
    * execution runs an `entries` plan's exchanges (a tombstone
    * anti-join's broadcast) here, so a model over `entries` calls this
    * on its first search ([[SharedSearchState.runs]]), not when made. */
  private[ann] def packCached(entries: Dataset[IVFIndex.Entry], dim: Int, exBits: Int,
      nClusters: Int): RDD[IVFIndex.Runs] =
    entries.rdd.mapPartitions(it =>
      Iterator.single(trimmed(IVFIndex.packRuns(it, dim, exBits, nClusters))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The replica ([[IVFModel.replica]]) of a model's runs partitions
    * `parts`, in partition order: per cluster, its rows of every
    * partition and run copied into fresh exactly-sized runs in id order
    * (ties in partition, run and row order), rolling over at
    * [[IVFIndex.PackedRun.maxRows]] — field for field what
    * [[IVFIndex.packRuns]] makes of the unpacked entries sorted by
    * (cluster, id), with no entry objects. The rows are copied cluster
    * by cluster and each cluster's source runs are dropped from `parts`
    * as they are copied, so the build holds about the collected runs
    * plus one cluster beyond them. A loaded model's runs need not be in
    * id order (appended batches, the delete anti-join), so each
    * cluster's rows are ordered by a sorted permutation. */
  private[ann] def replicaOf(parts: Array[IVFIndex.Runs], nClusters: Int): IVFIndex.Runs = {
    val out: IVFIndex.Runs = new Array(nClusters)
    var c = 0
    while (c < nClusters) {
      val src = parts.iterator.flatMap(p => Option(p(c)).iterator.flatten).toArray
      val total = src.iterator.map(_.n).sum
      if (total > 0) {
        val runOf = new Array[Int](total)
        val rowOf = new Array[Int](total)
        val ids = new Array[Long](total)
        var r = 0
        for (s <- src.indices; i <- 0 until src(s).n) {
          runOf(r) = s; rowOf(r) = i; ids(r) = src(s).ids(i); r += 1
        }
        val order = Array.range(0, total).sortBy(ids(_)) // a stable sort
        val (words, dim, exBits) = (src(0).words, src(0).dim, src(0).exBits)
        val rs = scala.collection.mutable.ArrayBuffer.empty[IVFIndex.PackedRun]
        var k = 0
        while (k < total) {
          if (rs.isEmpty || rs.last.isFull)
            rs += new IVFIndex.PackedRun(words, dim, exBits, total - k)
          rs.last.addRow(src(runOf(order(k))), rowOf(order(k)))
          k += 1
        }
        out(c) = rs
      }
      parts.foreach(_(c) = null)
      c += 1
    }
    out
  }

  /** `runs` with every run trimmed (grow() overshoots up to 2×): the
    * form a model keeps for its lifetime. */
  private[ann] def trimmed(runs: IVFIndex.Runs): IVFIndex.Runs = {
    runs.foreach(rs => if (rs != null) rs.foreach(_.trim()))
    runs
  }

  /** Tombstone-delete: the ids stop appearing in every subsequent
    * load/search. Deletes are an appended id list — no index rewrite
    * on the hot path; [[compact]] folds them in physically. */
  def deleteIds(path: String, ids: DataFrame): Unit =
    ids.toDF("id").select(col("id").cast("long"))
      .write.mode("append").parquet(s"$path/deletes")

  /** Finish an interrupted [[compact]] swap — called before every
    * entries read, so a crash between the two renames self-heals on
    * the next load or compact instead of requiring manual file
    * surgery. State machine (under the exclusive-access contract):
    * entries missing + complete compacted copy present → finish the
    * swap; entries present + staged old copy present → finish the
    * pending cleanup. */
  private[ann] def recoverCompact(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val entries = new Path(s"$path/entries")
    val old = new Path(s"$path/entries_old")
    val neu = new Path(s"$path/entries_compacting")
    // NOTE: the tombstone dir is never touched here. Tombstones the
    // interrupted compact already folded in re-apply idempotently via
    // the anti-join (the ids are gone from entries), while tombstones
    // appended AFTER the crash are still pending — deleting the dir
    // would lose them. The next successful compact clears it.
    // Renames tolerate a concurrent recoverer: losing the race is fine
    // as long as someone installed the entries dir.
    if (!fs.exists(entries)) {
      if (fs.exists(neu) && fs.exists(new Path(neu, "_SUCCESS"))) {
        // the compacted copy is complete (_SUCCESS is the write's own
        // commit marker; for an index with a real entries dir, staging
        // it aside also only happens after the copy completed) — finish
        // the swap. The copy folded in every committed streaming batch,
        // so those data dirs go too (keeping them would double the
        // folded rows); the markers stay — see deleteFoldedBatches.
        if (!fs.rename(neu, entries))
          require(fs.exists(entries), s"compact recovery: rename failed under $path")
        deleteFoldedBatches(fs, path)
        fs.delete(old, true)
      } else if (fs.exists(neu)) {
        // a PARTIAL compacted write on an index whose entries dir never
        // existed (meta-only + streaming batches — with a real entries
        // dir the staging happens only after the copy completed, so
        // entries would still be present). Discard the partial copy;
        // the committed batch dirs are still the source of truth.
        fs.delete(neu, true)
        if (fs.exists(old) && !fs.rename(old, entries))
          require(fs.exists(entries), s"compact recovery: restore failed under $path")
      } else if (fs.exists(old)) {
        // no complete compacted copy — restore; streaming batch dirs
        // were NOT folded, so they stay
        if (!fs.rename(old, entries))
          require(fs.exists(entries), s"compact recovery: restore failed under $path")
      }
    } else if (fs.exists(old)) {
      // swap finished, cleanup didn't: entries_old is the commit
      // evidence, so the folded batch dirs are deleted first — if THIS
      // cleanup crashes too, the evidence is still there next time
      deleteFoldedBatches(fs, path)
      fs.delete(old, true)
    }
  }

  /** Remove batch DATA dirs a compact folded into entries. The
    * `_ingest_log` markers stay: they are the permanent record that a
    * batch landed (a marker whose dir is gone reads as zero rows), and
    * deleting them would re-open the exactly-once window — a batch
    * whose data was folded but whose stream-checkpoint commit was lost
    * would be re-delivered, find no marker, and land a second copy
    * next to its compacted rows. The markers are empty files keyed to
    * the checkpoint's batch ids; they live and die with
    * `_ingest_checkpoint` (reset both together or neither). */
  private def deleteFoldedBatches(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    fs.delete(new Path(s"$path/entries_batches"), true)
  }

  /** Read a small text file fully, None if absent. */
  private[ann] def readSmallFile(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  /** The ingest checkpoint's stable query id (`metadata` is written at
    * the checkpoint's creation and survives restarts; a RESET
    * checkpoint gets a fresh id). None before any stream ever ran. */
  private[ann] def checkpointQueryId(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Option[String] = {
    import org.apache.hadoop.fs.Path
    readSmallFile(fs, new Path(s"$path/_ingest_checkpoint/metadata"))
      .flatMap("\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(_).map(_.group(1)))
  }

  /** True iff `p` exists and holds at least one data file (ignores
    * `_SUCCESS`/hidden files — an empty write still creates the dir). */
  private def hasDataFiles(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val n = it.next().getPath.getName
        found = !n.startsWith("_") && !n.startsWith(".")
      }
      found
    }

  /** Streaming-ingest batch directories whose commit marker exists —
    * the only ones a reader may see. A dir without a marker is a
    * crashed partial write: invisible here, overwritten in place when
    * the stream re-delivers that batch (IVFIndex.appendStream). */
  private def committedBatchDirs(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Seq[org.apache.hadoop.fs.Path] = {
    import org.apache.hadoop.fs.Path
    val log = new Path(s"$path/_ingest_log")
    if (!fs.exists(log)) Nil
    else fs.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch-")).sorted
      .map(n => new Path(s"$path/entries_batches/$n"))
  }

  /** The persisted entries with tombstones subtracted (broadcast
    * anti-join) — shared by [[load]] and [[compact]], read with the
    * schema the format fixes. An entries directory with no data files
    * (an index compacted down to empty) reads as an empty frame, keeping
    * the on-disk layout uniformly partitioned. */
  private def entriesMinusDeletes(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    recoverCompact(spark, path)
    val entriesPath = new Path(s"$path/entries")
    val fs = entriesPath.getFileSystem(spark.sessionState.newHadoopConf())
    val schema = org.apache.spark.sql.Encoders.product[IVFIndex.Entry].schema
    // main entries + committed streaming-ingest batches (each its own
    // parquet root, all cluster_id-partitioned). Read per root and
    // union: a single multi-path read would need a shared basePath,
    // which these roots don't have.
    val roots = (entriesPath +: committedBatchDirs(fs, path))
      .filter(hasDataFiles(fs, _))
    if (roots.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val raw = roots.map(r => spark.read.schema(schema).parquet(r.toString))
      .reduce(_.unionByName(_))
    val deletesPath = new Path(s"$path/deletes")
    if (fs.exists(deletesPath))
      // no broadcast hint: a forced broadcast of an unbounded tombstone
      // set (e.g. a retention pass deleting half the corpus) would OOM
      // the driver on every load; the planner broadcasts small sets on
      // its own and falls back to a shuffled anti-join for large ones
      raw.join(spark.read.schema("id BIGINT").parquet(deletesPath.toString), Seq("id"),
        "left_anti")
    else raw
  }

  /** `model.bin` ([[IVFModel.saveMeta]]), its name until the rename,
    * its magic ("GRAF") and its header's bytes. */
  private val ModelFile = "model.bin"
  private val ModelFileInProgress = "_model.bin.inprogress"
  private val ModelMagic = 0x47524146
  private val ModelHeaderBytes = 32

  /** The params, rotator and raw centroids in `path`'s `model.bin`.
    * Fails naming the file when it is missing (an index saved by an
    * older build), its magic or [[IVFIndex.FormatVersion]] differ, or
    * its length is not the one its header gives. */
  private def readModel(spark: SparkSession,
      path: String): (IVFIndex.Params, Rotator, Array[Array[Float]]) = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$path/$ModelFile")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"no $ModelFile under $path: an index saved before format " +
      s"version ${IVFIndex.FormatVersion} keeps its metadata elsewhere — rebuild the index")
    val len = fs.getFileStatus(p).getLen
    require(len >= ModelHeaderBytes, s"$p is truncated: $len bytes, shorter than its header")
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(fs.open(p), 1 << 16))
    try {
      require(in.readInt() == ModelMagic, s"$p is not a graft model file")
      val version = in.readInt()
      require(version == IVFIndex.FormatVersion, s"$p has format version $version; this " +
        s"build reads ${IVFIndex.FormatVersion} — rebuild the index")
      val (k, totalBits, seed, dim, n) =
        (in.readInt(), in.readInt(), in.readLong(), in.readInt(), in.readInt())
      val padded = Rotator.roundUp(dim, 64)
      val want = ModelHeaderBytes + 4L * (n.toLong * dim + padded.toLong * padded)
      require(dim > 0 && n > 0 && len == want,
        s"$p holds $len bytes; its header (dim $dim, $n centroids) says $want")
      def rows(count: Int, width: Int) = Array.fill(count) {
        val (buf, row) = (new Array[Byte](4 * width), new Array[Float](width))
        in.readFully(buf)
        java.nio.ByteBuffer.wrap(buf).asFloatBuffer().get(row)
        row
      }
      val centroids = rows(n, dim)
      (IVFIndex.Params(k = k, totalBits = totalBits, seed = seed),
        Rotator.fromMatrix(dim, seed, rows(padded, padded)), centroids)
    } finally in.close()
  }

  /** Load a persisted index (analogue of IVF::load, IVF.hpp:254-293)
    * from its one on-disk form: `model.bin`, read on the driver, and
    * `entries` plus any committed ingest batches. Tombstoned ids (see
    * [[deleteIds]]) are subtracted with an anti-join. Load runs no
    * Spark job. Packed scan runs are never read from disk: the loaded
    * model's `index` is that uncached read, and its first search packs
    * the runs from it ([[IVFModel.runs]]) and, under the replica cap,
    * fetches its replica from them ([[IVFModel.replica]]); that search
    * also runs the anti-join's broadcast when `deletes/` exists. The
    * model has no [[IVFModel.buildReport]]. Directories left by
    * older builds (`packed/`, `centroids/`, `rotation/`, `meta/`) are
    * ignored and can be deleted by hand.
    *
    * The loaded model is a search snapshot: every search sees the index
    * as of the model's first search, whose packed runs and replica later
    * searches reuse. Load again after [[deleteIds]],
    * [[IVFIndex.appendStream]] or [[compact]] to search the changed
    * index. */
  def load(spark: SparkSession, path: String): IVFModel = {
    import spark.implicits._
    val (params, rotator, centroids) = readModel(spark, path)
    val index = entriesMinusDeletes(spark, path).as[IVFIndex.Entry]
    new IVFModel(params, rotator, centroids, rotator.rotateAll(centroids), index)
  }

  /** The one on-disk entries layout, written by [[IVFModel.save]] and
    * [[compact]]: one shuffle on the partition column buys ≤
    * shuffle-partitions files in (cluster_id, id) order, where a bare
    * partitionBy writes one file per cluster per task (tasks × K). */
  private def writeEntries(entries: Dataset[_], dir: String): Unit =
    entries.repartition(col("cluster_id"))
      .sortWithinPartitions("cluster_id", "id")
      .write.mode("overwrite").partitionBy("cluster_id").parquet(dir)

  /** Compaction: apply tombstones physically and merge the small files
    * accumulated by streaming ingest into one cluster-partitioned
    * layout.
    *
    * Safety contract: requires EXCLUSIVE access — pause ingest and
    * deletes while compacting (the standard contract for file-format
    * compaction without a transaction log); a concurrent append or
    * tombstone landing mid-compact would be lost with the old files.
    * No data is removed until the compacted copy is fully written and
    * swapped in: a crash before the swap leaves the live index
    * untouched, and a crash between the two renames (a tiny metadata
    * window) leaves the complete compacted copy in
    * `entries_compacting` for recovery. The ingest checkpoint is
    * preserved (it tracks SOURCE offsets, which remain valid). An index
    * whose `model.bin` [[load]] refuses is refused before anything moves. */
  def compact(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    readModel(spark, path)
    // reads entries + tombstones; also finishes any interrupted swap
    // first (recoverCompact), so a stale entries_compacting below is
    // genuinely a partial write, never an unconsumed complete copy
    val compacted = entriesMinusDeletes(spark, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val entriesNew = new Path(s"$path/entries_compacting")
    fs.delete(entriesNew, true)
    // an empty result still writes a directory (with _SUCCESS only);
    // entriesMinusDeletes reads that back as an empty frame with the
    // static Entry schema, and the layout stays uniformly partitioned
    // for later streaming appends
    writeEntries(compacted, entriesNew.toString)
    val entries = new Path(s"$path/entries")
    val entriesOld = new Path(s"$path/entries_old")
    fs.delete(entriesOld, true)
    // a meta-only index (saveMeta before any batch-written entries) has
    // nothing to stage aside; an empty entries_old still gets created —
    // it is the commit evidence recoverCompact keys the post-swap
    // cleanup on (without it, a crash below would leave the folded
    // streaming batch dirs visible next to their compacted copies)
    if (fs.exists(entries))
      require(fs.rename(entries, entriesOld), s"compact: could not stage $entries aside")
    else fs.mkdirs(entriesOld)
    require(fs.rename(entriesNew, entries), s"compact: rename failed under $path")
    // cleanup order mirrors recoverCompact: folded batch data dirs
    // first (markers stay — deleteFoldedBatches), the entries_old
    // commit evidence last
    deleteFoldedBatches(fs, path)
    fs.delete(entriesOld, true)
    fs.delete(new Path(s"$path/deletes"), true)
  }
}

/** A searchable IVF index. Its one in-memory form is `runs`, one
  * [[IVFIndex.Runs]] per partition, scanned as live JVM arrays
  * (per-call deserialization was ~95% of the estimate phase,
  * results/kernel_roofline.json). A built model's runs come from its
  * build and its `index` is an uncached view that unpacks them
  * ([[IVFIndex.unpackRuns]]); a loaded or hand-made model keeps the
  * `index` it was given and packs its runs from it on first use. Under
  * the replica cap the searches scan the model's [[replica]], a driver
  * copy of the runs in one canonical order, instead.
  *
  * `buildReport` says what the build did ([[IVFIndex.BuildReport]]):
  * set on a model made by [[IVFIndex.build]] (or from given centroids)
  * and on its [[withQueryBits]] copies, None on a loaded, a hand-made
  * or a call-scoped model. */
final class IVFModel private[graft] (
    val params: IVFIndex.Params,
    val rotator: Rotator,
    val centroids: Array[Array[Float]],
    val rotatedCentroids: Array[Array[Float]],
    val index: Dataset[IVFIndex.Entry],
    @transient private[graft] val shared: IVFModel.SharedSearchState,
    val buildReport: Option[IVFIndex.BuildReport]) extends Serializable {
  import IVFIndex.Entry

  /** A model over `index`: its runs are `index` packed per partition in
    * `index`'s order ([[IVFModel.packCached]]), made and filled by the
    * first search, so making the model runs no Spark job. */
  def this(params: IVFIndex.Params, rotator: Rotator,
      centroids: Array[Array[Float]], rotatedCentroids: Array[Array[Float]],
      index: Dataset[IVFIndex.Entry]) =
    this(params, rotator, centroids, rotatedCentroids, index,
      new IVFModel.SharedSearchState(() =>
        IVFModel.packCached(index, rotator.paddedDim, params.exBits, centroids.length)),
      None)

  /** The packed runs, one [[IVFIndex.Runs]] per partition: a built
    * model's from its build, any other's packed from `index` on first
    * use and shared with its [[withQueryBits]] copies. */
  private[graft] def runs: RDD[IVFIndex.Runs] = shared.runs

  /** The ACTUAL cell count — ≥ params.k when the fat-cluster split
    * enriched the centroid set (params.k stays the REQUESTED K, which
    * model.bin persists). Every nprobe cap must use this, not params.k:
    * capping at the requested K on an enriched index silently
    * under-probes and loses recall with no error. */
  def numClusters: Int = centroids.length

  /** Release the model-lifetime search caches, all shared with every
    * [[withQueryBits]] copy: the blocks of the packed runs ([[runs]],
    * read by a built model's `index` view), the prepare broadcast, the
    * runs' layout (cluster → partitions map and packed bytes), and the
    * [[replica]] with its broadcast. The model stays fully usable: the
    * next search rebuilds what it needs, re-caching the runs (a built
    * model recomputes them from its build's shuffle output, any other
    * re-packs them from `index`). For long-lived sessions cycling
    * through many models, where N throwaway models would otherwise pin
    * N packed copies until GC. On a model never searched it makes
    * nothing and runs no job.
    *
    * The replica's broadcast is DESTROYED: a [[searchAll]] frame built
    * under the replica cap before this call fails if run after it, so
    * build the frame again. */
  def freeSearchCaches(): Unit = {
    shared.synchronized {
      shared.madeRuns.foreach { runs =>
        runs.unpersist(blocking = true) // so no async removal races the re-cache
        runs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      // the prepare broadcast is unpersisted, not destroyed: an
      // over-cap searchAll frame not yet run still holds the old handle
      // and can re-fetch it. The replica's is destroyed: unpersist keeps
      // the driver's copy, and in local mode the driver's block manager
      // is the only one, so it would free nothing
      if (shared.prepareBc != null) shared.prepareBc.unpersist(false)
      if (shared.replicaBc != null) shared.replicaBc.destroy()
      shared.prepareBc = null
      shared.layout = null
      shared.replica = null
      shared.replicaBc = null
    }
  }

  /** One broadcast of the [[IVFModel.PrepareState]] per model
    * lifetime, shared by every search call and every queryBits copy:
    * the rotator and the rotated centroids (K × dim floats — 25 MB at
    * the reference shape), read by the executors that prepare
    * [[searchAll]]'s queries and scan the probed clusters. */
  private[graft] def prepareBroadcast(spark: SparkSession): Broadcast[IVFModel.PrepareState] = {
    val s = shared.prepareOwner
    if (s.prepareBc == null) s.synchronized {
      if (s.prepareBc == null)
        s.prepareBc = spark.sparkContext.broadcast((rotator, rotatedCentroids))
    }
    s.prepareBc
  }

  /** The runs' [[IVFModel.Layout]]: one job over [[runs]], once per
    * model, that also fills their cache. Its cluster → partitions map
    * routes the over-cap [[batchPlan]]; its byte count sizes the
    * [[replica]]. A partition whose runs fit its even share of
    * [[IVFModel.replicaMaxBytes]] ships them in the same job, so the
    * driver receives at most the cap: when every partition shipped and
    * the total fits, the replica is built from them and needs no fetch
    * of its own; otherwise they are dropped (over the cap), or the
    * replica fetches all runs again (a partition over its share). */
  private[graft] def layout(): IVFModel.Layout =
    Option(shared.layout).getOrElse(shared.synchronized {
      if (shared.layout == null) {
        val cap = IVFModel.replicaMaxBytes
        val share = cap / math.max(1, runs.getNumPartitions)
        val perPart = runs.mapPartitionsWithIndex((pi, it) => it.map { rs =>
          val held = rs.indices.filter(rs(_) != null)
          val bytes = held.iterator.flatMap(rs(_)).map(_.bytes).sum
          (pi, held.toArray, bytes, if (bytes <= share) rs else null)
        }).collect()
        val where = perPart.flatMap { case (pi, cs, _, _) => cs.map(_ -> pi) }.groupBy(_._1)
        val packedBytes = perPart.map(_._3).sum
        if (packedBytes <= cap && perPart.forall(_._4 != null))
          shared.replica = IVFModel.replicaOf(perPart.map(_._4), numClusters)
        shared.layout = IVFModel.Layout(
          Array.tabulate(numClusters)(c =>
            where.get(c).fold(Array.emptyIntArray)(_.map(_._2).sorted)),
          packedBytes)
      }
      shared.layout
    })

  /** The model's REPLICA: every cluster's entries in id order, packed
    * once on the driver from the collected [[runs]]
    * ([[IVFModel.replicaOf]], so it is a pure function of the entries;
    * the [[layout]] job usually ships them, else one more job fetches
    * them) and kept for the model's lifetime, shared by its
    * [[withQueryBits]] copies. A query scanning it keeps ONE pool
    * across all its probed clusters (the reference's result pool,
    * `inc/index/Pool.hpp`), in centroid-rank and then id order, so its
    * rows are a pure function of (index entries, query, params),
    * whatever the runs' layout. None when the runs' packed bytes
    * ([[layout]]) exceed [[IVFModel.replicaMaxBytes]]; the search paths
    * then scan [[runs]] per partition. Like the runs, it is a snapshot
    * of the index as of its first search. */
  private[graft] def replica(): Option[IVFIndex.Runs] =
    if (layout().packedBytes > IVFModel.replicaMaxBytes) None
    else Some(Option(shared.replica).getOrElse(shared.synchronized {
      if (shared.replica == null)
        shared.replica = IVFModel.replicaOf(runs.collect(), numClusters)
      shared.replica
    }))

  /** One broadcast of `replica` per model lifetime, read by every
    * [[searchAll]] task under the cap. */
  private def replicaBroadcast(spark: SparkSession,
      replica: IVFIndex.Runs): Broadcast[IVFIndex.Runs] =
    Option(shared.replicaBc).getOrElse(shared.synchronized {
      if (shared.replicaBc == null)
        shared.replicaBc = spark.sparkContext.broadcast(replica)
      shared.replicaBc
    })

  /** Same model, same runs and index, same shared search state and
    * build report, different query-side estimate precision
    * (Params.queryBits) — the knob costs nothing to flip. */
  def withQueryBits(bits: Int): IVFModel =
    new IVFModel(params.copy(queryBits = bits), rotator, centroids,
      rotatedCentroids, index, shared, buildReport)

  /** Persist the index (the Spark analogue of IVF::save,
    * IVF.hpp:219-252): `entries` (`index`) as columnar parquet
    * partitioned by cluster, so a read filtered to some clusters opens
    * only those directories, and `model.bin` ([[saveMeta]]). They are
    * the index's only persisted form: no packed scan runs are written,
    * and a loaded model packs them from its entries ([[runs]]).
    *
    * save is a FULL REPLACE of whatever index lived at `path`: besides
    * overwriting entries, it clears tombstones, streaming-ingest batch
    * dirs + markers, and the ingest checkpoint — all of them describe
    * the OLD index (stale batch dirs would resurrect vectors quantized
    * with the old centroids on the next load; stale tombstones would
    * delete ids the rebuild legitimately contains). The stale state is
    * cleared only AFTER the new entries landed: a failed or crashed
    * write must not have destroyed tombstones/batches it never
    * replaced (the old index stays load-consistent). After a
    * rebuild-in-place, point appendStream at a fresh landing directory:
    * with the checkpoint gone it re-ingests everything it sees. Note
    * that overwriting `entries` itself is NOT crash-atomic (Spark's
    * static overwrite clears the dir before writing) — save to a fresh
    * path, or use [[IVFModel.compact]] for the crash-safe in-place
    * rewrite. */
  def save(path: String): Unit = {
    val spark = index.sparkSession
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    IVFModel.writeEntries(index, s"$path/entries")
    saveMeta(path)
    Seq("deletes", "entries_batches", "_ingest_log", "_ingest_checkpoint",
      "entries_old", "entries_compacting")
      .foreach(d => fs.delete(new Path(s"$path/$d"), true))
  }

  /** Persist only the model metadata, `model.bin`, on the driver with
    * no Spark job — seeds an index directory whose entries arrive
    * separately (IVFIndex.appendStream). Big-endian: the ints magic,
    * [[IVFIndex.FormatVersion]], k and totalBits, the long seed, the ints
    * dim and centroid count, then the floats of the raw centroids and
    * the paddedDim² rotation. Written as `_model.bin.inprogress`, then
    * renamed over `model.bin` (where a rename cannot replace a file, the
    * old one is deleted first): a reader never sees a partial file. */
  def saveMeta(path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(index.sparkSession.sessionState.newHadoopConf())
    val tmp = new Path(s"$path/${IVFModel.ModelFileInProgress}")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 16))
    try {
      Seq(IVFModel.ModelMagic, IVFIndex.FormatVersion, params.k, params.totalBits)
        .foreach(out.writeInt)
      out.writeLong(params.seed)
      Seq(rotator.dim, centroids.length).foreach(out.writeInt)
      (centroids.iterator ++ rotator.matrix.iterator).foreach { row =>
        val buf = java.nio.ByteBuffer.allocate(4 * row.length)
        buf.asFloatBuffer().put(row)
        out.write(buf.array())
      }
    } finally out.close()
    val dst = new Path(s"$path/${IVFModel.ModelFile}")
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      require(fs.rename(tmp, dst), s"saveMeta: could not rename $tmp to $dst")
    }
  }

  /** Approximate top-k: (query_id, neighbor_id, rk), rk 1-based in
    * (distance, id) order. EAGER, and the returned DataFrame is local
    * (a `LocalTableScan`), so collecting or joining it runs no scan
    * again. The queries are rotated and ranked on the driver.
    *
    * A model's first search runs one job over its [[runs]], the
    * [[layout]], whose packed byte count picks the path for the model's
    * life. On a model that did not come from a build, that search also
    * makes the runs from `index`, and so runs whatever jobs `index`'s
    * plan needs first (a loaded index's tombstone broadcast, see
    * [[IVFModel.load]]). An empty query set runs no job. Under the
    * replica cap ([[IVFModel.replicaMaxBytes]]) the
    * call scans the model's [[replica]] on the driver, query slices
    * spread across driver cores, one pool per query: the layout job
    * also ships the runs the replica is built from (unless a runs
    * partition exceeds its share of the cap: then one more job fetches
    * them), and every later call runs no Spark job and makes no
    * broadcast. Over the cap each call runs ONE plain RDD job over the
    * packed runs ([[searchOnDriver]]), so a fresh model's first call
    * runs two jobs, the layout and the scan. That path keeps a pool per
    * runs partition, and with [[searchAll]]'s over-cap plan it is the
    * only search whose rows can depend on the runs' layout
    * ([[IVFIndex.ClusterBlockRows]]). Either way the rows are those
    * [[searchAll]] returns for the same queries.
    * Query ids must be distinct: a repeated id gets one list of k rows
    * merged from its occurrences' pools, where a neighbor that two
    * occurrences find shows up twice. Holds queries × k
    * result rows on the driver; past ~100k queries use [[searchAll]],
    * which prepares the queries on the executors. */
  def search(
      spark: SparkSession,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int): DataFrame = {
    IVFModel.requireKNprobe(k, nprobe)
    if (queries.isEmpty) new KnnExact.DriverTopK(k).frame(spark, Array.emptyLongArray)
    else replica().fold(searchOnDriver(spark, queries, k, nprobe)) { r =>
      val probes = prepareAll(queries, nprobe)
      val accs = IVFIndex.searchAccs(spark)
      val n = probes.length
      val slices = math.min(n, Runtime.getRuntime.availableProcessors)
      val lists = new Array[Array[(Long, Array[Long], Array[Double])]](slices)
      IVFIndex.parallelFor(slices) { i =>
        lists(i) = IVFIndex.scanRuns(probes.slice(i * n / slices, (i + 1) * n / slices),
          r, rotatedCentroids, k, params.queryBits, params.exBits, accs).toArray
      }
      val top = new KnnExact.DriverTopK(k)
      lists.foreach(top.add)
      top.frame(spark, queries.map(_._1))
    }
  }

  /** Attribute-filtered search: only ids present in `allowedIds`
    * (single column of longs) are eligible results. It is [[search]]
    * run on a call-scoped model ([[withAllowed]]): this model's
    * rotator, centroids and params over the index semi-joined to
    * `allowedIds` ([[allowedOnly]]) and restricted to the clusters the
    * queries probe. So disallowed entries never cost an estimate, and
    * per-query heaps fill with k eligible results (post-filtering the
    * top-k would return fewer). No broadcast hint: the planner
    * broadcasts small allowed sets and shuffles large ones — a
    * selective-but-large metadata predicate (billions of ids at 100 TB)
    * must not be forced through the driver.
    *
    * The rows are those [[search]] returns on a model of the allowed
    * entries alone. Under the replica cap (sized on the allowed entries
    * of the probed clusters) a call runs the scoped model's layout job,
    * which packs those entries and ships them to the driver, and scans
    * one pool per query there; over the cap, the layout job and one
    * scan job. Plus whatever jobs the semi-join's own planning
    * needs (a broadcast of the allowed set, or its shuffle). The
    * queries are prepared twice, once to find the probed clusters and
    * once in the scoped search: O(queries · dim²) on the driver, cheap
    * at ad-hoc sizes. An empty query set runs no Spark job. */
  def searchFiltered(
      spark: SparkSession,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int,
      allowedIds: DataFrame): DataFrame = {
    IVFModel.requireKNprobe(k, nprobe)
    withAllowed(allowedIds, queries, nprobe)(_.search(spark, queries, k, nprobe))
  }

  /** `body` run on [[searchFiltered]]'s call-scoped model: the entries
    * of [[allowedOnly]] in the clusters `queries` probe (a `cluster_id
    * isin` filter, which prunes whole partition directories on a loaded
    * index), with this model's rotator, centroids, params and prepare
    * broadcast. The scoped model's runs, if `body` made them, are
    * unpersisted before this returns; the prepare broadcast is this
    * model's and stays. */
  private[graft] def withAllowed[T](allowedIds: DataFrame,
      queries: Array[(Long, Array[Float])], nprobe: Int)(body: IVFModel => T): T = {
    val probed = prepareAll(queries, nprobe).flatMap(_._3).distinct
    val entries = allowedOnly(allowedIds).filter(col("cluster_id").isin(probed.toIndexedSeq: _*))
    val state = new IVFModel.SharedSearchState(() =>
      IVFModel.packCached(entries, rotator.paddedDim, params.exBits, numClusters), shared)
    try body(new IVFModel(params, rotator, centroids, rotatedCentroids, entries, state, None))
    finally state.madeRuns.foreach(_.unpersist(blocking = true))
  }

  /** The index semi-joined to `allowedIds`: [[searchFiltered]]'s
    * entries before the probed-cluster filter. */
  private[graft] def allowedOnly(allowedIds: DataFrame): Dataset[Entry] = {
    val spark = index.sparkSession
    import spark.implicits._
    val allowed = allowedIds.toDF("id").select(col("id").cast("long"))
    index.join(allowed, Seq("id"), "left_semi").as[Entry]
  }

  /** [[search]] over an arbitrarily large query set, as one lazy Spark
    * plan with no per-query work on the driver. `search` prepares the
    * whole query batch on the driver, which is fine to ~100k queries;
    * past that, THIS is the path. Each partition of `queries` rotates
    * its own queries and ranks their probed clusters
    * ([[IVFModel.prepare]], over the model-lifetime
    * [[prepareBroadcast]]), so give the frame as many partitions as the
    * cores that should share that work. Then, under the replica cap
    * ([[IVFModel.replicaMaxBytes]]), the same task scans its queries
    * against one model-lifetime broadcast of the [[replica]], one pool
    * per query, in slices of [[IVFModel.ScanSliceQueries]], and emits
    * their final rows: one narrow stage, no shuffle, no merge
    * ([[replicaPlan]]). Over the cap, the queries are routed to the runs
    * partitions and merged ([[batchPlan]]). The first call on a model
    * runs the [[layout]] job, which under the cap also ships the
    * replica's runs, while the plan is built. The rows equal
    * [[search]]'s for the same queries: per-query results are
    * independent of which queries share a partition or a slice.
    *
    * Query ids must be distinct. A repeated id gets one top-k per
    * occurrence under the cap, and over it one merged list of k rows,
    * as in [[search]].
    *
    * Without `outputDir` the returned frame is that lazy plan: nothing
    * runs until an action, each action runs the whole plan, and no block
    * is cached for it. With `outputDir`, the plan is written once to
    * `outputDir/rows` and the returned frame reads those files back; then
    * a `_manifest.json` (query count, k, nprobe, and an order-sensitive
    * fingerprint of the query ids: FNV-1a over each query partition's
    * ids, folded over the partitions in order) marks the run finished.
    * The fingerprint reads the query frame's id column once more. A
    * USED outputDir (`rows/` or `_manifest.json` from any earlier run,
    * completed or aborted) is refused loudly, so two query sets' results
    * are never mixed. */
  def searchAll(
      spark: SparkSession,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      outputDir: Option[String] = None): DataFrame = {
    def plan = {
      IVFModel.requireKNprobe(k, nprobe)
      replica().fold(batchPlan(spark, queries, k, nprobe, idCol, vecCol))(
        replicaPlan(spark, _, queries, k, nprobe, idCol, vecCol))
    }
    outputDir.fold(plan) { dir =>
      import org.apache.hadoop.fs.Path
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      if (Seq("rows", "_manifest.json").exists(n => fs.exists(new Path(dir, n))))
        throw new IllegalStateException(
          s"searchAll outputDir $dir already holds another run's output " +
            "(rows/ or _manifest.json present); a second run into it could mix two " +
            "query sets' results — point each run at a fresh directory.")
      val result = plan // checks k and nprobe before the dir is marked used
      // rows/ is made before the write, so a run that fails inside it
      // still leaves the dir marked used
      fs.mkdirs(new Path(dir, "rows"))
      result.write.mode("append").parquet(s"$dir/rows")
      val perPart = queries.select(col(idCol).cast(LongType)).rdd
        .mapPartitions { it =>
          var (n, h) = (0L, IVFModel.FnvOffset)
          it.foreach { r => n += 1; h = IVFModel.fnv(h, r.getLong(0)) }
          Iterator.single((n, h))
        }.collect()
      val fingerprint = perPart.foldLeft(IVFModel.FnvOffset)((h, p) => IVFModel.fnv(h, p._2))
      val out = fs.create(new Path(dir, "_manifest.json"), true)
      try out.write(
        (s"""{"queries":${perPart.map(_._1).sum},"k":$k,"nprobe":$nprobe,""" +
          s""""query_fingerprint":"${java.lang.Long.toHexString(fingerprint)}"}""" + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      spark.read.parquet(s"$dir/rows")
    }
  }

  /** [[searchAll]]'s lazy plan under the replica cap: each partition of
    * `queries` prepares its queries and scans them, `slice` at a time,
    * against one model-lifetime broadcast of `replica`, emitting final
    * (query_id, neighbor_id, rk) rows. One narrow stage: no routing
    * shuffle, no merge, no cluster → partitions map. Each query's rows
    * come from its own pool, so a query id that repeats in `queries`
    * gets one top-k per occurrence. */
  private[graft] def replicaPlan(
      spark: SparkSession,
      replica: IVFIndex.Runs,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      idCol: String,
      vecCol: String,
      slice: Int = IVFModel.ScanSliceQueries): DataFrame = {
    import spark.implicits._
    require(slice > 0, s"slice must be positive, got $slice")
    // locals only: the closure below must not capture the model
    val bc = prepareBroadcast(spark)
    val rbc = replicaBroadcast(spark, replica)
    val accs = IVFIndex.searchAccs(spark)
    val (qb, eb) = (params.queryBits, params.exBits)
    val rows = queries
      .select(col(idCol).cast(LongType), col(vecCol))
      .as[(Long, Array[Float])].rdd
      .mapPartitions { it =>
        val (rot, cents) = bc.value
        val rep = rbc.value
        it.grouped(slice).flatMap { s =>
          IVFIndex.scanRuns(s.map(IVFModel.prepare(rot, cents, nprobe)(_)).toArray,
            rep, cents, k, qb, eb, accs)
        }.flatMap { case (q, ids, _) =>
          ids.iterator.zipWithIndex.map { case (id, i) => Row(q, id, i + 1) }
        }
      }
    spark.createDataFrame(rows, KnnExact.ResultSchema)
  }

  /** [[searchAll]]'s lazy plan over the cap: prepare, route each query
    * only to the runs partitions holding one of its probed clusters
    * (the [[layout]]'s map), scan in slices of `slice` queries, and
    * merge DISTRIBUTED ([[KnnExact.mergeTopK]]: one shuffle of the
    * scan's one-row-per-(partition, query) sorted lists, then a linear
    * merge per query), so queries × k result rows can run to millions.
    * Each runs partition keeps its own pool per query: with [[search]]'s
    * over-cap path, the only search whose rows can depend on the runs'
    * layout ([[IVFIndex.ClusterBlockRows]]). */
  private[graft] def batchPlan(
      spark: SparkSession,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      idCol: String,
      vecCol: String,
      slice: Int = IVFModel.ScanSliceQueries): DataFrame = {
    import spark.implicits._
    IVFModel.requireKNprobe(k, nprobe)
    require(slice > 0, s"slice must be positive, got $slice")
    // locals only: the closures below must not capture the model
    val bc = prepareBroadcast(spark)
    val where = layout().clusterParts
    val accs = IVFIndex.searchAccs(spark)
    val (qb, eb) = (params.queryBits, params.exBits)
    val routed = queries
      .select(col(idCol).cast(LongType), col(vecCol))
      .as[(Long, Array[Float])].rdd
      .mapPartitions { it =>
        val (rot, cents) = bc.value
        it.flatMap { q =>
          val p = IVFModel.prepare(rot, cents, nprobe)(q)
          p._3.flatMap(where(_)).distinct.iterator.map(_ -> p)
        }
      }
      .setName("searchAll.route")
      .partitionBy(new org.apache.spark.HashPartitioner(runs.getNumPartitions))
    val candidates = runs.zipPartitions(routed) { (rs, qs) =>
      val rotCents = bc.value._2
      rs.flatMap(r => qs.map(_._2).grouped(slice).flatMap(s =>
        IVFIndex.scanRuns(s.toArray, r, rotCents, k, qb, eb, accs)))
    }
    KnnExact.mergeTopK(spark, spark.createDataset(candidates), k)
  }

  /** [[search]] over the replica cap: the queries are prepared on the
    * driver ([[prepareAll]]) and ride one per-call broadcast; ONE plain
    * RDD job (`runJob`: no SQL execution, no exchange) scans [[runs]],
    * each partition returning one (query_id, ids, dists) row per query
    * with a candidate there, its partition-local top-k ascending under
    * [[KnnExact.DistIdOrder]] ([[IVFIndex.scanRuns]]: estimate → prune
    * → rerank, query-major over the packed runs). The driver folds each
    * task result into one [[KnnExact.DriverTopK]] as it arrives; the
    * global top-k under that order is the top-k of the partition
    * top-k's, so the rows, rk included, are those of the distributed
    * merge ([[KnnExact.mergeTopK]]) whatever order partitions finish in.
    * The query broadcast is destroyed once the job has finished.
    * [[search]] never calls it with an empty query set. */
  private[graft] def searchOnDriver(
      spark: SparkSession,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int): DataFrame = {
    IVFModel.requireKNprobe(k, nprobe)
    val top = new KnnExact.DriverTopK(k)
    // locals only: the closure below must not capture the model
    val sbc = prepareBroadcast(spark)
    val bc = spark.sparkContext.broadcast(prepareAll(queries, nprobe))
    val accs = IVFIndex.searchAccs(spark)
    val (qb, eb) = (params.queryBits, params.exBits)
    val candidates = runs.mapPartitions { it =>
      val rotCents = sbc.value._2
      it.flatMap(IVFIndex.scanRuns(bc.value, _, rotCents, k, qb, eb, accs))
    }
    try spark.sparkContext.runJob(candidates,
      (it: Iterator[(Long, Array[Long], Array[Double])]) => it.toArray,
      (_: Int, rows: Array[(Long, Array[Long], Array[Double])]) => top.add(rows))
    finally bc.destroy()
    top.frame(spark, queries.map(_._1))
  }

  /** `queries` prepared on the driver ([[IVFModel.prepare]]), across
    * all driver cores: rotation is O(dim²) per query and ranking
    * O(K·dim). */
  private def prepareAll(queries: Array[(Long, Array[Float])],
      nprobe: Int): Array[(Long, Array[Float], Array[Int])] = {
    val probes = new Array[(Long, Array[Float], Array[Int])](queries.length)
    IVFIndex.parallelFor(queries.length) { i =>
      probes(i) = IVFModel.prepare(rotator, rotatedCentroids, nprobe)(queries(i))
    }
    probes
  }

  /** High-accuracy search (the Spark analogue of the reference's
    * HIGH_ACC_FAST_SCAN / HASearcher.hpp path, reference
    * src/test_search.cpp:1, IVF.hpp:307-308): over-fetch
    * `k × overFetch` candidates with the quantized pipeline, then
    * re-rank that tiny (Q × k × overFetch)-row list by EXACT distance
    * with a broadcast join against the corpus — one corpus scan, no
    * driver collect. The quantized stage bounds the candidate set, the
    * exact stage removes code-rerank displacement; the accuracy/speed
    * knob the quantized path alone lacks. `corpus` must be the same
    * (idCol, vecCol) table the index was built from. */
  def searchHighAcc(
      spark: SparkSession,
      corpus: DataFrame,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int,
      overFetch: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // checked here: a bad overFetch would otherwise surface from
    // search() as a misleading "search k must be positive"
    require(k > 0, s"searchHighAcc k must be positive, got $k")
    require(overFetch >= 1, s"searchHighAcc overFetch must be >= 1, got $overFetch")
    require(k.toLong * overFetch <= Int.MaxValue,
      s"searchHighAcc k * overFetch overflows Int: k=$k, overFetch=$overFetch")
    KnnExact.rerankExact(spark, corpus, queries,
      search(spark, queries, k * overFetch, nprobe)
        .select("query_id", "neighbor_id"),
      k, idCol, vecCol)
  }
}
