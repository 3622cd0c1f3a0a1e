package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.ann.{CentroidRouter, IVFIndex, IVFModel, RaBitQ, SweepEval}

/** ANN index-pipeline queries (SURVEY.md §2 B2–B9). These are
  * rows-only-checked by the driver (k-means/rotation are not
  * SQL-expressible); their numeric behavior is pinned by ScalaTest
  * specs (recall, estimator-error bounds). */
object AnnQueries {
  /** Every cache below holds `.cache()`'d DataFrames (or models
    * holding them) whose plans are bound to ONE SparkContext — a
    * second session in the same JVM (per-suite sessions) must never
    * receive a cached plan referencing a stopped context, so every
    * key carries the session's applicationId. Entries of dead
    * sessions are few (one verify dir × a handful of sessions) and
    * die with the JVM. */
  private def appId(spark: SparkSession): String =
    spark.sparkContext.applicationId

  /** The session shape a memoized model or search result was made
    * under: the build's layout reads `spark.sql.shuffle.partitions`, so
    * a live session that changes it gets a model built under the new
    * setting instead of the old one's. */
  private def shape(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Int), IVFModel]()

  def model(spark: SparkSession, dir: String, bits: Int = 4): IVFModel =
    cache.computeIfAbsent((appId(spark), dir, bits, shape(spark)), _ =>
      IVFIndex.build(spark, Tables.embeddings(spark, dir),
        IVFIndex.Params(totalBits = bits)))

  // b7's search results and the exact ground truth are inputs to three
  // queries each (b7/b8/b10); keep the small result DataFrames per
  // (dir, bits, shape) so the expensive scans run once per session, like
  // the model. search() is eager and returns a local frame, so its entry
  // needs no cache(); the ground truth is lazy and is cached.
  private val searchCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Int), DataFrame]()
  private val gtCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  /** The shared b-query search workload: top-10, probing 3/4 of the
    * clusters (floored at 1 — a one-cluster model must probe its one
    * cluster, not crash the scan's nprobe > 0 require). */
  private val SearchK = 10
  private def searchNprobe(m: graft.ann.IVFModel): Int =
    math.max(1, 3 * m.numClusters / 4)

  private def searchResults(spark: SparkSession, dir: String, bits: Int = 4): DataFrame =
    searchCache.computeIfAbsent((appId(spark), dir, bits, shape(spark)), _ => {
      val m = model(spark, dir, bits)
      m.search(spark, queryVectors(spark, dir), SearchK, searchNprobe(m))
    })

  private def gtResults(spark: SparkSession, dir: String): DataFrame =
    gtCache.computeIfAbsent((appId(spark), dir), _ =>
      VectorQueries.gtTopKAll(spark, dir).cache())

  // GT with exact distances is the ratio denominator of FOUR certified
  // rows (b7/b7b/b16 + b10); cache it per dir like the GT itself so the
  // corpus scan behind it runs once per session.
  private val gtDistCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def gtDistResults(spark: SparkSession, dir: String): DataFrame =
    gtDistCache.computeIfAbsent((appId(spark), dir), _ =>
      withExactL2(spark, dir, gtResults(spark, dir)).cache())

  private def queryVectors(spark: SparkSession, dir: String): Array[(Long, Array[Float])] =
    VectorQueries.queryVectors(spark, dir)

  /** b2: trained centroids (cluster id, dim, norm of centroid). */
  def ivfTrain(spark: SparkSession, dir: String): DataFrame = {
    val m = model(spark, dir)
    val rows = m.centroids.zipWithIndex.map { case (c, i) =>
      (i, c.length, math.sqrt(graft.functions.VectorFunctions.dot(c, c)))
    }
    spark.createDataFrame(rows.toSeq).toDF("cluster_id", "dim", "centroid_norm")
      .orderBy("cluster_id")
  }

  /** b3: nearest-centroid assignment + distance (python/ivf.py:30-32).
    * Hash-certified: the cluster_id is the MODEL's assignment (read
    * from the index entries), while the oracle recomputes the argmin
    * over the persisted centroid sidecar independently — a mismatch in
    * either the assignment or the distance arithmetic fails the hash.
    * The distance is the raw-space double L2 (the same arithmetic the
    * assignment loop runs), not the rotated-space x2 factor. */
  /** The b3/b9 centroid sidecar (raw-space centroids widened to
    * double): written by BOTH queries so each is self-contained under
    * a Verify subset run; identical content, idempotent overwrite. */
  private[graft] def writeCentroidSidecar(
      spark: SparkSession, m: graft.ann.IVFModel): DataFrame = {
    import spark.implicits._
    val cents = m.centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toDouble).toSeq) }.toSeq
      .toDF("cluster_id", "centroid")
    // Serialized + memoized on the model instance (the
    // writeResidualSidecar discipline): five queries write this
    // sidecar, and two running concurrently in one JVM must not race
    // mode("overwrite") on the same path (one job deleting the dir
    // while the other commits). A repeat write by the model (held
    // weakly, by identity: identity hashes collide) whose centroids the
    // sidecar holds is skipped; any other model overwrites, preserving
    // the sequential last-write semantics.
    if (OracleSide.enabled) centroidSidecarLock.synchronized {
      if (centroidSidecarOf.get ne m) {
        OracleSide.write(cents, "b3_centroids")
        centroidSidecarOf = new java.lang.ref.WeakReference(m)
      }
    }
    cents
  }
  private val centroidSidecarLock = new Object
  private var centroidSidecarOf = new java.lang.ref.WeakReference[graft.ann.IVFModel](null)

  def ivfAssign(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_l2sq
    val m = model(spark, dir)
    val cents = writeCentroidSidecar(spark, m)
    m.index.toDF().select(col("id").as("vec_id"), col("cluster_id"))
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id").cast(LongType), col("embedding")), Seq("vec_id"))
      .join(broadcast(cents), Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_id"),
        round(sqrt(vec_l2sq(col("embedding"), col("centroid"))), 4)
          .as("dist_to_centroid"))
      .orderBy("vec_id")
  }

  /** The b4/b5/b5b residual sidecar: per entry, the quantizer's exact
    * input — the rotated residual rot(x) − rot(centroid) widened to
    * double (the float subtraction is recomputed with the entry's OWN
    * model rotator, bit-equal to quantizeRow's) — plus the optimal
    * scale t that fastQuantize selected (pinned input, the b6b
    * query-quantization discipline). From these the oracle recomputes
    * the ENTIRE quantizer surface in SQL: sign bits, popcount, x2,
    * fac_err (b4), the clamped code, the bit-packed byte sum, and
    * ipnorm/xipnorm (b5/b5b). Written only under Verify. */
  // b4 and b5 share the bits=4 sidecar; write it once per (dir, bits)
  // per JVM — the content is a pure function of both, and a second
  // write is a full rotate + t-search pass over every entry
  private val residualSidecarWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int, String)]()

  private def writeResidualSidecar(
      spark: SparkSession, dir: String, bits: Int, name: String): Unit = {
    if (!OracleSide.enabled) return
    // Serialized on the memo set: membership must mean "the sidecar
    // WAS written" for every observer — a lock-free add-then-write
    // would let a concurrent same-JVM caller (parallel suites building
    // b4 and b5 together) skip past during the write window and read a
    // missing/partial sidecar, and registering only AFTER the write
    // also makes a failed rotate/t-search job retryable (no key, no
    // corpse). Writes happen only under graft.Verify (a handful per
    // run), so coarse serialization costs nothing.
    residualSidecarWritten.synchronized {
    if (residualSidecarWritten.contains((dir, bits, name))) return
    import spark.implicits._
    val m = model(spark, dir, bits)
    val exBits = m.params.exBits
    val bc = spark.sparkContext.broadcast((m.rotator, m.rotatedCentroids))
    try {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id").cast(LongType).as("eid"), col("embedding"))
      val rows = m.index.toDF().select(col("id"), col("cluster_id"))
        .join(emb, col("id") === col("eid"))
        .select(col("id"), col("cluster_id"), col("embedding"))
        .as[(Long, Int, Array[Float])]
        .map { case (id, cid, vec) =>
          val (rot, rotCents) = bc.value
          val rx = rot.rotate(vec)
          val cR = rotCents(cid)
          val d = rot.paddedDim
          val res = new Array[Float](d)
          var i = 0
          while (i < d) { res(i) = rx(i) - cR(i); i += 1 }
          // |o'| exactly as RaBitQ.quantize builds it (double chains)
          var x2 = 0.0
          i = 0
          while (i < d) { x2 += res(i).toDouble * res(i); i += 1 }
          val x = math.sqrt(x2)
          val abs = new Array[Double](d)
          i = 0
          while (i < d) {
            abs(i) = math.abs(if (x > 0) res(i) / x else 0.0); i += 1
          }
          val bestT = RaBitQ.fastQuantizeT(abs, exBits)._3
          (id, cid, res.map(_.toDouble).toSeq, bestT)
        }
        .toDF("vec_id", "cluster_id", "r", "best_t")
      OracleSide.write(rows, name)
      residualSidecarWritten.add((dir, bits, name))
      ()
    } finally bc.destroy()
    }
  }

  /** b4: RaBitQ 1-bit code summary (popcount + factors).
    * Hash-certified: the rotated residual persists as a sidecar (see
    * [[writeResidualSidecar]]) and the oracle recomputes the popcount
    * from the residual signs and the x2/fac_err factor chains
    * (Quantizer.hpp:407-430 algebra) in-order in SQL — a drift in the
    * sign rule, the normalization, or either factor fails the hash. */
  def rabitqCode(spark: SparkSession, dir: String): DataFrame = {
    writeResidualSidecar(spark, dir, bits = 4, "b45_entries")
    model(spark, dir).index.toDF()
      .select(col("id").as("vec_id"), col("cluster_id"),
        col("sum_xb").cast("int").as("popcount"),
        round(col("x2").cast("double"), 4).as("x2"),
        round(col("fac_err").cast("double"), 4).as("fac_err"))
      .orderBy("vec_id")
  }

  /** b5: extended-code summary (code checksum + rerank factor).
    * Hash-certified: from the persisted residual + scale t the oracle
    * recomputes the clamped code min(⌊t·|o'_d|+ε⌋, 2^exBits−1), the
    * sign-flip (Quantizer.hpp:480-487), the byte sum of the bit-packed
    * stream (packBits ORs disjoint bit ranges, so each byte is an
    * exact integer SUM of per-dim contributions — closed form, no
    * iteration), and ipnorm → xipnorm (fast_quantize's trailing
    * chain). Only the t-SEARCH is pinned input. */
  def exrabitqCode(spark: SparkSession, dir: String): DataFrame =
    exrabitqCodeFor(spark, dir, bits = 4, "b45_entries")

  /** b5b: the same surface at B=8 — the reference's other headline
    * config (README `create_index ... 8`; Quantizer.hpp supports
    * B ∈ {3,4,5,7,8,9}, exercised across the sweep by AnnSpec). */
  def exrabitqCodeB8(spark: SparkSession, dir: String): DataFrame =
    exrabitqCodeFor(spark, dir, bits = 8, "b5b_entries")

  private def exrabitqCodeFor(
      spark: SparkSession, dir: String, bits: Int, sidecar: String): DataFrame = {
    import spark.implicits._
    writeResidualSidecar(spark, dir, bits, sidecar)
    // typed map kernel (not a UDF): the checksum runs inside the
    // deserializer pipeline and the plan stays codegen'd end-to-end
    model(spark, dir, bits).index
      .map(e => (e.id, byteSum(e.ex_code), e.xipnorm))
      .toDF("vec_id", "code_sum", "xipnorm")
      .select(col("vec_id"), col("code_sum"),
        round(col("xipnorm").cast("double"), 6).as("xipnorm"))
      .orderBy("vec_id")
  }

  /** Unsigned byte sum of a packed code — the b5 bench checksum. */
  private[graft] def byteSum(b: Array[Byte]): Long = {
    var s = 0L; var i = 0
    while (i < b.length) { s += (b(i) & 0xff); i += 1 }
    s
  }

  /** b6: estimated vs exact distance + lower bound for query 0 against
    * its nearest cluster (Searcher.hpp estimator surfaces).
    * Hash-certified: the per-entry sign code (unpacked to 0/1), the
    * rerank code F_d = bit·2^exBits + exCode_d, and the scalar factors
    * are persisted as sidecars together with the prepared query
    * residual, and the oracle recomputes ip, est, lower bound, and
    * rerank (Searcher.hpp:174-236 algebra) from them in SQL —
    * exact-integer codes, double residual, one trailing IEEE chain. */
  def rabitqEstimate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = model(spark, dir)
    val q = VectorQueries.queryVectors(spark, dir, 1).head
    val qRot = m.rotator.rotate(q._2)
    val nearest = CentroidRouter.rankFlat(m.rotatedCentroids, qRot, 1)(0)
    val qc = RaBitQ.prepareQuery(qRot, m.rotatedCentroids(nearest))
    val exBits = m.params.exBits
    val dim = m.rotator.paddedDim
    val bq = spark.sparkContext.broadcast((qc, exBits, nearest))
    val entries = m.index.filter(col("cluster_id") === nearest)
    if (OracleSide.enabled) {
      val half = ((1 << (exBits + 1)) - 1).toDouble
      OracleSide.write(
        Seq((qc.residual.map(_.toDouble).toSeq, qc.sumRes, qc.sqrY, qc.y, half))
          .toDF("r", "sum_res", "sqr_y", "y", "half"),
        "b6_query")
      writeEstimateEntriesSidecar(spark, entries, dim, exBits)
    }
    entries
      .map { e =>
        val (qcl, eb, _) = bq.value
        val v = RaBitQ.Quantized(e.sign_bits, e.ex_code, e.x2, e.fac_ip,
          e.sum_xb, e.fac_err, e.xipnorm)
        val (est, lower) = RaBitQ.estimate(qcl, v)
        val rr = RaBitQ.rerank(qcl, v, eb)
        (e.id, est, lower, rr)
      }
      .toDF("vec_id", "est", "low", "rr")
      .select(col("vec_id"), round(col("est"), 4).as("est_dist2"),
        round(col("low"), 4).as("lower_bound"),
        round(col("rr"), 4).as("rerank_dist2"))
      .orderBy("vec_id")
  }

  /** The shared b6/b6b per-entry sidecar: unpacked sign code (0/1 per
    * dim), the rerank code F_d = bit·2^exBits + exCode_d, and the
    * scalar factors widened to double. Identical content from either
    * query; idempotent overwrite. */
  private def writeEstimateEntriesSidecar(
      spark: SparkSession,
      entries: org.apache.spark.sql.Dataset[graft.ann.IVFIndex.Entry],
      dim: Int, exBits: Int): Unit = {
    import spark.implicits._
    val hi = 1 << exBits
    OracleSide.write(
      entries.map { e =>
        val bits = Array.tabulate(dim)(d =>
          ((e.sign_bits(d >> 6) >>> (d & 63)) & 1L).toInt)
        val f = Array.tabulate(dim)(d =>
          bits(d) * hi + RaBitQ.unpackAt(e.ex_code, d, exBits))
        (e.id, bits.toSeq, f.toSeq, e.x2.toDouble, e.fac_ip.toDouble,
          e.fac_err.toDouble, e.xipnorm.toDouble)
      }.toDF("vec_id", "bits", "f", "x2", "fac_ip", "fac_err", "xipnorm"),
      "b6_entries")
  }

  /** b6b: the QUANTIZED-QUERY estimator — the reference's BQUERY=14
    * scalar-quantize + LUT accumulation mechanism (Searcher.hpp:
    * 16,122-172 pack_LUT + accumulate_robust; graft's tables are
    * byte-indexed, the reference's 4-bit), the
    * arithmetic behind b16's search path — surfaced per entry like b6:
    * estimated distance and the quantization-widened lower bound for
    * query 0 against its nearest cluster at queryBits=14.
    * Hash-certified: the per-dim quantized query codes u_d (extracted
    * from the single-bit LUT entries the kernel actually reads), vl,
    * width, and the query scalars persist as a sidecar next to b6's
    * entry codes, and the oracle recomputes
    * ip = width·⟨u,bits⟩ + vl·popcount − S/2, est = x²+y² − ip·facIp,
    * and the ±width/2-widened lower bound in SQL — exact-integer
    * subset sums, one trailing IEEE chain. The query QUANTIZATION
    * itself (float round to 14-bit levels) is input, spec-pinned by
    * AnnSpec's recall-delta contract. */
  def rabitqEstimateLut(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = model(spark, dir)
    val q = VectorQueries.queryVectors(spark, dir, 1).head
    val qRot = m.rotator.rotate(q._2)
    val nearest = CentroidRouter.rankFlat(m.rotatedCentroids, qRot, 1)(0)
    val queryBits = 14 // the reference's BQUERY (Searcher.hpp:16)
    val qc = RaBitQ.prepareQuery(qRot, m.rotatedCentroids(nearest), queryBits)
    val dim = m.rotator.paddedDim
    val entries = m.index.filter(col("cluster_id") === nearest)
    if (OracleSide.enabled) {
      // u_d read back from the LUT's single-bit entries — the exact
      // ints the scan kernel accumulates, not a re-derivation
      val u = Array.tabulate(dim)(qc.qlut.level)
      OracleSide.write(
        Seq((u.toSeq, qc.qlut.vl.toDouble, qc.qlut.width.toDouble,
          qc.sumRes, qc.sqrY, qc.y))
          .toDF("u", "vl", "width", "sum_res", "sqr_y", "y"),
        "b6b_query")
      writeEstimateEntriesSidecar(spark, entries, dim, m.params.exBits)
    }
    val bq = spark.sparkContext.broadcast(qc)
    entries
      .map { e =>
        val qcl = bq.value
        val est = RaBitQ.estimateDistLut(qcl, e.sign_bits, e.x2, e.fac_ip)
        val lower = RaBitQ.estimateLowerLut(qcl, e.sign_bits, e.x2,
          e.fac_ip, e.fac_err)
        (e.id, est, lower)
      }
      .toDF("vec_id", "est", "low")
      .select(col("vec_id"), round(col("est"), 4).as("est_lut"),
        round(col("low"), 4).as("lower_lut"))
      .orderBy("vec_id")
  }

  /** The certified search surface shared by b7/b7b/b14/b16: the
    * engine's ranked result list (query_id, rk, neighbor_id — pinned
    * verbatim as a sidecar under Verify) widened with verdict columns
    * the DuckDB oracle recomputes INDEPENDENTLY from the persisted ids
    * plus `embeddings`: each neighbor's exact distance, its membership
    * in the exact ground truth, and the per-query recall@10 / average
    * distance ratio (test_search.cpp:101-130 + tools.hpp:16-46 — the
    * verdicts b8/b10 already certify, bound to the search row itself).
    * The id list is the pinned input (the b8/b10 sidecar discipline);
    * every other value in the row is recomputed arithmetic, so a
    * search that returned poor neighbors OR mis-computed any verdict
    * fails the hash. `gt`/`gtD` parameterize the ground-truth side
    * (b14 restricts it to the allowed-id set). */
  private def certifiedSearch(
      spark: SparkSession,
      dir: String,
      results: DataFrame,
      sidecar: String,
      gt: DataFrame,
      gtD: DataFrame): DataFrame = {
    val res = results.select(col("query_id"), col("rk"), col("neighbor_id"))
    OracleSide.write(res, sidecar)
    val annD = withExactL2(spark, dir, res)
      .withColumnRenamed("rk", "rk_exact").withColumnRenamed("d", "d_ann")
    // b10's get_ratio shape: pair the exact-distance rankings of both
    // lists, ratio over non-degenerate gt ranks, exact-integer micros
    // so partial-aggregation order can never flake the hash
    val rat = annD
      .join(gtD.select(col("query_id"), col("rk").as("rk_exact"),
          col("d").as("d_gt")),
        Seq("query_id", "rk_exact"))
      .filter(col("d_gt") * col("d_gt") > 1e-5)
      .withColumn("rmicro",
        floor(col("d_ann") / col("d_gt") * 1e6 + 0.5).cast(LongType))
      .groupBy("query_id")
      .agg(round(sum("rmicro") / (lit(1e6) * count(lit(1))), 4).as("avg_ratio"))
    val flagged = res
      .join(gt.select(col("query_id"), col("neighbor_id"))
          .withColumn("in_gt", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .na.fill(0, Seq("in_gt"))
    val rec = flagged.groupBy("query_id")
      .agg((sum("in_gt") / 10.0).as("recall_at_10"))
    flagged
      .join(annD.select(col("query_id"), col("neighbor_id"),
          round(col("d_ann"), 4).as("exact_d")),
        Seq("query_id", "neighbor_id"))
      .join(rec, Seq("query_id"))
      .join(rat, Seq("query_id"), "left")
      .na.fill(Map("avg_ratio" -> 1.0))
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("exact_d"),
        col("in_gt").cast("int").as("in_gt"),
        col("recall_at_10"), col("avg_ratio"))
      .orderBy("query_id", "rk")
  }

  /** b7: full IVF search (estimate → prune → rerank → top-k), emitted
    * as the certified surface (see [[certifiedSearch]]). */
  def ivfSearch(spark: SparkSession, dir: String): DataFrame =
    certifiedSearch(spark, dir, searchResults(spark, dir), "b7_results",
      gtResults(spark, dir), gtDistResults(spark, dir))

  /** b7b: the full search path end-to-end at B=8; AnnSpec's sweep pins
    * recall ≥ 0.98 for the quantized path at this width (≥ 0.99 is the
    * b12 exact-re-rank path's contract). */
  def ivfSearchB8(spark: SparkSession, dir: String): DataFrame =
    certifiedSearch(spark, dir, searchResults(spark, dir, bits = 8),
      "b7b_results", gtResults(spark, dir), gtDistResults(spark, dir))

  /** b16: the full search path with query-side scalar quantization
    * enabled — the reference's BQUERY=14 estimate mechanism
    * (Searcher.hpp:16,122-172) behind Params.queryBits; same workload
    * as b7 so the two result lists are directly comparable. */
  def ivfSearchQuantized(spark: SparkSession, dir: String): DataFrame = {
    val m = model(spark, dir)
    certifiedSearch(spark, dir,
      m.withQueryBits(14)
        .search(spark, queryVectors(spark, dir), SearchK, searchNprobe(m)),
      "b16_results", gtResults(spark, dir), gtDistResults(spark, dir))
  }

  /** b8: recall@10 of IVF search vs exact ground truth
    * (test_search.cpp:101-130). Self-contained: both sides computed by
    * the engine. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val approx = searchResults(spark, dir)
    // sidecar: the IVF result lists — the oracle recomputes the GT side
    // from `embeddings` in SQL and the recall arithmetic from both
    OracleSide.write(
      approx.select(col("query_id"), col("neighbor_id")), "b_search_results")
    // exact GT over the full base (including query vectors themselves,
    // as the reference's GT does)
    val exact = gtResults(spark, dir)
    approx.alias("a")
      .join(exact.alias("e"),
        col("a.query_id") === col("e.query_id") &&
          col("a.neighbor_id") === col("e.neighbor_id"), "left")
      .groupBy(col("a.query_id").as("query_id"))
      .agg((sum(when(col("e.rk").isNotNull, 1).otherwise(0)) / 10.0).as("recall_at_10"))
      .orderBy("query_id")
  }

  /** b10: average distance ratio of IVF results vs ground truth
    * (reference get_ratio, tools.hpp:16-46): both result lists sorted
    * by distance, ratio_j = d_ann(j)/d_gt(j) (≡ √(d²/d²)) over ranks
    * with non-degenerate gt distance, averaged per query.
    * Hash-certified: only the IVF result-id list is persisted; the
    * oracle recomputes every distance, both rankings, and the ratio
    * average from `embeddings` in SQL. The average runs over exact
    * per-rank integer micros (the repo's float-sum discipline: the sum
    * is order-free, so partial-aggregation order can never flake the
    * hash). */
  def annRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // same query workload as ivfSearch/gtTopKAll — single source of truth
    val queryRows = queryVectors(spark, dir)
    val results = searchResults(spark, dir)
    OracleSide.write(
      results.select(col("query_id"), col("neighbor_id")), "b_search_results")
    val ann = withExactL2(spark, dir, results).withColumnRenamed("d", "d_ann")
    val gt = gtDistResults(spark, dir).withColumnRenamed("d", "d_gt")
    val ratios = ann.join(gt, Seq("query_id", "rk"))
      .filter(col("d_gt") * col("d_gt") > 1e-5)
      .withColumn("rmicro",
        floor(col("d_ann") / col("d_gt") * 1e6 + 0.5).cast(LongType))
      .groupBy("query_id")
      .agg(round(sum("rmicro") / (lit(1e6) * count(lit(1))), 4).as("avg_ratio"),
        count(lit(1)).as("valid_k"))
    // reference get_ratio returns 1.0 when every gt distance is
    // degenerate (valid_k == 0) — keep such queries in the output
    queryRows.map(_._1).toSeq.toDF("query_id")
      .join(ratios, Seq("query_id"), "left")
      .na.fill(Map("avg_ratio" -> 1.0, "valid_k" -> 0L))
      .orderBy("query_id")
  }

  /** [[withExactDist]] with the L2 distance (not squared) as the
    * ranking and output value — the exact form the b10 oracle mirrors
    * in SQL (`list_distance` ranks and divides the same doubles). */
  private def withExactL2(
      spark: SparkSession, dir: String, results: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.vec_l2sq
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    val q = queryVectors(spark, dir).toSeq.toDF("qid", "qvec")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy("d", "neighbor_id")
    e.join(broadcast(results.select("query_id", "neighbor_id")
        .join(q, col("query_id") === col("qid"))),
        col("neighbor_id") === col("nid"))
      .select(col("query_id"), col("neighbor_id"),
        sqrt(vec_l2sq(col("qvec"), col("nvec"))).as("d"))
      .withColumn("rk", row_number().over(w))
  }

  /** Exact distances for a tiny (…, query_id, neighbor_id) result
    * set, re-ranked by TRUE distance within each partition-key group —
    * the reference pairs result lists this way before computing ratios
    * (tools.hpp get_ratio). The result set (Q×k rows per group) is
    * broadcast against the corpus table; the corpus itself is never
    * collected. `extraKeys` lets one batched job rank several result
    * lists at once (b11 tags rows with their nprobe). */
  private def withExactDist(
      spark: SparkSession,
      dir: String,
      results: DataFrame,
      extraKeys: Seq[String] = Nil): DataFrame = {
    import graft.functions.VectorFunctions.vec_l2sq
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    val q = queryVectors(spark, dir).toSeq.toDF("qid", "qvec")
    val keys = extraKeys :+ "query_id"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy("d2", "neighbor_id")
    e.join(broadcast(results.join(q, col("query_id") === col("qid"))),
        col("neighbor_id") === col("nid"))
      .select(keys.map(col) :+
        col("neighbor_id") :+ vec_l2sq(col("qvec"), col("nvec")).as("d2"): _*)
      .withColumn("rk", row_number().over(w))
      .select(keys.map(col) :+ col("rk") :+ col("d2"): _*)
  }

  /** b11: nprobe-sweep evaluation harness — one row per nprobe with
    * recall@10 and average distance ratio, the Spark analogue of the
    * reference's headline output (src/test_search.cpp:61-94 +
    * get_nprobes → results CSV). Only the tiny per-sweep result lists
    * (Q×k rows) are collected; distances come from the same
    * broadcast-join used by b10.
    *
    * Hash-certified (round 14): the per-nprobe result-id lists persist
    * as the `b11_results` sidecar and the oracle recomputes exact
    * distances, the exact GT, and the recall/ratio columns per rung —
    * the b7 certified-search surface extended by the nprobe key, with
    * SweepEval.certified's exact-integer-micros accumulation so SQL
    * addition order cannot drift the hash. The MEASURED curve
    * (wall/QPS per nprobe, the reference CSV's other columns —
    * results/exrabitq/openai1536_exhaf4.csv shape) lives in the
    * graft.SweepCsv artifact mains (results/sweep_*.csv), not in the
    * certified query result: timings are evidence, not results. */
  private def sweepRows(
      spark: SparkSession,
      dir: String,
      k: Int,
      nprobes: Seq[Int]): Seq[(Int, Double, Double, Double, Double)] = {
    import spark.implicits._
    val m = model(spark, dir)
    val qs = queryVectors(spark, dir)
    val gt = gtResults(spark, dir)
    val gtSets: Map[Long, Set[Long]] = gt.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val gtDist: Map[(Long, Int), Double] = withExactDist(spark, dir, gt)
      .as[(Long, Int, Double)].collect().map { case (q, rk, d) => (q, rk) -> d }.toMap
    // the per-nprobe searches run separately (the reference
    // re-searches per nprobe too); only the tiny result ids come back
    // per step. Walls are measured here but published only through
    // [[nprobeSweepTimed]] (the SweepCsv artifact path) — the b11
    // query result itself stays deterministic. distinct: duplicate
    // tags would merge two result lists into one ranking window and
    // corrupt the ratio
    val perNp = nprobes.distinct.sorted.map { np =>
      val t0 = System.nanoTime()
      val ids = m.search(spark, qs, k, math.min(np, m.numClusters))
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      val wall = (System.nanoTime() - t0) / 1e9
      (np, ids, wall)
    }
    // ONE batched exact-distance job ranks every (nprobe, query) result
    // list at once, instead of a corpus-scan + window job per nprobe
    val tagged = perNp.flatMap { case (np, ids, _) =>
      ids.map { case (q, n) => (np, q, n) }
    }.toDF("nprobe", "query_id", "neighbor_id")
    // the b11 oracle (NprobeSweepSql) hardcodes k=10 in its gt cut and
    // recall divisor — a sidecar written at another k would be a
    // guaranteed hash mismatch misread as a kernel bug; fail loudly
    // at the write instead
    if (OracleSide.enabled)
      require(k == 10, s"the b11 oracle SQL is pinned to k=10; a Verify " +
        s"sweep at k=$k cannot be certified against it (got k=$k)")
    OracleSide.write(tagged, "b11_results")
    val annDist: Map[(Int, Long, Int), Double] =
      withExactDist(spark, dir, tagged, extraKeys = Seq("nprobe"))
        .as[(Int, Long, Int, Double)].collect()
        .map { case (np, q, rk, d) => (np, q, rk) -> d }.toMap
    // recall / get_ratio pairing rules live in the shared SweepEval
    // kernel (also behind graft.SweepRef's published artifact); the
    // certified fixed-point accumulation keeps the hash SQL-matchable
    val qids = qs.map(_._1)
    perNp.map { case (np, ids, wall) =>
      val byQuery = ids.groupBy(_._1)
      // window ranks are dense from 1, so the compacted per-query
      // distance array pairs positionally with gt ranks
      val (recall, ratio) = SweepEval.certified(qids,
        q => byQuery.getOrElse(q, Array.empty[(Long, Long)]).map(_._2),
        gtSets, k,
        q => (1 to k).flatMap(rk => annDist.get((np, q, rk))).toArray,
        (q, rk) => gtDist.get((q, rk)))
      (np, recall, ratio, wall,
        math.rint(qs.length / wall * 1e2) / 1e2)
    }
  }

  /** b11's certified query surface: the sweep rows WITHOUT the
    * measured columns (deterministic → hash-certifiable). */
  def nprobeSweep(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8, 12, 16)): DataFrame = {
    import spark.implicits._
    sweepRows(spark, dir, k, nprobes)
      .map { case (np, recall, ratio, _, _) => (np, recall, ratio) }
      .toDF("nprobe", "recall_at_10", "avg_ratio")
      .orderBy("nprobe")
  }

  /** The measured curve for the SweepCsv artifact main: the same rows
    * plus wall seconds and QPS per rung (one implementation — the
    * certified query and the published CSV can never diverge). */
  def nprobeSweepTimed(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8, 12, 16)): DataFrame = {
    import spark.implicits._
    sweepRows(spark, dir, k, nprobes)
      .toDF("nprobe", "recall_at_10", "avg_ratio", "wall_s", "qps")
      .orderBy("nprobe")
  }

  /** b12: high-accuracy search — quantized over-fetch + exact-distance
    * re-rank (reference HIGH_ACC_FAST_SCAN / HASearcher.hpp).
    * Hash-certified: the over-fetched candidate id list persists as a
    * sidecar, and the oracle recomputes the ENTIRE second stage from
    * it in SQL — exact distances over `embeddings`, the (distance, id)
    * ranking, and the top-k cut — so the selection, ordering, and
    * distance arithmetic of the exact-re-rank operator are all under
    * the hash gate (only candidate GENERATION is pinned input). */
  def searchHighAcc(spark: SparkSession, dir: String): DataFrame = {
    val m = model(spark, dir)
    val cand = m.search(spark, queryVectors(spark, dir),
        k = 10 * 4, nprobe = 12)
      .select("query_id", "neighbor_id")
    OracleSide.write(cand, "b12_candidates")
    graft.ann.KnnExact.rerankExact(spark, Tables.embeddings(spark, dir),
        queryVectors(spark, dir), cand, k = 10)
      .orderBy("query_id", "rk")
  }

  /** b13: incremental index ingest — the embeddings table arrives as a
    * STREAM, is quantized against the session model's fixed centroids,
    * and lands as cluster-partitioned parquet that IVFModel.load serves
    * unchanged (continuous corpus growth; the ANN analogue of d6). The
    * index dir is seeded with the model file alone (`saveMeta`, a
    * driver write with no Spark job), then the stream lands its batches.
    * Output: per-cluster entry counts of the stream-built index. */
  def streamIndexIngest(spark: SparkSession, dir: String): DataFrame =
    // Scratch: repeated bench/verify runs must not accumulate temp
    // index copies (each carries the full code set)
    graft.Scratch.materialize("b13_idx") { idxDir =>
      val m = model(spark, dir)
      // hash-certified: the streamed index's per-cluster counts must
      // equal the argmin counts DuckDB recomputes over the persisted
      // centroids (b9's certification applied to the STREAM-built
      // index) — a stream path that dropped, duplicated, or misrouted
      // any vector fails the hash
      writeCentroidSidecar(spark, m)
      val src = graft.streaming.EventOps.symlinkedDir(dir, "embeddings.parquet")
      m.saveMeta(idxDir)
      IVFIndex.appendStream(spark, m, src, idxDir)
      IVFModel.load(spark, idxDir).index.toDF()
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("cluster_id")
    }

  /** b14: attribute-filtered search — only even vec_ids are eligible
    * (standing in for any metadata predicate); the filter is a
    * semi-join applied before estimation, broadcast or shuffled at the
    * planner's discretion (no hint — large allowed sets must not be
    * forced through the driver). */
  // b14's filtered GT is verification scaffolding, not operator cost —
  // cache it per dir like gtResults/gtDistResults (b7's treatment), so
  // repeated bench runs measure the FILTERED SEARCH, not a GT rebuild.
  // JVM-lifetime by design (the gtCache contract): entries are keyed
  // by dir, .cache()'d, and never unpersisted — correct for the
  // driver/bench/spec processes, which never regenerate a dir's
  // embeddings within one JVM; a long-lived service embedding this
  // would need an evict hook shared with gtCache/gtDistCache
  private val gtFilteredCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (DataFrame, DataFrame)]()

  def searchFiltered(spark: SparkSession, dir: String): DataFrame = {
    val m = model(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val allowed = e.filter(col("vec_id") % 2 === 0).select(col("vec_id"))
    // certified vs the GT RESTRICTED to the allowed set (the filter is
    // SQL-derivable — vec_id % 2 = 0 — so the oracle rebuilds this GT
    // from `embeddings` alone; no extra sidecar needed for it)
    val (gtFiltered, gtFilteredD) = gtFilteredCache.computeIfAbsent((appId(spark), dir), _ => {
      val gt = graft.ann.KnnExact.topK(spark,
        e.filter(col("vec_id") % 2 === 0), queryVectors(spark, dir), k = 10)
        .cache()
      (gt, withExactL2(spark, dir, gt).cache())
    })
    certifiedSearch(spark, dir,
      m.searchFiltered(spark, queryVectors(spark, dir), k = 10, nprobe = 12, allowed),
      "b14_results", gtFiltered, gtFilteredD)
  }

  /** b15: index lifecycle — save, tombstone-delete the odd ids,
    * compact, reload; output per-cluster counts of the surviving
    * (even-id) entries. Spec pins the delete/compact semantics. */
  def indexLifecycle(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.materialize("b15_idx") { idxDir =>
      val m = model(spark, dir)
      // hash-certified: the surviving per-cluster counts must equal
      // the argmin counts over the persisted centroids RESTRICTED to
      // the even ids — the delete/compact/reload chain is under the
      // hash gate (a tombstone missed, applied twice, or leaked by
      // compact changes a count and fails it)
      writeCentroidSidecar(spark, m)
      m.save(idxDir)
      val odd = m.index.toDF().select(col("id")).filter(col("id") % 2 =!= 0)
      IVFModel.deleteIds(idxDir, odd)
      IVFModel.compact(spark, idxDir)
      IVFModel.load(spark, idxDir).index.toDF()
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("cluster_id")
    }

  /** b9: end-to-end index build summary (per-cluster sizes + bytes),
    * the Spark analogue of create_index.cpp. Hash-certified (round-12):
    * the oracle recomputes the per-cluster counts from the argmin over
    * the persisted centroid sidecar (b3's certification extended to
    * the aggregate) and the code bytes from the storage-density
    * formulas — sign words = paddedDim/64 longs, packed extended code
    * = (paddedDim·exBits+7)/8 + 1 bytes (RaBitQ.packBits). */
  def indexBuild(spark: SparkSession, dir: String): DataFrame = {
    val m = model(spark, dir)
    writeCentroidSidecar(spark, m)
    m.index.toDF()
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_vectors"),
        sum(expr("size(sign_bits) * 8 + length(ex_code)")).as("code_bytes"))
      .orderBy("cluster_id")
  }

  /** DuckDB oracles for the model-derived b-rows. Each reads the tiny
    * [[OracleSide]] sidecars the query persisted under graft.Verify
    * plus the `embeddings` view, and independently recomputes the
    * argmin (b3), the estimator algebra (b6), the recall (b8), and the
    * distance-ratio average (b10). The SQL mirrors the Scala kernels'
    * IEEE evaluation order exactly (double-widened floats, in-order
    * list accumulation, left-associative trailing chains). */
  /** In-order double L2 distance between a query vector (`q.qvec`,
    * pre-cast DOUBLE[]) and a base row (`b.embedding`) — the exact SQL
    * mirror of VectorFunctions.vec_l2sq + sqrt (each float widened to
    * double, in-order accumulation, one trailing sqrt; the b3-proven
    * pairing). */
  private val DistSql =
    "SQRT(list_sum(list_transform(list_zip(q.qvec, CAST(b.embedding AS DOUBLE[])), " +
      "x -> (x[1]-x[2])*(x[1]-x[2]))))"

  /** The PRE-sqrt squared distance — the exact double KnnExact ranks
    * by. RANKINGS must use this wherever the Spark side ranks by d²:
    * sqrt collapses adjacent doubles (two distinct d² can round to one
    * sqrt), so a sqrt-ranked oracle against a d²-ranked kernel flips
    * the id tie-break on collapse and can flake the hash at the top-k
    * cut. Where the Spark side itself ranks by the sqrt'd value
    * (withExactL2's rk_exact), the oracle keeps ranking by [[DistSql]]
    * — each pairing mirrors ITS kernel's key. */
  private val D2Sql =
    "list_sum(list_transform(list_zip(q.qvec, CAST(b.embedding AS DOUBLE[])), " +
      "x -> (x[1]-x[2])*(x[1]-x[2])))"

  /** The shared oracle for the certified search rows (b7/b7b/b14/b16):
    * reads the search's persisted result list, recomputes every
    * verdict column from `embeddings` in SQL — exact distances, the
    * exact ground truth (optionally restricted by `gtWhere`, b14),
    * recall@10, and the get_ratio average over exact-integer micros —
    * and re-emits the full certified row set. */
  private def certifiedSearchSql(sidecar: String, gtWhere: String = ""): String =
    s"""WITH qs AS (
      |  SELECT CAST(vec_id AS BIGINT) AS query_id,
      |    CAST(embedding AS DOUBLE[]) AS qvec
      |  FROM embeddings WHERE vec_id < ${VectorQueries.QueryN}),
      |res AS (SELECT query_id, rk, neighbor_id FROM ${OracleSide.sql(sidecar)}),
      |ad AS (
      |  SELECT r.query_id, r.rk, r.neighbor_id, $DistSql AS d
      |  FROM res r JOIN qs q USING (query_id)
      |  JOIN embeddings b ON r.neighbor_id = b.vec_id),
      |ar AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |  ORDER BY d, neighbor_id) AS rk_exact FROM ad),
      |gt0 AS (
      |  -- cut by the PRE-sqrt d² rank: the Spark GT (KnnExact.topK)
      |  -- ranks by d², and sqrt can collapse adjacent doubles
      |  SELECT query_id, neighbor_id, d FROM (
      |    SELECT q.query_id, b.vec_id AS neighbor_id, $DistSql AS d,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id
      |        ORDER BY $D2Sql, b.vec_id) AS rk2
      |    FROM qs q, embeddings b$gtWhere) t
      |  WHERE rk2 <= 10),
      |gt AS (
      |  -- within-cut rank by the sqrt'd d — the key withExactL2's
      |  -- rk_exact uses on the Spark side for the ratio pairing
      |  SELECT query_id, neighbor_id, d,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY d, neighbor_id) AS rk
      |  FROM gt0),
      |rec AS (
      |  SELECT r.query_id,
      |    SUM(CASE WHEN g.query_id IS NOT NULL THEN 1 ELSE 0 END)/10.0
      |      AS recall_at_10
      |  FROM res r LEFT JOIN gt g
      |    ON r.query_id = g.query_id AND r.neighbor_id = g.neighbor_id
      |  GROUP BY r.query_id),
      |rat AS (
      |  SELECT a.query_id,
      |    ROUND(SUM(CAST(floor(a.d/g.d*1e6 + 0.5) AS BIGINT))
      |      / (1e6*COUNT(*)), 4) AS avg_ratio
      |  FROM ar a JOIN gt g ON a.query_id = g.query_id AND a.rk_exact = g.rk
      |  WHERE g.d*g.d > 1e-5 GROUP BY a.query_id)
      |SELECT a.query_id, CAST(a.rk AS INT) AS rk, a.neighbor_id,
      |  ROUND(a.d, 4) AS exact_d,
      |  CAST(CASE WHEN g.query_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_gt,
      |  rec.recall_at_10, COALESCE(rat.avg_ratio, 1.0) AS avg_ratio
      |FROM ad a
      |LEFT JOIN gt g ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
      |JOIN rec ON rec.query_id = a.query_id
      |LEFT JOIN rat ON rat.query_id = a.query_id
      |ORDER BY a.query_id, a.rk""".stripMargin

  /** b11's oracle: the b7 certified-search recomputation extended by
    * the nprobe key and aggregated to the sweep's one-row-per-rung
    * shape. From the `b11_results` sidecar alone it recomputes exact
    * distances, the exact GT top-10, per-rung hits, the rank-paired
    * ratio terms in exact integer micros (SweepEval.certified's
    * accumulation — integer sums, one division per published number),
    * and the final 4-decimal recall/ratio columns. The grid LEFT JOIN
    * realizes the kernel's all-degenerate fallback (r_q = 10⁶) for
    * queries with no qualifying rank. */
  private val NprobeSweepSql =
    s"""WITH qs AS (
      |  SELECT CAST(vec_id AS BIGINT) AS query_id,
      |    CAST(embedding AS DOUBLE[]) AS qvec
      |  FROM embeddings WHERE vec_id < ${VectorQueries.QueryN}),
      |res AS (SELECT nprobe, query_id, neighbor_id
      |  FROM ${OracleSide.sql("b11_results")}),
      |ad AS (
      |  SELECT r.nprobe, r.query_id, r.neighbor_id, $D2Sql AS d2
      |  FROM res r JOIN qs q USING (query_id)
      |  JOIN embeddings b ON r.neighbor_id = b.vec_id),
      |ar AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
      |  ORDER BY d2, neighbor_id) AS rk FROM ad),
      |gt AS (
      |  SELECT query_id, neighbor_id, d2, rk2 AS rk FROM (
      |    SELECT q.query_id, b.vec_id AS neighbor_id, $D2Sql AS d2,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id
      |        ORDER BY $D2Sql, b.vec_id) AS rk2
      |    FROM qs q, embeddings b) t
      |  WHERE rk2 <= 10),
      |hit AS (
      |  SELECT r.nprobe,
      |    CAST(SUM(CASE WHEN g.query_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS hits
      |  FROM res r LEFT JOIN gt g
      |    ON r.query_id = g.query_id AND r.neighbor_id = g.neighbor_id
      |  GROUP BY r.nprobe),
      |terms AS (
      |  SELECT a.nprobe, a.query_id,
      |    CAST(SUM(CAST(floor(sqrt(a.d2/g.d2)*1e6 + 0.5) AS BIGINT))
      |      AS BIGINT) AS micros,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ar a JOIN gt g ON a.query_id = g.query_id AND a.rk = g.rk
      |  WHERE g.d2 > 1e-5
      |  GROUP BY a.nprobe, a.query_id),
      |grid AS (SELECT n.nprobe, q.query_id
      |  FROM (SELECT DISTINCT nprobe FROM res) n CROSS JOIN qs q),
      |rq AS (
      |  SELECT gr.nprobe, gr.query_id,
      |    CASE WHEN t.n IS NULL THEN 1000000
      |         ELSE CAST(floor(CAST(t.micros AS DOUBLE)/t.n + 0.5) AS BIGINT)
      |    END AS rq
      |  FROM grid gr LEFT JOIN terms t
      |    ON t.nprobe = gr.nprobe AND t.query_id = gr.query_id),
      |nq AS (SELECT CAST(count(*) AS BIGINT) AS q FROM qs)
      |SELECT h.nprobe,
      |  floor(h.hits * 1e4 / (nq.q * 10) + 0.5)/1e4 AS recall_at_10,
      |  r.avg_ratio
      |FROM hit h
      |JOIN (SELECT nprobe,
      |        floor(SUM(rq) * 1e4 / (1e6 * (SELECT q FROM nq)) + 0.5)/1e4
      |          AS avg_ratio
      |      FROM rq GROUP BY nprobe) r USING (nprobe)
      |CROSS JOIN nq
      |ORDER BY h.nprobe""".stripMargin

  /** The quantizer-surface oracle for b5/b5b: recomputes the clamped
    * code at the persisted scale t, the sign-flip, the byte sum of the
    * bit-packed stream (packBits ORs DISJOINT bit ranges, so each
    * byte — including the trailing pad — is an exact integer SUM of
    * per-dim contributions ((f·2^s) mod 256) + (f·2^s) div 256 with
    * s = (exBits·dim) mod 8: closed form, no iteration), and the
    * ipnorm → xipnorm trailing chain, all from the residual sidecar. */
  private def exCodeSql(sidecar: String, exBits: Int): String = {
    val mask = (1 << exBits) - 1
    s"""WITH e AS (SELECT vec_id, r, best_t FROM ${OracleSide.sql(sidecar)}),
      |t AS (
      |  SELECT vec_id, best_t, r,
      |    list_sum(list_transform(r, v -> v*v)) AS x2d
      |  FROM e),
      |u AS (
      |  SELECT vec_id, best_t, sqrt(x2d) AS x,
      |    list_transform(r, v ->
      |      abs(CASE WHEN sqrt(x2d) > 0 THEN v / sqrt(x2d) ELSE 0.0 END)) AS a,
      |    list_transform(r, v -> CASE WHEN v > 0 THEN 1 ELSE 0 END) AS bit
      |  FROM t),
      |c AS (
      |  SELECT vec_id, x, bit, a,
      |    list_transform(a, v ->
      |      LEAST(CAST(floor(best_t * v + 1e-5) AS INT), $mask)) AS code
      |  FROM u),
      |s AS (
      |  SELECT vec_id, x,
      |    list_sum(list_transform(list_zip(code, a),
      |      p -> (p[1] + 0.5) * p[2])) AS num2,
      |    list_transform(list_zip(code, bit),
      |      p -> CASE WHEN p[2] = 1 THEN p[1] ELSE $mask - p[1] END) AS flipped
      |  FROM c)
      |SELECT vec_id,
      |  CAST(list_sum(list_transform(flipped, (f, i) ->
      |    ((f * (1 << (($exBits*(i-1)) % 8))) % 256)
      |      + (f * (1 << (($exBits*(i-1)) % 8))) // 256)) AS BIGINT) AS code_sum,
      |  ROUND(CAST(CAST(
      |    (CASE WHEN num2 = 0 THEN 1.0 ELSE 1.0/num2 END) * 2.0 * x
      |    AS REAL) AS DOUBLE), 6) AS xipnorm
      |FROM s ORDER BY vec_id""".stripMargin
  }

  /** The argmin-count oracle shared by b13/b15: per-cluster counts
    * recomputed from the persisted centroids (b9's certification
    * applied to the stream-built / delete-compacted index). */
  private def argminCountSql(cent: String, where: String): String =
    s"""WITH c AS (SELECT cluster_id, centroid FROM $cent),
      |d AS (
      |  SELECT e.vec_id, c.cluster_id,
      |    list_sum(list_transform(
      |      list_zip(CAST(e.embedding AS DOUBLE[]), c.centroid),
      |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
      |  FROM embeddings e CROSS JOIN c),
      |a AS (SELECT vec_id, cluster_id FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY d2, cluster_id) AS rn FROM d) t WHERE rn = 1)
      |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vectors
      |FROM a$where GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  val oracles: Map[String, String] = {
    val cent = OracleSide.sql("b3_centroids")
    val b6e = OracleSide.sql("b6_entries")
    val b6q = OracleSide.sql("b6_query")
    val b6bq = OracleSide.sql("b6b_query")
    val res = OracleSide.sql("b_search_results")
    Map(
      // Quantizer.hpp:407-430 1-bit factor algebra from the residual
      // sidecar: popcount from the residual signs, x2 = Σr², fac_err
      // from the normalized-residual chain — each double chain mirrored
      // in-order, each float narrowing CAST AS REAL
      "b4_rabitq_code" ->
        s"""WITH e AS (SELECT vec_id, cluster_id, r
          |  FROM ${OracleSide.sql("b45_entries")}),
          |t AS (
          |  SELECT vec_id, cluster_id, r,
          |    CAST(len(r) AS DOUBLE) AS d,
          |    list_sum(list_transform(r, v -> v*v)) AS x2d
          |  FROM e),
          |u AS (
          |  SELECT vec_id, cluster_id, d, x2d, sqrt(x2d) AS x,
          |    CAST(list_sum(list_transform(r,
          |      v -> CASE WHEN v > 0 THEN 1 ELSE 0 END)) AS INT) AS popcount,
          |    list_sum(list_transform(r, v ->
          |      abs(CASE WHEN sqrt(x2d) > 0 THEN v / sqrt(x2d) ELSE 0.0 END)))
          |      AS sum_abs
          |  FROM t),
          |f AS (
          |  SELECT vec_id, cluster_id, popcount, x2d, x, d,
          |    CASE WHEN sum_abs * (1.0/sqrt(d)) = 0 THEN 0.8
          |         ELSE sum_abs * (1.0/sqrt(d)) END AS oobar
          |  FROM u)
          |SELECT vec_id, cluster_id, popcount,
          |  ROUND(CAST(CAST(x2d AS REAL) AS DOUBLE), 4) AS x2,
          |  ROUND(CAST(CAST(
          |    sqrt(greatest(0.0, 1.0 - oobar*oobar) / (oobar*oobar))
          |      * (2.0/sqrt(d - 1)) * 2.0 * x
          |    AS REAL) AS DOUBLE), 4) AS fac_err
          |FROM f ORDER BY vec_id""".stripMargin,
      "b5_exrabitq_code" -> exCodeSql("b45_entries", exBits = 3),
      "b5b_exrabitq_b8" -> exCodeSql("b5b_entries", exBits = 7),
      // the STREAM-built index must land exactly the batch argmin
      // assignment (counts recomputed from the persisted centroids)
      "b13_stream_index" -> argminCountSql(cent, ""),
      // ...and the delete→compact→reload chain must keep exactly the
      // even-id rows of that assignment
      "b15_index_lifecycle" ->
        argminCountSql(cent, " WHERE vec_id % 2 = 0"),
      "b7_ivf_search" -> certifiedSearchSql("b7_results"),
      "b11_nprobe_sweep" -> NprobeSweepSql,
      "b7b_ivf_search_b8" -> certifiedSearchSql("b7b_results"),
      "b16_search_quantized" -> certifiedSearchSql("b16_results"),
      // b14's ground truth is restricted to the allowed-id set (the
      // SQL-derivable even-id predicate), so the recall/ratio verdicts
      // judge the FILTERED search against ITS ground truth
      "b14_search_filtered" ->
        certifiedSearchSql("b14_results", " WHERE b.vec_id % 2 = 0"),
      // the HASearcher second stage end-to-end: exact distances over
      // the persisted over-fetched candidates, (d, id) ranking, top-k
      // cut — selection, ordering, and arithmetic all recomputed
      "b12_search_highacc" ->
        s"""WITH qs AS (
          |  SELECT CAST(vec_id AS BIGINT) AS query_id,
          |    CAST(embedding AS DOUBLE[]) AS qvec
          |  FROM embeddings WHERE vec_id < ${VectorQueries.QueryN}),
          |cand AS (SELECT DISTINCT query_id, neighbor_id
          |  FROM ${OracleSide.sql("b12_candidates")}),
          |cd AS (
          |  -- rank by the PRE-sqrt d² (rerankExact's exact key; sqrt
          |  -- can collapse adjacent doubles and flip the id tie-break)
          |  SELECT c.query_id, c.neighbor_id, $D2Sql AS d2
          |  FROM cand c JOIN qs q USING (query_id)
          |  JOIN embeddings b ON c.neighbor_id = b.vec_id)
          |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk,
          |  ROUND(SQRT(d2), 4) AS exact_d
          |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          |  ORDER BY d2, neighbor_id) AS rk FROM cd) t
          |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
      // argmin over vectors × persisted centroids; ties (exact double
      // d2) break to the lower cluster_id, like the strict-< scan in
      // IVFIndex.quantizeRow
      "b3_ivf_assign" ->
        s"""WITH c AS (SELECT cluster_id, centroid FROM $cent),
          |d AS (
          |  SELECT e.vec_id, c.cluster_id,
          |    list_sum(list_transform(
          |      list_zip(CAST(e.embedding AS DOUBLE[]), c.centroid),
          |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
          |  FROM embeddings e CROSS JOIN c)
          |SELECT CAST(vec_id AS BIGINT) AS vec_id, cluster_id,
          |  ROUND(SQRT(d2), 4) AS dist_to_centroid
          |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          |        ORDER BY d2, cluster_id) AS rn FROM d) t
          |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
      // per-cluster counts from the argmin over the persisted
      // centroids (b3's certification, aggregated) + the storage-
      // density byte formulas (sign words = paddedDim/64 longs;
      // packed extended code = (paddedDim·exBits+7)//8 + 1 bytes,
      // RaBitQ.packBits); exBits interpolated from the b-model's
      // totalBits=4 default
      "b9_index_build" -> {
        val exBits = 3 // totalBits 4 → exBits = B-1 (AnnQueries.model default)
        s"""WITH c AS (SELECT cluster_id, centroid FROM $cent),
          |d AS (
          |  SELECT e.vec_id, c.cluster_id,
          |    CAST(ceil(len(e.embedding)/64.0)*64 AS BIGINT) AS pdim,
          |    list_sum(list_transform(
          |      list_zip(CAST(e.embedding AS DOUBLE[]), c.centroid),
          |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
          |  FROM embeddings e CROSS JOIN c),
          |a AS (SELECT vec_id, cluster_id, pdim FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          |    ORDER BY d2, cluster_id) AS rn FROM d) t WHERE rn = 1)
          |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vectors,
          |  CAST(sum((pdim//64)*8 + (pdim*$exBits+7)//8 + 1) AS BIGINT) AS code_bytes
          |FROM a GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
      },
      // Searcher.hpp:174-236 estimator algebra: ip over the sign code,
      // est = x²+y² − ip·facIp, lower = est − facErr·y, rerank from
      // F_d = bit·2^exBits + exCode_d
      "b6_rabitq_estimate" ->
        s"""WITH e AS (SELECT * FROM $b6e), q AS (SELECT * FROM $b6q),
          |t AS (
          |  SELECT e.vec_id,
          |    list_inner_product(q.r, CAST(e.bits AS DOUBLE[]))
          |      - 0.5*q.sum_res AS ip,
          |    list_inner_product(q.r, CAST(e.f AS DOUBLE[])) AS ipf,
          |    e.x2, e.fac_ip, e.fac_err, e.xipnorm,
          |    q.sqr_y, q.y, q.sum_res, q.half
          |  FROM e CROSS JOIN q)
          |SELECT vec_id,
          |  ROUND(x2 + sqr_y - ip*fac_ip, 4) AS est_dist2,
          |  ROUND(x2 + sqr_y - ip*fac_ip - fac_err*y, 4) AS lower_bound,
          |  ROUND(x2 + sqr_y - xipnorm*(ipf - 0.5*half*sum_res), 4) AS rerank_dist2
          |FROM t ORDER BY vec_id""".stripMargin,
      // the BQUERY=14 LUT estimator (Searcher.hpp:122-172):
      // ip = width·⟨u,bits⟩ + vl·popcount − S/2 over exact-integer
      // subset sums, est = x²+y² − ip·facIp, lower widened by the
      // query-quantization error |facIp|·(width/2)·popcount
      "b6b_estimate_lut" ->
        s"""WITH e AS (SELECT * FROM $b6e), q AS (SELECT * FROM $b6bq),
          |t AS (
          |  SELECT e.vec_id,
          |    list_inner_product(CAST(q.u AS DOUBLE[]),
          |                       CAST(e.bits AS DOUBLE[])) AS usum,
          |    CAST(list_sum(e.bits) AS DOUBLE) AS pop,
          |    e.x2, e.fac_ip, e.fac_err,
          |    q.vl, q.width, q.sum_res, q.sqr_y, q.y
          |  FROM e CROSS JOIN q)
          |SELECT vec_id,
          |  ROUND(x2 + sqr_y
          |    - (width*usum + vl*pop - 0.5*sum_res)*fac_ip, 4) AS est_lut,
          |  ROUND(x2 + sqr_y
          |    - (width*usum + vl*pop - 0.5*sum_res)*fac_ip
          |    - fac_err*y - abs(fac_ip) * (0.5*width) * pop, 4) AS lower_lut
          |FROM t ORDER BY vec_id""".stripMargin,
      // recall@10 vs a GT recomputed from embeddings over the FULL base
      // (queries included), ties by (distance, vec_id) as in KnnExact
      "b8_ann_recall" ->
        s"""WITH gt AS (
          |  -- cut by the PRE-sqrt d² rank (KnnExact's key; sqrt can
          |  -- collapse adjacent doubles and flip the id tie-break)
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
          |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
          |        ORDER BY list_sum(list_transform(
          |            list_zip(CAST(q.embedding AS DOUBLE[]),
          |                     CAST(b.embedding AS DOUBLE[])),
          |            x -> (x[1]-x[2])*(x[1]-x[2]))),
          |                 b.vec_id) AS rk
          |    FROM embeddings q, embeddings b WHERE q.vec_id < ${VectorQueries.QueryN}) t
          |  WHERE rk <= 10),
          |a AS (SELECT query_id, neighbor_id FROM $res)
          |SELECT a.query_id,
          |  SUM(CASE WHEN g.query_id IS NOT NULL THEN 1 ELSE 0 END)/10.0
          |    AS recall_at_10
          |FROM a LEFT JOIN gt g
          |  ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
          |GROUP BY a.query_id ORDER BY a.query_id""".stripMargin,
      // get_ratio (tools.hpp:16-46): rank both lists by exact distance,
      // ratio_j = d_ann(j)/d_gt(j) over non-degenerate gt ranks,
      // averaged over exact integer micros (order-free sum)
      "b10_ann_ratio" ->
        s"""WITH qs AS (
          |  SELECT CAST(vec_id AS BIGINT) AS query_id,
          |    CAST(embedding AS DOUBLE[]) AS qvec
          |  FROM embeddings WHERE vec_id < ${VectorQueries.QueryN}),
          |res AS (SELECT query_id, neighbor_id FROM $res),
          |ann AS (
          |  SELECT r.query_id,
          |    list_distance(q.qvec, CAST(b.embedding AS DOUBLE[])) AS d,
          |    ROW_NUMBER() OVER (PARTITION BY r.query_id
          |      ORDER BY list_distance(q.qvec, CAST(b.embedding AS DOUBLE[])),
          |               r.neighbor_id) AS rk
          |  FROM res r
          |  JOIN qs q ON r.query_id = q.query_id
          |  JOIN embeddings b ON r.neighbor_id = b.vec_id),
          |gt0 AS (
          |  -- cut by the PRE-sqrt d² rank (the Spark GT cut is
          |  -- KnnExact's d² ranking; sqrt can collapse doubles)
          |  SELECT query_id, neighbor_id, d FROM (
          |    SELECT q.query_id, b.vec_id AS neighbor_id,
          |      list_distance(q.qvec, CAST(b.embedding AS DOUBLE[])) AS d,
          |      ROW_NUMBER() OVER (PARTITION BY q.query_id
          |        ORDER BY $D2Sql, b.vec_id) AS rk2
          |    FROM qs q, embeddings b) t
          |  WHERE rk2 <= 10),
          |gt AS (
          |  -- within-cut rank by (d, id) — withExactL2's key on the
          |  -- Spark side of the ratio's rank pairing
          |  SELECT query_id, d,
          |    ROW_NUMBER() OVER (PARTITION BY query_id
          |      ORDER BY d, neighbor_id) AS rk
          |  FROM gt0),
          |rat AS (
          |  SELECT a.query_id,
          |    ROUND(SUM(CAST(floor(a.d/g.d*1e6 + 0.5) AS BIGINT))
          |      / (1e6*COUNT(*)), 4) AS avg_ratio,
          |    CAST(COUNT(*) AS BIGINT) AS valid_k
          |  FROM ann a JOIN gt g ON a.query_id = g.query_id AND a.rk = g.rk
          |  WHERE g.d*g.d > 1e-5
          |  GROUP BY a.query_id)
          |SELECT q.query_id, COALESCE(r.avg_ratio, 1.0) AS avg_ratio,
          |  COALESCE(r.valid_k, 0) AS valid_k
          |FROM qs q LEFT JOIN rat r ON q.query_id = r.query_id
          |ORDER BY q.query_id""".stripMargin)
  }
}
