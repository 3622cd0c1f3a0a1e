package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{IVFIndex, RaBitQ, Rotator}
import graft.functions.VectorFunctions.{dot, l2sq}

class AnnSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  val sf = "/root/testdata/sf0.001"

  private def randVec(rnd: scala.util.Random, d: Int): Array[Float] =
    Array.fill(d)(rnd.nextGaussian().toFloat)

  /** The Spark jobs `body` runs ([[SparkJobs.jobsAndShuffleBytes]]). */
  private def jobsAndShuffleBytes(body: => Unit): (Seq[String], Long, Seq[(Set[String], Long)]) =
    SparkJobs.jobsAndShuffleBytes(spark)(body)

  /** The ad-hoc path `search` takes when a model's runs exceed the
    * replica cap: one scan job over the runs, a pool per runs partition,
    * merged on the driver. The spec indexes all fit under the cap. */
  private def overCapSearch(m: graft.ann.IVFModel, qs: Array[(Long, Array[Float])],
      k: Int, nprobe: Int): org.apache.spark.sql.DataFrame =
    m.searchOnDriver(spark, qs, k, nprobe)

  /** The lazy plan `searchAll` builds over the replica cap: route,
    * scan per runs partition, distributed merge. */
  private def overCapSearchAll(m: graft.ann.IVFModel, q: org.apache.spark.sql.DataFrame,
      k: Int, nprobe: Int): org.apache.spark.sql.DataFrame =
    m.batchPlan(spark, q, k, nprobe, "vec_id", "embedding")

  /** A sequential reference of the scan: one query at a time, its
    * probed clusters in rank order, each cluster's runs and entries in
    * order, one entry at a time: estimate, skip when the lower bound
    * exceeds the current kth distance, else rerank and insert. Returns
    * the rows, the reranks, the bound violations (reranked entries
    * whose lower bound exceeds their reranked distance), and the
    * entries a paired scan speculates on and then rejects: the first
    * entry after an admitted lead that passes the lead's distK but
    * fails the distK after the lead's insert. */
  private def sequentialScan(qs: Array[(Long, Array[Float], Array[Int])],
      runs: IVFIndex.Runs, rotCents: Array[Array[Float]],
      k: Int, queryBits: Int, exBits: Int)
      : (Seq[(Long, Array[Long], Array[Double])], Long, Long, Long) = {
    var reranks = 0L; var violations = 0L; var rejectedPartners = 0L
    val rows = qs.toSeq.flatMap { case (qid, qr, cls) =>
      val heap = new graft.ann.KnnExact.BoundedTopK(k)
      var distK = Double.MaxValue
      for (cid <- cls.toSeq if runs(cid) != null; run <- runs(cid)) {
        val qc = RaBitQ.prepareQuery(qr, rotCents(cid), queryBits)
        var partnerBar = Double.NaN // the lead's distK while a partner is sought
        for (i <- 0 until run.n) {
          val lower =
            if (queryBits > 0) RaBitQ.estimateLowerLutPacked(qc, run.sign, i * run.words,
              run.words, run.x2(i), run.facIp(i), run.facErr(i))
            else RaBitQ.estimateLowerPacked(qc, run.sign, i * run.words,
              run.words, run.x2(i), run.facIp(i), run.facErr(i))
          val partner = run.packExF && lower <= partnerBar
          if (partner) partnerBar = Double.NaN
          if (lower <= distK) {
            val before = distK
            reranks += 1
            val ex =
              if (run.packExF) RaBitQ.rerankDistF(qc, run.exF, i * run.dim,
                run.x2(i), run.xipnorm(i), exBits)
              else RaBitQ.rerankDistPacked(qc, run.sign, i * run.words,
                run.exCode(i), run.x2(i), run.xipnorm(i), exBits)
            if (lower > ex) violations += 1
            heap.insert(ex, run.ids(i))
            distK = heap.worstOrElse(Double.MaxValue)
            if (run.packExF && !partner) partnerBar = before
          } else if (partner) rejectedPartners += 1
        }
      }
      if (heap.nonEmpty) { val (ids, ds) = heap.drainSorted(); Seq((qid, ids, ds)) }
      else Nil
    }
    (rows, reranks, violations, rejectedPartners)
  }

  /** The one-pool reference of a model's search: its entries packed
    * into one run set, each cluster's entries in id order, then
    * [[sequentialScan]] over every query's `nprobe` nearest clusters
    * (ranked by the exact flat scan) — as (query_id, neighbor_id, rk)
    * rows sorted by (query_id, rk). */
  private def onePoolRows(m: graft.ann.IVFModel, qs: Array[(Long, Array[Float])],
      k: Int, nprobe: Int): Seq[(Long, Long, Int)] = {
    val runs = IVFIndex.packRuns(m.index.collect().sortBy(e => (e.cluster_id, e.id)).iterator,
      m.rotator.paddedDim, m.params.exBits, m.numClusters)
    val prepared = qs.map { case (q, v) =>
      val qr = m.rotator.rotate(v)
      (q, qr, graft.ann.CentroidRouter.rankFlat(m.rotatedCentroids, qr, nprobe))
    }
    sequentialScan(prepared, runs, m.rotatedCentroids, k, m.params.queryBits, m.params.exBits)
      ._1.flatMap { case (q, ids, _) => ids.indices.map(i => (q, ids(i), i + 1)) }
      .sortBy(r => (r._1, r._3))
  }

  test("rotator is orthonormal: norms and dots preserved") {
    val rot = new Rotator(64, seed = 7)
    val rnd = new scala.util.Random(1)
    val a = randVec(rnd, 64); val b = randVec(rnd, 64)
    val ra = rot.rotate(a); val rb = rot.rotate(b)
    assert(math.abs(dot(ra, ra) - dot(a, a)) < 1e-3)
    assert(math.abs(dot(ra, rb) - dot(a, b)) < 1e-3)
  }

  test("rotate's four-row sweep is bit-identical to the one-row loop") {
    // each output row keeps its own accumulator in i order, so the
    // interleaved sweep must not move a single bit — at the benchmark
    // dimension and at one the rotator pads (100 -> 128)
    for (d <- Seq(384, 100)) {
      val rot = new Rotator(d, seed = 3)
      val rnd = new scala.util.Random(d)
      (0 until 16).foreach { _ =>
        val v = randVec(rnd, d)
        val x = rot.pad(v)
        val want = rot.matrix.map { row =>
          var s = 0.0; var i = 0
          while (i < x.length) { s += row(i).toDouble * x(i); i += 1 }
          s.toFloat
        }
        assert(rot.rotate(v).map(java.lang.Float.floatToRawIntBits).toSeq ==
          want.map(java.lang.Float.floatToRawIntBits).toSeq, s"d=$d")
      }
    }
  }

  test("rotateAll is bit-identical to serial per-vector rotation") {
    // every load AND build now rotates the centroid table through the
    // parallel path — it must never diverge from rotate() by a bit
    val rot = new Rotator(64, seed = 11)
    val rnd = new scala.util.Random(5)
    val vs = Array.fill(257)(randVec(rnd, 64)) // odd count: uneven fork splits
    val par = rot.rotateAll(vs)
    val ser = vs.map(rot.rotate)
    assert(par.length == ser.length &&
      par.indices.forall(i => par(i).sameElements(ser(i))))
  }

  test("rotator is deterministic from (dim, seed)") {
    val r1 = new Rotator(64, 42); val r2 = new Rotator(64, 42)
    assert(r1.matrix.zip(r2.matrix).forall { case (a, b) => a.sameElements(b) })
  }

  test("exCode bit-packing roundtrips for every supported width") {
    val rnd = new scala.util.Random(17)
    for (exBits <- Seq(2, 3, 4, 6, 7, 8)) {
      val values = Array.fill(128)(rnd.nextInt(1 << exBits))
      val packed = RaBitQ.packBits(values, exBits)
      assert(packed.length == (128 * exBits + 7) / 8 + 1)
      values.indices.foreach { i =>
        assert(RaBitQ.unpackAt(packed, i, exBits) == values(i), s"exBits=$exBits i=$i")
      }
    }
  }

  /** The threshold scan of [[RaBitQ.fastQuantizeT]] over
    * `scala.collection.mutable.PriorityQueue`, as the reference
    * `fast_quantize` reads (Quantizer.hpp:138-219): the spec's
    * reference for the primitive heap. */
  private def fastQuantizeTRef(absRes: Array[Double], exBits: Int): (Array[Int], Double, Double) = {
    val d = absRes.length
    val maxLevel = (1 << exBits) - 1
    val maxO = absRes.max
    if (maxO <= 0.0) return (new Array[Int](d), 1.0, 0.0)
    val eps = 1e-5
    val tStart = (maxLevel / 3).toDouble / maxO
    val tEnd = (maxLevel + 10).toDouble / maxO
    val cur = Array.tabulate(d)(i => (tStart * absRes(i) + eps).toInt)
    var sqrDen = d * 0.25
    var num = 0.0
    val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), Double](_._1).reverse)
    for (i <- 0 until d) {
      sqrDen += cur(i).toDouble * cur(i) + cur(i)
      num += (cur(i) + 0.5) * absRes(i)
      if (absRes(i) > 0) pq.enqueue(((cur(i) + 1).toDouble / absRes(i), i))
    }
    var maxIp = 0.0
    var bestT = 0.0
    while (pq.nonEmpty) {
      val (curT, dim) = pq.dequeue()
      cur(dim) += 1
      sqrDen += 2.0 * cur(dim)
      num += absRes(dim)
      val curIp = num / math.sqrt(sqrDen)
      if (curIp > maxIp) { maxIp = curIp; bestT = curT }
      if (cur(dim) < maxLevel) {
        val tNext = (cur(dim) + 1).toDouble / absRes(dim)
        if (tNext < tEnd) pq.enqueue((tNext, dim))
      }
    }
    val code = absRes.map(a => math.min((bestT * a + eps).toInt, maxLevel))
    var num2 = 0.0
    for (i <- 0 until d) num2 += (code(i) + 0.5) * absRes(i)
    val ipnorm = if (java.lang.Double.isFinite(1.0 / num2)) 1.0 / num2 else 1.0
    (code, ipnorm, bestT)
  }

  test("fastQuantizeT's primitive heap selects the PriorityQueue scan's code, ipnorm and t") {
    val rnd = new scala.util.Random(29)
    def normAbs(v: Array[Float]): Array[Double] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => math.abs(x / n))
    }
    var tied = 0
    for (exBits <- Seq(2, 3, 4, 6, 7, 8); d <- Seq(64, 384); trial <- 0 until 60) {
      val abs = normAbs(randVec(rnd, d))
      // every third vector forces equal thresholds: repeated magnitudes,
      // and doubled ones ((2c+2)/(2a) = (c+1)/a)
      if (trial % 3 == 1) for (i <- 0 until d / 4) abs(rnd.nextInt(d)) = abs(i)
      if (trial % 3 == 2) for (i <- 0 until d / 8) abs(d - 1 - i) = math.min(2 * abs(i), 1.0)
      if (abs.distinct.length < d) tied += 1
      val what = s"exBits=$exBits d=$d trial=$trial"
      val (code, ipnorm, t) = RaBitQ.fastQuantizeT(abs, exBits)
      val (codeR, ipnormR, tR) = fastQuantizeTRef(abs, exBits)
      assert(code.sameElements(codeR), s"$what: codes differ")
      assert(java.lang.Double.doubleToRawLongBits(ipnorm) ==
        java.lang.Double.doubleToRawLongBits(ipnormR), s"$what: ipnorm $ipnorm vs $ipnormR")
      assert(java.lang.Double.doubleToRawLongBits(t) ==
        java.lang.Double.doubleToRawLongBits(tR), s"$what: t $t vs $tR")
    }
    assert(tied >= 6 * 2 * 20, s"only $tied vectors carried repeated magnitudes")
    // an all-zero residual takes the early exit on both
    val zero = new Array[Double](64)
    assert(RaBitQ.fastQuantizeT(zero, 3)._3 == fastQuantizeTRef(zero, 3)._3)
  }

  test("rerank distance is far more accurate than 1-bit estimate") {
    val rnd = new scala.util.Random(5)
    val d = 64
    val exBits = 3
    // residual plays both data and geometry roles: query at origin-ish
    var errEst = 0.0; var errEx = 0.0; var n = 0
    var lbViol = 0
    for (_ <- 1 to 50) {
      val res = randVec(rnd, d)
      val q = RaBitQ.quantize(res, exBits)
      // query residual = true residual + noise
      val qres = res.map(v => v + rnd.nextGaussian().toFloat * 0.1f)
      val qc = RaBitQ.QueryCluster(qres, qres.map(_.toDouble).sum, dot(qres, qres))
      val exact = l2sq(qres, res)
      val (est, lower) = RaBitQ.estimate(qc, q)
      val ex = RaBitQ.rerank(qc, q, exBits)
      // the bound is probabilistic (the random-query test below pins
      // >95%); here the CORRELATED regime must hold at least as often —
      // a per-sample hard assert would flake, a disjunct with
      // `lower <= est` is vacuously true (lower = est − err·y, both
      // factors non-negative)
      if (lower > exact + 1e-6) lbViol += 1
      errEst += math.abs(est - exact); errEx += math.abs(ex - exact); n += 1
    }
    assert(lbViol <= 2, s"lower bound violated on $lbViol/50 correlated queries")
    assert(errEx / n < errEst / n, "extended code must improve on the sign code")
    assert(errEx / n < 0.5, s"rerank mean abs error too high: ${errEx / n}")
  }

  test("1-bit estimator: lower bound holds with high probability") {
    val rnd = new scala.util.Random(11)
    val d = 64
    var holds = 0; var total = 0
    for (_ <- 1 to 200) {
      val res = randVec(rnd, d)
      val q = RaBitQ.quantize(res, 3)
      val qres = randVec(rnd, d)
      val qc = RaBitQ.QueryCluster(qres, qres.map(_.toDouble).sum, dot(qres, qres))
      val exact = l2sq(qres, res)
      val (_, lower) = RaBitQ.estimate(qc, q)
      if (lower <= exact + 1e-9) holds += 1
      total += 1
    }
    assert(holds.toDouble / total > 0.95, s"lower bound held only $holds/$total")
  }

  test("IVF search recall@10 >= 0.9 vs exact GT at sf0.001") {
    import spark.implicits._
    val approx = operators.AnnQueries.ivfSearch(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = operators.VectorQueries.gtTopKAll(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("searchAll equals search, sliced or durable, and refuses a used outputDir") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val m = operators.AnnQueries.model(spark, sf)
    // the whole embeddings table as the query set — 500 queries
    val queriesDF = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val qArr = queriesDF.as[(Long, Array[Float])].collect().sortBy(_._1)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    val oneShot = rows(m.search(spark, qArr, 10, 12))
    val batch = rows(m.searchAll(spark, queriesDF, 10, 12))
    assert(batch.length == qArr.length * 10)
    assert(batch == oneShot, "searchAll must be result-identical to search")
    // slices of 64 queries: each task scans its queries in many
    // slices, same answer — against the replica, and (on the over-cap
    // path) in each runs partition
    val rep = m.replica().get
    assert(rows(m.replicaPlan(spark, rep, queriesDF, 10, 12, "vec_id", "embedding",
      slice = 64)) == oneShot, "a sliced replica scan must be result-identical to search")
    assert(rows(m.batchPlan(spark, queriesDF, 10, 12, "vec_id", "embedding", slice = 64)) ==
      rows(overCapSearch(m, qArr, 10, 12)), "a sliced routed scan must be result-identical to search")
    // empty query set: empty result with the search schema
    val empty = m.searchAll(spark, queriesDF.filter(col("vec_id") < 0), 10, 12)
    assert(empty.columns.toSeq == Seq("query_id", "neighbor_id", "rk"))
    assert(empty.count() == 0)
    // durable mode: same answer, rows on disk, completion manifest
    val outDir = java.nio.file.Files.createTempDirectory("searchall_durable").toString + "/run1"
    val durable = rows(m.searchAll(spark, queriesDF, 10, 12, outputDir = Some(outDir)))
    assert(durable == oneShot, "durable mode must be result-identical to search")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(outDir, "rows", "_SUCCESS")),
      "the rows must be durably written")
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(outDir, "_manifest.json")), "UTF-8")
    assert(manifest.contains("\"queries\":500"), s"manifest must record the run's shape: $manifest")
    // a USED dir is refused loudly: a second run into it could mix
    // two query sets' results
    val ex = intercept[IllegalStateException] {
      m.searchAll(spark, queriesDF, 10, 12, outputDir = Some(outDir))
    }
    assert(ex.getMessage.contains("fresh directory"), ex.getMessage)
    // ...including a dir holding only an aborted run's rows (no manifest)
    val abortedDir = java.nio.file.Files.createTempDirectory("searchall_aborted").toString
    spark.range(1).selectExpr("CAST(id AS BIGINT) AS query_id",
        "CAST(99999 AS BIGINT) AS neighbor_id", "CAST(1 AS INT) AS rk")
      .write.parquet(s"$abortedDir/rows")
    intercept[IllegalStateException] {
      m.searchAll(spark, queriesDF, 10, 12, outputDir = Some(abortedDir))
    }
  }

  test("searchAll equals search on 1- and 7-partition query frames") {
    import spark.implicits._
    val m = operators.AnnQueries.model(spark, sf)
    val q = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val qArr = q.as[(Long, Array[Float])].collect()
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    val want = rows(m.search(spark, qArr, 10, 3))
    for (n <- Seq(1, 7))
      assert(rows(m.searchAll(spark, q.repartition(n), 10, 3)) == want,
        s"searchAll over $n query partitions differs from search")
  }

  test("searchAll equals search on a loaded overlay model (append, delete, load)") {
    // an appended batch and a tombstone make the loaded model's runs a
    // union and an anti-join of several layouts: its clusters spread
    // over partitions unlike a built model's, which the routing map
    // must follow
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val dim = 16
    val base = (0 until 800).map(i => (i.toLong, randVec(rnd, dim)))
    val m = IVFIndex.build(spark, base.toDF("vec_id", "embedding"),
      IVFIndex.Params(k = 8, totalBits = 4))
    val root = java.nio.file.Files.createTempDirectory("searchall_overlay").toString
    val (path, landing) = (s"$root/index", s"$root/landing")
    m.save(path)
    val added = (0 until 12).map(i => (5000L + i, randVec(rnd, dim)))
    added.toDF("vec_id", "embedding").write.parquet(landing)
    IVFIndex.appendStream(spark, m, landing, path)
    graft.ann.IVFModel.deleteIds(path, (0L until 40L).toDF("id"))
    val loaded = graft.ann.IVFModel.load(spark, path)
    val qs = (base.take(4) ++ added.take(4) ++
      (0 until 16).map(i => (900L + i, randVec(rnd, dim)))).toArray
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    val want = rows(loaded.search(spark, qs, 10, 3))
    assert(added.take(4).forall { case (id, _) => want.contains((id, id, 1)) },
      "an appended vector is not its own nearest neighbor")
    assert(!want.exists(_._2 < 40L), "a deleted id was returned")
    assert(rows(loaded.searchAll(spark, qs.toSeq.toDF("vec_id", "embedding").repartition(3),
      10, 3)) == want, "searchAll differs from search on the loaded overlay model")
    loaded.freeSearchCaches()
    m.freeSearchCaches()
  }

  test("the replica equals the re-pack of the id-sorted entries, field for field") {
    // the reference is the replica's first construction: every entry
    // unpacked, sorted by (cluster, id), packed and trimmed
    import spark.implicits._
    def reference(m: graft.ann.IVFModel): IVFIndex.Runs = {
      val entries = m.runs.mapPartitions(_.flatMap(IVFIndex.unpackRuns)).collect()
      val runs = IVFIndex.packRuns(entries.sortBy(e => (e.cluster_id, e.id)).iterator,
        m.rotator.paddedDim, m.params.exBits, m.numClusters)
      runs.foreach(rs => if (rs != null) rs.foreach(_.trim()))
      runs
    }
    def assertSame(what: String, got: IVFIndex.Runs, want: IVFIndex.Runs): Unit = {
      assert(got.length == want.length, what)
      for (c <- want.indices) {
        assert((got(c) == null) == (want(c) == null), s"$what: cluster $c held")
        if (want(c) != null) {
          assert(got(c).length == want(c).length, s"$what: cluster $c runs")
          for ((g, w) <- got(c).zip(want(c))) {
            val at = s"$what: cluster $c"
            assert((g.words, g.dim, g.exBits, g.n) == (w.words, w.dim, w.exBits, w.n), at)
            assert(java.util.Arrays.equals(g.ids, w.ids), s"$at: ids")
            assert(java.util.Arrays.equals(g.sign, w.sign), s"$at: sign")
            assert(java.util.Arrays.equals(g.x2, w.x2), s"$at: x2")
            assert(java.util.Arrays.equals(g.facIp, w.facIp), s"$at: facIp")
            assert(java.util.Arrays.equals(g.facErr, w.facErr), s"$at: facErr")
            assert(java.util.Arrays.equals(g.xipnorm, w.xipnorm), s"$at: xipnorm")
            assert(java.util.Arrays.equals(g.exF, w.exF), s"$at: exF")
            assert((g.exCode == null) == (w.exCode == null), s"$at: exCode")
            if (w.exCode != null) assert(g.exCode.length == w.exCode.length &&
              g.exCode.indices.forall(i => java.util.Arrays.equals(g.exCode(i), w.exCode(i))),
              s"$at: exCode")
          }
        }
      }
    }
    val rnd = new scala.util.Random(59)
    val dim = 16
    // built: B=4 with two clusters past ClusterBlockRows (their runs span
    // runs partitions), and B=9 (bit-packed exCode rows)
    val big = (0 until 6000).map(i => (i.toLong, randVec(rnd, dim))).toDF("vec_id", "embedding")
    for ((df, params) <- Seq(
        (big, IVFIndex.Params(k = 2, totalBits = 4)),
        (big.limit(900), IVFIndex.Params(k = 8, totalBits = 9)))) {
      val m = IVFIndex.build(spark, df, params)
      val what = s"built, B=${params.totalBits}"
      assertSame(what, m.replica().get, reference(m))
      if (params.k == 2)
        assert(m.replica().get.exists(rs => rs != null && rs.length == 1 && rs(0).n > 2048),
          s"$what: no cluster's replica gathers rows of several runs")
      m.freeSearchCaches()
    }
    // loaded: two appended batches of ids interleaved with the base's
    // (so a cluster's rows leave id order), then a delete
    val base = (0 until 800).map(i => (2L * i, randVec(rnd, dim)))
    val m = IVFIndex.build(spark, base.toDF("vec_id", "embedding"),
      IVFIndex.Params(k = 8, totalBits = 4))
    val root = java.nio.file.Files.createTempDirectory("replica_overlay").toString
    val (path, landing) = (s"$root/index", s"$root/landing")
    m.save(path)
    for (batch <- 0 until 2) {
      (0 until 40).map(i => (2L * (40 * batch + i) + 1, randVec(rnd, dim)))
        .toDF("vec_id", "embedding").write.mode("append").parquet(landing)
      IVFIndex.appendStream(spark, m, landing, path)
    }
    graft.ann.IVFModel.deleteIds(path, Seq(0L, 1L, 2L, 41L, 600L).toDF("id"))
    val loaded = graft.ann.IVFModel.load(spark, path)
    val want = reference(loaded)
    assert(want.iterator.filter(_ != null).flatten.map(_.n).sum == 800 + 80 - 5)
    val unordered = loaded.runs.collect().exists(_.exists(rs => rs != null &&
      rs.exists(r => (1 until r.n).exists(i => r.ids(i) < r.ids(i - 1)))))
    val spread = loaded.runs.collect().map(_.count(_ != null)).sum > want.count(_ != null)
    assert(unordered || spread, "the loaded runs are already one id-sorted run per cluster")
    assertSame("loaded", loaded.replica().get, want)
    loaded.freeSearchCaches()
    m.freeSearchCaches()
  }

  test("searchAll equals search when a built model's clusters span runs partitions") {
    // clusters larger than ClusterBlockRows are blocked across runs
    // partitions, so the cluster → partitions map must list every
    // partition holding a block: a query routed to only one of them
    // loses the neighbors the others hold
    import spark.implicits._
    val dim = 8
    val cents = Array.tabulate(3)(c => Array.tabulate(dim)(d => if (d == c) 20f else 0f))
    val perCluster = IVFIndex.ClusterBlockRows + 400
    val rnd = new scala.util.Random(61)
    val base = cents.indices.flatMap(c => (0 until perCluster).map(i =>
      ((c * perCluster + i).toLong, cents(c).map(_ + rnd.nextGaussian().toFloat))))
    val m = IVFIndex.buildWithCentroids(spark, base.toDF("vec_id", "embedding"),
      cents, dim, IVFIndex.Params(k = cents.length, totalBits = 4))
    val parts = m.runs.mapPartitionsWithIndex((pi, it) =>
      it.flatMap(rs => rs.indices.filter(rs(_) != null).map(_ -> pi))).collect()
      .groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2).distinct.length }
    assert(parts.values.max >= 2,
      s"test setup: every cluster sits in one runs partition: $parts")
    val qs = (0 until 12).map(i => (100000L + i,
      cents(i % cents.length).map(_ + rnd.nextGaussian().toFloat))).toArray
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    // under the replica cap, and over it, where the plan routes by the
    // cluster → partitions map
    val qDF = qs.toSeq.toDF("vec_id", "embedding")
    for ((path, search, searchAll) <- Seq(
        ("replica", m.search(spark, qs, 10, 1), m.searchAll(spark, qDF, 10, 1)),
        ("over the cap", overCapSearch(m, qs, 10, 1), overCapSearchAll(m, qDF, 10, 1)))) {
      val want = rows(search)
      assert(want.length == qs.length * 10)
      assert(rows(searchAll) == want,
        s"searchAll differs from search on a model whose clusters span runs partitions ($path)")
    }
    m.freeSearchCaches()
  }

  test("8-bit config: end-to-end build + search reaches near-exact recall") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val m = ann.IVFIndex.build(spark, e, ann.IVFIndex.Params(totalBits = 8))
    val qs = operators.VectorQueries.queryVectors(spark, sf)
    val approx = m.search(spark, qs, 10, nprobe = 12)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = operators.VectorQueries.gtTopKAll(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"B=8 recall@10 = $recall")
  }

  test("recall sweep over every supported bit width B in {3,4,5,7,8,9}") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val qs = operators.VectorQueries.queryVectors(spark, sf)
    val exact = operators.VectorQueries.gtTopKAll(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val widths = Seq(3, 4, 5, 7, 8, 9)
    // full probe (nprobe = K) so the curve isolates quantization error
    // from cluster-coverage error
    val recalls = widths.map { b =>
      val p = ann.IVFIndex.Params(totalBits = b)
      val m = ann.IVFIndex.build(spark, e, p)
      val approx = m.search(spark, qs, 10, nprobe = p.k)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      m.freeSearchCaches() // don't pin 6 throwaway indexes for the suite
      b -> (approx & exact).size.toDouble / exact.size
    }
    val byWidth = recalls.toMap
    // the pure quantized path plateaus just under 1.0 (a near-tie can
    // be displaced by code-rerank error); ≥0.99 is the high-accuracy
    // path's contract, pinned in the next test
    assert(byWidth(8) >= 0.98, s"B=8 recall = ${byWidth(8)}; all: $recalls")
    assert(byWidth(9) >= 0.98, s"B=9 recall = ${byWidth(9)}; all: $recalls")
    assert(byWidth(8) > byWidth(3), s"recall curve not increasing: $recalls")
    // monotone up to a small tolerance (more code bits -> better rerank)
    recalls.sliding(2).foreach { case Seq((b1, r1), (b2, r2)) =>
      assert(r2 >= r1 - 0.03, s"recall dropped from B=$b1 ($r1) to B=$b2 ($r2): $recalls")
    }
  }

  test("high-accuracy search: exact re-rank reaches recall >= 0.99 at full probe") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val m = operators.AnnQueries.model(spark, sf) // B=4 — the fast config
    val qs = operators.VectorQueries.queryVectors(spark, sf)
    val approx = m.searchHighAcc(spark, e, qs, k = 10, nprobe = m.params.k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = operators.VectorQueries.gtTopKAll(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.99, s"high-acc recall@10 = $recall")
  }

  test("nprobe sweep: recall is non-decreasing in nprobe, ratio sane") {
    import spark.implicits._
    val sweep = operators.AnnQueries.nprobeSweep(spark, sf)
      .select("nprobe", "recall_at_10", "avg_ratio").as[(Int, Double, Double)]
      .collect().sortBy(_._1)
    assert(sweep.length == 6)
    sweep.sliding(2).foreach { case Array((n1, r1, _), (n2, r2, _)) =>
      assert(r2 >= r1, s"recall dropped from nprobe=$n1 ($r1) to nprobe=$n2 ($r2)")
    }
    assert(sweep.last._2 >= 0.9, s"full-probe recall = ${sweep.last._2}")
    sweep.foreach { case (np, _, ratio) =>
      assert(ratio >= 1.0 - 1e-9, s"ratio below 1 at nprobe=$np: $ratio")
      assert(ratio < 2.0, s"ratio implausibly high at nprobe=$np: $ratio")
    }
  }

  test("filtered search: only allowed ids, recall holds vs filtered GT") {
    import spark.implicits._
    val m = operators.AnnQueries.model(spark, sf)
    val e = Tables.embeddings(spark, sf)
    val allowed = e.filter($"vec_id" % 2 === 0).select($"vec_id")
    val qs = operators.VectorQueries.queryVectors(spark, sf)
    val got = m.searchFiltered(spark, qs, 10, nprobe = m.params.k, allowed)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(got.forall(_._2 % 2 == 0), "a disallowed id leaked into filtered results")
    assert(got.length == qs.length * 10, "filtered heaps must still fill to k")
    val exact = graft.ann.KnnExact.topK(spark,
        e.filter($"vec_id" % 2 === 0), qs, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = got.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.9, s"filtered recall@10 = $recall")
  }

  test("LUT estimate at 14 bits tracks the exact-float estimate closely") {
    val rnd = new scala.util.Random(11)
    val d = 64
    val rot = new Rotator(d, 5)
    for (_ <- 1 to 50) {
      val q = randVec(rnd, d); val c = randVec(rnd, d)
      val x = randVec(rnd, d)
      val xr = rot.rotate(x); val cr = rot.rotate(c)
      val residual = xr.indices.map(i => xr(i) - cr(i)).toArray
      val ent = RaBitQ.quantize(residual, exBits = 3)
      val qcF = RaBitQ.prepareQuery(rot.rotate(q), cr)
      val qcQ = RaBitQ.prepareQuery(rot.rotate(q), cr, queryBits = 14)
      val estF = RaBitQ.estimateDist(qcF, ent.signBits, ent.x2, ent.facIp)
      val estQ = RaBitQ.estimateDistLut(qcQ, ent.signBits, ent.x2, ent.facIp)
      val scale = math.max(1.0, math.abs(estF))
      assert(math.abs(estF - estQ) / scale < 1e-3,
        s"LUT estimate diverged: float=$estF lut=$estQ")
    }
  }

  test("LUT estimate and lower bound sum the quantized levels over set bits, word by word") {
    // the reference is the levels alone: u_d = round((r_d − vl)/width)
    // and Σ u_d over the set bits, read from no table
    val rnd = new scala.util.Random(31)
    for (d <- Seq(64, 384, 1536); queryBits <- Seq(4, 14, 16)) {
      val words = d / 64
      val q = randVec(rnd, d); val c = randVec(rnd, d)
      val qc = RaBitQ.prepareQuery(q, c, queryBits)
      val r = qc.residual
      val (vl, vr) = (r.min, r.max)
      val width = (vr - vl) / ((1 << queryBits) - 1)
      val u = r.map(v => math.round((v - vl) / width))
      assert(qc.qlut.vl == vl && qc.qlut.width == width)
      assert(qc.qlut.lut.length == RaBitQ.lutLength(d))
      assert((0 until d).forall(i => qc.qlut.level(i) == u(i)), s"d=$d queryBits=$queryBits: levels")
      val signs: Seq[Array[Long]] =
        Seq(Array.fill(words)(0L), Array.fill(words)(-1L)) ++
          (0 until d by 7).map(i => Array.tabulate(words)(w => if (w == i / 64) 1L << (i % 64) else 0L)) ++
          Seq.fill(20)(Array.fill(words)(rnd.nextLong()))
      // every entry packed into one array, read at its offset
      val packed = signs.flatten.toArray
      for ((bits, e) <- signs.zipWithIndex) {
        val set = (0 until d).filter(i => ((bits(i >> 6) >>> (i & 63)) & 1L) == 1L)
        val sum = set.map(u(_)).sum
        val pop = set.length
        val (x2, facIp, facErr) = (rnd.nextFloat() * 4, rnd.nextFloat() - 0.5f, rnd.nextFloat())
        val ip = width.toDouble * sum + vl.toDouble * pop - 0.5 * qc.sumRes
        val est = x2 + qc.sqrY - ip * facIp
        val lower = est - facErr * qc.y - math.abs(facIp) * (0.5 * width) * pop
        val what = s"d=$d queryBits=$queryBits entry $e"
        assert(RaBitQ.estimateDistLut(qc, bits, x2, facIp) == est, s"$what: estimate")
        assert(RaBitQ.estimateLowerLutPacked(qc, packed, e * words, words, x2, facIp,
          facErr) == lower, s"$what: lower bound")
      }
    }
    // the Int accumulator's bound, checked where every table is built
    val wide = new Array[Float](32832)
    wide(0) = 1f
    val err = intercept[IllegalArgumentException](RaBitQ.prepareQuery(wide, new Array[Float](32832), 16))
    assert(err.getMessage.contains("overflows the Int LUT accumulator"))
    assert(RaBitQ.prepareQuery(wide.take(32768), new Array[Float](32768), 16).qlut.level(0) == 65535)
  }

  test("query-side scalar quantization: recall within 0.01 of the float path") {
    import spark.implicits._
    val m = operators.AnnQueries.model(spark, sf)
    val qs = operators.VectorQueries.queryVectors(spark, sf)
    val gt = operators.VectorQueries.gtTopKAll(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(model: graft.ann.IVFModel): Double = {
      val got = model.search(spark, qs, 10, nprobe = 12)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      got.count(gt.contains).toDouble / gt.size
    }
    val rFloat = recallOf(m)
    val rQuant = recallOf(m.withQueryBits(14))
    assert(rQuant >= rFloat - 0.01,
      s"quantized-query recall $rQuant dropped more than 0.01 below float $rFloat")
    // coarse quantization: the widened lower bound (quantization error
    // folded into the pruning margin) must cost reranks, not neighbors
    val rCoarse = recallOf(m.withQueryBits(6))
    assert(rCoarse >= rFloat - 0.01,
      s"queryBits=6 recall $rCoarse dropped more than 0.01 below float $rFloat")
  }

  test("filtered search survives a non-broadcastable allowed set (shuffled semi-join)") {
    import spark.implicits._
    val m = operators.AnnQueries.model(spark, sf)
    val e = Tables.embeddings(spark, sf)
    val allowed = e.filter($"vec_id" % 2 === 0).select($"vec_id")
    val qs = operators.VectorQueries.queryVectors(spark, sf)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    // Forbid broadcast entirely: the planner must pick a shuffled
    // semi-join, the path a billions-of-ids allowed set takes at scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // searchFiltered's call-scoped model packs the semi-joined entries
      // it reads through allowedOnly's plan (its jobs are plain RDD jobs,
      // not SQL executions), so read that plan here
      val plan = m.allowedOnly(allowed).queryExecution.executedPlan.toString
      // scope the check to the semi-join's own plan lines: the cached
      // index's BUILD plan (which legitimately broadcasts the tiny
      // per-cluster block-count table) renders inside InMemoryRelation
      // and would trip a whole-string BroadcastExchange match, but
      // nothing in it executes at search time
      val semiLines = plan.linesIterator.filter(_.contains("LeftSemi")).toSeq
      assert(semiLines.nonEmpty, s"expected a semi-join in the filtered-search plan:\n$plan")
      assert(semiLines.forall(l => !l.contains("Broadcast")),
        s"allowed-set semi-join still broadcasts with threshold=-1:\n$plan")
      val got = m.searchFiltered(spark, qs, 10, nprobe = m.params.k, allowed)
      val rows = got.select("query_id", "neighbor_id").as[(Long, Long)].collect()
      assert(rows.forall(_._2 % 2 == 0), "a disallowed id leaked through the shuffled path")
      assert(rows.length == qs.length * 10, "shuffled-path heaps must still fill to k")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("IVFModel.search at 4096 centroids: recall holds and probes rank flat") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val dim = 16
    val kCent = 4096
    val cents = Array.fill(kCent)(randVec(rnd, dim))
    val n = 400
    val vecs = (0 until n).map(i => (i.toLong, randVec(rnd, dim)))
    val df = vecs.toDF("id", "vec")
    val m = graft.ann.IVFIndex.buildWithCentroids(
      spark, df, cents, dim, graft.ann.IVFIndex.Params(k = kCent, totalBits = 8))
    val queries = vecs.take(4).map { case (id, v) => (id, v) }.toArray
    val approx = m.search(spark, queries, k = 5, nprobe = 512)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = graft.ann.KnnExact.topK(spark, df, queries, k = 5,
      idCol = "id", vecCol = "vec")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall@5 at $kCent centroids = $recall")
    // self-match must always be found (query vectors are in the corpus)
    queries.foreach { case (qid, _) => assert(approx.contains((qid, qid))) }
    // every query ranks its probes with the exact flat scan, at any K
    queries.foreach { q =>
      val probes = graft.ann.IVFModel.prepare(m.rotator, m.rotatedCentroids, 512)(q)._3
      assert(probes.toSeq == graft.ann.CentroidRouter.rankFlat(
        m.rotatedCentroids, m.rotator.rotate(q._2), 512).toSeq,
        s"query ${q._1}: prepare's probe list is not the flat ranking")
    }
  }

  // Split fixtures, deterministic by construction: hand-placed flat
  // centroids (no k-means in the loop), seeded data, seeded member
  // subsample + probe queries. Both fat fixtures share the layout "one
  // fat cell at the origin region + 63 thin far cells" (k0=64 ⇒ auto
  // cap = 8 × 2745/64 ≈ 343 < the region's 1800 rows ⇒ fat; probe
  // nprobe = max(2, 64/50) = 2 < the ~8 children the split makes, so
  // the probe can actually discriminate).
  private object SplitFixture {
    val dim = 32
    val params = IVFIndex.Params(k = 64, totalBits = 4)
    def farCentroids: Array[Array[Float]] =
      (1 to 63).map(j => Array.tabulate(dim)(d =>
        (math.sin(j * 97.0 + d) * 40.0).toFloat)).toArray
    def farBlob(j: Int, n: Int): Seq[Array[Float]] = {
      val c = Array.tabulate(dim)(d => (math.sin(j * 97.0 + d) * 40.0).toFloat)
      (0 until n).map { i =>
        val rnd = new scala.util.Random(j * 7919L + i)
        c.map(_ + rnd.nextGaussian().toFloat * 0.05f)
      }
    }
    val far: Seq[Array[Float]] = (1 to 63).flatMap(j => farBlob(j, 15))
    // ARTIFACT region: 12 tight sub-blobs (σ=0.05) spread 6 apart —
    // one catch-all cell whose members are genuinely multi-modal, the
    // k-means-failure shape. A query's true neighbors all live in its
    // own sub-blob, so the split's children preserve recall.
    val artifactRegion: Seq[Array[Float]] = (0 until 12).flatMap { b =>
      val c = Array.tabulate(dim)(d => (math.cos(b * 31.0 + d) * 6.0).toFloat)
      (0 until 150).map { i =>
        val rnd = new scala.util.Random(b * 1000003L + i)
        c.map(_ + rnd.nextGaussian().toFloat * 0.05f)
      }
    }
    // MASS region: one wide d=32 Gaussian ball — neighbors are spread
    // through the ball (distance concentration), so children scatter a
    // query's true top-k and fixed-nprobe recall collapses.
    val massRegion: Seq[Array[Float]] = (0 until 1800).map { i =>
      val rnd = new scala.util.Random(i * 2654435761L)
      Array.fill(dim)(rnd.nextGaussian().toFloat * 3.0f)
    }
    /** (flat centroids, `splitFatClusters`' centroids, its outcome) for
      * `region ++ far`. */
    def runCase(region: Seq[Array[Float]])
        : (Array[Array[Float]], Array[Array[Float]], IVFIndex.SplitOutcome) = {
      val flat = Array.tabulate(dim)(_ => 0.0f) +: farCentroids
      val (out, outcome) = IVFIndex.splitFatClusters((region ++ far).toArray, flat, params)
      (flat, out, outcome)
    }
  }

  test("fat-cluster split: catch-all cell splits, recall holds, off-paths unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count => cnt, lit, max => fmax}
    import SplitFixture._
    val (flatA, outA, splitA) = runCase(artifactRegion)
    assert(splitA.probe.map(_.verdict).contains("artifact"),
      s"planted sub-blob cell must split: ${splitA.probe}")
    assert(outA.length > flatA.length,
      s"fat cell must split: K ${flatA.length} -> ${outA.length}")

    // the shipped split, built: the catch-all lands under the cap and
    // recall holds. B=8 keeps recall quantization-bound; the bit width
    // plays no part in the split
    val dataA = (artifactRegion ++ far).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val dfA = dataA.toDF("id", "vec")
    val b8 = params.copy(totalBits = 8)
    val mFlat = IVFIndex.buildWithCentroids(spark, dfA, flatA, dim, b8)
    val mSplit = IVFIndex.buildWithCentroids(spark, dfA, outA, dim, b8)
    def maxCell(m: graft.ann.IVFModel): Long =
      m.index.groupBy("cluster_id").agg(cnt(lit(1)).as("n")).agg(fmax("n")).head().getLong(0)
    val (cellFlat, cellSplit) = (maxCell(mFlat), maxCell(mSplit))
    // the sample IS the full data here, so the post-split max cell must
    // land under cap = AutoSplitFactor × mean ± the drift from final
    // assignment running against the enriched set
    val cap = IVFIndex.AutoSplitFactor * dataA.length / flatA.length
    assert(cellSplit < cellFlat && cellSplit <= (cap * 1.2).toLong,
      s"split must bring the catch-all under cap≈$cap: $cellFlat -> $cellSplit")
    // queries spread over all 12 sub-blobs of the split cell
    val queries = dataA.take(artifactRegion.length).filter(_._1 % 36 == 0).toArray
    val exact = graft.ann.KnnExact.topK(spark, dfA, queries, k = 10,
      idCol = "id", vecCol = "vec")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(m: graft.ann.IVFModel, np: Int): Double = {
      val a = m.search(spark, queries, 10, nprobe = np)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (a & exact).size.toDouble / exact.size
    }
    val full = recallAt(mSplit, outA.length)
    assert(full >= 0.9, s"split-index recall@10 at full probe = $full")
    // the regime the split exists to serve: a realistic nprobe (a
    // quarter of the enriched K). Children must stay probe-RANKED
    // coherently: recall well above a random scatter of neighbors over
    // children and within a modest band of the unsplit index
    val npSmall = math.max(2, outA.length / 4)
    val (rSplitSmall, rFlatSmall) = (recallAt(mSplit, npSmall), recallAt(mFlat, npSmall))
    assert(rSplitSmall >= rFlatSmall - 0.2 && rSplitSmall >= 0.75,
      s"small-nprobe($npSmall) recall: split=$rSplitSmall flat=$rFlatSmall")

    // no-fat path: on a balanced fixture (the far blobs alone, 15 rows
    // per cell against a cap of 120) nothing is sized fat, no probe
    // runs, and the SAME centroid array passes through
    val farC = farCentroids
    val (untouched, balanced) = IVFIndex.splitFatClusters(far.toArray, farC, params)
    assert(untouched eq farC, "no cell over cap: the centroid set must pass through unchanged")
    assert(balanced.probe.isEmpty, "no fat cell: no self-probe verdict")
  }

  test("auto split policy: self-probe ships the split on artifact cells, vetoes it on mass") {
    import SplitFixture._
    val (flatA, outA, splitA) = runCase(artifactRegion)
    val probeA = splitA.probe.get
    assert(probeA.verdict == "artifact", s"planted sub-blob cell must split: $probeA")
    assert(outA.length > flatA.length, s"artifact verdict must ship the enriched set")
    assert(probeA.splitRecall >= probeA.flatRecall - 0.02, probeA.toString)

    val (flatM, outM, splitM) = runCase(massRegion)
    val probeM = splitM.probe.get
    assert(probeM.verdict == "mass", s"wide-ball cell must NOT split: $probeM")
    assert(outM.length == flatM.length &&
      outM.zip(flatM).forall { case (a, b) => a sameElements b },
      "mass verdict must ship the flat centroids byte-identical")
    assert(probeM.splitRecall < probeM.flatRecall - 0.02, probeM.toString)
  }

  test("index entries cover all vectors exactly once") {
    val m = operators.AnnQueries.model(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    assert(m.index.count() == n)
    assert(m.index.select("id").distinct().count() == n)
  }

  test("hot cluster spans multiple cached partitions (bounded cluster blocks)") {
    // a catch-all cluster far larger than ClusterBlockRows must NOT scan
    // as a single task: the cached layout blocks it across partitions.
    // Ids are strided by 8 on purpose — a raw pmod(id, nblocks) block
    // key would collapse every strided id into one residue class (one
    // block, one task again); the hashed key must spread them. Recall
    // is checked through the split cluster: results are layout-
    // independent up to the probabilistic estimate bound (tie-breaks
    // are (dist, id); a rare lower-bound violation can make a skip
    // depend on partition co-residents), and exactly unaffected here.
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(11)
    val hotCenter = randVec(rnd, dim)
    val nHot = 3 * IVFIndex.ClusterBlockRows + 7 // >3 blocks
    val rows = (0 until nHot).map { i =>
      (8L * i, hotCenter.map(_ + 0.01f * rnd.nextGaussian().toFloat))
    } ++ (0 until 600).map { i =>
      (8L * (nHot + i) + 1, randVec(rnd, dim).map(_ * 5f))
    }
    val df = spark.createDataset(rows).toDF("vec_id", "embedding")
    val m = IVFIndex.build(spark, df, IVFIndex.Params(k = 4, totalBits = 4))
    val hot = m.index.groupBy("cluster_id").count()
      .orderBy(org.apache.spark.sql.functions.desc("count"))
      .as[(Int, Long)].head()
    assert(hot._2 > 2L * IVFIndex.ClusterBlockRows,
      s"test setup: expected a mega-cluster, largest holds ${hot._2}")
    val perPart = m.index.rdd
      .mapPartitions(it => Iterator.single(it.count(_.cluster_id == hot._1)))
      .collect()
    val holding = perPart.filter(_ > 0)
    assert(holding.length >= 2,
      s"hot cluster (${hot._2} rows) confined to ${holding.length} partition(s): " +
        perPart.mkString(","))
    assert(holding.max < hot._2,
      "no single partition may hold the whole hot cluster")
    // search through the split cluster still matches exact GT. The
    // corpus is near-degenerate (a σ=0.01 ball — distances sit below
    // B=4 quantization resolution), so use the exact-re-rank path;
    // the plain quantized path bottoms out ~0.88 on this shape
    // regardless of layout.
    val queries = (0 until 20).map { i =>
      (i.toLong, hotCenter.map(_ + 0.01f * rnd.nextGaussian().toFloat))
    }.toArray
    val approx = m.searchHighAcc(spark, df, queries, 10, 4, overFetch = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = graft.ann.KnnExact.topK(spark, df, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall@10 through split hot cluster = $recall")
  }

  test("packed-run rollover + trim: split runs scan identically to one run") {
    // direct kernel test of the paths the integration suites never
    // trigger (maxRows = 2^15 >> any test corpus): a cluster's entries
    // split across several PackedRuns (the rollover the packers do on
    // isFull) must scan bit-identically to one contiguous run, before
    // and after trim()
    val dim = 8; val words = 1; val exBits = 4
    val rnd = new scala.util.Random(7)
    val entries = Array.tabulate(10) { i =>
      IVFIndex.Entry(i.toLong, 0, Array(rnd.nextLong() & 0xFFL), // bits < dim only
        // +1 pad byte: unpackAt reads a two-byte window for straddling
        // codes (the quantizer's real buffers carry the same slack)
        Array.fill(dim * exBits / 8 + 1)(rnd.nextInt().toByte),
        rnd.nextFloat(), rnd.nextFloat() * 0.1f, 0f,
        rnd.nextFloat() * 0.1f, 1f + rnd.nextFloat())
    }
    def runsOf(slices: Seq[Range]) = {
      val rs = scala.collection.mutable.ArrayBuffer.empty[IVFIndex.PackedRun]
      slices.foreach { sl =>
        val r = new IVFIndex.PackedRun(words, dim, exBits)
        sl.foreach(i => r.add(entries(i)))
        rs += r
      }
      Array(rs)
    }
    val cent = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val qs = Array.tabulate(3)(q =>
      (q.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), Array(0)))
    for (queryBits <- Seq(0, 14)) {
      def scan(runs: Array[scala.collection.mutable.ArrayBuffer[IVFIndex.PackedRun]]) =
        IVFIndex.scanRuns(qs, runs, Array(cent), 5, queryBits, exBits,
          IVFIndex.searchAccs(spark))
          .flatMap { case (q, ids, ds) => ids.indices.map(i => (q, ids(i), ds(i))) }
          .toVector.sorted
      val whole = scan(runsOf(Seq(0 until 10)))
      val rolled = runsOf(Seq(0 until 4, 4 until 8, 8 until 10))
      assert(scan(rolled) == whole, s"rollover changed results (qb=$queryBits)")
      rolled(0).foreach(_.trim())
      assert(scan(rolled) == whole, s"trim changed results (qb=$queryBits)")
    }
    // the row bound is Int-safe for any dim and enforced loudly: at a
    // (hypothetical) dim where cap*dim would overflow, maxRows shrinks
    // and the packers must roll over — a direct add past it throws
    val tight = new IVFIndex.PackedRun(1, 600000000, 8) // packExF=false, no alloc
    assert(tight.maxRows == Int.MaxValue / 600000000)
    (0 until tight.maxRows).foreach(_ => tight.add(entries(0)))
    assert(tight.isFull)
    intercept[IllegalArgumentException](tight.add(entries(1)))
  }

  test("unpackRuns returns packRuns' entries bit for bit for every supported width B") {
    val rnd = new scala.util.Random(29)
    val dim = 128
    def fields(e: IVFIndex.Entry) = (e.id, e.cluster_id, e.sign_bits.toSeq, e.ex_code.toSeq,
      Seq(e.x2, e.fac_ip, e.sum_xb, e.fac_err, e.xipnorm).map(java.lang.Float.floatToRawIntBits))
    for (bits <- Seq(3, 4, 5, 7, 8, 9)) {
      val exBits = bits - 1
      // clusters 0, 2 and 4 of 6 in stream order, ids unsorted within
      // each; one all-zero residual (no sign bit set)
      val entries = (0 until 60).map { i =>
        val res = if (i == 7) new Array[Float](dim) else randVec(rnd, dim)
        val q = RaBitQ.quantize(res, exBits)
        IVFIndex.Entry(rnd.nextLong(), i / 20 * 2, q.signBits, q.exCode, q.x2, q.facIp,
          q.sumXb, q.facErr, q.xipnorm)
      }
      val runs = IVFIndex.packRuns(entries.iterator, dim, exBits, 6)
      assert(IVFIndex.unpackRuns(runs).map(fields).toSeq == entries.map(fields), s"B=$bits")
      // a cluster rolled over into several runs unpacks them in order
      val rolled = runs.clone()
      rolled(2) = scala.collection.mutable.ArrayBuffer(20 until 27, 27 until 40).map { sl =>
        val r = new IVFIndex.PackedRun(dim / 64, dim, exBits)
        sl.foreach(i => r.add(entries(i)))
        r
      }
      assert(IVFIndex.unpackRuns(rolled).map(fields).toSeq == entries.map(fields),
        s"B=$bits, rolled runs")
    }
  }

  test("build reports what it did on its model; other models report nothing") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val n = 600
    val df = (0 until n).map(i => (i.toLong, randVec(rnd, 16))).toDF("vec_id", "embedding")
    val m = IVFIndex.build(spark, df, IVFIndex.Params(k = 8, totalBits = 4))
    val r = m.buildReport.getOrElse(fail("a built model has no build report"))
    val t = r.train.getOrElse(fail("a build's report has no training"))
    // the whole corpus fits the training budget: the sample is the corpus
    assert(t.sampleRows == n && t.kTrained == 8 && t.trainS > 0 && r.quantizeS > 0, r.toString)
    assert(r.kShipped == m.numClusters, r.toString)
    // the cap is the whole sample: no cell is fat, no probe runs, and
    // the trained centroids ship (the split specs cover the probe)
    val s = t.split
    assert(s.meanRows == n / 8.0 && s.capRows == n && s.maxRows >= s.meanRows &&
      s.fatCells == 0 && s.probe.isEmpty && r.kShipped == t.kTrained, s.toString)
    val cells = m.index.groupBy("cluster_id").count().as[(Int, Long)].collect().map(_._2)
    assert(r.maxCell == cells.max && r.meanCell == n.toDouble / m.numClusters, r.toString)
    assert(m.withQueryBits(14).buildReport == m.buildReport, "withQueryBits dropped the report")
    // given centroids train nothing
    val preset = IVFIndex.buildWithCentroids(spark, df, m.centroids, 16,
      IVFIndex.Params(k = 8, totalBits = 4)).buildReport
    assert(preset.exists(g => g.train.isEmpty && g.kShipped == m.numClusters &&
      g.maxCell == r.maxCell), s"buildWithCentroids reported $preset")
    val dir = java.nio.file.Files.createTempDirectory("build_report").toString
    m.save(dir)
    val qs = Array(0L -> randVec(rnd, 16))
    for ((what, other) <- Seq(
        "a loaded model" -> graft.ann.IVFModel.load(spark, dir),
        "a hand-made model" -> new graft.ann.IVFModel(m.params, m.rotator, m.centroids,
          m.rotatedCentroids, m.index),
        "a call-scoped model" -> m.withAllowed(Seq(1L).toDF("id"), qs, 3)(scoped => scoped)))
      assert(other.buildReport.isEmpty, s"$what reports a build")
    // never searched, the built model still holds its build's runs:
    // a release frees them
    m.freeSearchCaches()
    org.apache.spark.GraftBlocks.settle(spark.sparkContext)
    assert(!spark.sparkContext.getRDDStorageInfo.exists(_.id == m.runs.id),
      "freeSearchCaches kept an unsearched built model's runs")
  }

  test("a built and searched model caches one copy of its index: the packed runs") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val df = (0 until 600).map(i => (i.toLong, randVec(rnd, 16))).toDF("vec_id", "embedding")
    def cached() = {
      org.apache.spark.GraftBlocks.settle(spark.sparkContext)
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    }
    val before = cached()
    val m = IVFIndex.build(spark, df, IVFIndex.Params(k = 8, totalBits = 4))
    assert(m.search(spark, Array(0L -> randVec(rnd, 16)), 10, 3).count() == 10)
    assert(m.searchAll(spark, Seq(1L -> randVec(rnd, 16)).toDF("vec_id", "embedding"), 10, 3)
      .count() == 10)
    val added = cached() -- before
    assert(added == Set(m.runs.id), s"cached RDDs added by build + search: $added, " +
      s"want only the runs ${m.runs.id}")
    assert(m.index.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(m.shared.replica != null && m.shared.replicaBc != null,
      "search + searchAll under the cap built no replica or no broadcast")
    // a broadcast is not an RDD: read its blocks from the block manager
    val replicaBc = m.shared.replicaBc.id
    assert(org.apache.spark.GraftBlocks.broadcastBlocks(replicaBc).nonEmpty,
      "test setup: the replica's broadcast holds no block")
    m.freeSearchCaches()
    assert(!cached().contains(m.runs.id), "freeSearchCaches kept the runs' blocks")
    assert(m.shared.replica == null && m.shared.replicaBc == null,
      "freeSearchCaches kept the replica or its broadcast")
    // Broadcast.destroy removes the blocks asynchronously
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    def left = org.apache.spark.GraftBlocks.broadcastBlocks(replicaBc)
    while (left.nonEmpty && System.nanoTime < deadline) Thread.sleep(50)
    assert(left.isEmpty, s"freeSearchCaches left the replica broadcast's blocks: $left")
  }

  test("b7: the packing and the cached packed scan hash-match the committed golden row") {
    // a fresh model over the built index packs its runs (on the
    // over-cap path, inside its first scan job; under the cap, in the
    // job that sizes its replica); the next search reads the
    // cached runs or the replica. Both must hash-equal the pinned row —
    // a pack that diverges from its cache fails HERE, not in a judge
    // run. Only the fresh model is freed: the shared memo's runs stay
    // cached.
    val sfd = "/root/testdata/sf0.001"
    val built = graft.operators.AnnQueries.model(spark, sfd)
    val m = new graft.ann.IVFModel(built.params, built.rotator, built.centroids,
      built.rotatedCentroids, built.index)
    val qs = graft.operators.VectorQueries.queryVectors(spark, sfd)
    val np = 3 * m.params.k / 4 // b7's workload (AnnQueries.searchNprobe)
    // the raw (query_id, neighbor_id, rk) list at sf0.001, pinned here
    // directly: b7 graduated to the DuckDB hash gate in r13 (its
    // certified surface lives in oracle_sql), so the raw engine
    // ordering is no longer in the golden snapshot — these literals
    // are its regression pins (regenerate via Golden.hashOf on the raw
    // search if the kernel changes intentionally). Over the replica cap
    // each runs partition keeps its own pool, under it one pool per
    // query (checked against a sequential one-pool reference in the
    // replica spec): at this shape both return the same rows
    for ((path, search) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "over the cap" -> (() => overCapSearch(m, qs, 10, np)),
        "replica" -> (() => m.search(spark, qs, 10, np)))) {
      def result() = search().orderBy("query_id", "rk")
      val first = Golden.hashOf(result(), Set.empty)
      val cached = Golden.hashOf(result(), Set.empty)
      m.freeSearchCaches()
      assert(first == cached, s"the first (packing) and the cached scan diverged ($path)")
      assert(first == (80L,
        "c8111588e50b9c032e933e917d24eb75f03c2cf94803c236b74864fdde38e2e9"),
        s"search result drifted from the pinned b7 raw-search row ($path)")
    }
  }

  test("search/searchFiltered: the driver merge returns the distributed merge's rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val dim = 16
    val base = (0 until 400).map(i => (i.toLong, randVec(rnd, dim)))
    // exact duplicates under far ids: equal codes, equal distances, so
    // the (distance, id) order must break every such tie by id
    val dups = base.take(40).map { case (i, v) => (i + 1000L, v.clone()) }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val m = IVFIndex.build(spark, df, IVFIndex.Params(k = 8, totalBits = 4))
    val qs = (base.take(6) ++ (0 until 6).map(i => (500L + i, randVec(rnd, dim)))).toArray
    val evenIds = df.filter($"vec_id" % 2 === 0).select($"vec_id")
    val noIds = df.filter($"vec_id" < 0).select($"vec_id")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Int)].collect().toSeq.sortBy(r => (r._1, r._3))
    /** `model`'s over-cap ad-hoc rows, checked against its distributed
      * merge (the over-cap `searchAll` plan) for the same queries. */
    def same(model: graft.ann.IVFModel, q: Array[(Long, Array[Float])], k: Int, np: Int,
        what: String): Seq[(Long, Long, Int)] = {
      val got = overCapSearch(model, q, k, np)
      val want = overCapSearchAll(model, q.toSeq.toDF("vec_id", "embedding"), k, np)
      assert(got.schema == want.schema, s"$what: schema ${got.schema} != ${want.schema}")
      assert(rows(got) == rows(want), s"$what: rows differ from the distributed merge")
      rows(got)
    }
    /** The fixture exercises the tie: a query's duplicate pair sits at
      * adjacent ranks, the smaller id first. */
    def rankedPair(r: Seq[(Long, Long, Int)]) = base.take(6).exists { case (q, _) =>
      val ids = r.filter(_._1 == q).map(_._2)
      ids.indexOf(q) >= 0 && ids.indexOf(q + 1000L) == ids.indexOf(q) + 1
    }
    // search merges on the driver over the replica cap; under the cap
    // it scans the replica (see the one-pool spec)
    assert(rankedPair(same(m, qs, 10, 3, "search k=10")), "no query ranked a duplicate pair")
    // k beyond the probed cells' size: every candidate, fewer than k
    assert(same(m, qs, 500, 1, "search k=500").groupBy(_._1).values.forall(_.length < 500))
    assert(same(m, Array.empty, 10, 3, "empty query set").isEmpty)
    // searchFiltered's call-scoped model over the cap: the even ids keep
    // the duplicate pairs of the even queries
    val filtered = m.withAllowed(evenIds, qs, 3)(same(_, qs, 10, 3, "filtered"))
    assert(filtered.nonEmpty && filtered.forall(_._2 % 2 == 0), "filtered: a disallowed id")
    assert(rankedPair(filtered), "filtered: no query ranked a duplicate pair")
    assert(m.withAllowed(evenIds, qs, 1)(same(_, qs, 500, 1, "filtered k=500"))
      .groupBy(_._1).values.forall(_.length < 500))
    assert(m.withAllowed(noIds, qs, 3)(same(_, qs, 10, 3, "filtered to nothing")).isEmpty)
    assert(m.searchFiltered(spark, qs, 10, 3, noIds).count() == 0, "filtered to nothing")
    // an empty query set returns the empty local frame and runs no job
    var empty: org.apache.spark.sql.DataFrame = null
    val (jobs, _, _) = jobsAndShuffleBytes {
      empty = m.searchFiltered(spark, Array.empty, 10, 3, evenIds)
    }
    assert(jobs.isEmpty, s"an empty filtered query set ran ${jobs.length} Spark jobs: ${jobs.mkString("; ")}")
    assert(empty.schema == graft.ann.KnnExact.ResultSchema && empty.collect().isEmpty)
    m.freeSearchCaches()
  }

  test("a filtered call leaves no cached RDD and no broadcast behind") {
    // under the cap the call-scoped model's runs are its only cache;
    // over it the scan adds one query broadcast, destroyed on return,
    // and reads the parent's prepare broadcast: no second copy of the
    // centroids. The scheduler's task binaries (byte arrays) stay until
    // the context cleaner collects them, like every job's. The allowed
    // set is built in memory and the semi-join is shuffled: a parquet
    // scan's Hadoop-conf broadcast and the planner's broadcast of a
    // small allowed set live with the semi-join's plan, not the call
    import org.apache.spark.GraftBlocks
    val m = operators.AnnQueries.model(spark, sf)
    val qs = operators.VectorQueries.queryVectors(spark, sf, 5)
    val allowed = spark.range(0, 1L << 20, 2).toDF("vec_id")
    m.search(spark, qs, 10, 12) // warm the runs and the replica
    val prepare = m.prepareBroadcast(spark) // what the over-cap scan reads
    val sc = spark.sparkContext
    def blocks() = {
      GraftBlocks.settle(sc)
      (sc.getRDDStorageInfo.map(_.id).toSet, GraftBlocks.broadcastIds())
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try for ((path, call) <- Seq[(String, () => Array[org.apache.spark.sql.Row])](
        "under the cap" -> (() => m.searchFiltered(spark, qs, 10, 12, allowed).collect()),
        "over the cap" -> (() => m.withAllowed(allowed, qs, 12) { s =>
          assert(s.prepareBroadcast(spark) eq prepare, "the scoped model made its own prepare broadcast")
          overCapSearch(s, qs, 10, 12).collect()
        }))) {
      val before = blocks()
      assert(call().length == qs.length * 10, s"$path: heaps must fill to k")
      val after = blocks()
      assert(after._1 == before._1, s"$path: cached RDDs left behind: ${after._1 -- before._1}")
      val left = (after._2 -- before._2).toSeq.flatMap(id => GraftBlocks.broadcastValue(id).map(id -> _))
        .filterNot(_._2.isInstanceOf[Array[Byte]])
      assert(left.isEmpty, s"$path: broadcasts left behind: ${left.map(l => l._1 -> l._2.getClass)}")
    } finally spark.conf.set(key, prev)
  }

  test("search runs ONE Spark job and shuffles nothing; the result is local") {
    // the over-cap path: one scan job per call. (The public search picks
    // it after the layout job, so over the cap a fresh model's first
    // call runs two jobs: pinned below as the layout's one job.)
    val m = operators.AnnQueries.model(spark, sf)
    val qs = operators.VectorQueries.queryVectors(spark, sf, 5)
    // a fresh model over the same index: its packed runs are not filled
    // yet, so its first search packs them inside that one job
    val adhoc = new graft.ann.IVFModel(m.params, m.rotator, m.centroids,
      m.rotatedCentroids, m.index)
    val dir = java.nio.file.Files.createTempDirectory("ivf_one_job").toString
    m.save(dir) // no tombstones: the loaded index is a plain parquet read
    val loaded = graft.ann.IVFModel.load(spark, dir)
    for ((model, what) <- Seq(adhoc -> "first search", adhoc -> "second search",
        loaded -> "loaded model")) {
      var res: org.apache.spark.sql.DataFrame = null
      val (jobs, shuffle, _) = jobsAndShuffleBytes {
        res = overCapSearch(model, qs, 10, 12)
        assert(res.collect().length == qs.length * 10)
      }
      assert(jobs.length == 1,
        s"$what: search + collect ran ${jobs.length} Spark jobs, want 1: ${jobs.mkString("; ")}")
      assert(shuffle == 0L, s"$what: search moved $shuffle shuffle bytes, want 0")
      val plan = res.queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan"), s"$what: result is not local:\n$plan")
    }
    val fresh = new graft.ann.IVFModel(m.params, m.rotator, m.centroids,
      m.rotatedCentroids, m.index)
    // no queries: nothing to scan, so no layout and no job
    val (idleJobs, _, _) = jobsAndShuffleBytes {
      assert(fresh.search(spark, Array.empty, 10, 12).collect().isEmpty)
    }
    assert(idleJobs.isEmpty, s"a fresh model's search of no queries ran ${idleJobs.length} " +
      s"Spark jobs, want 0: ${idleJobs.mkString("; ")}")
    val (layoutJobs, _, _) = jobsAndShuffleBytes(fresh.layout())
    assert(layoutJobs.length == 1,
      s"a fresh model's layout ran ${layoutJobs.length} Spark jobs, want 1: ${layoutJobs.mkString("; ")}")
    // the scan reads whole packed partitions, but graft.search.entries
    // counts only the entries of the clusters the call probes
    val entries = graft.ann.IVFIndex.searchAccs(spark).entries
    val one = qs.take(1)
    val probed = graft.ann.CentroidRouter.rankFlat(m.rotatedCentroids,
      m.rotator.rotate(one(0)._2), 2)
    val before = entries.value
    overCapSearch(adhoc, one, 10, 2)
    assert(entries.value - before == m.index
      .filter(org.apache.spark.sql.functions.col("cluster_id").isin(probed.toIndexedSeq: _*))
      .count(), "graft.search.entries counted clusters the call did not probe")
    Seq(adhoc, loaded, fresh).foreach(_.freeSearchCaches())
  }

  test("searchHighAcc rejects overFetch < 1 and an overflowing k * overFetch") {
    val m = operators.AnnQueries.model(spark, sf)
    val e = Tables.embeddings(spark, sf)
    val qs = operators.VectorQueries.queryVectors(spark, sf, 2)
    for ((k, over) <- Seq(10 -> 0, 10 -> -3, (Int.MaxValue / 2) -> 4)) {
      val ex = intercept[IllegalArgumentException] {
        m.searchHighAcc(spark, e, qs, k, 4, overFetch = over)
      }
      assert(ex.getMessage.contains("overFetch"), ex.getMessage)
    }
  }

  test("scanRuns equals a sequential estimate -> prune -> rerank, rows and rerank count") {
    import spark.implicits._
    import graft.ann.CentroidRouter
    val rnd = new scala.util.Random(23)
    val dim = 32
    val df = (0 until 3000).map(i => (i.toLong, randVec(rnd, dim))).toDF("vec_id", "embedding")
    val queries = Array.tabulate(24)(q => (q.toLong, randVec(rnd, dim)))
    def canon(rows: Seq[(Long, Array[Long], Array[Double])]) =
      rows.map { case (q, ids, ds) =>
        (q, ids.toSeq, ds.toSeq.map(java.lang.Double.doubleToRawLongBits)) }
    // B=4 reranks in pairs from the F bytes; B=9 keeps the one-entry unpack path
    var violations = 0L
    for (bits <- Seq(4, 9)) {
      val m = IVFIndex.build(spark, df, IVFIndex.Params(k = 8, totalBits = bits))
      val exBits = m.params.exBits
      val nc = m.rotatedCentroids.length
      // two "partitions": the clusters' entries split by id parity
      val (even, odd) = m.index.collect().sortBy(_.id).partition(_.id % 2 == 0)
      val parts = Seq(even, odd).map(p =>
        IVFIndex.packRuns(p.iterator, m.rotator.paddedDim, exBits, nc))
      val qs = queries.map { case (q, v) =>
        val qr = m.rotator.rotate(v)
        (q, qr, CentroidRouter.rankFlat(m.rotatedCentroids, qr, 3))
      }
      for (queryBits <- Seq(0, 14); k <- Seq(1, 10, 100); runs <- parts) {
        val what = s"B=$bits queryBits=$queryBits k=$k"
        val (want, wantReranks, wantViolations, rejected) =
          sequentialScan(qs, runs, m.rotatedCentroids, k, queryBits, exBits)
        val accs = IVFIndex.searchAccs(spark)
        val (reranks0, violations0) = (accs.reranks.value, accs.boundViolations.value)
        val got = IVFIndex.scanRuns(qs, runs, m.rotatedCentroids, k, queryBits,
          exBits, accs).toSeq
        assert(canon(got) == canon(want), s"$what: rows differ from the sequential scan")
        assert(accs.reranks.value - reranks0 == wantReranks, s"$what: graft.search.reranks")
        assert(accs.boundViolations.value - violations0 == wantViolations,
          s"$what: graft.search.bound_violations")
        violations += wantViolations
        if (bits == 4) assert(rejected > 0, s"$what: no speculated partner was rejected")
      }
      m.freeSearchCaches()
    }
    assert(violations > 0, "no rerank violated its bound: the violation count is untested")
  }

  test("searchAll at k=100 returns the pinned raw rows") {
    // the batch path's raw (query_id, neighbor_id, rk) list at sf0.001.
    // Over the replica cap it is pinned from the row-per-candidate merge
    // it replaced: the scan's sorted lists, their linear merge and the
    // paired rerank must not move a row. Under the cap, one pool per
    // query (checked against a sequential one-pool reference in the
    // replica spec). Both estimate precisions return the same rows at
    // this shape (the prune skips no entry either bound would keep).
    val m = operators.AnnQueries.model(spark, sf)
    val q = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    for ((path, plan, pinned) <- Seq[(String, graft.ann.IVFModel => org.apache.spark.sql.DataFrame,
        (Long, String))](
        ("over the cap", overCapSearchAll(_, q, 100, 4),
          (49982L, "32b7a0315d3b5080dd81c75edae098d66bd40cf39d32250aefa5c2b717b2db60")),
        ("replica", _.searchAll(spark, q, 100, 4),
          (49982L, "aebe01f46c54ce6eb1218ce22fd879c75a27db2f12fee8d48dba102b9570070a")));
        queryBits <- Seq(0, 14)) {
      assert(Golden.hashOf(plan(m.withQueryBits(queryBits)).orderBy("query_id", "rk"),
        Set.empty) == pinned, s"searchAll (queryBits $queryBits, $path) drifted from its pinned rows")
    }
  }

  test("under the replica cap, search and searchAll equal a sequential one-pool reference") {
    import spark.implicits._
    val m = operators.AnnQueries.model(spark, sf)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Int)].collect().toSeq.sortBy(r => (r._1, r._3))
    // b7's ad-hoc workload
    val qs = operators.VectorQueries.queryVectors(spark, sf)
    val np = 3 * m.params.k / 4
    val got = m.search(spark, qs, 10, np)
    assert(got.schema == graft.ann.KnnExact.ResultSchema)
    assert(rows(got) == onePoolRows(m, qs, 10, np), "search differs from the one-pool reference")
    // the pinned batch workload, at both estimate precisions
    val q = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val qArr = q.as[(Long, Array[Float])].collect()
    for (queryBits <- Seq(0, 14)) {
      val mq = m.withQueryBits(queryBits)
      assert(rows(mq.searchAll(spark, q, 100, 4)) == onePoolRows(mq, qArr, 100, 4),
        s"searchAll (queryBits $queryBits) differs from the one-pool reference")
    }
  }

  test("under the replica cap, rows are identical at two runs-partition counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val dim = 32
    val base = (0 until 3000).map(i => (i.toLong, randVec(rnd, dim)))
    val df = base.toDF("vec_id", "embedding")
    val cents = base.take(8).map(_._2).toArray
    val qs = Array.tabulate(40)(q => (10000L + q, randVec(rnd, dim)))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Int)].collect().toSeq.sortBy(r => (r._1, r._3))
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val models = try Seq(2, 7).map { n =>
      spark.conf.set(key, n.toString)
      IVFIndex.buildWithCentroids(spark, df, cents, dim, IVFIndex.Params(k = 8, totalBits = 4))
    } finally spark.conf.set(key, prev)
    assert(models.map(_.runs.getNumPartitions) == Seq(2, 7))
    val want = onePoolRows(models(0), qs, 100, 3)
    // quantization is per entry: a model of the even rows alone over the
    // same centroids holds exactly the entries searchFiltered allows
    val even = df.filter($"vec_id" % 2 === 0)
    val evenModel = IVFIndex.buildWithCentroids(spark, even, cents, dim,
      IVFIndex.Params(k = 8, totalBits = 4))
    val wantEven = onePoolRows(evenModel, qs, 100, 3)
    evenModel.freeSearchCaches()
    for (m <- models) {
      val what = s"${m.runs.getNumPartitions} runs partitions"
      assert(rows(m.search(spark, qs, 100, 3)) == want, s"search, $what")
      assert(rows(m.searchAll(spark, qs.toSeq.toDF("vec_id", "embedding").repartition(3),
        100, 3)) == want, s"searchAll, $what")
      assert(rows(m.searchFiltered(spark, qs, 100, 3, even.select("vec_id"))) == wantEven,
        s"searchFiltered, $what")
      m.freeSearchCaches()
    }
  }

  test("under the replica cap, a warm search runs no Spark job and searchAll no shuffle") {
    val m = operators.AnnQueries.model(spark, sf)
    val qs = operators.VectorQueries.queryVectors(spark, sf, 5)
    // a fresh model over the same index: its first search builds the
    // replica from the runs its layout job ships, in that one job
    val adhoc = new graft.ann.IVFModel(m.params, m.rotator, m.centroids,
      m.rotatedCentroids, m.index)
    val (firstJobs, _, _) = jobsAndShuffleBytes {
      assert(adhoc.search(spark, qs, 10, 12).collect().length == qs.length * 10)
    }
    assert(firstJobs.length == 1,
      s"a fresh model's first search ran ${firstJobs.length} Spark jobs, want 1: ${firstJobs.mkString("; ")}")
    var res: org.apache.spark.sql.DataFrame = null
    val (jobs, _, _) = jobsAndShuffleBytes {
      res = adhoc.search(spark, qs, 10, 12)
      assert(res.collect().length == qs.length * 10)
    }
    assert(jobs.isEmpty, s"a warm search + collect ran ${jobs.length} Spark jobs: ${jobs.mkString("; ")}")
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), s"result is not local:\n$plan")
    // the counters still add their totals from the driver
    val accs = graft.ann.IVFIndex.searchAccs(spark)
    val (est, rer) = (accs.estimates.value, accs.reranks.value)
    adhoc.search(spark, qs, 10, 12)
    assert(accs.estimates.value > est && accs.reranks.value > rer,
      "the replica search added nothing to graft.search.*")
    // when a runs partition is over its share of the cap the layout job
    // ships nothing and the replica fetches the runs itself: same replica
    val refetch = new graft.ann.IVFModel(m.params, m.rotator, m.centroids,
      m.rotatedCentroids, m.index)
    refetch.layout()
    refetch.shared.replica = null
    assert(refetch.search(spark, qs, 10, 12).collect().toSeq == res.collect().toSeq,
      "the replica fetched after the layout job differs from the shipped one")
    Seq(adhoc, refetch).foreach(_.freeSearchCaches())
    val q = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    m.searchAll(spark, q, 100, 4).collect() // warm-up: the replica and its broadcast
    val (batchJobs, shuffle, _) = jobsAndShuffleBytes { m.searchAll(spark, q, 100, 4).collect() }
    assert(batchJobs.nonEmpty)
    assert(shuffle == 0L, s"searchAll + collect moved $shuffle shuffle bytes, want 0")
  }

  test("a repeated query id: one top-k per occurrence in a replica searchAll, else one merged list") {
    // query ids must be distinct (search/searchAll scaladoc); this pins
    // what each path returns when one is not
    import spark.implicits._
    val m = operators.AnnQueries.model(spark, sf)
    val qs = operators.VectorQueries.queryVectors(spark, sf, 3)
    val twice = qs :+ qs(0)
    val twiceDF = twice.toSeq.toDF("vec_id", "embedding")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Int)].collect().toSeq.sortBy(r => (r._1, r._3, r._2))
    val key = qs(0)._1
    /** `once` with `key`'s list as the merge of two equal copies of it:
      * k rows, each neighbor twice. */
    def merged(once: Seq[(Long, Long, Int)]) = {
      val (dup, rest) = once.partition(_._1 == key)
      assert(dup.length == 10)
      (rest ++ dup.take(5).flatMap(r => Seq(r._2, r._2)).zipWithIndex.map {
        case (id, i) => (key, id, i + 1)
      }).sortBy(r => (r._1, r._3, r._2))
    }
    for ((path, search) <- Seq[(String, Array[(Long, Array[Float])] => org.apache.spark.sql.DataFrame)](
        "search (replica)" -> (m.search(spark, _, 10, 4)),
        "search over the cap" -> (overCapSearch(m, _, 10, 4)),
        "searchAll over the cap" -> (a => overCapSearchAll(m, a.toSeq.toDF("vec_id", "embedding"), 10, 4))))
      assert(rows(search(twice)) == merged(rows(search(qs))), s"$path: the occurrences merge")
    val once = rows(m.searchAll(spark, qs.toSeq.toDF("vec_id", "embedding"), 10, 4))
    assert(rows(m.searchAll(spark, twiceDF, 10, 4)) ==
      (once ++ once.filter(_._1 == key)).sortBy(r => (r._1, r._3, r._2)),
      "searchAll (replica): one top-k per occurrence")
  }

  test("searchAll shuffles ≤ partitions × queries to merge, probed partitions to route") {
    // the plan over the replica cap: one (query, sorted top-k list) row
    // per partition reaches the merge — never one row per candidate;
    // and a query is routed only to the runs partitions that hold one
    // of its probed clusters
    import spark.implicits._
    val m = operators.AnnQueries.model(spark, sf)
    val q = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val qArr = q.as[(Long, Array[Float])].collect()
    val nQ = qArr.length.toLong
    val parts = m.runs.getNumPartitions
    val held = m.runs.mapPartitionsWithIndex((pi, it) =>
      it.flatMap(rs => rs.indices.filter(rs(_) != null).map(c => (c, pi)))).collect()
    val routes = qArr.map { case (_, v) =>
      graft.ann.CentroidRouter.rankFlat(m.rotatedCentroids, m.rotator.rotate(v), 4)
        .flatMap(c => held.filter(_._1 == c).map(_._2)).distinct.length.toLong
    }.sum
    assert(routes < parts * nQ, s"every query probes every partition: the bound $routes is vacuous")
    var rows = 0L
    val (_, _, records) = jobsAndShuffleBytes {
      rows = overCapSearchAll(m, q, 100, 4).count()
    }
    assert(rows > nQ * 10, s"searchAll returned $rows rows")
    val (route, merge) = records.partition(_._1("searchAll.route"))
    val (routed, merged) = (route.map(_._2).sum, merge.map(_._2).sum)
    assert(route.length == 1, s"want one routing stage, got $records")
    assert(routed == routes,
      s"searchAll routed $routed query records, want the $routes probed partitions of $nQ queries")
    assert(merged > 0 && merged <= parts * nQ,
      s"searchAll's merge wrote $merged shuffle records, want <= $parts partitions × $nQ queries")
  }

  test("searchAll leaves no cached block behind after a collect") {
    val m = operators.AnnQueries.model(spark, sf)
    val q = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    m.search(spark, operators.VectorQueries.queryVectors(spark, sf, 2), 10, 4) // warm the runs
    def cached() = {
      org.apache.spark.GraftBlocks.settle(spark.sparkContext)
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    }
    val before = cached()
    assert(m.searchAll(spark, q, 100, 4).collect().nonEmpty)
    assert(cached() == before, s"searchAll left cached RDDs: ${cached() -- before}")
  }

  test("searchAll runs as many Spark jobs for a 1- as for an 8-partition query frame") {
    // the queries are prepared in their own partitions: no job per
    // query partition streams them through the driver
    val m = operators.AnnQueries.model(spark, sf)
    val q = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    m.searchAll(spark, q, 10, 4).collect() // warm-up: the runs and the routing map
    val jobs = Seq(1, 8).map { n =>
      val (js, _, _) = jobsAndShuffleBytes { m.searchAll(spark, q.repartition(n), 10, 4).collect() }
      js.length
    }
    assert(jobs(0) == jobs(1), s"1 and 8 query partitions ran ${jobs(0)} and ${jobs(1)} jobs")
  }

  test("searchAll outputDir crash window: a failed run leaves no manifest, reruns are safe") {
    import spark.implicits._
    val m = operators.AnnQueries.model(spark, sf)
    val valid = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    // one query of the wrong dimension: its prepare fails inside the write
    val bad = (valid.take(70) :+ (-1L -> Array.fill(valid(0)._2.length + 5)(0.5f))) ++
      valid.drop(70)
    val root = java.nio.file.Files.createTempDirectory("searchall_crash").toString
    val dir = s"$root/run"
    val ex = intercept[Exception] {
      m.searchAll(spark, bad.toSeq.toDF("vec_id", "embedding"), 10, 4,
        outputDir = Some(dir))
    }
    assert(ex.getMessage.contains("dims"), ex.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_manifest.json")),
      "a failed run must not write its completion manifest")
    val again = intercept[IllegalStateException] {
      m.searchAll(spark, valid.toSeq.toDF("vec_id", "embedding"), 10, 4,
        outputDir = Some(dir))
    }
    assert(again.getMessage.contains("fresh directory"), again.getMessage)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Int)].collect().toSeq.sortBy(r => (r._1, r._3))
    val fresh = s"$root/rerun"
    val rerun = rows(m.searchAll(spark, valid.toSeq.toDF("vec_id", "embedding"), 10, 4,
      outputDir = Some(fresh)))
    assert(rerun == rows(m.searchAll(spark, valid.toSeq.toDF("vec_id", "embedding"), 10, 4)),
      "the rerun must equal an uninterrupted run")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(fresh, "_manifest.json")))
  }

  test("b11_nprobe_sweep hashes the same at 1 and 4 shuffle partitions") {
    // the runs' layout follows spark.sql.shuffle.partitions; b11's
    // searches scan the replica, so its rows must not follow it. The
    // model memo is keyed by the setting, so each setting builds its
    // model under its own layout
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val hashes = try Seq("1", "4").map { n =>
      spark.conf.set(key, n)
      Golden.hashOf(operators.AnnQueries.nprobeSweep(spark, sf), Set.empty)
    } finally spark.conf.set(key, prev)
    assert(hashes(0) == hashes(1), s"b11 at 1 and 4 shuffle partitions: $hashes")
  }
}
