package graft.perfbench

import graft.ann.{CentroidRouter, RaBitQ, Rotator}

/** Per-layer timings of the ANN pipeline, taken by calling each layer's
  * public functions from here on a seeded code set, plus the search
  * counters the index publishes as Spark accumulators when
  * SPARK_GRAFT_SEARCH_PROFILE=1. */
object Kernels {
  /** Estimate-phase bytes read per entry: the 1-bit code plus the three
    * float factors the lower bound uses (x2, fac_ip, fac_err). */
  def bytesPerEstimate(paddedDim: Int): Int = paddedDim / 8 + 12

  /** ann.candidates_per_query and ann.rerank_frac from the index's
    * estimate/rerank counters over a traced window. Reported absent
    * (with a note), never as zero, when the counters are missing. */
  def searchCounters(run: Run, w: Window, queries: Int): Unit = {
    val est = run.tracer.accumulator("graft.search.estimates", w.t0, w.t1)
    val rer = run.tracer.accumulator("graft.search.reranks", w.t0, w.t1)
    (est, rer) match {
      case (Some(e), Some(r)) if e > 0 =>
        run.metric("ann.candidates_per_query", e.toDouble / queries, "count")
        run.metric("ann.rerank_frac", r.toDouble / e, "ratio")
      case _ =>
        run.note("ann.candidates_per_query, ann.rerank_frac absent: " +
          "the graft.search.* counters (SPARK_GRAFT_SEARCH_PROFILE=1) reported nothing")
    }
  }

  /** Median over `reps` repetitions of the per-call time of `calls`
    * calls, after untimed repetitions for at least 0.3 s, so the JIT has
    * compiled the loop before it is timed. */
  private def perCall(reps: Int, calls: Int)(body: => Double): Double = {
    var sink = 0.0
    val warm = System.nanoTime() + 300000000L
    while (System.nanoTime() < warm) sink += body
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      sink += body
      (System.nanoTime() - t0).toDouble / calls
    }
    if (sink == 42.4242) println(sink) // keep the results live
    Stats.median(ts)
  }

  /** Corpus vectors of the kernel code set. */
  val KernelEntries = 4096
  /** Probe queries whose prepared query-clusters the kernels scan with. */
  val KernelProbes = 32
  /** Ids of the generated points that stand in for k-means centroids. */
  val CentroidBase: Long = AnnWorkloads.QueryBase * 2

  /** Rotator, CentroidRouter, RaBitQ quantize/estimate/rerank timings,
    * and the same-session streaming-read bandwidth. They are properties
    * of the kernel code, not of a workload: every traced run measures
    * them on the same code set, made here from the seed at the
    * ann_lifecycle shape (d, K, B, nprobe) without Spark. Centroids are
    * generated points, each vector is coded against its nearest one as a
    * build would. */
  def layer(run: Run): Unit = {
    val s = AnnWorkloads.IndexShape
    val gen = new LatentGen(run.seed, s.dim)
    val rot = new Rotator(s.dim, run.seed)
    val exBits = AnnWorkloads.params(s, run.seed).exBits
    val rc = rot.rotateAll(gen.local(CentroidBase, s.clusters))
    val xs = rot.rotateAll(gen.local(0, KernelEntries))
    val qs = gen.local(AnnWorkloads.QueryBase + 100000, 256)
    val qr = rot.rotateAll(qs)
    def residual(x: Array[Float], c: Array[Float]): Array[Float] =
      Array.tabulate(x.length)(i => x(i) - c(i))

    run.metric("ann.Rotator.rotate_us",
      perCall(5, qs.length)(qs.map(rot.rotate(_)(0).toDouble).sum) / 1e3, "us")
    run.metric("ann.CentroidRouter.rank_us",
      perCall(5, qr.length)(qr.map(CentroidRouter.rankFlat(rc, _, s.nprobe)(0).toDouble).sum) / 1e3, "us")
    val cell = xs.map(CentroidRouter.rankFlat(rc, _, 1)(0))
    val res = xs.indices.map(i => residual(xs(i), rc(cell(i)))).toArray
    run.metric("ann.RaBitQ.quantize_us",
      perCall(5, 256)(res.take(256).map(RaBitQ.quantize(_, exBits).x2.toDouble).sum) / 1e3, "us")

    // the estimate/rerank kernels over every coded entry, each timed in
    // its own loop; every per-entry input (the entry's prepared
    // query-cluster, codes, factors) is resolved beforehand, in the
    // packed layout the index scan reads
    val codes = res.map(RaBitQ.quantize(_, exBits))
    val n = codes.length
    val dim = rot.paddedDim
    val words = dim / 64
    val sign = new Array[Long](n * words)
    val exF = new Array[Byte](n * dim)
    codes.indices.foreach { i =>
      System.arraycopy(codes(i).signBits, 0, sign, i * words, words)
      RaBitQ.packF(codes(i).signBits, codes(i).exCode, dim, exBits, exF, i * dim)
    }
    val x2 = codes.map(_.x2)
    val facIp = codes.map(_.facIp)
    val facErr = codes.map(_.facErr)
    val xipnorm = codes.map(_.xipnorm)
    val probe = qr.take(KernelProbes)
    def prepared(queryBits: Int): Array[Array[RaBitQ.QueryCluster]] = probe.map { q =>
      val byCell = rc.map(c => RaBitQ.prepareQuery(q, c, queryBits))
      cell.map(byCell)
    }
    val lut = prepared(AnnWorkloads.BatchQueryBits)
    val exact = prepared(0)
    val calls = probe.length * n

    val lutNs = perCall(5, calls) {
      var acc = 0.0
      var p = 0
      while (p < lut.length) {
        val qc = lut(p)
        var i = 0
        while (i < n) {
          acc += RaBitQ.estimateLowerLutPacked(qc(i), sign, i * words, words, x2(i), facIp(i), facErr(i))
          i += 1
        }
        p += 1
      }
      acc
    }
    val exactNs = perCall(5, calls) {
      var acc = 0.0
      var p = 0
      while (p < exact.length) {
        val qc = exact(p)
        var i = 0
        while (i < n) {
          acc += RaBitQ.estimateLowerPacked(qc(i), sign, i * words, words, x2(i), facIp(i), facErr(i))
          i += 1
        }
        p += 1
      }
      acc
    }
    val rerankNs = perCall(5, calls) {
      var acc = 0.0
      var p = 0
      while (p < exact.length) {
        val qc = exact(p)
        var i = 0
        while (i < n) {
          acc += RaBitQ.rerankDistF(qc(i), exF, i * dim, x2(i), xipnorm(i), exBits)
          i += 1
        }
        p += 1
      }
      acc
    }
    run.metric("ann.RaBitQ.estimate_lut_ns", lutNs, "ns")
    run.metric("ann.RaBitQ.estimate_exact_ns", exactNs, "ns")
    run.metric("ann.RaBitQ.rerank_ns", rerankNs, "ns")
    // the LUT estimate's read rate, one estimate per core at a time,
    // against the streaming-read bandwidth of as many threads
    run.metric("ann.kernel_gbps", bytesPerEstimate(dim) / lutNs * run.cores, "GB/s")
    run.metric("host.stream_gbps", streamGbps(run.cores), "GB/s")
  }

  /** Streaming-read bandwidth: `threads` threads summing disjoint slices
    * of a 128 MiB array, median of five passes. */
  def streamGbps(threads: Int): Double = {
    val a = new Array[Long](16 << 20)
    java.util.Arrays.fill(a, 1L)
    val slice = a.length / threads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val ts = (0 to 5).map { _ =>
        val t0 = System.nanoTime()
        val fs = (0 until threads).map { t =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              var s = 0L
              var i = t * slice
              val end = i + slice
              while (i < end) { s += a(i); i += 1 }
              s
            }
          })
        }
        fs.foreach(_.get())
        a.length * 8.0 / (System.nanoTime() - t0)
      }
      Stats.median(ts.tail)
    } finally pool.shutdown()
  }

  /** ann.IVFIndex.build.{kmeans,quantize,layout}_s of one build, from the
    * stages it ran, grouped by the call site Spark records for each:
    * k-means ends with the last stage called from KMeans or the
    * fat-cell split, quantize with the last source stage of
    * buildWithCentroids (the assign/rotate/quantize pass), and layout is
    * the rest of the build. */
  def buildBreakdown(run: Run, t0: Long, t1: Long): Unit = {
    val st = run.tracer.stagesIn(t0, t1)
    def lastEnd(p: run.tracer.Stage => Boolean): Option[Long] = {
      val e = st.filter(p).map(_.completed)
      if (e.isEmpty) None else Some(e.max)
    }
    val kEnd = lastEnd(s => s.details.contains("KMeans") || s.details.contains("splitFatClusters"))
    val qEnd = lastEnd(s => s.details.contains("buildWithCentroids") && s.parents.isEmpty)
    (kEnd, qEnd) match {
      case (Some(k), Some(q)) if q >= k =>
        run.metric("ann.IVFIndex.build.kmeans_s", (k - t0) / 1e3, "s")
        run.metric("ann.IVFIndex.build.quantize_s", (q - k) / 1e3, "s")
        run.metric("ann.IVFIndex.build.layout_s", (t1 - q) / 1e3, "s")
      case _ =>
        run.note(s"build breakdown absent: no k-means/quantize stage boundary found among " +
          st.map(_.name).mkString(", "))
    }
  }

  def du(path: String): Double = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().map(g => du(g.getPath)).sum
    else if (f.exists) f.length.toDouble
    else 0.0
  }

  def rm(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().foreach(g => rm(g.getPath))
    f.delete()
  }
}
