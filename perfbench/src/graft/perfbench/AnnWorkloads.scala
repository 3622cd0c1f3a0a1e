package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ann.{IVFIndex, IVFModel}
import graft.perfbench.Measure.{loop, window}

/** Seeded corpus with low intrinsic dimension: each vector is a point of
  * one of `topics` Gaussian blobs in a `latent`-dimensional space, mapped
  * to `dim` dimensions by a fixed random basis, plus isotropic noise. The
  * vector of an id depends only on (seed, id), so the executors and the
  * driver regenerate identical vectors in any partitioning. */
final class LatentGen(seed: Long, val dim: Int, latent: Int = 16, topics: Int = 256,
    spread: Double = 2.0, noise: Double = 0.1) extends Serializable {
  private val (basis, centers) = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val scale = 1.0 / math.sqrt(latent.toDouble)
    (Array.fill(latent * dim)((LatentGen.gauss(r) * scale).toFloat),
      Array.fill(topics * latent)(LatentGen.gauss(r) * 2.0))
  }

  def vector(id: Long): Array[Float] = {
    val r = new SplittableRandom(seed * 0x2545F4914F6CDD1DL ^ (id * 0x9E3779B97F4A7C15L))
    val t = r.nextInt(topics)
    val x = new Array[Float](dim)
    var j = 0
    while (j < latent) {
      val z = (centers(t * latent + j) + spread * LatentGen.gauss(r)).toFloat
      val off = j * dim
      var d = 0
      while (d < dim) { x(d) += z * basis(off + d); d += 1 }
      j += 1
    }
    var d = 0
    while (d < dim) { x(d) += (noise * LatentGen.gauss(r)).toFloat; d += 1 }
    x
  }

  /** Vectors `from until from + n` as a (vec_id, embedding) frame,
    * generated on the executors. */
  def frame(spark: SparkSession, from: Long, n: Int, parts: Int): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(from, from + n, 1, parts).map(i => (i.longValue, self.vector(i.longValue)))
      .toDF("vec_id", "embedding")
  }

  /** The same vectors on the driver, generated in parallel. */
  def local(from: Long, n: Int): Array[Array[Float]] = {
    val out = new Array[Array[Float]](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = vector(from + i))
    out
  }
}

object LatentGen {
  def gauss(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}

/** Index shape of a workload; `nprobe` is fixed per workload. */
final case class Shape(dim: Int, n: Int, clusters: Int, trainRows: Int, nprobe: Int)

object AnnWorkloads {
  /** Query ids live far above corpus ids so the two never collide. */
  val QueryBase: Long = 1L << 40

  val IndexShape = Shape(dim = 384, n = 8192, clusters = 32, trainRows = 4096, nprobe = 8)
  val BatchQueries = 2048
  val BatchK = 100
  val BatchQueryBits = 14
  /** Timed searchAll calls at least: throughput_qps is from their median. */
  val BatchMinCalls = 9
  /** Held-out queries with exact ground truth: the first GtQueries of
    * the batch; the first AdhocPool of them are the ad-hoc pool. */
  val GtQueries = 300
  /** Recall floors: a run below them fails its recall check. */
  val BatchRecallFloor = 0.75
  val AdhocRecallFloor = 0.75

  val AdhocPool = 75
  val AdhocPerCall = 5
  val AdhocK = 10
  /** One pass over the pool, for every pool query's recall. */
  val AdhocMinCalls = AdhocPool / AdhocPerCall

  val Ingest = 2048
  val IngestFiles = 4
  val OverlaySearches = 4
  /** Timed steps of one index life that cycle_s sums: build, save,
    * appendStream, deleteIds, load, the overlay searches, compact. */
  val LifeSteps: Int = 6 + OverlaySearches

  def params(s: Shape, seed: Long): IVFIndex.Params =
    IVFIndex.Params(k = s.clusters, totalBits = 4, seed = seed, maxTrainRows = s.trainRows.toLong)

  def release(m: IVFModel): Unit = { m.freeSearchCaches(); m.index.unpersist(blocking = true) }

  /** Exact top-k ids of each query by squared L2 (ties by id). */
  def groundTruth(corpus: Array[Array[Float]], qs: Array[Array[Float]], k: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel().forEach { qi =>
      val q = qs(qi)
      val d = new Array[Double](corpus.length)
      var i = 0
      while (i < corpus.length) {
        val v = corpus(i)
        var s = 0.0
        var j = 0
        while (j < q.length) { val t = (v(j) - q(j)).toDouble; s += t * t; j += 1 }
        d(i) = s
        i += 1
      }
      out(qi) = corpus.indices.sortBy(i => (d(i), i)).take(k).map(_.toLong).toArray
    }
    out
  }

  /** Result rows (query_id, neighbor_id, rk) grouped per query. */
  def byQuery(rows: Array[org.apache.spark.sql.Row]): Map[Long, Array[(Int, Long)]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => (r.getInt(2), r.getLong(1))).sortBy(_._1) }

  /** Rows per query must be exactly k with no neighbour repeated. */
  def shapeError(res: Map[Long, Array[(Int, Long)]], qids: Seq[Long], k: Int): Option[String] =
    qids.collectFirst {
      case q if res.get(q).forall(_.length != k) =>
        s"query $q returned ${res.get(q).fold(0)(_.length)} rows, want $k"
      case q if res(q).map(_._2).distinct.length != k => s"query $q repeats a neighbour"
    }

  def recall(res: Map[Long, Array[(Int, Long)]], gt: Map[Long, Array[Long]], k: Int): Double =
    gt.toSeq.map { case (q, want) =>
      val got = res.getOrElse(q, Array.empty).map(_._2).toSet
      want.take(k).count(got).toDouble / k
    }.sum / gt.size

  def cellSkew(m: IVFModel): Double = {
    val sizes = m.index.groupBy("cluster_id").count().collect().map(_.getLong(1).toDouble)
    sizes.max / (sizes.sum / m.numClusters)
  }

  // ------------------------------------------------------------ ann_lifecycle

  /** ann_lifecycle: set-up generates the corpus, the held-out queries
    * with exact ground truth, and the landing files to ingest. One cycle
    * then runs the whole life of an index, every step timed:
    *  - `IVFIndex.build` over the cached corpus;
    *  - batch serving: `searchAll` at queryBits=14, k=100, for --seconds
    *    (the paper's throughput path; the estimate/rerank kernel does
    *    most of the work);
    *  - ad-hoc serving: sequential 5-query `search` calls at the default
    *    exact query precision, k=10, for --seconds, on a copy of the
    *    model sharing the cached index but not the packed scan cache
    *    (the path a fresh model takes; job floor plus driver
    *    rotate/route dominate);
    *  - `save`, `appendStream` of the landing files, `deleteIds` of a
    *    fixed subset, `IVFModel.load`, 5-query searches on the loaded
    *    overlay (read from parquet, no packed sidecar), `compact`.
    * End to end: throughput_qps and recall come from the batch,
    * latency_ms (the median call) from the ad-hoc calls, and cycle_s sums every other
    * step. */
  val lifecycle: Run => Unit = { run =>
    val spark = run.spark
    val s = IndexShape
    val gen = new LatentGen(run.seed, s.dim)
    val landing = s"${run.work}/landing"
    // the fixed delete subset: every 64th corpus id and every 64th
    // ingested id
    val delIds = (0L until s.n by 64L) ++ (s.n.toLong until (s.n + Ingest).toLong by 64L)
    val delSet = delIds.toSet
    val live = s.n + Ingest - delIds.size
    val ingestKept = (s.n.toLong until (s.n + Ingest).toLong).filterNot(delSet)
    val pool = gen.local(QueryBase, AdhocPool)
    val qids = (0 until BatchQueries).map(QueryBase + _)
    var corpus, queries: DataFrame = null
    var ingestVecs: Array[Array[Float]] = null
    run.setup(3)((_: Unit) => { corpus.unpersist(true); queries.unpersist(true) }) {
      corpus = gen.frame(spark, 0, s.n, run.cores * 2).cache()
      corpus.count()
      queries = gen.frame(spark, QueryBase, BatchQueries, run.cores).cache()
      queries.count()
      // landing files sit directly in the landing dir (no subdirectory):
      // appendStream reads exactly that directory
      gen.frame(spark, s.n, Ingest, IngestFiles).write.mode("overwrite").parquet(landing)
      ingestVecs = gen.local(s.n, Ingest)
    }
    // exact ground truth is the benchmark's own work: outside set-up
    val gt = groundTruth(gen.local(0, s.n), gen.local(QueryBase, GtQueries), BatchK).zipWithIndex
      .map { case (ids, i) => (QueryBase + i) -> ids }.toMap
    val gt10 = gt.map { case (q, ids) => q -> ids.take(AdhocK) }
    val calls = AdhocPool / AdhocPerCall
    val recallByCall = new Array[Double](calls)
    var batchRecall = Double.NaN
    var batchWin = Window(0L, 0L, 0)
    var lastModel: IVFModel = null

    def serve(model: IVFModel, secs: Double, out: Metrics): Unit = {
      val qModel = model.withQueryBits(BatchQueryBits)
      def batchOne(i: Int): Option[Double] = run.op("searchAll") {
        qModel.searchAll(spark, queries, BatchK, s.nprobe).collect()
      } { rows =>
        val res = byQuery(rows)
        shapeError(res, qids, BatchK).orElse {
          batchRecall = recall(res, gt, BatchK)
          if (batchRecall < BatchRecallFloor)
            Some(f"recall@100 $batchRecall%.4f below floor $BatchRecallFloor") else None
        }
      }.map(_._2)
      batchOne(-1) // warm-up: builds the packed scan cache
      val (ops0, t0) = (run.attempted, run.tracer.now())
      val walls = loop(secs, BatchMinCalls)(batchOne)
      batchWin = Window(t0, run.tracer.now(), (run.attempted - ops0).toInt)
      if (walls.nonEmpty) {
        out.add("throughput_qps", BatchQueries / Stats.median(walls))
        out.add("recall", batchRecall)
      }
      val adhocModel = new IVFModel(model.params, model.rotator, model.centroids,
        model.rotatedCentroids, model.index)
      def adhocOne(i: Int): Option[Double] = {
        val c = i % calls
        val qs = (0 until AdhocPerCall).map(j => (QueryBase + c * AdhocPerCall + j,
          pool(c * AdhocPerCall + j))).toArray
        run.op("search") { adhocModel.search(spark, qs, AdhocK, s.nprobe).collect() } { rows =>
          val res = byQuery(rows)
          shapeError(res, qs.map(_._1).toSeq, AdhocK).orElse {
            recallByCall(c) = recall(res, qs.map(q => q._1 -> gt10(q._1)).toMap, AdhocK)
            None
          }
        }.map(_._2)
      }
      val adhoc = loop(secs, AdhocMinCalls)(adhocOne)
      if (adhoc.nonEmpty) {
        out.add("latency_ms", Stats.median(adhoc) * 1000)
        out.add("adhoc_p95_ms", Stats.quantile(adhoc, 0.95) * 1000)
        out.add("adhoc_recall_at_10", recallByCall.sum / calls)
      }
      adhocModel.freeSearchCaches()
    }

    def one(secs: Double, out: Metrics): Unit = {
      val path = s"${run.work}/index"
      val tb = run.tracer.now()
      // wall of every step of the index's life but the serving loops
      val life = scala.collection.mutable.ArrayBuffer.empty[Double]
      val built = run.op("build") { IVFIndex.build(spark, corpus, params(s, run.seed)) } { m =>
        val got = m.index.count()
        if (got != s.n) Some(s"build indexed $got vectors, want ${s.n}") else None
      }
      built.foreach { case (model, t) =>
        out.add("build_s", t)
        life += t
        if (run.tracer.isAttached) Kernels.buildBreakdown(run, tb, tb + (t * 1000).toLong)
        serve(model, secs, out)
        run.op("save") { model.save(path) }(_ => None).foreach { r => out.add("save_s", r._2); life += r._2 }
        run.op("appendStream") { IVFIndex.appendStream(spark, model, landing, path) }(_ => None)
          .foreach { r =>
            out.add("ingest_vps", Ingest / r._2); out.add("appendStream_s", r._2); life += r._2 }
        run.op("deleteIds") {
          IVFModel.deleteIds(path, spark.createDataFrame(delIds.map(Tuple1(_))).toDF("id"))
        }(_ => None).foreach { r => out.add("deleteIds_s", r._2); life += r._2 }
        run.op("load") { IVFModel.load(spark, path) } { m =>
          val got = m.index.count()
          if (got != live) Some(s"load counts $got live vectors, want $live " +
            s"(${s.n} built + $Ingest ingested - ${delIds.size} deleted)") else None
        }.foreach { case (loaded, t) =>
          out.add("load_s", t)
          life += t
          val walls = (0 until OverlaySearches).flatMap { i =>
            val qs = (0 until AdhocPerCall).map { j =>
              val id = ingestKept((i * AdhocPerCall + j) * 7 % ingestKept.length)
              (id, ingestVecs((id - s.n).toInt))
            }.toArray
            run.op("overlay search") { loaded.search(spark, qs, AdhocK, s.nprobe).collect() } { rows =>
              val res = byQuery(rows)
              shapeError(res, qs.map(_._1).toSeq, AdhocK)
                .orElse(res.values.flatMap(_.map(_._2)).find(delSet).map(d => s"deleted id $d returned"))
                .orElse(qs.map(_._1).find(q => res(q).head._2 != q)
                  .map(q => s"ingested vector $q is not its own nearest neighbour"))
            }.map(_._2)
          }
          if (walls.nonEmpty) out.add("overlay_search_p50_ms", Stats.median(walls) * 1000)
          life ++= walls
          loaded.freeSearchCaches()
        }
        lastModel = model
      }
      run.op("compact") { IVFModel.compact(spark, path) }(_ => None).foreach { case (_, t) =>
        out.add("compact_s", t)
        life += t
        if (life.length == LifeSteps) out.add("cycle_s", life.sum)
        out.add("index_bytes_per_vector", Kernels.du(path) / live)
        out.add("sources.index_bytes.entries", Kernels.du(s"$path/entries"))
        out.add("sources.index_bytes.packed", Kernels.du(s"$path/packed"))
      }
      Kernels.rm(path)
    }

    val w = window(run) { secs =>
      val out = new Metrics
      one(secs, out)
      out.result
    }
    run.check(f"ad-hoc recall@10 ${recallByCall.sum / calls}%.4f at or above $AdhocRecallFloor") {
      recallByCall.sum / calls >= AdhocRecallFloor
    }
    if (run.trace) {
      run.tracer.sparkMetrics(run, w.t0, w.t1, w.ops)
      Kernels.searchCounters(run, batchWin, batchWin.ops * BatchQueries)
      if (lastModel != null) run.metric("ann.cell_skew", cellSkew(lastModel), "ratio")
    }
    if (lastModel != null) release(lastModel)
  }

  /** One cycle's measurements, each under its reported name and unit. */
  final class Metrics {
    private val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = v
    def result: Seq[(String, Double, String)] = out.toSeq.map { case (k, v) =>
      (LayerNames.getOrElse(k, k), v, Units.getOrElse(k, "s")) }
  }
  val Units = Map("ingest_vps" -> "1/s", "throughput_qps" -> "1/s", "recall" -> "ratio",
    "adhoc_recall_at_10" -> "ratio", "latency_ms" -> "ms", "adhoc_p95_ms" -> "ms",
    "overlay_search_p50_ms" -> "ms", "index_bytes_per_vector" -> "bytes",
    "sources.index_bytes.entries" -> "bytes", "sources.index_bytes.packed" -> "bytes")
  val LayerNames = Map("save_s" -> "ann.IVFModel.save_s", "load_s" -> "ann.IVFModel.load_s",
    "deleteIds_s" -> "ann.IVFModel.deleteIds_s", "appendStream_s" -> "ann.IVFModel.appendStream_s")
}
