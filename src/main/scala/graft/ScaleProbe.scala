package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Scale probe behind SURVEY §6's throughput numbers: runs the dedup /
  * streaming / ANN paths on synthetic corpora 10-100× the sf0.1 bench
  * scale and prints one JSON line of wall seconds. Deterministic
  * (seeded); run with e.g.
  * `SPARK_GRAFT_PROBE_DOCS=100000 sbt "runMain graft.ScaleProbe"`.
  */
object ScaleProbe {
  /** The large-state streaming deployment conf, shared by every probe
    * session: the default HDFSBackedStateStoreProvider keeps all state
    * rows on the JVM heap and OOMs the d8 span store at 500k docs
    * (~16.5M distinct span states) — RocksDB spills to native
    * memory + disk; changelog checkpointing makes each commit ship the
    * batch's DELTA (snapshots go async) instead of a full RocksDB
    * snapshot upload — measured on d8 at 500k docs: 75.5 → 55.4 s
    * same-session (results/d8_provider_ab_r14.json), neutral for
    * small-state streams (d11 5.66 vs 5.69 s). */
  private[graft] val largeStateConf: Map[String, String] =
    // store conf only — probes set shuffle partitions themselves
    // (their A/B knob)
    graft.streaming.StateStoreConf.largeStateStore

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - t0) / 1e9
    // untimed epilogue (Bench's pattern): scratch dirs queued by
    // streaming drains / temp-index queries are reaped BETWEEN
    // measurements — without this only the JVM shutdown hook fires and
    // a large probe run grows /tmp monotonically (d8's span store and
    // the index copies are the big ones)
    Scratch.reap()
    (a, sec)
  }
  private def force(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())
  /** Min-of-N with the raw runs (round-15 dispersion discipline) for
    * the swing-prone rows — c2/c37/d11/d15 moved ±30-70% on single
    * shots across three rounds with zero code change; min-of-3 plus
    * the published spread makes the probe self-adjudicating. */
  private def timeMin(runs: Int)(body: => Unit): (Double, String) = {
    val ws = (0 until runs).map { _ => time(body)._2 }
    (ws.min, ws.map(w => f"$w%.3f").mkString("[", ",", "]"))
  }
  /** Probe corpora are multi-GB at 100×: delete them when the JVM
    * exits instead of leaking them under /tmp run after run. */
  private def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile); ()
    }))
    d
  }

  /** THE probe corpus: ~40 tokens per doc from a 5000-token random
    * vocab, 10% near-dups (doc id−1 with one token changed) — the
    * "100k-doc probe shape" the committed A/B artifacts cite. */
  private[graft] def synthDocs(
      spark: SparkSession, nDocs: Int): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).select(col("id").as("doc_id")).as[Long]
      .mapPartitions { iter =>
        iter.map { id =>
          val toks =
            if (id % 10 == 0 && id > 0) {
              // near-dup of doc id-1 with one token changed
              val prev = new scala.util.Random(id - 1)
              val p = (0 until 40).map(_ => s"w${prev.nextInt(5000)}").toArray
              p(20) = "CHANGED"; p.toSeq
            } else {
              val rnd = new scala.util.Random(id)
              (0 until 40).map(_ => s"w${rnd.nextInt(5000)}")
            }
          (id, toks.mkString(" "))
        }
      }.toDF("doc_id", "text")
  }

  /** The probe's synthetic events table (4 events/doc in the full
    * probe; ~50 events/user; ts spans [1000000, 1000000+2592000) s). */
  private[graft] def synthEvents(spark: SparkSession, nEvents: Long): DataFrame =
    spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1000000L) + (col("id") * 7919) % 2592000).as("ts"),
      pmod(xxhash64(col("id")), lit(math.max(1L, nEvents / 50))).as("user_id"),
      when(col("id") % 3 === 0, "purchase").otherwise("click").as("event_type"),
      (col("id") % 100).cast("double").as("value"),
      lit("{}").as("props"))

  /** d12 LIVE MODE shared by the full probe and [[D12Probe]]: the
    * stream-stream interval join driven through many triggers with an
    * ADVANCING watermark — the production regime. The events are
    * rewritten time-ordered into `nLiveFiles` equal time slices (one
    * trigger each; at 8 files a slice spans 2592000/8 = 324000 s ≈ 7.5
    * attribution windows), so eviction must hold max state rows to a
    * small multiple of one window's events, not the table (the
    * single-batch arm is the no-eviction ceiling: 2·nEvents rows
    * buffered). Empty slices (tiny smoke runs) are skipped. Returns
    * (max live state rows, wall seconds, triggers actually fired). */
  private[graft] def runD12Live(
      spark: SparkSession,
      events: DataFrame,
      nLiveFiles: Int): (Long, Double, Int) = {
    val d12LiveDir = tempDir("probe_events_live")
    var written = 0
    (0 until nLiveFiles).foreach { f =>
      val lo = 1000000L + f * (2592000L / nLiveFiles)
      // the LAST slice's upper bound is the full span end, not
      // (f+1)*(span/n): integer division would otherwise silently drop
      // the tail events for any nLiveFiles that doesn't divide 2592000
      val hi = if (f == nLiveFiles - 1) 1000000L + 2592000L
               else 1000000L + (f + 1) * (2592000L / nLiveFiles)
      val df = events.filter(
        unix_seconds(col("ts")) >= lo && unix_seconds(col("ts")) < hi)
      val tmp = tempDir(s"probe_live_part_$f")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      // headOption, not head: an empty slice writes no data file (tiny
      // SPARK_GRAFT_PROBE_EVENTS smoke runs) and must be skipped, not
      // kill the probe
      java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.headOption
        .foreach { part =>
          val sub = java.nio.file.Paths.get(d12LiveDir.toString, f"f$f%02d.parquet")
          java.nio.file.Files.copy(part, sub)
          java.nio.file.Files.setLastModifiedTime(sub,
            java.nio.file.attribute.FileTime.fromMillis(1000000L + f * 1000L))
          written += 1
        }
    }
    // every slice empty (tiny smoke runs): nothing to stream, and the
    // schema inference below would throw on an empty directory
    if (written == 0) return (0L, 0.0, 0)
    // derive the stream schema from the slices actually written, so
    // both entry points (full probe + standalone D12Probe) measure the
    // identical stream — an in-memory synthetic schema can drift from
    // the parquet read-back schema in nullability/timestamp encoding
    val schema = spark.read.parquet(d12LiveDir.toString).schema
    val tLive0 = System.nanoTime()
    val (liveOut, liveState) = graft.streaming.StreamJoin
      .streamingIntervalJoinWithStateMetrics(spark, d12LiveDir.toString,
        schema, maxFilesPerTrigger = Some(1))
    liveOut.queryExecution.toRdd.foreach(_ => ())
    val wall = (System.nanoTime() - tLive0) / 1e9
    val liveMax = if (liveState.isEmpty) 0L else liveState.max
    (liveMax, wall, written)
  }

  def main(args: Array[String]): Unit = {
    // f"%.3f" under a comma-decimal default locale would emit invalid
    // JSON (the D12Probe rule — applies to every JSON-emitting main)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nDocs = Sessions.envKnob("SPARK_GRAFT_PROBE_DOCS", 100000)(Sessions.positiveInt)
    val nVecs = Sessions.envKnob("SPARK_GRAFT_PROBE_VECS", 200000)(Sessions.positiveInt)
    val dim = Sessions.envKnob("SPARK_GRAFT_PROBE_DIM", 64)(Sessions.positiveInt)
    val cpus = Sessions.envKnob("SPARK_GRAFT_CPUS", 32)(Sessions.positiveInt)
    // the large-state streaming deployment conf (RocksDB provider +
    // changelog checkpointing) — shared, see [[ScaleProbe.largeStateConf]]
    val spark = Sessions.local(cpus,
      conf = Map("spark.sql.adaptive.enabled" -> "true") ++ ScaleProbe.largeStateConf)
    import spark.implicits._

    val docs = ScaleProbe.synthDocs(spark, nDocs)
    val docsDir = tempDir("probe_docs")
    docs.withColumn("lang", lit("en")).withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(docsDir.toString)
    val docsOnDisk = spark.read.parquet(docsDir.toString)

    val (_, tExact) = time(force(Dedup.exact(docsOnDisk)))
    val (tMinhash, rMinhash) =
      timeMin(3)(force(Dedup.minHashSummary(spark, docsOnDisk)))
    val (_, tSimhash) = time(force(Dedup.simHashSummary(spark, docsOnDisk)))
    val (_, tStream) = time(force(
      graft.streaming.StreamDedup.streamingNearDupFromDir(spark, docsDir.toString)))
    // d8: the span-keyed streaming gate over the same corpus — state is
    // one row per distinct live span (~n_tokens x docs keys at this
    // dup rate), the streaming analogue of c24's one keyed shuffle
    val (_, tStreamSpans) = time(force(
      graft.streaming.StreamSpanDedup.streamingSpanDedupFromDir(spark, docsDir.toString)))

    // --- corpus-preparation layer (c12/c15/c16/c17/c18) at the same
    // scale. The probe docs all share ONE source value — the
    // adversarial shape for c15/c18: the old per-source-window /
    // raw-percentile plans would funnel the whole corpus through one
    // task here; the prefix-sum and histogram plans must stay flat. ---
    val (_, tScrub) = time(force(graft.ops.CorpusOps.piiScrub(docsOnDisk)))
    val (_, tPack) = time(force(graft.ops.CorpusOps.packChunks(docsOnDisk)))
    val (_, tFilter) = time(force(graft.ops.CorpusOps.corpusFilter(docsOnDisk)))
    val (_, tContam) = time(force(graft.ops.CorpusOps.contamination(docsOnDisk)))
    val (_, tStats) = time(force(graft.ops.CorpusOps.corpusStats(docsOnDisk)))

    // --- c21 repetition metrics: a pure narrow map (the nested
    // distinct-token scan is per-doc, inside codegen) — must scale
    // like the other scans, no shuffle ---
    val (_, tRepet) = time(force(
      graft.ops.TextAnalysis.docRepetition(docsOnDisk)))

    // --- c22 domain mixture: the probe corpus re-labelled over 8
    // sources (the on-disk single-source shape would make the mix
    // degenerate). Corpus-side cost must be one groupBy into an
    // O(sources) stats table + a broadcast join back — the corpus
    // itself never shuffles. ---
    val docsMultiSrc = docsOnDisk.withColumn(
      "source", concat(lit("src"), (col("doc_id") % 8).cast("int")))
    val (_, tMix) = time(force(graft.ops.CorpusOps.domainMix(docsMultiSrc)))

    // --- c27/c28 LM scoring at probe scale. The random 5000-token
    // vocab makes the bigram model ~n_docs·39 DISTINCT bigrams (~4M at
    // 100k docs) — far past broadcast range, so the model joins run as
    // the keyed shuffle joins the 100 TB plan would use. c28's unigram
    // model stays 5000 rows (AQE broadcasts it) with the 8-source
    // relabelling giving a 25% target slice. ---
    val (_, tNgramLm) = time(force(graft.ops.LmScore.ngramLm(docsOnDisk)))
    val (_, tDsir) = time(force(graft.ops.LmScore.dsirWeight(docsMultiSrc)))

    // --- c30 training-order shuffle: ONE corpus shuffle (the point of
    // the op) + 256 parallel bucket windows + broadcast offset join —
    // must scale like a repartition, never like a global sort ---
    val (_, tShard) = time(force(graft.ops.CorpusOps.shuffleShard(docsOnDisk)))

    // --- c31 boilerplate: O(tokens/SegTok) segment rows shuffle as
    // 8-byte hashes; the random probe vocab makes ~zero at-threshold
    // segments, so this measures the worst case (full frequency table,
    // near-empty join-back). c32: bounded bucket collect + broadcast
    // offsets + per-bucket windows — must scale like one shuffle. ---
    val (_, tBoiler) = time(force(graft.ops.CorpusOps.boilerplate(docsOnDisk)))
    val (_, tBudget) = time(force(graft.ops.CorpusOps.budgetSelect(docsOnDisk)))

    // --- c33 in its production shape: train the LR on a 10% hash
    // sample (L-BFGS treeAggregates over the sample only), score the
    // FULL corpus as a narrow map with the broadcast model ---
    val (_, tQuality) = time(force(graft.ops.QualityModel.qualityClassifier(
      docsMultiSrc, trainFraction = 10)))

    // --- c34 BPE: the corpus scan builds a 5000-row word-freq table;
    // all 20 merge rounds then iterate over THAT — round cost must be
    // vocabulary-sized, independent of the corpus ---
    val (_, tBpe) = time(force(graft.ops.BpeTrain.bpeTrain(spark, docsOnDisk)))

    // --- c37 KMV sketch over the 8-source relabelling (each source
    // sees ~the full 5000-word vocab > k, so every sketch is in the
    // estimate regime): map-side partial sketches, shuffle is
    // O(sources·k) longs whatever the corpus size ---
    val (tKmv, rKmv) = timeMin(3)(force(graft.ops.Sketches.kmvDistinct(
      spark, docsOnDisk.withColumn(
        "source", concat(lit("src"), (col("doc_id") % 8).cast("int"))))))
    // d11: the same sketch as a stream over the on-disk corpus — ONE
    // source value, i.e. every row converges on one state key: the
    // adversarial group-skew shape, absorbed because the map-side
    // kernel emits per-doc deduped hashes and the state is O(k)
    val (tStreamKmv, rStreamKmv) = timeMin(3)(force(
      graft.streaming.StreamKmv.streamingKmvFromDir(spark, docsDir.toString)))

    // --- c39/c41: the other two mergeable sketches over the same
    // 8-source relabelling. The probe's docs 0..19 double as the
    // frozen eval/candidate registries (bounded collects); the corpus
    // passes are explode → md5 → typed agg with map-side combine, so
    // the shuffles stay O(sources · sketch bytes) whatever nDocs is ---
    val relabelled = docsOnDisk.withColumn(
      "source", concat(lit("src"), (col("doc_id") % 8).cast("int")))
    val (_, tBloom) = time(force(graft.ops.Sketches.bloomContain(spark, relabelled)))
    val (_, tCms) = time(force(graft.ops.Sketches.heavyHitters(spark, relabelled)))
    // d14/d15: the streaming forms over the on-disk corpus — ONE
    // source value, the adversarial group-skew shape (every row
    // converges on one state key), absorbed by map-side combine: only
    // one bitmap / one matrix reaches the state store per batch
    val (_, tStreamBloom) = time(force(
      graft.streaming.StreamBloom.streamingBloomFromDir(
        spark, docsOnDisk, docsDir.toString)))
    val (tStreamCms, rStreamCms) = timeMin(3)(force(
      graft.streaming.StreamCms.streamingCmsFromDir(
        spark, docsOnDisk, docsDir.toString)))

    // --- c40 weighted sampling: narrow key map + bounded-heap top-k —
    // the same one-source skew shape, absorbed because each task
    // reduces its slice to ≤ k rows before the shuffle ---
    val (_, tWsample) = time(force(graft.ops.CorpusOps.weightedSample(docsOnDisk)))
    // d16: the live reservoir over the same one-source corpus — the
    // state store holds k rows per source, never the batch
    val (_, tStreamSample) = time(force(
      graft.streaming.StreamSample.streamingSampleFromDir(spark, docsDir.toString)))

    // --- c35 BPE encode: the corpus-sized half of the tokenizer —
    // must scale like the other narrow maps (broadcast merge table,
    // memoized kernel; the 5000-token vocab keeps the memo hot) ---
    val (_, tBpeEnc) = time(force(
      graft.ops.BpeTrain.bpeEncode(spark, docsOnDisk)))

    // --- c36 frame sampling: ~16 frames per ~280-char doc explode in
    // a codegen narrow map — scan-speed scaling, no shuffle ---
    val (_, tFrames) = time(force(
      graft.ops.Multimodal.frameQuery(spark, docsOnDisk)))

    // --- e9 as-of join over synthetic events (4 events/doc, ~50
    // events/user): ONE keyed shuffle + window, cost independent of
    // clicks-per-purchase — the property that makes as-of survive
    // 100×. d10 runs the SAME semantics as a stream (one drain);
    // its state is the per-user click list. ---
    val nEvents = 4L * nDocs
    val events = synthEvents(spark, nEvents)
    val eventsDir = tempDir("probe_events")
    events.write.mode("overwrite").parquet(eventsDir.toString)
    val eventsOnDisk = spark.read.parquet(eventsDir.toString)
    val (_, tAsof) = time(force(
      graft.operators.Relational.asofEnrich(eventsOnDisk)))
    val (_, tStreamAsof) = time(force(
      graft.streaming.StreamAsof.streamingAsofFromDir(spark,
        eventsDir.toString, eventsOnDisk.schema)))
    // d12: stream-stream interval join over the same events — the
    // single AvailableNow batch keeps the watermark at 0, so BOTH
    // sides buffer fully in the state store: this measures the
    // operator's worst case (state = the whole table on each side)
    val (_, tStreamJoin) = time(force(
      graft.streaming.StreamJoin.streamingIntervalJoinFromDir(spark,
        eventsDir.toString, eventsOnDisk.schema)))
    // d12 LIVE MODE: the same join driven through many triggers with
    // an ADVANCING watermark — the production regime (shared with the
    // standalone D12Probe main, which emits results/d12_live.json).
    val (liveMax, tStreamJoinLive, nLiveTriggers) =
      runD12Live(spark, events, nLiveFiles = 8)
    println(f"[probe] d12 live: $nLiveTriggers%d triggers, state max=$liveMax%d rows " +
      f"(no-eviction ceiling ~${2 * nEvents}%d), wall=$tStreamJoinLive%.1f s")

    // d13: native streaming dedup — state is one row per distinct
    // (user, type) key, bounded by the key domain
    val (_, tStreamDrop) = time(force(
      graft.streaming.StreamDropDup.streamingDropDupFromDir(spark,
        eventsDir.toString, eventsOnDisk.schema)))
    // e18: the same attribution join as a BATCH equi+residual plan —
    // the cost of the operator class without d12's per-batch state
    // store commits, on identical data
    val (_, tRangeJoin) = time(force(
      graft.streaming.StreamJoin.joinAndProject(
        graft.streaming.StreamJoin.purchaseSide(eventsOnDisk),
        graft.streaming.StreamJoin.clickSide(eventsOnDisk))))

    // --- c24 substring-span dedup: ~33 windows/doc explode to
    // 128-bit span keys; the 10% planted near-dups share two long
    // runs each (the 20-token prefix and 19-token suffix around the
    // changed token), so the dup key-window and per-doc interval
    // union do real work ---
    val (_, tSpans) = time(force(Dedup.substringSpans(docsOnDisk)))

    // --- c25 BM25 over the probe vocabulary: the typed tf kernel
    // counts hits against the 9 broadcast query terms in the scan —
    // no postings ever materialize, and with a uniform 5000-token
    // vocab only ~0.18% of token occurrences (9/5000) are hits, so
    // the shuffled per-(term, doc) aggregate rows stay tiny ---
    val probePairs = Seq(
      "p1" -> Seq("w1", "w42", "w123"),
      "p2" -> Seq("w7", "w77", "w777"),
      "p3" -> Seq("w13", "w169", "w2197"))
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
    val (_, tBm25) = time(force(graft.ops.Retrieval.topK(
      graft.ops.Retrieval.bm25Scores(docsOnDisk,
        probePairs.toDF("query_id", "term"), probePairs.map(_._2).toSet), 10)))

    // --- c20 canonicalization at probe scale: a planted MEGA-FAMILY —
    // one chain of `megaN` docs (diameter ≈ megaN, the adversarial
    // shape for label propagation: naive propagation would need megaN
    // rounds) plus the corpus's organic (prev, id) near-dup pairs.
    // Pointer jumping must close the chain in O(log megaN) rounds. ---
    val megaN = math.min(nDocs, 100000)
    val chain = spark.range(megaN - 1L)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val organic = spark.range(nDocs.toLong)
      .filter(col("id") % 10 === 0 && col("id") >= megaN)
      .select((col("id") - 1).as("id_a"), col("id").as("id_b"))
    val (_, tCanon) = time(force(
      Dedup.canonicalize(docsOnDisk, chain.union(organic))))

    // --- synthetic vectors: clustered gaussians, `dim`-dim (probe
    // high dims with SPARK_GRAFT_PROBE_DIM — the query-quantization
    // LUT path is aimed at reference-scale dims like 1536) ---
    val vecs = spark.range(nVecs).select(col("id").as("vec_id")).as[Long]
      .mapPartitions { iter =>
        iter.map { id =>
          val rnd = new scala.util.Random(id)
          val c = (id % 32).toInt
          (id, Array.tabulate(dim)(d =>
            (rnd.nextGaussian() * 0.3 + math.sin(c * dim + d)).toFloat))
        }
      }.toDF("vec_id", "embedding")
    val vecsDir = tempDir("probe_vecs")
    vecs.write.mode("overwrite").parquet(vecsDir.toString)
    val vecsOnDisk = spark.read.parquet(vecsDir.toString)

    val (model, tBuild) = time {
      graft.ann.IVFIndex.build(spark, vecsOnDisk,
        graft.ann.IVFIndex.Params(k = 256, totalBits = 4))
    }
    val queries = vecsOnDisk.filter(col("vec_id") < 100)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    // warm both estimate paths once (JIT + codegen) so the timed runs
    // compare kernels, not first-call compilation
    force(model.search(spark, queries, k = 100, nprobe = 32))
    force(model.withQueryBits(14).search(spark, queries, k = 100, nprobe = 32))
    // float vs queryBits=14 timed BACK-TO-BACK (same JVM/GC state) —
    // the quantized path swaps per-set-bit float adds for one
    // byte-indexed LUT lookup per 8 dims on the estimate phase
    val (_, tSearch) = time(force(model.search(spark, queries, k = 100, nprobe = 32)))
    val (_, tSearchQ) = time(force(
      model.withQueryBits(14).search(spark, queries, k = 100, nprobe = 32)))
    val (_, tHighAcc) = time(force(
      model.searchHighAcc(spark, vecsOnDisk, queries, k = 100, nprobe = 32)))

    // --- c23 SemDeDup over the SAME IVF assignment (the b2/b3 k-means
    // the production query reuses), timed in both regimes: a dup-heavy
    // threshold (kept set stays small — the common case) and a
    // dup-free one (kept = |cluster|, the within-cluster greedy's
    // O(|c|²·dim/2) worst case — the number that tells you when k is
    // too small for the corpus). k=256 ⇒ ~N/256 vectors/cluster. ---
    val assign = model.index.toDF()
      .select(col("id").as("vec_id"), col("cluster_id"))
    val (_, tSemDup) = time(force(
      Dedup.semDedup(assign, vecsOnDisk, threshold = 0.3)))
    val (_, tSemNoDup) = time(force(
      Dedup.semDedup(assign, vecsOnDisk, threshold = 0.9999)))

    // --- c26 hybrid search at probe scale: the lexical leg re-runs
    // the c25 shape for the 3 query docs' tokens; the vector leg is a
    // 3-query broadcast over the full embeddings scan ---
    val (_, tHybrid) = time(force(
      graft.ops.Retrieval.hybridSearch(spark, docsOnDisk, vecsOnDisk)))

    println(
      s"""{"probe":"scale","n_docs":$nDocs,"n_vecs":$nVecs,"dim":$dim,"cpus":$cpus,""" +
      s""""c1_exact_s":$tExact,"c2_minhash_s":$tMinhash,""" +
      s""""c2_minhash_runs_s":$rMinhash,"c3_simhash_s":$tSimhash,""" +
      s""""d6_stream_s":$tStream,"d8_stream_spans_s":$tStreamSpans,""" +
      s""""c12_scrub_s":$tScrub,"c15_pack_s":$tPack,"c16_filter_s":$tFilter,""" +
      s""""c17_contam_s":$tContam,"c18_stats_s":$tStats,""" +
      s""""c21_repetition_s":$tRepet,"c22_domainmix_s":$tMix,""" +
      s""""c27_ngramlm_s":$tNgramLm,"c28_dsir_s":$tDsir,"c30_shard_s":$tShard,""" +
      s""""c31_boiler_s":$tBoiler,"c32_budget_s":$tBudget,"c33_quality_s":$tQuality,""" +
      s""""c34_bpe_s":$tBpe,"c35_bpe_encode_s":$tBpeEnc,"c36_frames_s":$tFrames,""" +
      s""""c37_kmv_s":$tKmv,"c37_kmv_runs_s":$rKmv,""" +
      s""""d11_stream_kmv_s":$tStreamKmv,"d11_stream_kmv_runs_s":$rStreamKmv,""" +
      s""""c39_bloom_s":$tBloom,"d14_stream_bloom_s":$tStreamBloom,""" +
      s""""c41_cms_s":$tCms,"d15_stream_cms_s":$tStreamCms,""" +
      s""""d15_stream_cms_runs_s":$rStreamCms,""" +
      s""""c40_wsample_s":$tWsample,"d16_stream_sample_s":$tStreamSample,""" +
      s""""e18_range_join_s":$tRangeJoin,""" +
      s""""e9_asof_s":$tAsof,"d10_stream_asof_s":$tStreamAsof,""" +
      s""""d12_stream_join_s":$tStreamJoin,"d12_live_s":$tStreamJoinLive,""" +
      s""""d12_live_state_max":$liveMax,"d12_live_triggers":$nLiveTriggers,""" +
      s""""d13_stream_dropdup_s":$tStreamDrop,""" +
      s""""c24_spans_s":$tSpans,"c25_bm25_s":$tBm25,"c26_hybrid_s":$tHybrid,""" +
      s""""c20_canon_s":$tCanon,"c20_mega_family":$megaN,""" +
      s""""index_build_s":$tBuild,""" +
      s""""search100_s":$tSearch,"search100_highacc_s":$tHighAcc,""" +
      s""""search100_q14_s":$tSearchQ,""" +
      s""""c23_semdedup_s":$tSemDup,"c23_semdedup_nodup_s":$tSemNoDup}""")
    spark.stop()
  }
}

/** Standalone d12 live-state probe: the 8-trigger watermark-eviction
  * measurement as a machine-readable per-round artifact. Runs the
  * stream-stream interval join over synthetic events with an ADVANCING
  * watermark and writes `results/d12_live.json` with the max live
  * state-row count vs the analytic no-eviction ceiling (the
  * single-batch drain keeps the watermark at 0, so BOTH sides buffer
  * fully: 2·nEvents rows — ScaleProbe's single-batch arm measures that
  * arm). StreamingSpec's d12 plateau test pins the same mechanism at
  * spec scale. Usage:
  * `SPARK_GRAFT_PROBE_EVENTS=2000000 sbt "runMain graft.D12Probe"` */
object D12Probe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nEvents = Sessions.envKnob("SPARK_GRAFT_PROBE_EVENTS", 2000000L)(Sessions.positiveLong)
    val cpus = Sessions.envKnob("SPARK_GRAFT_CPUS", 32)(Sessions.positiveInt)
    // SPARK_GRAFT_SHUFFLE: state-partition A/B at probe scale (the
    // Bench stateful-class knob, here against REAL state volume)
    val shuffle = Sessions.envKnob("SPARK_GRAFT_SHUFFLE", cpus)(Sessions.positiveInt)
    // the large-state streaming deployment conf (RocksDB provider +
    // changelog checkpointing) — shared, see [[ScaleProbe.largeStateConf]]
    val spark = Sessions.local(cpus, Some(shuffle),
      Map("spark.sql.adaptive.enabled" -> "true") ++ ScaleProbe.largeStateConf)
    try {
      val events = ScaleProbe.synthEvents(spark, nEvents)
      val (stateMax, wall, triggers) =
        ScaleProbe.runD12Live(spark, events, nLiveFiles = 8)
      // raw toString for wall (locale pinned above): valid JSON always
      val line =
        s"""{"probe":"d12_live","n_events":$nEvents,"triggers":$triggers,""" +
          s""""state_max_rows":$stateMax,"no_eviction_ceiling":${2 * nEvents},""" +
          s""""window_hours":${graft.streaming.StreamJoin.WindowHours},"wall_s":$wall,""" +
          s""""shuffle_partitions":$shuffle,""" +
          s""""spec_pin":"StreamingSpec d12 watermark-eviction plateau"}""" + "\n"
      print(line)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("results"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("results/d12_live.json"), line)
    } finally spark.stop()
  }
}
