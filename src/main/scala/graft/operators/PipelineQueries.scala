package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{CorpusOps, Dedup, Multimodal, TextAnalysis}
import graft.streaming.EventOps

/** LLM-data-pipeline + events queries (SURVEY.md §2 C and D). */
object PipelineQueries {
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir)).orderBy("keep_id")

  /** The c2/d6 signature sidecar (per-doc MinHash signatures): the
    * pinned input from which DuckDB recomputes band keys (the M61
    * polynomial fold Dedup.bandHashes runs), bucket-equal candidate
    * pairs, and the partner counts — the LSH layer's entire integer
    * arithmetic goes under the hash gate, with only the signature
    * VALUES (seeded murmur shingle hashing, not SQL-expressible) as
    * input. Written by BOTH c2 and d6 so each is self-contained under
    * a Verify subset run; identical content, idempotent overwrite. */
  /** The c2/d6 signature sidecar as a standalone pass — used by d6,
    * whose streaming operator derives its per-batch signatures
    * internally (nothing to share); c2 writes the same sidecar from
    * its summary's persisted signatures instead (one pass). */
  private def writeMinhashSidecar(spark: SparkSession, docs: DataFrame): Unit =
    if (OracleSide.enabled)
      OracleSide.write(
        Dedup.minHashSignatures(spark, docs, Dedup.MinHashParams()), "c2_sigs")

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the sidecar consumes the summary's own persisted signatures
    // (onPersisted) — under Verify the tokenize+hash pass runs ONCE,
    // not once for the sidecar and again inside the summary
    Dedup.minHashSummaryOf(spark,
      Dedup.minHashSignatures(spark, docs, Dedup.MinHashParams()),
      Dedup.MinHashParams(),
      sigs => if (OracleSide.enabled) OracleSide.write(sigs, "c2_sigs"))
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // c3's sidecar: the per-doc fingerprints; banding (16-bit slices),
    // the hamming-≤3 pair set, and partner counts are all recomputed
    // by the oracle from these 64-bit values
    if (OracleSide.enabled)
      OracleSide.write(Dedup.simHashFingerprints(spark, docs), "c3_hashes")
    Dedup.simHashSummary(spark, docs)
  }

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir)).orderBy("id_a")

  def dedupEmbed(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(Tables.embeddings(spark, dir), 0.3)
      .orderBy("id_a", "id_b")

  def verifiedNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.verifiedNearDups(spark, Tables.documents(spark, dir),
        Tables.embeddings(spark, dir))
      .orderBy("id_a", "id_b")

  /** c20: per-doc keep/drop decision — transitive closure over c19's
    * verified pairs, min doc id per family elected canonical. */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.verifiedNearDups(spark, docs, Tables.embeddings(spark, dir))
    Dedup.canonicalize(docs, pairs).orderBy("doc_id")
  }

  def langId(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(Tables.documents(spark, dir))

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(Tables.documents(spark, dir))

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCount(Tables.documents(spark, dir))

  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(spark, Tables.documents(spark, dir))

  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.metaQuery(spark, Tables.documents(spark, dir))

  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameQuery(spark, Tables.documents(spark, dir))

  def frameDedup(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameDedup(spark, Tables.documents(spark, dir))

  /** c11: media payloads → stub-encoder embeddings → exact top-3
    * self-search. The full multimodal → similarity bridge: identical
    * payloads surface as rank-1/2 neighbors. Hash-certified (the b12
    * discipline): the stub-encoder FEATURES persist as a sidecar
    * (pinned input — the byte-histogram encoder itself is the
    * stand-in a real codec replaces, spec-pinned by OpsSpec), and the
    * oracle recomputes the ENTIRE search from them in SQL: every
    * exact squared distance, the (d², id) ranking, and the top-3
    * cut. */
  def mediaEmbedSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // eager localCheckpoint: the extraction pass feeds both the query
    // collect and the search scan — without it the whole corpus would
    // be re-embedded twice (and a cache() would leak, see Dedup)
    val feats = Multimodal.featureExtract(spark, Tables.documents(spark, dir))
      .localCheckpoint(true)
    if (OracleSide.enabled)
      OracleSide.write(
        feats.as[(Long, Array[Float])]
          .map { case (id, v) => (id, v.map(_.toDouble).toSeq) }
          .toDF("vec_id", "f"),
        "c11_features")
    val queries = feats.filter(col("vec_id") < 4)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    graft.ann.KnnExact.topK(spark, feats, queries, k = 3)
      .orderBy("query_id", "rk")
  }

  // the corpus ops themselves are sort-free (a trailing global orderBy
  // would be a rangepartitioning exchange the pipeline doesn't need);
  // the ORDER BY lives here, on the harness surface, for stable output
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.piiScrub(Tables.documents(spark, dir)).orderBy("doc_id")

  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.trainSplit(Tables.documents(spark, dir)).orderBy("doc_id")

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.stratifiedSample(Tables.documents(spark, dir)).orderBy("doc_id")

  def packChunks(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.packChunks(Tables.documents(spark, dir)).orderBy("doc_id")

  def corpusFilter(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.corpusFilter(Tables.documents(spark, dir)).orderBy("doc_id")

  def contamination(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.contamination(Tables.documents(spark, dir)).orderBy("doc_id")

  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.corpusStats(Tables.documents(spark, dir)).orderBy("source")

  def docRepetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.docRepetition(Tables.documents(spark, dir)).orderBy("doc_id")

  def domainMix(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.domainMix(Tables.documents(spark, dir)).orderBy("doc_id")

  /** c23: SemDeDup — the b2/b3 k-means assignment routes the
    * within-cluster cosine pruning; keeps the min-id representative
    * per semantic-duplicate group. Hash-certified: the oracle rebuilds
    * the assignment from the persisted centroids (b3's certified
    * argmin) and REPLAYS the greedy id-order scan with a recursive CTE
    * that carries each cluster's kept set forward — every cosine, the
    * fixed-point rounding, the ≥-threshold rule, and the keep/drop
    * verdicts are recomputed in SQL (the c20 recursive-closure
    * discipline applied to a sequential scan). */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val m = AnnQueries.model(spark, dir)
    AnnQueries.writeCentroidSidecar(spark, m)
    graft.ops.Dedup.semDedup(
      // the raw index, not ivfAssign: the b3 query's orderBy (a full
      // range-shuffle) and sqrt/round distance column would be pure
      // wasted work — semDedup keeps only (vec_id, cluster_id) and
      // reshuffles by cluster anyway
      m.index.toDF()
        .select(col("id").as("vec_id"), col("cluster_id")),
      Tables.embeddings(spark, dir), threshold = 0.3)
      .orderBy("vec_id")
  }

  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringSpans(Tables.documents(spark, dir)).orderBy("doc_id")

  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.bm25Search(spark, Tables.documents(spark, dir))
      .orderBy("query_id", "rk")

  def hybridSearch(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.hybridSearch(spark, Tables.documents(spark, dir),
      Tables.embeddings(spark, dir))
      .orderBy("query_id", "rk")

  def embedContamination(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.embedContamination(spark, Tables.embeddings(spark, dir))
      .orderBy("vec_id")

  def shuffleShard(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.shuffleShard(Tables.documents(spark, dir)).orderBy("doc_id")

  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.boilerplate(Tables.documents(spark, dir)).orderBy("doc_id")

  def budgetSelect(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.budgetSelect(Tables.documents(spark, dir)).orderBy("doc_id")

  def urlGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.UrlGate.urlGate(
      Tables.documents(spark, dir).select(col("doc_id"),
        graft.ops.UrlGate.synthUrl(col("doc_id")).as("url")))
      .orderBy("doc_id")
  }

  def pplBucket(spark: SparkSession, dir: String): DataFrame =
    graft.ops.LmScore.pplBucket(Tables.documents(spark, dir)).orderBy("doc_id")

  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.qualityClassifier(Tables.documents(spark, dir))
      .orderBy("doc_id")

  def langClassifier(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.langClassifier(Tables.documents(spark, dir))
      .orderBy("doc_id")

  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.ops.BpeTrain.bpeTrain(spark, Tables.documents(spark, dir))

  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.ops.BpeTrain.bpeTrain(spark, docs)
    // pin the exact merge table the encode kernel consumes (itself
    // hash-certified end-to-end by c34's oracle); c35's oracle replays
    // the apply loop from it with a recursive CTE
    OracleSide.write(merges.select("rank", "left", "right"), "c34_merges")
    graft.ops.BpeTrain.bpeEncodeWith(spark, docs, merges)
      .orderBy("doc_id")
  }

  def kmvDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.kmvDistinct(spark, Tables.documents(spark, dir))

  def bloomContain(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.bloomContain(spark, Tables.documents(spark, dir))

  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.weightedSample(Tables.documents(spark, dir))
      .orderBy("source", "smp_rank")

  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.heavyHitters(spark, Tables.documents(spark, dir))

  /** c38: stage COMPOSITION — the per-source corpus profile (c18) of
    * the POST-GATE corpus (docs c16 keeps): the "what survived the
    * gate" report every pipeline run ends with. The gate's keep set
    * attaches back by LEFT SEMI join on doc_id (co-partitioned key
    * shuffle — the keep set is corpus-sized, never broadcast), then
    * the c18 histogram profile runs over survivors only. The oracle
    * composes c16's and c18's formulations verbatim, so the hash
    * check certifies the two operators COMPOSE exactly — stage
    * boundaries introduce no drift. */
  def pipelineProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val kept = CorpusOps.corpusFilter(docs)
      .filter(col("kept") === 1).select("doc_id")
    CorpusOps.corpusStats(docs.join(kept, Seq("doc_id"), "left_semi"))
      .orderBy("source")
  }

  /** c46: the CCNet-shaped crawl pipeline END-TO-END as one certified
    * query — c44 (URL gate) → c6 (language ID) → c27 (LM perplexity)
    * → c45 (per-language tiering) → c32 (token-budget selection), each
    * stage feeding ONLY the previous stage's survivors: the LM counts
    * and the per-language tier thresholds derive from the GATED corpus
    * (not the raw one), and the budget selection ranks only head+middle
    * docs. The oracle composes the five stages' certified SQL
    * formulations verbatim over the same survivor CTEs, so the hash
    * match certifies that the stage boundaries compose exactly — the
    * c38 pattern extended to the full published-order chain
    * (CCNet: Wenzek et al., arXiv:1911.00359). One row per URL-gate
    * survivor; selection columns NULL for tier-dropped docs, selected
    * coalesced to 0. */
  def pipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val gate = graft.ops.UrlGate.urlGate(
        docs.select(col("doc_id"),
          graft.ops.UrlGate.synthUrl(col("doc_id")).as("url")))
      .filter(col("kept") === 1).select("doc_id")
    val s1 = docs.join(gate, Seq("doc_id"), "left_semi")
    val lang = TextAnalysis.langId(s1)
      .select(col("doc_id"), col("predicted").as("lang"))
    // survivors carry the PREDICTED lang into the tiering stage — the
    // composition point a whole-corpus c45 rerun would miss.
    // s2 feeds TWO eager consumers (pplBucket materializes internally;
    // budgetSelect scans it again), so its url-gate + lang-id prefix
    // evaluates twice when lazy — staged, as the A/B in
    // results/c46_stage_profile_r15.json picked.
    val s2 = s1.select(col("doc_id"), col("text")).join(lang, Seq("doc_id"))
      .localCheckpoint(true)
    val tiers = graft.ops.LmScore.pplBucket(s2)
    val sel = CorpusOps.budgetSelect(
      s2.join(tiers.filter(col("kept") === 1).select("doc_id"),
        Seq("doc_id"), "left_semi"))
    tiers.select(col("doc_id"), col("lang"), col("n_bigrams"), col("ppl_q"),
        col("bucket"), col("kept").as("tier_kept"))
      .join(sel, Seq("doc_id"), "left")
      .withColumn("selected", coalesce(col("selected"), lit(0)))
      .orderBy("doc_id")
  }

  def ngramLm(spark: SparkSession, dir: String): DataFrame =
    graft.ops.LmScore.ngramLm(Tables.documents(spark, dir)).orderBy("doc_id")

  def dsirWeight(spark: SparkSession, dir: String): DataFrame =
    graft.ops.LmScore.dsirWeight(Tables.documents(spark, dir)).orderBy("doc_id")

  def trigramBackoff(spark: SparkSession, dir: String): DataFrame =
    graft.ops.LmScore.trigramBackoff(Tables.documents(spark, dir)).orderBy("doc_id")

  def sessionize(spark: SparkSession, dir: String): DataFrame =
    EventOps.sessionize(spark, dir)

  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    EventOps.windowAgg(spark, dir)

  def streamingAgg(spark: SparkSession, dir: String): DataFrame =
    EventOps.streamingWindowAgg(spark, dir)

  def streamingUserStats(spark: SparkSession, dir: String): DataFrame =
    EventOps.streamingUserStats(spark, dir)

  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    EventOps.sessionWindow(spark, dir)

  def streamingNearDup(spark: SparkSession, dir: String): DataFrame = {
    // d6 shares c2's signature sidecar (see writeMinhashSidecar): under
    // the single-batch drain its per-doc prior-partner counts are a
    // pure function of the same banded signatures, so the oracle
    // recomputes them as in-bucket arrival ranks in SQL
    writeMinhashSidecar(spark, Tables.documents(spark, dir))
    graft.streaming.StreamDedup.streamingNearDup(spark, dir)
  }

  def streamingCorpusGate(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.streamingCorpusGate(spark, dir)

  def streamingSpanDedup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamSpanDedup.streamingSpanDedup(spark, dir)

  def streamingSpanDedupMb(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamSpanDedup.streamingSpanDedupMultiBatch(spark, dir)

  def streamingAsof(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamAsof.streamingAsof(spark, dir)

  def streamingKmv(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamKmv.streamingKmv(spark, dir)

  def streamingBloom(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamBloom.streamingBloom(spark, dir)

  def streamingCms(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamCms.streamingCms(spark, dir)

  def streamingSample(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamSample.streamingSample(spark, dir)

  def streamingIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamJoin.streamingIntervalJoin(spark, dir)

  def streamingDropDup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamDropDup.streamingDropDup(spark, dir)

  def streamingEmbedContam(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamContam.streamingEmbedContam(spark, dir)

  private def enList = TextAnalysis.markerSqlList("en")
  private def hashBucketSql = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)"

  /** The five language-marker count columns over a CTE exposing
    * (doc_id, w, text) — ONE copy for the c6 oracle, c43's heuristic
    * CTE, and c46's lang CTE (three hand-maintained copies let c46's
    * drift once already). */
  private def LangCountsSql =
    s""" CAST(len(list_filter(w, x -> x IN ($enList))) AS INT) AS n_en,
       | CAST(len(list_filter(w, x -> x IN (${TextAnalysis.markerSqlList("de")}))) AS INT) AS n_de,
       | CAST(len(list_filter(w, x -> x IN (${TextAnalysis.markerSqlList("fr")}))) AS INT) AS n_fr,
       | CAST(len(list_filter(w, x -> x IN (${TextAnalysis.markerSqlList("es")}))) AS INT) AS n_es,
       | CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS INT) AS n_zh""".stripMargin

  /** The shared language-ID CASE over those counts. The IS NULL arm is
    * the kernel's null-text → 'unknown' rule (TextAnalysis.langId
    * defends against exactly this 'zh' fall-through): without it a
    * null-text doc's comparisons all evaluate NULL and fall to ELSE. */
  private def LangCaseSql =
    """CASE WHEN n_en IS NULL THEN 'unknown'
      |  WHEN n_en + n_de + n_fr + n_es + n_zh = 0 THEN 'unknown'
      |  WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es AND n_en >= n_zh THEN 'en'
      |  WHEN n_de >= n_fr AND n_de >= n_es AND n_de >= n_zh THEN 'de'
      |  WHEN n_fr >= n_es AND n_fr >= n_zh THEN 'fr'
      |  WHEN n_es >= n_zh THEN 'es' ELSE 'zh' END""".stripMargin

  /** The c16 gate's m/r CTEs (metrics + first-failing-rule reason) as
    * a composable fragment — c16/d7 ([[CorpusGateSql]]) and c38's
    * survivor filter must never fork the gate rules: a threshold fix
    * landing in one copy would surface as a phantom hash divergence
    * on the other (the LmScoreCtes one-copy discipline). */
  private val GateCtesSql =
    """m AS (SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  CASE WHEN length(text) = 0 THEN 0.0
      |   ELSE ROUND(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |    / length(text), 6) END AS punct_ratio,
      |  ROUND(CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
      |    / len(string_split(text, ' ')), 6) AS mean_token_len,
      |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
      | FROM documents),
      |r AS (SELECT doc_id, n_tokens,
      |  CASE WHEN doc_id <> keep_id THEN 'duplicate'
      |       WHEN n_tokens < 15 THEN 'too_short'
      |       WHEN punct_ratio > 0.10 THEN 'punctuation'
      |       WHEN mean_token_len < 2.0 OR mean_token_len > 10.0 THEN 'token_len'
      |       ELSE 'keep' END AS reason
      | FROM m)""".stripMargin

  /** The corpus-gate oracle, shared by c16 (batch) and d7 (stream). */
  private val CorpusGateSql =
    s"""WITH $GateCtesSql
       |SELECT doc_id, n_tokens, CAST(reason = 'keep' AS INT) AS kept, reason
       |FROM r ORDER BY doc_id""".stripMargin

  /** c19's verified near-dup pairs as a CTE body (named `vp`), shared
    * verbatim by the c19 and c20 oracles so the closure is certified
    * over exactly the pair set the pair query emits. */
  private val VerifiedPairsCte =
    """s AS (SELECT doc_id,
      |  list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
      |         || ' ' || string_split(text,' ')[i+2])) AS sh
      | FROM documents),
      |vp AS (SELECT t.id_a, t.id_b, t.jaccard,
      |  ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
      |    CAST(eb.embedding AS DOUBLE[])), 6) AS cos
      | FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |   ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id
      |  WHERE len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0) t
      | JOIN embeddings ea ON ea.vec_id = t.id_a
      | JOIN embeddings eb ON eb.vec_id = t.id_b
      | WHERE t.jaccard >= 0.8)""".stripMargin

  /** The BM25 scoring pipeline as SQL CTEs, parameterized by the
    * query-terms CTE (must be named `bq`, rows (query_id, term));
    * arithmetic mirrors Retrieval.bm25Scores expression-for-expression
    * (see the oracle-parity notes there: exact-int avgdl, 1e-4
    * quantized idf, integer micro-unit term scores). Yields CTE
    * `tot(query_id, doc_id, score)`. */
  private def bm25CteSql(queryCte: String): String = {
    import graft.ops.Retrieval.{BmK1, BmB}
    s"""$queryCte,
       |bdl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
       |bst AS (SELECT CAST(count(*) AS DOUBLE) AS nn, sum(dl)/count(*) AS avgdl FROM bdl),
       |btf AS (SELECT term, doc_id, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |  WHERE term IN (SELECT DISTINCT term FROM bq) GROUP BY term, doc_id),
       |btfd AS (SELECT term, doc_id, tf,
       |  CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df FROM btf),
       |bsc AS (SELECT bq.query_id, t.doc_id,
       |  CAST(floor(
       |    (floor(ln(1.0 + (bst.nn - t.df + 0.5)/(t.df + 0.5)) * 1e4 + 0.5)/1e4)
       |    * (t.tf * (CAST($BmK1 AS DOUBLE) + 1.0)
       |       / (t.tf + CAST($BmK1 AS DOUBLE) * (1.0 - CAST($BmB AS DOUBLE)
       |          + CAST($BmB AS DOUBLE) * d.dl / bst.avgdl)))
       |    * 1e6 + 0.5) AS BIGINT) AS micro
       | FROM btfd t JOIN bq USING (term) JOIN bdl d USING (doc_id) CROSS JOIN bst),
       |tot AS (SELECT query_id, doc_id,
       |  CAST(sum(micro) AS DOUBLE)/1e6 AS score FROM bsc GROUP BY 1, 2)""".stripMargin
  }

  /** The c29 embed-decontamination oracle, shared by c29 (batch) and
    * d9 (stream — stateless, so arrival order cannot matter and the
    * hash check certifies batch/stream equivalence): N×E window
    * argmax with (cos DESC, eval_id) rank — certifies the
    * broadcast-kernel local argmax; cosine arithmetic shared with
    * c5/c26 (DOUBLE[] cosine + floor(x·1e6+0.5)/1e6). */
  private val EmbedContamSql =
    s"""WITH ev AS (SELECT vec_id AS eval_id, embedding FROM embeddings
       |  WHERE vec_id < ${CorpusOps.EvalIdBound}),
       |c AS (SELECT d.vec_id, ev.eval_id,
       |   floor(list_cosine_similarity(CAST(d.embedding AS DOUBLE[]),
       |     CAST(ev.embedding AS DOUBLE[])) * 1e6 + 0.5)/1e6 AS cos
       |  FROM embeddings d CROSS JOIN ev WHERE d.vec_id >= ${CorpusOps.EvalIdBound}),
       |r AS (SELECT vec_id, eval_id, cos,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS rk FROM c)
       |SELECT vec_id, cos AS max_cos, eval_id AS nearest_eval_id,
       | CAST(cos >= ${CorpusOps.EmbedContamMin} AS INT) AS contaminated
       |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin

  private val KmvSql =
    s"""WITH toks AS (
       |  SELECT DISTINCT source,
       |    CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
       |        FROM documents WHERE text IS NOT NULL)
       |  WHERE t <> ''),
       |ranked AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rk
       |  FROM toks)
       |SELECT source, CAST(COUNT(*) AS INT) AS sketch_k,
       | MAX(h) AS kth_hash,
       | CAST(CASE WHEN COUNT(*) < ${graft.ops.Sketches.KmvK} THEN COUNT(*)
       |   ELSE floor(${graft.ops.Sketches.KmvK - 1} * 1152921504606846976.0
       |     / CAST(MAX(h) AS DOUBLE)) END AS BIGINT) AS est_distinct
       |FROM ranked WHERE rk <= ${graft.ops.Sketches.KmvK}
       |GROUP BY source ORDER BY source""".stripMargin

  // the 5-token shingle list — the ONE copy shared by the c17 and
  // c39/d14 oracles (their pre-filter/verifier contract: the Spark
  // side shares CorpusOps.shingles the same way). Keep the [i]..[i+4]
  // chain and the range bound (len - 3 = len - (k-2)) in sync with
  // CorpusOps.ContamShingle.
  private val ShingleListSql =
    """list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 3),
      |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' ||
      |         string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3] || ' ' ||
      |         string_split(text, ' ')[i+4]))""".stripMargin

  private val BloomSql =
    s"""WITH sh AS (SELECT doc_id, source, $ShingleListSql AS s
       | FROM documents),
       |cg AS (SELECT DISTINCT source, unnest(s) AS g FROM sh WHERE doc_id >= 20),
       |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 20),
       |ix AS (SELECT unnest([0, 1, 2, 3]) AS i),
       |srcpos AS (SELECT DISTINCT source,
       |  CAST('0x' || substring(md5(g), 1 + 4*i, 4) AS INT) AS p FROM cg CROSS JOIN ix),
       |evpos AS (SELECT DISTINCT g,
       |  CAST('0x' || substring(md5(g), 1 + 4*i, 4) AS INT) AS p FROM ev CROSS JOIN ix),
       |need AS (SELECT g, count(*) AS need FROM evpos GROUP BY g),
       |have AS (SELECT sp.source, e.g, count(*) AS have
       |  FROM evpos e JOIN srcpos sp USING (p) GROUP BY sp.source, e.g),
       |hits AS (SELECT h.source, count(*) AS eval_hits FROM have h
       |  JOIN need n USING (g) WHERE h.have = n.need GROUP BY h.source)
       |SELECT b.source, b.bits_set, b.bitmap_md5,
       | CAST(COALESCE(h.eval_hits, 0) AS INT) AS eval_hits,
       | CAST((SELECT count(*) FROM need) AS INT) AS eval_total
       |FROM (SELECT source, CAST(count(*) AS INT) AS bits_set,
       |        md5(string_agg(CAST(p AS VARCHAR), ',' ORDER BY p)) AS bitmap_md5
       |      FROM srcpos GROUP BY source) b
       |LEFT JOIN hits h USING (source)
       |ORDER BY b.source""".stripMargin

  private val CmsSql =
    s"""WITH occ AS (SELECT source, unnest(string_split(text, ' ')) AS w
       |  FROM documents WHERE text IS NOT NULL),
       |occf AS (SELECT source, w FROM occ WHERE w <> ''),
       |cand AS (SELECT w AS token, row_number() OVER (ORDER BY cnt DESC, w) AS rank
       |  FROM (SELECT w, count(*) AS cnt FROM occf GROUP BY w)
       |  ORDER BY cnt DESC, w LIMIT ${graft.ops.Sketches.HeavyK}),
       |ix AS (SELECT unnest([0, 1, 2, 3]) AS i),
       |cells AS (SELECT source, i,
       |    CAST('0x' || substring(md5(w), 1 + 4*i, 4) AS INT) % ${graft.ops.Sketches.CmsWidth} AS p,
       |    count(*) AS cnt
       |  FROM occf CROSS JOIN ix GROUP BY 1, 2, 3),
       |srcs AS (SELECT DISTINCT source FROM occf),
       |dense AS (SELECT s.source, r.i, c.p, COALESCE(x.cnt, 0) AS cnt
       |  FROM srcs s CROSS JOIN ix r CROSS JOIN range(${graft.ops.Sketches.CmsWidth}) c(p)
       |  LEFT JOIN cells x ON x.source = s.source AND x.i = r.i AND x.p = c.p),
       |fp AS (SELECT source, md5(string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY i, p)) AS cms_md5
       |  FROM dense GROUP BY source),
       |cpos AS (SELECT token, rank, i,
       |    CAST('0x' || substring(md5(token), 1 + 4*i, 4) AS INT) % ${graft.ops.Sketches.CmsWidth} AS p
       |  FROM cand CROSS JOIN ix),
       |est AS (SELECT s.source, c.token, c.rank,
       |    CAST(min(COALESCE(x.cnt, 0)) AS BIGINT) AS est_count
       |  FROM srcs s CROSS JOIN cpos c
       |  LEFT JOIN cells x ON x.source = s.source AND x.i = c.i AND x.p = c.p
       |  GROUP BY 1, 2, 3),
       |tru AS (SELECT source, w AS token, count(*) AS true_count FROM occf GROUP BY 1, 2)
       |SELECT e.source, CAST(e.rank AS INT) AS hh_rank, e.token, e.est_count,
       |  CAST(COALESCE(t.true_count, 0) AS BIGINT) AS true_count, f.cms_md5
       |FROM est e JOIN fp f USING (source)
       |LEFT JOIN tru t ON t.source = e.source AND t.token = e.token
       |ORDER BY e.source, hh_rank""".stripMargin

  // mirrors CorpusOps.weightedSample: Efraimidis–Spirakis keys with
  // the ln micro-quantized BEFORE the weight division (the lone
  // transcendental; the division itself is one correctly-rounded
  // IEEE op, so both engines order identical doubles). Shared by
  // batch c40 and streaming d16.
  private val WeightedSampleSql =
    s"""WITH t AS (SELECT source, doc_id,
       |  CAST(len(string_split(text, ' ')) AS INT) AS w,
       |  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       | FROM documents WHERE text IS NOT NULL),
       |k AS (SELECT source, doc_id, w,
       |  CAST(floor(ln((CAST(h AS DOUBLE) + 0.5) / 1152921504606846976.0) * 1000000)
       |    AS DOUBLE) / w AS key FROM t),
       |r AS (SELECT source, doc_id, w,
       |  row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rk FROM k)
       |SELECT source, CAST(rk AS INT) AS smp_rank, doc_id, w AS n_tokens
       |FROM r WHERE rk <= ${graft.ops.CorpusOps.WeightedSampleK}
       |ORDER BY source, smp_rank""".stripMargin

  // The c2/d6 band rows recomputed from the signature sidecar: one row
  // per (doc, band) with the bucket key = the M61 polynomial fold of
  // the band's 4-long signature slice (Dedup.bandHashes verbatim, in
  // exact hugeint arithmetic — same function, so even a hash collision
  // is mirrored). Bands/rowsPerBand are MinHashParams() defaults.
  private def minhashBandRowsSql: String =
    s"""SELECT s.doc_id, b.band,
       |    list_reduce(
       |      list_prepend(CAST(0 AS HUGEINT),
       |        list_transform(signature[b.band*4+1 : b.band*4+4],
       |          v -> CAST(v AS HUGEINT))),
       |      (a, c) -> (a * 1000003 + c) % 2305843009213693951) AS bucket
       |  FROM s CROSS JOIN
       |    (SELECT CAST(range AS INT) AS band FROM range(16)) b""".stripMargin

  // mirrors Dedup.minHashSummary over the persisted per-doc signatures:
  // band keys, the size-capped bucket pair expansion, and partner
  // counts are ALL recomputed in SQL; only the signature values
  // (seeded murmur shingle hashing) are pinned input.
  private def minhashSummarySql: String =
    s"""WITH s AS (SELECT doc_id, signature FROM ${OracleSide.sql("c2_sigs")}),
       |br AS ($minhashBandRowsSql),
       |sz AS (SELECT band, bucket, COUNT(*) AS n FROM br GROUP BY 1, 2),
       |pr AS (
       |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM br a
       |  JOIN br c ON a.band = c.band AND a.bucket = c.bucket
       |    AND a.doc_id < c.doc_id
       |  JOIN sz z ON z.band = a.band AND z.bucket = a.bucket
       |  WHERE z.n BETWEEN 2 AND ${graft.ops.Dedup.MinHashParams().maxBucket}),
       |pa AS (SELECT doc_id, COUNT(*) AS n FROM
       |  (SELECT id_a AS doc_id FROM pr UNION ALL SELECT id_b FROM pr)
       |  GROUP BY 1)
       |SELECT s.doc_id, signature[1] AS sig0, list_min(signature) AS sig_min,
       |  CAST(COALESCE(pa.n, 0) AS BIGINT) AS n_candidates
       |FROM s LEFT JOIN pa USING (doc_id) ORDER BY doc_id""".stripMargin

  // d6 under the single-batch drain: each doc's prior-partner count is
  // its summed 0-based arrival rank (= doc_id rank) within each band
  // bucket, zeroed past the saturation cap — the exact state-machine
  // semantics of StreamDedup, recomputed as window arithmetic over the
  // same signature sidecar.
  private def streamDedupSql: String =
    s"""WITH s AS (SELECT doc_id, signature FROM ${OracleSide.sql("c2_sigs")}),
       |br AS ($minhashBandRowsSql),
       |rk AS (SELECT doc_id,
       |  ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY doc_id) - 1 AS r
       |  FROM br)
       |SELECT doc_id,
       |  CAST(SUM(CASE WHEN r < ${graft.ops.Dedup.MinHashParams().maxBucket} THEN r ELSE 0 END) AS BIGINT)
       |    AS n_prior_candidates
       |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // mirrors Dedup.simHashSummary over the persisted fingerprints: the
  // 4×16-bit band buckets, capped pair expansion, hamming-≤3 filter,
  // and partner counts recomputed from the 64-bit values alone.
  private def simhashSummarySql: String =
    s"""WITH h AS (SELECT doc_id, simhash FROM ${OracleSide.sql("c3_hashes")}),
       |br AS (SELECT doc_id, b.band, (simhash >> (b.band*16)) & 65535 AS bucket
       |  FROM h CROSS JOIN
       |    (SELECT CAST(range AS INT) AS band FROM range(4)) b),
       |sz AS (SELECT band, bucket, COUNT(*) AS n FROM br GROUP BY 1, 2),
       |pr0 AS (
       |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM br a
       |  JOIN br c ON a.band = c.band AND a.bucket = c.bucket
       |    AND a.doc_id < c.doc_id
       |  JOIN sz z ON z.band = a.band AND z.bucket = a.bucket
       |  WHERE z.n BETWEEN 2 AND ${graft.ops.Dedup.SimHashMaxBucket}),
       |pr AS (
       |  SELECT p.id_a, p.id_b
       |  FROM pr0 p
       |  JOIN h ha ON ha.doc_id = p.id_a
       |  JOIN h hb ON hb.doc_id = p.id_b
       |  WHERE bit_count(xor(ha.simhash, hb.simhash)) <= 3),
       |pa AS (SELECT doc_id, COUNT(*) AS n FROM
       |  (SELECT id_a AS doc_id FROM pr UNION ALL SELECT id_b FROM pr)
       |  GROUP BY 1)
       |SELECT h.doc_id, printf('%016x', simhash) AS simhash_hex,
       |  CAST(COALESCE(pa.n, 0) AS BIGINT) AS n_candidates
       |FROM h LEFT JOIN pa USING (doc_id) ORDER BY doc_id""".stripMargin

  // mirrors TextAnalysis.fingerprintOf with NO sidecar — the
  // fingerprint is a pure function of the text, recomputed end-to-end
  // in exact hugeint arithmetic: the full-text M61 polynomial fold and
  // the minimum over all 8-char window hashes (modular arithmetic is
  // exact, so the Scala kernel's ROLLING form and this direct per-
  // window fold are equal by algebra, not by luck). Characters come
  // from string_split(text, '') — codepoints, which equal Java's
  // UTF-16 units on this corpus (all-ASCII by construction, and the
  // window arm only runs on texts the length functions agree on).
  private val FingerprintSql = {
    val fold = "(a, c) -> (a * 1000003 + c) % 2305843009213693951"
    s"""WITH ch AS (
       |  SELECT doc_id, length(text) AS n,
       |    list_transform(string_split(text, ''),
       |      c -> CAST(unicode(c) AS HUGEINT)) AS cs
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, n, cs,
       |    list_reduce(list_prepend(CAST(0 AS HUGEINT), cs), $fold) AS fh
       |  FROM ch)
       |SELECT doc_id, CAST(fh AS BIGINT) AS full_hash,
       |  CAST(CASE WHEN n >= 8 THEN
       |    list_min(list_transform(range(1, n - 6), i ->
       |      list_reduce(list_prepend(CAST(0 AS HUGEINT), cs[i:i+7]), $fold)))
       |  ELSE fh END AS BIGINT) AS min_window_hash
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** c11 oracle: the stub-encoder features are pinned input (the b12
    * candidate-generation discipline); the exact top-3 self-search —
    * every squared distance, the (d², id) ranking, the cut — is
    * recomputed from them in SQL. */
  private val MediaEmbedSql = {
    val f = OracleSide.sql("c11_features")
    s"""WITH f AS (SELECT vec_id, f FROM $f),
      |q AS (SELECT vec_id AS query_id, f AS qv FROM f WHERE vec_id < 4),
      |d AS (
      |  SELECT q.query_id, b.vec_id AS neighbor_id,
      |    list_sum(list_transform(list_zip(q.qv, b.f),
      |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
      |  FROM q CROSS JOIN f b)
      |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |  ORDER BY d2, neighbor_id) AS rk FROM d) t
      |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin
  }

  /** c23 oracle: assignment = the b3-certified argmin over the
    * persisted centroids; the greedy id-order within-cluster scan is
    * REPLAYED by a recursive CTE whose per-cluster state row carries
    * the kept-id set and the decisions so far — each round decides the
    * next-rank member against the kept set with the kernel's exact
    * cosine chain (in-order double dot, √-norms, 1e-6 fixed-point,
    * ≥ threshold). The final round's state per cluster unnests into
    * the full verdict list. Sequential semantics, zero pinned
    * verdicts. */
  private val SemDedupSql = {
    val cent = OracleSide.sql("b3_centroids")
    s"""WITH RECURSIVE
      |c AS (SELECT cluster_id, centroid FROM $cent),
      |d AS (
      |  SELECT e.vec_id, c.cluster_id,
      |    CAST(e.embedding AS DOUBLE[]) AS v,
      |    list_sum(list_transform(
      |      list_zip(CAST(e.embedding AS DOUBLE[]), c.centroid),
      |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
      |  FROM embeddings e CROSS JOIN c),
      |m AS (
      |  SELECT CAST(vec_id AS BIGINT) AS vec_id, cluster_id, v,
      |    sqrt(list_inner_product(v, v)) AS nrm,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
      |      ORDER BY vec_id) AS INT) AS rk
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |          ORDER BY d2, cluster_id) AS rn FROM d) t
      |  WHERE rn = 1),
      |g AS (
      |  SELECT cluster_id, rk, [vec_id] AS kept_ids,
      |    [{'vec_id': vec_id, 'keep': 1}] AS decided
      |  FROM m WHERE rk = 1
      |  UNION ALL
      |  SELECT m.cluster_id, m.rk,
      |    CASE WHEN dup THEN g.kept_ids
      |         ELSE list_append(g.kept_ids, m.vec_id) END,
      |    list_append(g.decided,
      |      {'vec_id': m.vec_id, 'keep': CASE WHEN dup THEN 0 ELSE 1 END})
      |  FROM g JOIN m ON m.cluster_id = g.cluster_id AND m.rk = g.rk + 1
      |  CROSS JOIN LATERAL (
      |    SELECT EXISTS (
      |      SELECT 1 FROM m km
      |      WHERE list_contains(g.kept_ids, km.vec_id)
      |        AND floor(list_inner_product(m.v, km.v)
      |              / (m.nrm * km.nrm) * 1e6 + 0.5)/1e6 >= 0.3
      |    ) AS dup) x)
      |SELECT u.vec_id, f.cluster_id, u.keep
      |FROM (SELECT cluster_id, decided,
      |        ROW_NUMBER() OVER (PARTITION BY cluster_id
      |          ORDER BY rk DESC) AS rn
      |      FROM g) f, UNNEST(f.decided) AS t(u)
      |WHERE f.rn = 1
      |ORDER BY u.vec_id""".stripMargin
  }

  /** c34/c35 oracle plumbing: both replay BpeTrain's iterative state
    * machines with recursive CTEs (the c23 discipline). A word's
    * symbol list is carried as a separator-framed string — every
    * token wrapped as ␞tok␞ and concatenated — so ONE replace() per
    * round applies a merge rule to all its left-to-right
    * non-overlapping adjacent occurrences with the kernel's exact
    * skip semantics: the pattern ␞a␞␞b␞ → ␞ab␞ consumes both frames,
    * so a freshly merged token cannot re-merge within the round
    * (BpeTrain.encodeWord's i += 2). chr(30) never occurs in the
    * corpus (all-ASCII by construction, the c9 argument). */
  private val BpeSep = "\u001E"
  private def bpeInitSymsSql: String =
    // word → framed symbol string, last char carrying the end mark
    s"""'$BpeSep' || array_to_string(
       |      list_append(cs[1:len(cs)-1], cs[len(cs)] || '${graft.ops.BpeTrain.EndMark}'),
       |      '$BpeSep$BpeSep') || '$BpeSep'""".stripMargin

  /** c34 oracle: the full training loop from `documents` alone — no
    * sidecar. The recursive state is ONE row carrying the entire
    * floored vocab as a list of {s, f} structs; each round a LATERAL
    * unnests it, counts adjacent pairs weighted by word freq (zip of
    * the symbol list against its own tail — overlapping occurrences
    * counted, the kernel's loop), takes the argmax (freq DESC, pair
    * ASC — the kernel's deterministic tie-break), floors it at
    * MinPairFreq, and the recursive step applies the rule to every
    * vocab entry. Recursion ends when the LATERAL yields no row. */
  private val BpeTrainSql = {
    import graft.ops.BpeTrain.{MinPairFreq, MinWordFreq, NumMerges}
    s"""WITH RECURSIVE
      |wf AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w
      |        FROM documents WHERE text IS NOT NULL)
      |  WHERE w <> '' GROUP BY w HAVING count(*) >= $MinWordFreq),
      |w0 AS (
      |  SELECT list({'s': s, 'f': f}) AS vocab FROM (
      |    SELECT f, $bpeInitSymsSql AS s
      |    FROM (SELECT f, string_split(w, '') AS cs FROM wf))),
      |st AS (
      |  SELECT 0 AS it, vocab,
      |    CAST(NULL AS VARCHAR) AS l, CAST(NULL AS VARCHAR) AS r,
      |    CAST(NULL AS BIGINT) AS pf
      |  FROM w0
      |  UNION ALL
      |  SELECT it + 1,
      |    list_transform(st.vocab, v -> {
      |      's': replace(v.s, '$BpeSep' || b.l || '$BpeSep$BpeSep' || b.r || '$BpeSep',
      |                        '$BpeSep' || b.l || b.r || '$BpeSep'),
      |      'f': v.f}),
      |    b.l, b.r, b.pf
      |  FROM st
      |  CROSS JOIN LATERAL (
      |    SELECT pl AS l, pr AS r, CAST(SUM(cf) AS BIGINT) AS pf FROM (
      |      SELECT pair[1] AS pl, pair[2] AS pr, f AS cf FROM (
      |        SELECT unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS pair, f
      |        FROM (SELECT list_filter(string_split(u.s, '$BpeSep'), x -> x <> '') AS syms,
      |                     u.f AS f
      |              FROM UNNEST(st.vocab) AS t(u))))
      |    GROUP BY pl, pr
      |    HAVING SUM(cf) >= $MinPairFreq
      |    ORDER BY pf DESC, pl, pr LIMIT 1) b
      |  WHERE st.it < $NumMerges)
      |SELECT CAST(it AS INT) AS rank, l AS "left", r AS "right",
      |       l || r AS merged, pf AS pair_freq
      |FROM st WHERE it >= 1 ORDER BY rank""".stripMargin
  }

  /** c35 oracle: the apply loop replayed per DISTINCT word against
    * the pinned (and c34-certified) merge table: each round the
    * LATERAL picks the lowest-rank rule whose (left, right) pair is
    * adjacent in the word's framed state (a plain substring test),
    * replace() applies it everywhere, and the word's last iteration
    * is its token stream. Docs then join words back by position for
    * n_words / n_bpe_tokens / the first-HeadTokens '|'-join, with the
    * kernel's NULL-text and zero-word contracts. */
  private val BpeEncodeSql = {
    import graft.ops.BpeTrain.HeadTokens
    val mg = OracleSide.sql("c34_merges")
    s"""WITH RECURSIVE
      |dw AS (
      |  SELECT DISTINCT w
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w
      |        FROM documents WHERE text IS NOT NULL)
      |  WHERE w <> ''),
      |w0 AS (
      |  SELECT w, $bpeInitSymsSql AS s
      |  FROM (SELECT w, string_split(w, '') AS cs FROM dw)),
      |enc AS (
      |  SELECT w, s, 0 AS it FROM w0
      |  UNION ALL
      |  SELECT enc.w,
      |    replace(enc.s, '$BpeSep' || b.l || '$BpeSep$BpeSep' || b.r || '$BpeSep',
      |                   '$BpeSep' || b.l || b.r || '$BpeSep'),
      |    it + 1
      |  FROM enc
      |  CROSS JOIN LATERAL (
      |    SELECT m."left" AS l, m."right" AS r FROM $mg m
      |    WHERE position('$BpeSep' || m."left" || '$BpeSep$BpeSep' || m."right" || '$BpeSep' IN enc.s) > 0
      |    ORDER BY m.rank LIMIT 1) b),
      |fin AS (
      |  SELECT w, list_filter(string_split(s, '$BpeSep'), x -> x <> '') AS toks
      |  FROM (SELECT w, s, ROW_NUMBER() OVER (PARTITION BY w ORDER BY it DESC) AS rn
      |        FROM enc)
      |  WHERE rn = 1),
      |dwords AS (
      |  SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS i
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |        FROM documents WHERE text IS NOT NULL)),
      |agg AS (
      |  SELECT d.doc_id,
      |    CAST(count(*) AS INT) AS n_words,
      |    CAST(sum(len(f.toks)) AS INT) AS n_bpe_tokens,
      |    array_to_string(flatten(list(f.toks ORDER BY d.i))[1:$HeadTokens], '|') AS head_tokens
      |  FROM dwords d JOIN fin f USING (w) GROUP BY d.doc_id)
      |SELECT doc_id,
      |  CASE WHEN text IS NULL THEN NULL ELSE CAST(coalesce(a.n_words, 0) AS INT) END AS n_words,
      |  CASE WHEN text IS NULL THEN NULL ELSE CAST(coalesce(a.n_bpe_tokens, 0) AS INT) END AS n_bpe_tokens,
      |  CASE WHEN text IS NULL THEN NULL ELSE coalesce(a.head_tokens, '') END AS head_tokens
      |FROM documents LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  }

  /** The c27 LM-scoring CTE core (b/r/bc/uc/vv/sc over a `t` CTE the
    * caller provides) — ONE copy composed verbatim into c27, c45 and
    * c46 (the bm25CteSql discipline): a quantization fix can no longer
    * land in one copy and surface as a driver-time hash failure on a
    * different query. */
  private val LmScoreCtes =
    """b AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      |      FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)),
      |r AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2, 3),
      |bc AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c2 FROM r GROUP BY 1, 2),
      |uc AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bc GROUP BY 1),
      |vv AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM bc),
      |sc AS (SELECT doc_id, CAST(sum(cnt) AS INT) AS n_bigrams,
      |  CAST(sum(cnt * CAST(floor(ln(CAST(c1 + v AS DOUBLE)/(c2 + 1.0)) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS sum_tenk
      | FROM r JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vv
      | GROUP BY doc_id)""".stripMargin.replace("\n", "\n         |")

  /** c45's integer-exact per-lang thirds (h/cum/th over a `q` CTE the
    * caller provides) — shared verbatim by c45 and c46. */
  private val PplThirdsCtes =
    """h AS (SELECT lang, ppl_q, CAST(count(*) AS BIGINT) AS c
      |      FROM q WHERE ppl_q IS NOT NULL GROUP BY 1, 2),
      |cum AS (SELECT lang, ppl_q,
      |  sum(c) OVER (PARTITION BY lang ORDER BY ppl_q) AS cc,
      |  sum(c) OVER (PARTITION BY lang) AS n FROM h),
      |th AS (SELECT lang,
      |  min(CASE WHEN 3 * cc >= n THEN ppl_q END) AS t1,
      |  min(CASE WHEN 3 * cc >= 2 * n THEN ppl_q END) AS t2
      | FROM cum GROUP BY lang)""".stripMargin.replace("\n", "\n         |")

  /** c33's trained-classifier SCORING under the hash gate (round-15,
    * the b6 pinned-input precedent): the micro-quantized fitted weights
    * are the sidecar, and the oracle re-derives every token's feature
    * index ([[MurmurSql]] replays HashingTF.indexOf), the exact integer
    * margin, and the floor-quantized sigmoid from `documents` + the
    * sidecar alone. Training itself stays spec-pinned (L-BFGS). */
  private def C33ScoringSql: String =
    "WITH RECURSIVE\n" +
      """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |mm_v AS (SELECT DISTINCT token FROM toks),
        |""".stripMargin +
      MurmurSql.cte("mm_v", graft.ops.QualityModel.NumFeatures) + ",\n" +
      s"""tfx AS (SELECT t.doc_id, m.idx, CAST(count(*) AS BIGINT) AS cnt
         |  FROM toks t JOIN mm_idx m USING (token) GROUP BY 1, 2),
         |wts AS (SELECT feature, w_micro FROM ${OracleSide.sql("c33_weights")}),
         |mrg AS (SELECT tfx.doc_id,
         |   SUM(tfx.cnt * COALESCE(w.w_micro, 0))
         |     + (SELECT w_micro FROM wts WHERE feature = -1) AS m
         |  FROM tfx LEFT JOIN (SELECT * FROM wts WHERE feature >= 0) w
         |    ON tfx.idx = w.feature
         |  GROUP BY tfx.doc_id),
         |sc AS (SELECT doc_id,
         |   floor(1e6/(1 + exp(-(m/1e6))) + 0.5) AS p_micro FROM mrg)
         |SELECT d.doc_id,
         | CASE WHEN d.text IS NULL THEN NULL
         |  ELSE CAST(COALESCE(d.source IN (${graft.ops.LmScore.dsirTargetSqlList}),
         |    FALSE) AS INT) END AS label,
         | sc.p_micro/1e6 AS quality_score,
         | CASE WHEN d.text IS NULL THEN NULL
         |  ELSE CAST(sc.p_micro >= ${(graft.ops.QualityModel.KeepMin * 1e6).toLong}
         |    AS INT) END AS keep
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin

  /** c43's scoring surface, same treatment as [[C33ScoringSql]] for the
    * multinomial head: per-class integer margins from the pinned
    * weights over re-derived hashed char bi+trigrams, first-max
    * prediction, and the floor-quantized softmax confidence — the
    * denominator sums exp of max-shifted EXACT integer differences in
    * fixed ascending class order, replaying the kernel's IEEE chain. */
  private def C43ScoringSql: String = {
    val nCls = graft.ops.QualityModel.LangClasses.length
    val clsList = graft.ops.QualityModel.LangClasses.map(s => s"'$s'").mkString(", ")
    val pivCols = (0 until nCls)
      .map(c => s"MAX(CASE WHEN cls = $c THEN m END) AS m$c").mkString(",\n         |   ")
    val greatest = s"GREATEST(${(0 until nCls).map("m" + _).mkString(", ")})"
    val predCase = "CASE " +
      (0 until nCls - 1).map(c => s"WHEN m$c = mm THEN $c").mkString(" ") +
      s" ELSE ${nCls - 1} END"
    val expSum = (0 until nCls).map(c => s"exp((m$c - mm)/1e6)").mkString(" + ")
    "WITH RECURSIVE\n" +
      """gsrc AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |gr AS (
        |  SELECT doc_id, substr(text, CAST(i AS INT), 2) AS token
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text))) AS i FROM gsrc)
        |  UNION ALL
        |  SELECT doc_id, substr(text, CAST(i AS INT), 3) AS token
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text)-1)) AS i FROM gsrc)),
        |mm_v AS (SELECT DISTINCT token FROM gr),
        |""".stripMargin +
      MurmurSql.cte("mm_v", graft.ops.QualityModel.LangNumFeatures) + ",\n" +
      s"""tfx AS (SELECT g.doc_id, m.idx, CAST(count(*) AS BIGINT) AS cnt
         |  FROM gr g JOIN mm_idx m USING (token) GROUP BY 1, 2),
         |wts AS (SELECT cls, feature, w_micro FROM ${OracleSide.sql("c43_weights")}),
         |dots AS (SELECT tfx.doc_id, w.cls, SUM(tfx.cnt * w.w_micro) AS dot
         |  FROM tfx JOIN (SELECT * FROM wts WHERE feature >= 0) w
         |    ON tfx.idx = w.feature
         |  GROUP BY 1, 2),
         |seed AS (SELECT doc_id, unnest(range(0, $nCls)) AS cls FROM gsrc),
         |mrg AS (SELECT s.doc_id, s.cls,
         |   COALESCE(d.dot, 0)
         |     + (SELECT w_micro FROM wts i WHERE i.feature = -1 AND i.cls = s.cls) AS m
         |  FROM seed s LEFT JOIN dots d ON d.doc_id = s.doc_id AND d.cls = s.cls),
         |piv AS (SELECT doc_id,
         |   $pivCols
         |  FROM mrg GROUP BY doc_id),
         |mx AS (SELECT *, $greatest AS mm FROM piv),
         |sm AS (SELECT doc_id, $predCase AS pred, $expSum AS s FROM mx),
         |ht AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM gsrc),
         |hc AS (SELECT doc_id,
         |$LangCountsSql
         |FROM ht),
         |heur AS (SELECT doc_id,
         | $LangCaseSql AS predicted
         |FROM hc)
         |SELECT d.doc_id,
         | h.predicted AS heuristic_lang,
         | list_value($clsList)[sm.pred + 1] AS pred_lang,
         | floor(1e6/sm.s + 0.5)/1e6 AS confidence,
         | CAST(list_value($clsList)[sm.pred + 1] = h.predicted AS INT) AS agree
         |FROM documents d LEFT JOIN sm USING (doc_id) LEFT JOIN heur h USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "c33_quality_classifier" -> C33ScoringSql,
    "c43_lang_classifier" -> C43ScoringSql,
    "c34_bpe_train" -> BpeTrainSql,
    "c35_bpe_encode" -> BpeEncodeSql,
    "c11_media_embed" -> MediaEmbedSql,
    "c23_semdedup" -> SemDedupSql,
    "c9_doc_fingerprint" -> FingerprintSql,
    "c2_dedup_minhash" -> minhashSummarySql,
    "c3_dedup_simhash" -> simhashSummarySql,
    "d6_stream_dedup" -> streamDedupSql,
    "c29_embed_contam" -> EmbedContamSql,
    "d9_stream_contam" -> EmbedContamSql,
    // mirrors Sketches.kmvDistinct: the k smallest distinct 60-bit
    // md5-prefix hashes per source ARE the sketch — the oracle
    // recomputes them exactly (order-independent min-k), so the hash
    // check certifies a distributed APPROXIMATE operator bit-exactly.
    // d11 shares it: KMV reduce is order-independent, so the stream's
    // final sketch equals the batch sketch under ANY arrival order
    "c37_kmv_distinct" -> KmvSql,
    "d11_stream_kmv" -> KmvSql,
    // mirrors Sketches.bloomContain: the distinct 16-bit md5-slice
    // positions of a source's shingles ARE the Bloom bitmap — the
    // oracle recomputes the exact bit set, fingerprints it
    // (string_agg over ascending positions = the operator's md5 of
    // the same), and replays the eval-membership probe (a shingle
    // tests positive iff ALL its distinct positions are set). OR is
    // order-independent, so d14's streaming form shares the oracle.
    "c39_bloom_contain" -> BloomSql,
    "d14_stream_bloom" -> BloomSql,
    // mirrors Sketches.heavyHitters: candidates = exact global top-8
    // tokens (count desc, token asc); the dense (source, row, pos)
    // cell grid IS the CMS matrix — the oracle fingerprints all
    // depth*width cells (zeros included, row-major) and replays the
    // min-over-rows estimates. Elementwise add is order-independent,
    // so d15's streaming form shares the oracle.
    "c41_heavy_hitters" -> CmsSql,
    "d15_stream_cms" -> CmsSql,
    // d16 shares c40's oracle: the E-S key is a deterministic pure
    // function of doc_id and top-k-by-key is an order-independent
    // fold, so the stream's final sample equals the batch sample
    "d16_stream_sample" -> WeightedSampleSql,
    "c40_weighted_sample" -> WeightedSampleSql,
    // c16's gate CTE + c18's profile, composed verbatim: a hash match
    // certifies the stages compose exactly
    "c38_pipeline_profile" ->
      // composes the ONE gate fragment (GateCtesSql) — the survivor
      // set here must be exactly c16/d7's keep set by construction
      s"""WITH $GateCtesSql,
        |survivors AS (SELECT d.source, d.text FROM documents d
        |  JOIN r USING (doc_id) WHERE r.reason = 'keep'),
        |t AS (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
        |  CAST(length(text) AS INT) AS n_chars FROM survivors)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(min(n_tok) AS INT) AS min_tokens,
        | CAST(max(n_tok) AS INT) AS max_tokens,
        | ROUND(avg(n_tok), 6) AS mean_tokens,
        | quantile_cont(n_tok, 0.5) AS p50_tokens,
        | quantile_cont(n_tok, 0.9) AS p90_tokens,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    // mirrors Multimodal.frameQuery: every 4th 16-char frame,
    // fingerprinted; char slices so substring semantics agree across
    // engines (md5 hashes the frame's UTF-8 bytes on both)
    "c47_frame_dedup" ->
      // composes c36's certified frame CTE verbatim (the c38/c46
      // pattern), then the c24-style min<max cross-doc dup set and the
      // per-doc count-back; the flag compares the UNROUNDED ratio
      s"""WITH f AS (
         |  SELECT doc_id, md5(substring(text, frame_idx*16+1, 16)) AS frame_md5
         |  FROM (SELECT doc_id, text,
         |    unnest(generate_series(0,
         |      greatest(CAST(floor((length(text)+15)/16.0) AS BIGINT)-1, 0), 4)) AS frame_idx
         |   FROM documents WHERE text IS NOT NULL)),
         |dup AS (SELECT frame_md5 FROM f GROUP BY frame_md5
         |        HAVING min(doc_id) < max(doc_id)),
         |a AS (
         |  SELECT f.doc_id, CAST(count(*) AS INT) AS n_frames,
         |    CAST(sum(CASE WHEN d.frame_md5 IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_dup_frames
         |  FROM f LEFT JOIN dup d USING (frame_md5) GROUP BY f.doc_id)
         |SELECT doc_id, n_frames, n_dup_frames,
         | ROUND(CAST(n_dup_frames AS DOUBLE)/n_frames, 6) AS dup_frame_ratio,
         | CAST(CAST(n_dup_frames AS DOUBLE)/n_frames
         |   > ${graft.ops.Multimodal.FrameDupMax} AS INT) AS flagged
         |FROM a ORDER BY doc_id""".stripMargin,
    "c36_frame_sample" ->
      """SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        | md5(substring(text, frame_idx*16+1, 16)) AS frame_md5,
        | CAST(length(substring(text, frame_idx*16+1, 16)) AS INT) AS frame_len
        |FROM (SELECT doc_id, text,
        |  unnest(generate_series(0,
        |    greatest(CAST(floor((length(text)+15)/16.0) AS BIGINT)-1, 0), 4)) AS frame_idx
        | FROM documents WHERE text IS NOT NULL)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "c31_boilerplate" ->
      // mirrors CorpusOps.boilerplate: position-free segment frequency
      // over SegTok-token segments (trailing remainder its own
      // segment); the oracle groups by segment TEXT where Spark groups
      // by its xxhash64 — identical counts absent a 2^-64 collision
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents WHERE text IS NOT NULL),
         |seg AS (
         |  SELECT doc_id,
         |    array_to_string(w[((s-1)*${CorpusOps.SegTok}+1):(LEAST(s*${CorpusOps.SegTok}, len(w)))], ' ') AS seg,
         |    LEAST(s*${CorpusOps.SegTok}, len(w)) - (s-1)*${CorpusOps.SegTok} AS seglen
         |  FROM base CROSS JOIN
         |    UNNEST(generate_series(1, CAST(ceil(len(w)/CAST(${CorpusOps.SegTok} AS DOUBLE)) AS BIGINT))) AS t(s)),
         |freq AS (SELECT seg, count(DISTINCT doc_id) AS ndocs FROM seg GROUP BY seg),
         |perdoc AS (
         |  SELECT seg.doc_id,
         |    CAST(count(*) AS INT) AS n_segments,
         |    CAST(sum(CASE WHEN ndocs >= ${CorpusOps.BoilMinDocs} THEN 1 ELSE 0 END) AS INT) AS n_boiler_segments,
         |    CAST(sum(CASE WHEN ndocs >= ${CorpusOps.BoilMinDocs} THEN 0 ELSE seglen END) AS BIGINT) AS tokens_kept
         |  FROM seg JOIN freq USING (seg) GROUP BY 1)
         |SELECT d.doc_id, n_segments, n_boiler_segments, tokens_kept
         |FROM documents d LEFT JOIN perdoc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "c32_budget_select" ->
      // the straight global ordered window — certifies the
      // bucket-offset decomposition; score arithmetic mirrors
      // CorpusOps.budgetSelect token-for-token ((1e4*cnt)/ntok, one
      // floor(+0.5), identical IEEE doubles from identical ints)
      s"""WITH m AS (SELECT doc_id,
         |    CAST(floor(1e4 * len(list_filter(string_split(text,' '),
         |        x -> x IN (${graft.ops.TextAnalysis.markerSqlList("en")})))
         |      / len(string_split(text,' ')) + 0.5) AS INT) AS score_tenk,
         |    CAST(len(string_split(text,' ')) AS INT) AS n_tokens
         |  FROM documents WHERE text IS NOT NULL),
         |r AS (SELECT doc_id, score_tenk, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY score_tenk DESC, doc_id) AS BIGINT) AS cum_tokens
         |  FROM m)
         |SELECT d.doc_id, score_tenk, n_tokens, cum_tokens,
         |  CAST(cum_tokens <= ${CorpusOps.TokenBudget} AS INT) AS selected
         |FROM documents d LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,
    "c30_shuffle_shard" ->
      // the straight global row_number — certifies the bucket-offset
      // decomposition; floor of the power-of-two division, never a
      // double->int cast (DuckDB rounds, Spark truncates)
      s"""WITH k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |r AS (SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS rank FROM k)
         |SELECT doc_id, rank,
         | CAST(floor(rank / CAST(${CorpusOps.ShardSize} AS DOUBLE)) AS INT) AS shard,
         | CAST(rank % ${CorpusOps.ShardSize} AS INT) AS shard_pos
         |FROM r ORDER BY doc_id""".stripMargin,
    "c27_lm_perplexity" ->
      // mirrors LmScore.ngramLm: bigram counts per doc, add-one
      // smoothing over |distinct w2|, 1e-4-quantized ln per distinct
      // bigram, integer tenk sums, one trailing DOUBLE/DOUBLE division
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents WHERE text IS NOT NULL),
         |$LmScoreCtes
         |SELECT d.doc_id, sc.n_bigrams,
         | CAST(sc.sum_tenk AS DOUBLE) / CAST(CAST(sc.n_bigrams AS BIGINT) * 10000 AS DOUBLE) AS mean_nll,
         | CAST(CAST(sc.sum_tenk AS DOUBLE) / CAST(CAST(sc.n_bigrams AS BIGINT) * 10000 AS DOUBLE)
         |   > ${graft.ops.LmScore.NllFlagMax} AS INT) AS high_nll
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "c42_trigram_lm" ->
      // mirrors LmScore.trigramBackoff: model tables from the 75%
      // md5-bucket train slice, stupid-backoff CASE chain with the
      // 9163-tenk penalty per level, exact-ratio quantized ln for
      // observed grams, add-one base for unseen words, integer sums
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
         |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '${graft.ops.LmScore.TrigramTrainMax}' AS trn
         |  FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, trn, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
         |      FROM (SELECT doc_id, trn, w, unnest(range(1, len(w) - 1)) AS i FROM t)),
         |r AS (SELECT doc_id, trn, w1, w2, w3, CAST(count(*) AS BIGINT) AS cnt
         |      FROM g GROUP BY 1, 2, 3, 4, 5),
         |t3 AS (SELECT w1, w2, w3, CAST(sum(cnt) AS BIGINT) AS c3 FROM r WHERE trn GROUP BY 1, 2, 3),
         |t2 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c2ctx FROM t3 GROUP BY 1, 2),
         |b2 AS (SELECT w2, w3, CAST(sum(c3) AS BIGINT) AS cb FROM t3 GROUP BY 1, 2),
         |b1 AS (SELECT w2, CAST(sum(cb) AS BIGINT) AS c1ctx FROM b2 GROUP BY 1),
         |u AS (SELECT w3, CAST(sum(cb) AS BIGINT) AS cu FROM b2 GROUP BY 1),
         |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS v FROM u),
         |sc AS (SELECT doc_id, CAST(sum(cnt) AS INT) AS n_trigrams,
         |  CAST(sum(CASE WHEN c3 IS NOT NULL THEN cnt ELSE 0 END) AS INT) AS n_hit3,
         |  CAST(sum(CASE WHEN c3 IS NULL AND cb IS NOT NULL THEN cnt ELSE 0 END) AS INT) AS n_hit2,
         |  CAST(sum(CASE WHEN c3 IS NULL AND cb IS NULL THEN cnt ELSE 0 END) AS INT) AS n_hit1,
         |  CAST(sum(cnt * CASE
         |    WHEN c3 IS NOT NULL THEN CAST(floor(ln(CAST(c2ctx AS DOUBLE)/c3) * 1e4 + 0.5) AS BIGINT)
         |    WHEN cb IS NOT NULL THEN ${graft.ops.LmScore.BackoffTenk}
         |      + CAST(floor(ln(CAST(c1ctx AS DOUBLE)/cb) * 1e4 + 0.5) AS BIGINT)
         |    ELSE ${2 * graft.ops.LmScore.BackoffTenk}
         |      + CAST(floor(ln(CAST(nn + v AS DOUBLE)/(COALESCE(cu, 0) + 1.0)) * 1e4 + 0.5) AS BIGINT)
         |    END) AS BIGINT) AS sum_tenk
         | FROM r LEFT JOIN t3 USING (w1, w2, w3) LEFT JOIN t2 USING (w1, w2)
         |        LEFT JOIN b2 USING (w2, w3) LEFT JOIN b1 USING (w2)
         |        LEFT JOIN u USING (w3) CROSS JOIN tot
         | GROUP BY doc_id)
         |SELECT d.doc_id, sc.n_trigrams, sc.n_hit3, sc.n_hit2, sc.n_hit1,
         | CAST(sc.sum_tenk AS DOUBLE) / CAST(CAST(sc.n_trigrams AS BIGINT) * 10000 AS DOUBLE) AS mean_nll,
         | CAST(substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < '${graft.ops.LmScore.TrigramTrainMax}' AS INT) AS is_train
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "c45_ppl_bucket" ->
      // mirrors LmScore.pplBucket: c27's certified scoring CTEs, then
      // centinat quantization, per-lang (lang, centinat) histogram,
      // integer-exact thirds thresholds (3*cum >= k*n), assignment.
      // The window runs over the BOUNDED histogram (langs x centinats),
      // never the corpus - same shape as the Spark driver computation.
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents WHERE text IS NOT NULL),
         |$LmScoreCtes,
         |q AS (SELECT d.doc_id, d.lang, sc.n_bigrams,
         |  CAST(floor(CAST(sc.sum_tenk AS DOUBLE) / CAST(CAST(sc.n_bigrams AS BIGINT) * 10000 AS DOUBLE)
         |    * ${graft.ops.LmScore.PplQScale}) AS INT) AS ppl_q
         | FROM documents d LEFT JOIN sc USING (doc_id)),
         |$PplThirdsCtes
         |SELECT q.doc_id, q.lang, q.n_bigrams, q.ppl_q,
         | CASE WHEN q.ppl_q IS NULL THEN 'none'
         |      WHEN q.ppl_q <= th.t1 THEN 'head'
         |      WHEN q.ppl_q <= th.t2 THEN 'middle' ELSE 'tail' END AS bucket,
         | CAST(CASE WHEN q.ppl_q IS NOT NULL AND q.ppl_q <= th.t2
         |      THEN 1 ELSE 0 END AS INT) AS kept
         |FROM q LEFT JOIN th USING (lang) ORDER BY doc_id""".stripMargin,
    "c46_pipeline_e2e" ->
      // the five stages' certified formulations composed VERBATIM over
      // survivor CTEs: c44's analytic URL-gate (gb/gu/gr/gk/gc), c6's
      // marker-count language CASE over the gate survivors, c27's
      // exact-integer LM scoring over the SAME survivors, c45's
      // bounded-histogram thirds with the PREDICTED lang, and c32's
      // ordered-window selection over head+middle docs — certifying
      // every stage boundary of the CCNet-shaped chain at once
      s"""WITH gb AS (SELECT doc_id,
         |   doc_id % 2 AS m2, doc_id % 3 AS m3, doc_id % 5 AS m5, doc_id % 7 AS m7,
         |   doc_id % 10 AS m10, doc_id % 11 AS m11, doc_id % 13 AS m13
         |  FROM documents),
         |gu AS (SELECT doc_id,
         |   CASE WHEN m2 = 0 THEN 'http' ELSE 'https' END AS scheme_c,
         |   (CASE WHEN m13 = 0 THEN 'xn--site-' ELSE 'site-' END
         |     || CAST(m5 AS VARCHAR)
         |     || CASE WHEN m2 = 0 THEN '.com' ELSE '.co.uk' END) AS domain,
         |   '/p/' || CAST(m10 AS VARCHAR) AS path_c,
         |   'a=' || CAST(m10 AS VARCHAR) || '&z=1' AS query_c
         |  FROM gb),
         |gr AS (SELECT doc_id, domain,
         |   scheme_c || '://' || domain || path_c || '?' || query_c AS url_canon
         |  FROM gu),
         |gk AS (SELECT doc_id, domain,
         |   CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY url_canon)
         |        THEN 1 ELSE 0 END AS url_keep,
         |   CASE WHEN domain IN (${graft.ops.UrlGate.blocklistSqlList})
         |        THEN 1 ELSE 0 END AS blocked
         |  FROM gr),
         |gc AS (SELECT doc_id, 1 AS in_cap FROM (
         |   SELECT doc_id, row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
         |   FROM gk WHERE url_keep = 1 AND blocked = 0)
         |  WHERE rn <= ${graft.ops.UrlGate.DomainCap}),
         |s1 AS (SELECT d.doc_id, d.text
         |  FROM documents d JOIN gk USING (doc_id) LEFT JOIN gc USING (doc_id)
         |  WHERE gk.url_keep = 1 AND gk.blocked = 0 AND COALESCE(gc.in_cap, 0) = 1),
         |lt AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM s1),
         |lc AS (SELECT doc_id,
         |$LangCountsSql
         |FROM lt),
         |lang AS (SELECT doc_id,
         | $LangCaseSql AS lang
         |FROM lc),
         |t AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM s1 WHERE text IS NOT NULL),
         |$LmScoreCtes,
         |q AS (SELECT s1.doc_id, lang.lang, sc.n_bigrams,
         |  CAST(floor(CAST(sc.sum_tenk AS DOUBLE) / CAST(CAST(sc.n_bigrams AS BIGINT) * 10000 AS DOUBLE)
         |    * ${graft.ops.LmScore.PplQScale}) AS INT) AS ppl_q
         | FROM s1 LEFT JOIN sc USING (doc_id) JOIN lang USING (doc_id)),
         |$PplThirdsCtes,
         |tier AS (SELECT q.doc_id, q.lang, q.n_bigrams, q.ppl_q,
         | CASE WHEN q.ppl_q IS NULL THEN 'none'
         |      WHEN q.ppl_q <= th.t1 THEN 'head'
         |      WHEN q.ppl_q <= th.t2 THEN 'middle' ELSE 'tail' END AS bucket,
         | CAST(CASE WHEN q.ppl_q IS NOT NULL AND q.ppl_q <= th.t2
         |      THEN 1 ELSE 0 END AS INT) AS tier_kept
         |FROM q LEFT JOIN th USING (lang)),
         |tk AS (SELECT doc_id FROM tier WHERE tier_kept = 1),
         |m AS (SELECT s1.doc_id,
         |    CAST(floor(1e4 * len(list_filter(string_split(text,' '),
         |        x -> x IN ($enList)))
         |      / len(string_split(text,' ')) + 0.5) AS INT) AS score_tenk,
         |    CAST(len(string_split(text,' ')) AS INT) AS n_tokens
         |  FROM s1 JOIN tk USING (doc_id) WHERE text IS NOT NULL),
         |r32 AS (SELECT doc_id, score_tenk, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY score_tenk DESC, doc_id) AS BIGINT) AS cum_tokens
         |  FROM m),
         |sel AS (SELECT tk.doc_id, r32.score_tenk, r32.n_tokens, r32.cum_tokens,
         |    CAST(r32.cum_tokens <= ${CorpusOps.TokenBudget} AS INT) AS selected
         |  FROM tk LEFT JOIN r32 USING (doc_id))
         |SELECT tier.doc_id, tier.lang, tier.n_bigrams, tier.ppl_q, tier.bucket,
         | tier.tier_kept, sel.score_tenk, sel.n_tokens, sel.cum_tokens,
         | CAST(COALESCE(sel.selected, 0) AS INT) AS selected
         |FROM tier LEFT JOIN sel USING (doc_id) ORDER BY doc_id""".stripMargin,
    "c44_url_gate" ->
      // Deliberately NOT a parse: the oracle rebuilds the raw URL from
      // the same doc_id residues UrlGate.synthUrl uses AND derives the
      // canonical form analytically from those residues — an
      // independent derivation, so the hash match certifies the Spark
      // kernel's parser. Gates mirror UrlGate.urlGate: min-doc_id per
      // canonical URL, blocklist on registered domain, first-N per
      // domain (row_number over the gate-1/2 survivors).
      s"""WITH b AS (SELECT doc_id,
         |   doc_id % 2 AS m2, doc_id % 3 AS m3, doc_id % 5 AS m5, doc_id % 7 AS m7,
         |   doc_id % 10 AS m10, doc_id % 11 AS m11, doc_id % 13 AS m13
         |  FROM documents),
         |u AS (SELECT doc_id, m3, m7, m11,
         |   CASE WHEN m2 = 0 THEN 'http' ELSE 'https' END AS scheme_c,
         |   (CASE WHEN m13 = 0 THEN 'xn--site-' ELSE 'site-' END
         |     || CAST(m5 AS VARCHAR)
         |     || CASE WHEN m2 = 0 THEN '.com' ELSE '.co.uk' END) AS domain,
         |   '/p/' || CAST(m10 AS VARCHAR) AS path_c,
         |   'a=' || CAST(m10 AS VARCHAR) || '&z=1' AS query_c,
         |   CAST(m10 AS VARCHAR) AS page
         |  FROM b),
         |r AS (SELECT doc_id, domain,
         |   scheme_c || '://' || domain || path_c || '?' || query_c AS url_canon,
         |   (CASE WHEN m3 = 0 THEN upper(scheme_c) ELSE scheme_c END) || '://'
         |    || (CASE WHEN m11 = 0 THEN 'u:p@' ELSE '' END)
         |    || (CASE WHEN m7 = 3 THEN 'www.' WHEN m7 = 4 THEN 'WWW.' ELSE '' END)
         |    || (CASE WHEN m7 = 2 THEN upper(domain) ELSE domain END)
         |    || (CASE WHEN m7 = 0 THEN
         |          (CASE WHEN scheme_c = 'http' THEN ':80' ELSE ':443' END) ELSE '' END)
         |    || path_c || (CASE WHEN m3 = 2 THEN '/' ELSE '' END) || '?'
         |    || (CASE WHEN m3 = 0 THEN 'utm_source=tw&' || query_c
         |             WHEN m3 = 1 THEN 'z=1&utm_campaign=x&a=' || page
         |             ELSE 'fbclid=abc&z=1&a=' || page END)
         |    || (CASE WHEN m11 = 1 THEN '#sec' ELSE '' END) AS url
         |  FROM u),
         |k AS (SELECT doc_id, url, url_canon, domain,
         |   CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY url_canon)
         |        THEN 1 ELSE 0 END AS url_keep,
         |   CASE WHEN domain IN (${graft.ops.UrlGate.blocklistSqlList})
         |        THEN 1 ELSE 0 END AS blocked
         |  FROM r),
         |c AS (SELECT doc_id, 1 AS in_cap FROM (
         |   SELECT doc_id, row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
         |   FROM k WHERE url_keep = 1 AND blocked = 0)
         |  WHERE rn <= ${graft.ops.UrlGate.DomainCap})
         |SELECT k.doc_id, k.url, k.url_canon, k.domain,
         | CAST(k.url_keep AS INT) AS url_keep,
         | CAST(k.blocked AS INT) AS blocked,
         | CAST(COALESCE(c.in_cap, 0) AS INT) AS in_domain_cap,
         | CAST(CASE WHEN k.url_keep = 1 AND k.blocked = 0 AND COALESCE(c.in_cap, 0) = 1
         |      THEN 1 ELSE 0 END AS INT) AS kept
         |FROM k LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin,
    "c28_dsir_weight" ->
      // mirrors LmScore.dsirWeight: one unigram model table carrying
      // raw + target counts, totals/vocab from the model, per-word
      // delta = quantized nll_raw - quantized nll_target, integer sums
      s"""WITH u AS (SELECT doc_id,
         |   CASE WHEN source IN (${graft.ops.LmScore.dsirTargetSqlList}) THEN 1 ELSE 0 END AS tgt,
         |   unnest(string_split(text, ' ')) AS w
         |  FROM documents WHERE text IS NOT NULL),
         |r AS (SELECT doc_id, tgt, w, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1, 2, 3),
         |m AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS rc,
         |   CAST(sum(CASE WHEN tgt = 1 THEN cnt ELSE 0 END) AS BIGINT) AS tc FROM r GROUP BY w),
         |tot AS (SELECT CAST(sum(rc) AS BIGINT) AS rr, CAST(sum(tc) AS BIGINT) AS tt,
         |   CAST(count(*) AS BIGINT) AS v FROM m),
         |sc AS (SELECT doc_id, CAST(sum(cnt) AS INT) AS n_tokens,
         |  CAST(sum(cnt * (CAST(floor(ln(CAST(rr + v AS DOUBLE)/(rc + 1.0)) * 1e4 + 0.5) AS BIGINT)
         |               -  CAST(floor(ln(CAST(tt + v AS DOUBLE)/(tc + 1.0)) * 1e4 + 0.5) AS BIGINT))) AS BIGINT) AS sum_delta
         | FROM r JOIN m USING (w) CROSS JOIN tot GROUP BY doc_id)
         |SELECT d.doc_id, d.source, sc.n_tokens,
         | CAST(sc.sum_delta AS DOUBLE) / 1e4 AS log_ratio,
         | CAST(sc.sum_delta > 0 AS INT) AS keep
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "c24_substring_dedup" ->
      // SpanK-token windows, 1-based start positions, md5 span keys;
      // coverage telescopes LEAST(K, next-start) — all mirrored in
      // Dedup.substringSpans
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |win AS (SELECT doc_id, unnest(range(1, len(w) - ${Dedup.SpanK - 2})) AS p, w
         |        FROM t WHERE len(w) >= ${Dedup.SpanK}),
         |wk AS (SELECT doc_id, p,
         |  md5(array_to_string(w[p:p+${Dedup.SpanK - 1}], ' ')) AS key FROM win),
         |dup AS (SELECT key FROM wk GROUP BY key HAVING min(doc_id) < max(doc_id)),
         |dpos AS (SELECT doc_id, p FROM wk JOIN dup USING (key)),
         |cov AS (SELECT doc_id,
         |  LEAST(${Dedup.SpanK}, COALESCE(lead(p) OVER (PARTITION BY doc_id ORDER BY p),
         |    p + ${Dedup.SpanK}) - p) AS c
         | FROM dpos),
         |a AS (SELECT doc_id, CAST(count(*) AS INT) AS n_dup_windows,
         |  CAST(sum(c) AS BIGINT) AS dup_tokens FROM cov GROUP BY doc_id),
         |base AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents)
         |SELECT b.doc_id, b.n_tokens,
         | CAST(GREATEST(b.n_tokens - ${Dedup.SpanK - 1}, 0) AS INT) AS n_windows,
         | COALESCE(a.n_dup_windows, 0) AS n_dup_windows,
         | COALESCE(a.dup_tokens, 0) AS dup_tokens,
         | ROUND(CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / b.n_tokens, 6) AS dup_token_ratio,
         | CAST(CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / b.n_tokens
         |   > CAST(${Dedup.SpanDupMax} AS DOUBLE) AS INT) AS flagged
         |FROM base b LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin,
    "d8_stream_spans" ->
      // the single-batch AvailableNow drain makes the ordered-arrival
      // dup rule order-independent: a window is a duplicate iff its
      // span's minimum holder doc precedes this doc (first holder
      // unflagged). Span keys + coverage mirror c24's oracle.
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |win AS (SELECT doc_id, unnest(range(1, len(w) - ${Dedup.SpanK - 2})) AS p, w
         |        FROM t WHERE len(w) >= ${Dedup.SpanK}),
         |wk AS (SELECT doc_id, p,
         |  md5(array_to_string(w[p:p+${Dedup.SpanK - 1}], ' ')) AS key FROM win),
         |m AS (SELECT key, min(doc_id) AS holder FROM wk GROUP BY key),
         |d AS (SELECT wk.doc_id, wk.p, CAST(wk.doc_id > m.holder AS INT) AS dup
         |      FROM wk JOIN m USING (key)),
         |cov AS (SELECT doc_id,
         |  LEAST(${Dedup.SpanK}, COALESCE(lead(p) OVER (PARTITION BY doc_id ORDER BY p),
         |    p + ${Dedup.SpanK}) - p) AS c
         | FROM d WHERE dup = 1),
         |cv AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dup_tokens FROM cov GROUP BY doc_id),
         |cnt AS (SELECT doc_id, CAST(count(*) AS INT) AS n_windows,
         |  CAST(sum(dup) AS INT) AS n_dup_windows FROM d GROUP BY doc_id)
         |SELECT cnt.doc_id, cnt.n_windows, cnt.n_dup_windows,
         | COALESCE(cv.dup_tokens, 0) AS dup_tokens
         |FROM cnt LEFT JOIN cv USING (doc_id) ORDER BY doc_id""".stripMargin,
    "d8b_stream_spans_mb" -> {
      // the 3-trigger replay: trigger k = ntile(3) bucket k of doc_id
      // order; watermark at trigger k = max event time of triggers < k
      // minus the 60 s delay. Event time is BaseEpochSec + doc_id, so
      // the epoch base cancels and every expiry comparison runs in
      // doc-id units: a prior holder (last sighting x) is still live
      // at trigger k iff x + RET + DELAY >= max_doc(triggers < k).
      // Per span the three batch steps unroll: eh1 = min doc of b1;
      // eh_k = live prior holder else min doc of b_k; a window is dup
      // iff its doc != its trigger's effective holder. Timeout removal
      // equals the data-path expiry check because the watermark is
      // monotone (StreamSpanDedup.streamingSpanDedupMultiBatch).
      val horizon = graft.streaming.StreamSpanDedup.MultiBatchRetentionSec + 60L
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
         |  ntile(3) OVER (ORDER BY doc_id) AS b FROM documents),
         |win AS (SELECT doc_id, b, unnest(range(1, len(w) - ${Dedup.SpanK - 2})) AS p, w
         |        FROM t WHERE len(w) >= ${Dedup.SpanK}),
         |wk AS (SELECT doc_id, b, p,
         |  md5(array_to_string(w[p:p+${Dedup.SpanK - 1}], ' ')) AS key FROM win),
         |bm AS (SELECT
         |  max(CASE WHEN b = 1 THEN doc_id END) AS md1,
         |  max(CASE WHEN b <= 2 THEN doc_id END) AS md2 FROM wk),
         |agg AS (SELECT key,
         |  min(CASE WHEN b = 1 THEN doc_id END) AS m1,
         |  max(CASE WHEN b = 1 THEN doc_id END) AS x1,
         |  min(CASE WHEN b = 2 THEN doc_id END) AS m2,
         |  max(CASE WHEN b = 2 THEN doc_id END) AS x2,
         |  min(CASE WHEN b = 3 THEN doc_id END) AS m3
         | FROM wk GROUP BY key),
         |st AS (SELECT key, m1, m2, m3,
         |  CASE WHEN m2 IS NULL THEN NULL
         |       WHEN m1 IS NOT NULL AND x1 + $horizon >= bm.md1 THEN m1
         |       ELSE m2 END AS eh2,
         |  CASE WHEN m2 IS NOT NULL THEN x2 ELSE x1 END AS t2d
         | FROM agg CROSS JOIN bm),
         |eff AS (SELECT st.key, st.m1 AS eh1, st.eh2,
         |  CASE WHEN st.m3 IS NULL THEN NULL
         |       WHEN COALESCE(st.eh2, st.m1) IS NOT NULL
         |            AND st.t2d + $horizon >= bm.md2 THEN COALESCE(st.eh2, st.m1)
         |       ELSE st.m3 END AS eh3
         | FROM st CROSS JOIN bm),
         |d AS (SELECT wk.doc_id, wk.p,
         |  CAST(wk.doc_id != CASE wk.b WHEN 1 THEN eff.eh1 WHEN 2 THEN eff.eh2
         |                    ELSE eff.eh3 END AS INT) AS dup
         | FROM wk JOIN eff USING (key)),
         |cov AS (SELECT doc_id,
         |  LEAST(${Dedup.SpanK}, COALESCE(lead(p) OVER (PARTITION BY doc_id ORDER BY p),
         |    p + ${Dedup.SpanK}) - p) AS c
         | FROM d WHERE dup = 1),
         |cv AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dup_tokens FROM cov GROUP BY doc_id),
         |cnt AS (SELECT doc_id, CAST(count(*) AS INT) AS n_windows,
         |  CAST(sum(dup) AS INT) AS n_dup_windows FROM d GROUP BY doc_id)
         |SELECT cnt.doc_id, cnt.n_windows, cnt.n_dup_windows,
         | COALESCE(cv.dup_tokens, 0) AS dup_tokens
         |FROM cnt LEFT JOIN cv USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    "c25_bm25_search" ->
      (s"WITH ${bm25CteSql(
        s"bq(query_id, term) AS (VALUES ${graft.ops.Retrieval.bmQuerySql})")}" +
        s"""
           |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, score FROM (
           | SELECT query_id, doc_id, score,
           |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
           | FROM tot)
           |WHERE rk <= ${graft.ops.Retrieval.BmTopK} ORDER BY query_id, rk""".stripMargin),
    "c26_hybrid_search" -> {
      import graft.ops.Retrieval.{HybridQueryIds, HybridQueryTokens, HybridLegK, RrfC, BmTopK}
      val ids = HybridQueryIds.mkString(", ")
      (s"WITH ${bm25CteSql(
        s"""bq AS (SELECT doc_id AS query_id,
           |  unnest(list_distinct(string_split(text, ' ')[1:$HybridQueryTokens])) AS term
           | FROM documents WHERE doc_id IN ($ids))""".stripMargin)}," +
        s"""
           |lex AS (SELECT query_id, doc_id, rk FROM (
           |  SELECT query_id, doc_id,
           |   row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
           |  FROM tot) WHERE rk <= $HybridLegK),
           |hqe AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id IN ($ids)),
           |cosr AS (SELECT hqe.query_id, d.vec_id AS doc_id,
           |   floor(list_cosine_similarity(CAST(hqe.embedding AS DOUBLE[]),
           |     CAST(d.embedding AS DOUBLE[])) * 1e6 + 0.5)/1e6 AS score
           |  FROM embeddings d CROSS JOIN hqe),
           |vec AS (SELECT query_id, doc_id, rk FROM (
           |  SELECT query_id, doc_id,
           |   row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
           |  FROM cosr) WHERE rk <= $HybridLegK),
           |f AS (SELECT query_id, doc_id,
           |  CAST(COALESCE(l.rk, 0) AS INT) AS lex_rk,
           |  CAST(COALESCE(v.rk, 0) AS INT) AS vec_rk,
           |  CAST(COALESCE(CAST(floor(1e6/($RrfC + l.rk)) AS BIGINT), 0)
           |     + COALESCE(CAST(floor(1e6/($RrfC + v.rk)) AS BIGINT), 0) AS DOUBLE)/1e6 AS score
           | FROM lex l FULL JOIN vec v USING (query_id, doc_id))
           |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, score AS rrf, lex_rk, vec_rk FROM (
           | SELECT query_id, doc_id, score, lex_rk, vec_rk,
           |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
           | FROM f)
           |WHERE rk <= $BmTopK ORDER BY query_id, rk""".stripMargin)
    },
    "c21_doc_repetition" ->
      // thresholds + the unrounded-flag rule mirror TextAnalysis
      // .docRepetition; 1-based list indexing matches element_at
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, w, CAST(len(w) AS INT) AS n,
         |  list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2 FROM t)
         |SELECT doc_id, n AS n_tokens, CAST(len(g2) AS INT) AS n_2grams,
         | CASE WHEN len(g2) = 0 THEN 0.0 ELSE
         |   ROUND(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2), 6) END AS dup_2gram_ratio,
         | ROUND(CAST(list_max(list_transform(list_distinct(w),
         |   x -> len(list_filter(w, y -> y = x)))) AS DOUBLE) / n, 6) AS top_word_ratio,
         | CAST((CASE WHEN len(g2) = 0 THEN 0.0 ELSE
         |     CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) END) > ${TextAnalysis.DupGramMax}
         |   OR CAST(list_max(list_transform(list_distinct(w),
         |     x -> len(list_filter(w, y -> y = x)))) AS DOUBLE) / n > ${TextAnalysis.TopWordMax}
         |   AS INT) AS repetitive
         |FROM g ORDER BY doc_id""".stripMargin,
    "c22_domain_mix" ->
      // arithmetic mirrors CorpusOps.domainMix token-for-token, with
      // explicit DOUBLE casts (bare decimal literals are DECIMAL to
      // DuckDB, whose fixed-scale division would diverge from IEEE)
      s"""WITH tok AS (SELECT source,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
         |  ${CorpusOps.MixWeightSql} AS w
         | FROM documents GROUP BY source),
         |sc AS (SELECT source, tokens, w,
         |  MIN(CAST(tokens AS DOUBLE) / w) OVER () AS kk FROM tok),
         |rt AS (SELECT source, ROUND(w * kk / tokens, 6) AS rate,
         |  CASE WHEN CAST(floor(w * kk / tokens * CAST(4294967296 AS DOUBLE)) AS BIGINT) >= 4294967296
         |       THEN 'zzzzzzzz'
         |       ELSE printf('%08x', CAST(floor(w * kk / tokens * CAST(4294967296 AS DOUBLE)) AS BIGINT)) END AS thr
         | FROM sc)
         |SELECT d.doc_id, d.source,
         | CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens, rt.rate
         |FROM documents d JOIN rt USING (source)
         |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < rt.thr
         |ORDER BY doc_id""".stripMargin,
    "c12_pii_scrub" ->
      // each count runs on the text with earlier patterns redacted,
      // mirroring CorpusOps.piiScrub exactly
      s"""WITH s AS (SELECT doc_id, text,
         |  regexp_replace(text, '${CorpusOps.EmailRe}', '<EMAIL>', 'g') AS after_email
         | FROM documents),
         |s2 AS (SELECT doc_id, text, after_email,
         |  regexp_replace(after_email, '${CorpusOps.Ipv4Re}', '<IP>', 'g') AS after_ip
         | FROM s)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(text, '${CorpusOps.EmailRe}')) AS INT) AS n_emails,
         | CAST(len(regexp_extract_all(after_email, '${CorpusOps.Ipv4Re}')) AS INT) AS n_ipv4,
         | CAST(len(regexp_extract_all(after_ip, '${CorpusOps.PhoneRe}')) AS INT) AS n_phones,
         | regexp_replace(after_ip, '${CorpusOps.PhoneRe}', '<PHONE>', 'g') AS scrubbed
         |FROM s2 ORDER BY doc_id""".stripMargin,
    "c13_train_split" ->
      s"""SELECT doc_id, $hashBucketSql AS bucket,
         | CASE WHEN $hashBucketSql < 'f0' THEN 'train'
         |      WHEN $hashBucketSql < 'f8' THEN 'val'
         |      ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "c14_stratified_sample" ->
      s"""SELECT doc_id, lang, $hashBucketSql AS bucket
         |FROM documents
         |WHERE $hashBucketSql < ${CorpusOps.sampleThresholdSql}
         |ORDER BY doc_id""".stripMargin,
    "c15_pack_chunks" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |  SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT doc_id, source, n_tokens,
         | CAST(floor((cum - n_tokens) / ${CorpusOps.PackBudget}.0) AS BIGINT) AS bin,
         | CAST(cum - n_tokens
         |   - CAST(floor((cum - n_tokens) / ${CorpusOps.PackBudget}.0) AS BIGINT)
         |     * ${CorpusOps.PackBudget} AS BIGINT) AS offset
         |FROM c ORDER BY doc_id""".stripMargin,
    "c18_corpus_stats" ->
      """WITH t AS (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
        |  CAST(length(text) AS INT) AS n_chars FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(min(n_tok) AS INT) AS min_tokens,
        | CAST(max(n_tok) AS INT) AS max_tokens,
        | ROUND(avg(n_tok), 6) AS mean_tokens,
        | quantile_cont(n_tok, 0.5) AS p50_tokens,
        | quantile_cont(n_tok, 0.9) AS p90_tokens,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "c16_corpus_filter" -> CorpusGateSql,
    // d7 is the SAME gate as a streaming query (first-seen dedup state
    // = min doc_id under ordered arrival), so it shares c16's oracle —
    // the hash check certifies batch/stream equivalence
    "d7_stream_gate" -> CorpusGateSql,
    "c17_contamination" ->
      // 5-token shingles via the shared ShingleListSql fragment
      s"""WITH sh AS (SELECT doc_id, $ShingleListSql AS s
        | FROM documents),
        |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 20),
        |cg AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 20),
        |hits AS (SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM cg JOIN ev USING (g) GROUP BY cg.doc_id)
        |SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared,
        | CAST(COALESCE(h.n_shared, 0) > 0 AS INT) AS contaminated
        |FROM (SELECT doc_id FROM sh WHERE doc_id >= 20) d
        |LEFT JOIN hits h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "c1_dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
        | CAST(count(*) AS BIGINT) AS n_copies, md5(text) AS text_md5
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "c4_ngram_jaccard" ->
      """WITH s AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
        |         || ' ' || string_split(text,' ')[i+2])) AS sh
        | FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
        |  ELSE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) END AS jaccard
        |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1 ORDER BY id_a""".stripMargin,
    "c5_dedup_embed" ->
      """SELECT id_a, id_b, cos FROM (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 6) AS cos
        | FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id) t
        |WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    // the all-pairs formulation IS the oracle for the LSH-routed
    // pipeline: LSH recall at jaccard >= 0.8 with the 128/32 signature
    // is 1 - ~5e-8 per pair (see Dedup.verifiedNearDups), so both
    // engines keep exactly the pairs whose exact jaccard clears the
    // threshold, with c5's exact cosine attached
    // plain concatenation, NOT an outer stripMargin: the CTE body
    // contains SQL's || operator, whose first | stripMargin would eat
    "c19_verified_neardup" ->
      ("WITH " + VerifiedPairsCte +
        "\nSELECT id_a, id_b, jaccard, cos FROM vp" +
        "\nORDER BY id_a, id_b"),
    // transitive closure over the SAME verified pairs: reach(id, lab)
    // saturates to every (doc, member-of-its-family) pair, so min(lab)
    // is the family minimum — DuckDB's recursive UNION dedups, so the
    // fixpoint terminates
    "c20_dedup_canonical" ->
      ("WITH RECURSIVE " + VerifiedPairsCte + "," +
        """
          |e AS (SELECT id_a AS src, id_b AS dst FROM vp
          |      UNION ALL SELECT id_b AS src, id_a AS dst FROM vp),
          |reach(id, lab) AS (
          |  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM documents
          |  UNION
          |  SELECT e.src, r.lab FROM e JOIN reach r ON e.dst = r.id)
          |SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS canonical_id,
          | CAST(min(lab) = id AS INT) AS keep
          |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
    "c6_lang_id" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
         |c AS (SELECT doc_id,
         |$LangCountsSql
         |FROM t)
         |SELECT doc_id, n_en, n_de, n_fr, n_es, n_zh,
         | $LangCaseSql AS predicted
         |FROM c ORDER BY doc_id""".stripMargin,
    "c7_text_quality" ->
      s"""SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
         | CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
         | CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |  ROUND(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
         |   / length(text), 6) END AS punct_ratio,
         | ROUND(CAST(len(list_filter(string_split(text,' '), x -> x IN ($enList))) AS DOUBLE)
         |   / len(string_split(text,' ')), 6) AS stopword_ratio,
         | ROUND(CAST(list_sum(list_transform(string_split(text,' '), x -> length(x))) AS DOUBLE)
         |   / len(string_split(text,' ')), 6) AS mean_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "c8_token_count" ->
      """SELECT doc_id, CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text,' '))) AS INT) AS n_distinct,
        | CAST(list_sum(list_transform(string_split(text,' '),
        |   x -> CAST(ceil(length(x)/4.0) AS INT))) AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "c10_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS byte_len,
        | md5(text) AS payload_md5,
        | CAST(64 + octet_length(encode(text)) % 640 AS INT) AS width,
        | CAST(64 + octet_length(encode(text)) % 480 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d1_sessionize" ->
      """WITH e AS (SELECT user_id, ts, value,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        | FROM events),
        |f AS (SELECT user_id, ts, es, value,
        |  CASE WHEN prev_ts IS NULL
        |    OR es - CAST(epoch(date_trunc('second', prev_ts)) AS BIGINT) > 1800 THEN 1 ELSE 0 END AS new_session
        | FROM e),
        |g AS (SELECT user_id, es, value,
        |  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_idx
        | FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        | CAST(min(es) AS BIGINT) AS session_start,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "d2_window_agg" ->
      """SELECT CAST(floor(epoch(date_trunc('second', ts))/300)*300 AS BIGINT) AS bucket_start, event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d3_stream_agg" ->
      """SELECT CAST(floor(epoch(date_trunc('second', ts))/300)*300 AS BIGINT) AS bucket_start, event_type,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d4_stream_user_stats" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "d5_session_window" ->
      """WITH e AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        | FROM events),
        |f AS (SELECT user_id, ts,
        |  CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
        |   THEN 1 ELSE 0 END AS new_session
        | FROM e),
        |g AS (SELECT user_id, ts,
        |  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        | FROM f)
        |SELECT user_id,
        | CAST(epoch(date_trunc('second', min(ts))) AS BIGINT) AS session_start,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
  )
}
