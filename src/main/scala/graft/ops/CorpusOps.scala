package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Corpus-preparation operators (SURVEY.md §2 C12–C17) — the steps a
  * large-scale training-data pipeline runs after text analysis and
  * dedup: PII scrubbing, deterministic train/val/test splitting,
  * stratified sampling, token-budget packing, a composed quality gate,
  * and benchmark-contamination detection.
  *
  * Every operator is built from codegen'd built-ins (no UDFs) so the
  * identical logic runs as the DuckDB oracle, and every operator is a
  * narrow map or a single keyed shuffle — each scales linearly with
  * corpus size (see the per-op notes).
  */
object CorpusOps {
  // ---------------------------------------------------------------- c12
  /** PII patterns — ASCII-only so Java regex (Spark) and RE2 (DuckDB)
    * agree. Kept deliberately simple: the operator is the scrubbing
    * PIPELINE (count + ordered redaction in one pass); swapping in
    * stricter patterns changes no plumbing. */
  val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Re  = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  val PhoneRe = """\+?\d[\d .-]{7,}\d"""

  /** c12: PII scrub — per-pattern match counts plus the redacted text.
    * Replacements apply email → IPv4 → phone, and each count runs on
    * the text with the EARLIER patterns already redacted — so the
    * counts agree with the redactions (an IPv4 is one n_ipv4, never
    * also an n_phones: the loose phone pattern would match every
    * dotted digit run on the raw text). Narrow map, no shuffle: at
    * 100 TB this is a pure scan. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))).as("n_ipv4"),
      size(regexp_extract_all(afterIp, lit(PhoneRe), lit(0))).as("n_phones"),
      regexp_replace(afterIp, PhoneRe, "<PHONE>").as("scrubbed"))
  }

  /** First two hex chars of md5 of the stringified id: a uniform,
    * engine-portable 256-bucket hash (hex strings compare identically
    * everywhere). The basis for splitting and sampling — deterministic
    * across runs, clusters, and engines, unlike `rand()`. */
  private def hashBucket(idCol: String): org.apache.spark.sql.Column =
    substring(md5(col(idCol).cast("string")), 1, 2)

  // ---------------------------------------------------------------- c13
  /** c13: deterministic train/val/test split — 240/8/8 of the 256 hash
    * buckets (93.75% / 3.125% / 3.125%). Assignment is a pure function
    * of doc_id: re-running on a grown corpus never moves an old doc
    * across splits (critical for eval integrity). Narrow map. */
  def trainSplit(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      hashBucket("doc_id").as("bucket"),
      when(hashBucket("doc_id") < "f0", "train")
        .when(hashBucket("doc_id") < "f8", "val")
        .otherwise("test").as("split"))

  // ---------------------------------------------------------------- c14
  /** Per-language keep-thresholds on the 256-bucket hash: en keeps all
    * ("zz" is above every hex prefix), de 1/2, fr 1/4, es 1/8, others
    * 1/16 — the class-rebalancing step of corpus curation. */
  val SampleThresholds: Seq[(String, String)] =
    Seq("en" -> "zz", "de" -> "80", "fr" -> "40", "es" -> "20")
  val DefaultSampleThreshold = "10"

  /** The threshold rule as a DuckDB CASE expression — shared with the
    * oracle SQL so both engines apply identical thresholds. */
  def sampleThresholdSql: String =
    "CASE lang " +
      SampleThresholds.map { case (l, t) => s"WHEN '$l' THEN '$t'" }.mkString(" ") +
      s" ELSE '$DefaultSampleThreshold' END"

  /** c14: stratified sample — deterministic per-language downsampling
    * by hash threshold. A filter, not a `sample()`: reproducible and
    * shuffle-free at any scale. */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val thr = SampleThresholds.foldRight(lit(DefaultSampleThreshold)) {
      case ((lang, t), other) => when(col("lang") === lang, t).otherwise(other)
    }
    // bucket computed ONCE, then filtered on the derived column —
    // a filter(hashBucket < thr) before the select would evaluate the
    // md5 twice (no CSE across Filter/Project boundaries)
    docs.select(col("doc_id"), col("lang"), hashBucket("doc_id").as("bucket"))
      .filter(col("bucket") < thr)
  }

  // ---------------------------------------------------------------- c40
  /** Sample size per source for [[weightedSample]]. */
  val WeightedSampleK = 16
  private def TwoPow60 = Sketches.TwoPow60 // shared 60-bit hash domain

  /** c40: deterministic WEIGHTED sampling without replacement — the
    * Efraimidis–Spirakis (2006) one-pass reservoir algorithm (take the
    * k largest u_i^(1/w_i)), the standard way a trainer samples docs
    * proportional to token count. c14 samples uniformly per stratum;
    * this is the weighted form: a 500-token doc is ~20× likelier in
    * the sample than a 25-token one, and the whole draw is a pure
    * function of doc_id (no `rand()` — a re-run, a retried task, or a
    * grown corpus reproduces the same per-doc keys, the c13/c14/c30
    * determinism contract).
    *
    * Cross-engine exactness: u = (h + 0.5)/2^60 from the md5 of the
    * doc id (exact in both engines), the E-S key ln(u)/w ordered as
    * floor(ln(u)·10⁶)/w — ln is the lone transcendental and is
    * quantized to integer micros first (the c25/c27 rule), and the
    * final division of that integer by the integer weight is a single
    * correctly-rounded IEEE op, so both engines order by bit-identical
    * doubles; ties (same quantized key) break by doc_id.
    *
    * Residual boundary risk (accepted): quantization shrinks but does
    * not eliminate the window where the JVM's and DuckDB's ln disagree
    * by 1 ulp EXACTLY when ln(u)·1e6 lands on an integer boundary —
    * floor would then flip the key by one micro and could swap a
    * sample-set member across engines. Both ln implementations are
    * correctly-rounded-or-±1ulp, so the exposure is ~2^-52-scale per
    * doc; if a c40/d16 hash mismatch ever appears with identical row
    * counts, diff the quantized keys first — this boundary is the
    * expected culprit.
    *
    * Scale shape: the corpus side is a NARROW map (md5 → ln → divide);
    * the per-source top-k runs in a typed bounded-heap [[Aggregator]]
    * with MAP-SIDE partial combine — each task reduces its slice to
    * ≤ k rows per source and the shuffle carries O(sources · k), never
    * the corpus (the b1 top-k shape, not a global or per-source window
    * sort; a window formulation would funnel each source through one
    * task — exactly the c15/c32 skew trap). */
  final class TopKByKeyAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Int, Double), Array[(Double, Long, Int)], Array[(Double, Long, Int)]] {
    // sample order: key DESC, doc_id ASC
    private def before(k1: Double, d1: Long, k2: Double, d2: Long): Boolean =
      k1 > k2 || (k1 == k2 && d1 < d2)
    def zero: Array[(Double, Long, Int)] = Array.empty
    def reduce(b: Array[(Double, Long, Int)], x: (Long, Int, Double)): Array[(Double, Long, Int)] = {
      val (id, w, key) = x
      if (b.length == k && !before(key, id, b(k - 1)._1, b(k - 1)._2)) b
      else {
        var at = 0
        while (at < b.length && before(b(at)._1, b(at)._2, key, id)) at += 1
        val n = math.min(k, b.length + 1)
        val out = new Array[(Double, Long, Int)](n)
        System.arraycopy(b, 0, out, 0, at)
        out(at) = (key, id, w)
        System.arraycopy(b, at, out, at + 1, n - at - 1)
        out
      }
    }
    def merge(a: Array[(Double, Long, Int)], b: Array[(Double, Long, Int)]): Array[(Double, Long, Int)] = {
      val n = math.min(k, a.length + b.length)
      val out = new Array[(Double, Long, Int)](n)
      var i = 0; var j = 0; var m = 0
      while (m < n) {
        val takeA = j >= b.length ||
          (i < a.length && before(a(i)._1, a(i)._2, b(j)._1, b(j)._2))
        if (takeA) { out(m) = a(i); i += 1 } else { out(m) = b(j); j += 1 }
        m += 1
      }
      out
    }
    def finish(b: Array[(Double, Long, Int)]): Array[(Double, Long, Int)] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[(Double, Long, Int)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long, Int)]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[(Double, Long, Int)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long, Int)]]()
  }

  /** Docs → (source, doc_id, w, E-S key) — all codegen: w = token
    * count, h = 60-bit md5 prefix of the doc id, key =
    * floor(ln(u)·1e6)/w. SHARED by batch c40 and streaming d16 (their
    * oracle equivalence depends on byte-identical key derivation). */
  def weightedKeyed(
      docs: DataFrame): org.apache.spark.sql.Dataset[(String, Long, Int, Double)] = {
    import docs.sparkSession.implicits._
    docs.filter(col("text").isNotNull)
      .select(col("source"), col("doc_id").cast(LongType).as("doc_id"),
        size(split(col("text"), " ")).as("w"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast(LongType).as("h"))
      .select(col("source"), col("doc_id"), col("w"),
        (floor(log((col("h").cast("double") + lit(0.5)) / lit(TwoPow60)) * lit(1e6))
          .cast("double") / col("w")).as("key"))
      .as[(String, Long, Int, Double)]
  }

  /** Keyed rows → the per-source bounded-heap top-k sample. Shared by
    * batch c40 and streaming d16 (top-k of a deterministic key is a
    * fold closed under merge — order-independent, so the stream's
    * sample after any prefix equals the batch sample of rows seen). */
  def sampleBySource(
      keyed: org.apache.spark.sql.Dataset[(String, Long, Int, Double)],
      k: Int = WeightedSampleK): DataFrame = {
    import keyed.sparkSession.implicits._
    val agg = new TopKByKeyAgg(k)
    keyed
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3, t._4))
      .agg(agg.toColumn.name("top"))
      .flatMap { case (src, top) =>
        top.iterator.zipWithIndex.map { case ((_, id, w), i) => (src, i + 1, id, w) }
      }
      .toDF("source", "smp_rank", "doc_id", "n_tokens")
  }

  /** c40 query: per-source token-weighted sample of k docs. */
  def weightedSample(docs: DataFrame, k: Int = WeightedSampleK): DataFrame =
    sampleBySource(weightedKeyed(docs), k)

  // ---------------------------------------------------------------- c15
  /** Token budget per packed training chunk. */
  val PackBudget = 256

  /** Cap on c15's collected phase-1 subtotal table (one row per
    * (partition, distinct source) pair; range partitioning keeps it
    * ≈ sources + partitions). ~4M rows is a few hundred MB of driver
    * maps — far beyond any realistic source-label cardinality
    * (corpus sources are publishers/crawls/datasets, thousands at
    * most), yet low enough to fail loudly before a driver OOM. */
  val PackMaxSubtotalRows = 4000000L

  /** The ordered input to packing: one range shuffle on
    * (source, doc_id) — a huge source spans MANY partitions, each a
    * contiguous slice of its id order — sorted within partitions.
    * Shared by [[packChunks]]'s two passes (the partial-sum job and
    * the output job reuse the same shuffle files). */
  private[graft] def packRuns(
      docs: DataFrame): org.apache.spark.sql.Dataset[(Long, String, Int)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // n_tokens is NULLABLE at the operator's output: size(split(NULL,
    // ' ')) is NULL under Spark's default (non-legacy) sizeOfNull, and
    // a null-text doc must flow through as a NULL-metric row (the
    // foreign-corpus rule; the oracle's len(string_split(...))
    // NULL-propagates the same way). INTERNALLY the null rides as a -1
    // sentinel instead of Option[Int]: size() is ≥ 0 for any non-null
    // text, so the sentinel is unambiguous, and the Option decode
    // (Some + boxed Int per row across three passes over this dataset)
    // measured ~2x on c15's wall (same-session subset A/B, min-of-7:
    // 0.64 s sentinel vs 1.26 s Option). packChunks' final projection
    // restores the real NULLs.
    docs.select(col("doc_id").cast(LongType), col("source"),
        coalesce(size(split(col("text"), " ")), lit(-1)).as("n_tokens"))
      .as[(Long, String, Int)]
      .repartitionByRange(col("source"), col("doc_id"))
      .sortWithinPartitions("source", "doc_id")
  }

  /** c15: sequence packing — assign docs to fixed-token-budget training
    * chunks by running token offset in (source, doc_id) order,
    * independently within each source. A doc whose start offset falls
    * in bin b belongs to chunk (source, b).
    *
    * The cumulative sum is a DISTRIBUTED two-phase prefix-sum, not a
    * per-source window (`Window.partitionBy(source)` funnels each
    * source's entire cumsum through ONE task — with a handful of
    * sources that serializes a 100 TB corpus through a handful of
    * threads). Phase 1 range-partitions on (source, doc_id) — so a
    * large source spans many partitions — and computes each task's
    * per-source token subtotal: the collected table is
    * O(partitions + sources) rows, a few KB. Phase 2 broadcasts the
    * per-(partition, source) prefix offsets back and a narrow map emits
    * the exact running sum. Both passes reuse the one range shuffle
    * (same RDD lineage → the shuffle files are read twice, written
    * once). Output is identical to the single-window formulation —
    * the DuckDB oracle is unchanged.
    *
    * Note: CONSTRUCTING this DataFrame runs phase 1 eagerly (the range
    * sampling pass + the subtotal collect are inputs to the returned
    * plan) — unlike the other operators, the plan is not free to build.
    * Callers that only want to inspect the plan pay one pass over
    * (doc_id, source, n_tokens); the alternative (a window over a
    * (partition, source) subtotal table joined back) stays lazy but
    * adds a second full-data shuffle, the wrong trade for the run-it
    * path this operator serves. */
  def packChunks(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val runs = packRuns(docs).rdd
    // driver-size guard, BEFORE anything corpus-shaped is collected:
    // the subtotal table is O(Σ per-partition distinct sources).
    // `source` is a grouping label (publisher / crawl / dataset), not
    // a per-doc id — if a caller passes a near-unique column the table
    // becomes corpus-sized; refuse while the count is still the only
    // thing on the wire. Rows arrive sorted by (source, doc_id) within
    // each partition, so the count is transition-counting in O(1)
    // memory, and the extra job re-reads the same shuffle files.
    // each fold tracks `hasCur` explicitly so a NULL source is a
    // normal grouping key (a bare `cur != null` sentinel would drop a
    // leading null run — silently wrong offsets instead of an error)
    locally {
      val subtotalRows = runs.mapPartitions { it =>
        var n = 0L
        var cur: String = null
        var hasCur = false
        it.foreach { case (_, s, _) =>
          if (!hasCur || s != cur) { n += 1; cur = s; hasCur = true }
        }
        Iterator.single(n)
      }.collect().sum
      require(subtotalRows <= PackMaxSubtotalRows,
        s"packChunks phase-1 subtotal table would have $subtotalRows " +
          s"(partition, source) rows (cap $PackMaxSubtotalRows): the 'source' " +
          "column's cardinality is too high for per-source packing — it must " +
          "be a grouping label, not a per-document value. Pre-bucket sources " +
          "(e.g. hash into N groups) or pack per bucket.")
    }
    // phase 1: per-(partition, source) token subtotals (tiny). Sorted
    // input → each source is a contiguous run; transition-fold keeps
    // source order without a map.
    val partials: Array[Array[(String, Long)]] = runs.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var cur: String = null
      var hasCur = false
      var sum = 0L
      it.foreach { case (_, s, n) =>
        if (!hasCur || s != cur) {
          if (hasCur) out += ((cur, sum))
          cur = s; sum = 0L; hasCur = true
        }
        // a null-text doc (sentinel -1) contributes nothing to the
        // running total — the oracle's windowed SUM ignores its NULL
        // n_tokens the same way
        sum += math.max(n, 0)
      }
      if (hasCur) out += ((cur, sum))
      Iterator.single(out.toArray)
    }.collect()
    // prefix offsets: tokens of the same source in EARLIER partitions
    val offsets: Array[Map[String, Long]] = partials
      .scanLeft(Map.empty[String, Long]) { (acc, part) =>
        part.foldLeft(acc) { case (m, (s, n)) => m.updated(s, m.getOrElse(s, 0L) + n) }
      }.init
    val bc = spark.sparkContext.broadcast(offsets)
    // phase 2: narrow map — running sum seeded with the prefix offset
    runs.mapPartitionsWithIndex { (pi, it) =>
      val off = bc.value(pi)
      var cur: String = null
      var hasCur = false
      var cum = 0L
      it.map { case (id, s, n) =>
        if (!hasCur || s != cur) { cur = s; hasCur = true; cum = off.getOrElse(s, 0L) }
        if (n >= 0) {
          val start = cum
          cum += n
          val bin = start / PackBudget // ints ≥ 0: integer division = floor
          (id, s, n, bin, start - bin * PackBudget)
        } else {
          // null-text doc (sentinel): NULL n_tokens/bin/offset in the
          // output, running sum unmoved — exactly the oracle's
          // cum - n_tokens on a NULL. Sentinels stay -1 here and
          // become real NULLs in the projection below.
          (id, s, n, -1L, -1L)
        }
      }
    }.toDF("doc_id", "source", "n_tokens_s", "bin_s", "offset_s")
      // restore the NULLs the -1 sentinels stand for (one flag decides
      // all three: bin/offset are NULL exactly when n_tokens is)
      .select(col("doc_id"), col("source"),
        when(col("n_tokens_s") >= 0, col("n_tokens_s")).as("n_tokens"),
        when(col("n_tokens_s") >= 0, col("bin_s")).as("bin"),
        when(col("n_tokens_s") >= 0, col("offset_s")).as("offset"))
  }

  // ---------------------------------------------------------------- c16
  /** c16: the composed corpus-quality gate — exact-dup canonicalization
    * plus the c7 quality metrics folded into one keep/drop decision
    * with a first-failing-rule reason. One shuffle total: the
    * canonical-copy rule is a window min over md5(text) (no groupBy +
    * re-join). Rules, in order: duplicate → too_short (<15 tokens) →
    * punctuation (ratio >0.10) → token_len (mean outside [2,10]). */
  def corpusFilter(docs: DataFrame): DataFrame =
    gateDecision(gateMetrics(docs)
      .withColumn("keep_id", min("doc_id").over(Window.partitionBy("h"))))

  /** Per-doc gate inputs: token count, c7's quality ratios, and the
    * content hash. Shared by the batch gate (c16) and the streaming
    * gate (d7) so the two paths cannot drift. Narrow map — safe on a
    * streaming DataFrame. */
  private[graft] def gateMetrics(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val nChars = length(col("text"))
    val nPunct = nChars - length(regexp_replace(col("text"), "\\p{Punct}", ""))
    val tokLenSum = aggregate(transform(t, x => length(x)), lit(0), (a, x) => a + x)
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      // zero guard: an empty document would raise DIVIDE_BY_ZERO under
      // ANSI mode (and a null would break d7's primitive-Double state
      // encoder); 0.0 keeps the rule chain sane — split("") is [""] so
      // n_tokens is 1 and the doc still lands in too_short
      when(nChars === 0, lit(0.0))
        .otherwise(round(nPunct.cast("double") / nChars, 6)).as("punct_ratio"),
      round(tokLenSum.cast("double") / size(t), 6).as("mean_token_len"),
      md5(col("text")).as("h"))
  }

  /** The rule chain over gate metrics + a resolved `keep_id` column
    * (first-failing-rule reason; c16's contract). */
  private[graft] def gateDecision(m: DataFrame): DataFrame =
    m.withColumn("reason",
        when(col("doc_id") =!= col("keep_id"), "duplicate")
          .when(col("n_tokens") < 15, "too_short")
          .when(col("punct_ratio") > 0.10, "punctuation")
          .when(col("mean_token_len") < 2.0 || col("mean_token_len") > 10.0, "token_len")
          .otherwise("keep"))
      .select(
        col("doc_id"), col("n_tokens"),
        (col("reason") === "keep").cast(IntegerType).as("kept"),
        col("reason"))

  // ---------------------------------------------------------------- c18
  /** c18: corpus statistics — per-source token-count distribution
    * (count, min/max, mean, exact p50/p90 interpolated percentiles,
    * total chars): the data-characterization step before training.
    *
    * The percentiles are EXACT yet no reducer ever buffers a source's
    * raw values (Spark's `percentile` aggregate would gather every
    * group value into one aggregation buffer — an OOM, not just a
    * slowdown, when a source spans terabytes). Token counts are small
    * bounded ints, so the scan pre-aggregates to a (source, n_tok)
    * value HISTOGRAM — one partially-aggregated shuffle whose reduce
    * side is a few thousand rows regardless of corpus size — a tiny
    * per-source window turns counts into cumulative ranks, and the
    * percentile is interpolated from the two histogram rows bracketing
    * rank r = p·(n−1) with the same (⌈r⌉−r)·v_lo + (r−⌊r⌋)·v_hi
    * formula Spark's `percentile` and DuckDB's `quantile_cont`
    * evaluate — bit-identical output, scale-safe plan. */
  def corpusStats(docs: DataFrame): DataFrame = {
    val t = docs.select(
      col("source"),
      size(split(col("text"), " ")).as("n_tok"),
      length(col("text")).as("n_chars"))
    // the value histogram is the ONLY pass over raw rows. Null-text
    // docs form a NULL n_tok bucket: the oracle's count(*) INCLUDES
    // them while min/max/avg/quantile_cont/sum IGNORE NULLs — so
    // n_docs counts every bucket but all value machinery (means,
    // ranks, cumulative counts) runs over the non-null buckets only.
    val hist = t.groupBy("source", "n_tok").agg(
      count(lit(1)).as("cnt"),
      sum(col("n_chars").cast(LongType)).as("chars"))
    val vCnt = when(col("n_tok").isNotNull, col("cnt"))
    // cumulative ranks per source over DISTINCT token values: the
    // window input is the bounded histogram, never the corpus. ASC
    // puts the NULL bucket first, and vCnt keeps it out of every rank.
    val cum = sum(vCnt).over(Window.partitionBy("source").orderBy("n_tok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val n = sum(vCnt).over(Window.partitionBy("source"))
    val h = hist.withColumn("cum", cum).withColumn("n", n)
    // the value at 0-based rank r lives on the unique histogram row
    // with cum − cnt ≤ r < cum (conditional max finds it; the NULL
    // bucket's n_tok contributes nothing)
    def valueAt(rank: Column): Column =
      max(when(col("cum") - col("cnt") <= rank && rank < col("cum"), col("n_tok")))
    def rank(p: Double): Column = lit(p) * (col("n") - 1).cast("double")
    val agg = h.groupBy("source").agg(
      sum("cnt").as("n_docs"),
      sum(vCnt).as("n_vals"),
      min("n_tok").as("min_tokens"),
      max("n_tok").as("max_tokens"),
      // sum(v·cnt)/n_vals over exact integer sums ≡ avg over raw
      // non-null rows (all partial double sums are exact integers far
      // below 2^53); NULL/NULL = NULL for an all-null source, = avg()
      round(sum(col("n_tok").cast(LongType) * col("cnt")) / sum(vCnt), 6)
        .as("mean_tokens"),
      valueAt(floor(rank(0.5))).as("p50_lo"), valueAt(ceil(rank(0.5))).as("p50_hi"),
      valueAt(floor(rank(0.9))).as("p90_lo"), valueAt(ceil(rank(0.9))).as("p90_hi"),
      sum("chars").as("total_chars"))
    def interp(p: Double, lo: Column, hi: Column): Column = {
      // quantile_cont's rank base is the NON-NULL value count
      val r = lit(p) * (col("n_vals") - 1).cast("double")
      when(floor(r) === ceil(r), lo.cast("double"))
        .otherwise((ceil(r) - r) * lo + (r - floor(r)) * hi)
    }
    agg.select(col("source"), col("n_docs"), col("min_tokens"),
      col("max_tokens"), col("mean_tokens"),
      interp(0.5, col("p50_lo"), col("p50_hi")).as("p50_tokens"),
      interp(0.9, col("p90_lo"), col("p90_hi")).as("p90_tokens"),
      col("total_chars"))
  }

  // ---------------------------------------------------------------- c17
  /** Shingle width for contamination checking. */
  val ContamShingle = 5
  /** Docs below this id form the held-out "benchmark" set. */
  val EvalIdBound = 20L

  /** Distinct `ContamShingle`-token shingles of `text` (empty when the
    * doc is shorter than one shingle). Kept as strings here: hashing
    * happens AFTER the explode, in a codegen'd projection.
    *
    * Round-14 form: the single-pass native expression
    * [[graft.functions.DistinctShingles]] — value-identical to the
    * declarative split → sequence → transform(slice → concat_ws " ") →
    * array_distinct chain (that chain's HOF lambdas run INTERPRETED
    * per element and dominated the c39 profile: 1.7 s of 3.2 s at
    * sf0.1, shared with c17/c39/d14). The exactness contract lives in
    * TextShingleFunctions' scaladoc; ShingleExprSpec pins the two
    * formulations equal on the hostile shapes (consecutive/leading/
    * trailing spaces, empty, null, <k tokens, duplicates). */
  private[graft] def shingles: org.apache.spark.sql.Column =
    graft.functions.TextShingleFunctions.textShingles(col("text"), ContamShingle)

  /** Exploded shingle hashes: one (doc_id, xxhash64(shingle)) row per
    * distinct shingle. The join/broadcast carry 8-byte longs, not
    * ~40-byte strings — a 5× smaller exploded dataset at corpus scale.
    * Collisions conflate two shingles with probability ~n²/2⁶⁴ over n
    * distinct eval shingles (≈10⁻⁹ even at a billion) and can only
    * overcount n_shared, never miss a contamination. */
  private def explodedHashes(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), explode_outer(col("sh")).as("gs"))
      // xxhash64(null) is the SEED (42), not null — drop the outer
      // rows before hashing or two shingle-less docs would "match"
      .where(col("gs").isNotNull)
      .select(col("doc_id"), xxhash64(col("gs")).as("g"))

  /** c17: benchmark-contamination check — for every corpus doc, the
    * number of distinct word shingles it shares with the held-out eval
    * set (docs with id < [[EvalIdBound]]). Explode + equi-join on the
    * shingle HASH: the eval side is tiny (it is a benchmark), so the
    * planner broadcasts it and the corpus side never shuffles — at
    * 100 TB this stays a scan + broadcast-hash-join. The DuckDB oracle
    * joins the raw shingle strings; a hash match therefore also
    * certifies the hashed formulation collision-free on the test
    * corpora. Output has one row per corpus doc (0 = clean) so
    * downstream can anti-select. */
  def contamination(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), shingles.as("sh"))
    // explode_outer, not explode: plain explode makes the optimizer
    // infer a `size(sh) > 0 AND isnotnull(sh)` pre-filter that
    // re-evaluates the whole shingle expression extra times in the
    // scan stage (no CSE across Filter/Project); outer emits a null
    // shingle instead, dropped by the cheap post-explode filter
    val evalShingles = explodedHashes(sh.filter(col("doc_id") < EvalIdBound))
      .select("g").distinct()
    val corpus = sh.filter(col("doc_id") >= EvalIdBound)
    val hits = explodedHashes(corpus)
      .join(evalShingles, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).cast(IntegerType).as("contaminated"))
  }

  // ---------------------------------------------------------------- c29
  /** Cosine threshold above which a corpus embedding counts as a
    * semantic duplicate of an eval item. Shared with the SQL oracle. */
  val EmbedContamMin = 0.3

  /** c29: embedding-space decontamination — the SEMANTIC complement of
    * c17's lexical check. For every corpus embedding (id ≥
    * [[EvalIdBound]]), the maximum cosine against the held-out eval
    * set and the nearest eval item (min-id on ties), flagged at
    * [[EmbedContamMin]]. Catches paraphrased/translated benchmark
    * leakage that shares no 5-gram with the original.
    *
    * Scale shape: the eval set is bounded by contract (it is a
    * benchmark), so it rides a broadcast into a compiled typed kernel
    * that keeps the per-row argmax LOCAL — one narrow map over the
    * embeddings scan, no N×E explode, no shuffle at all (the c5/c26
    * shared cosine arithmetic: double dot over float inputs,
    * floor(x·1e6+0.5)/1e6 — exactly DuckDB's
    * list_cosine_similarity-over-DOUBLE[] + the shared rounding). The
    * oracle formulation is the N×E window argmax; the hash match
    * certifies the kernel against it. */
  def embedContamination(spark: SparkSession, embeddings: DataFrame): DataFrame = {
    import spark.implicits._
    val eval = collectEvalSet(spark, embeddings)
    contamScore(
      embeddings.filter(col("vec_id") >= EvalIdBound)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])],
      eval)
  }

  /** The frozen eval set: a bounded driver-side collect by contract
    * (it is a benchmark). Shared by batch c29 and streaming d9. */
  private[graft] def collectEvalSet(
      spark: SparkSession, embeddings: DataFrame): Array[(Long, Array[Float])] = {
    import spark.implicits._
    val eval = embeddings.filter(col("vec_id") < EvalIdBound)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    require(eval.nonEmpty, s"no eval embeddings below id $EvalIdBound")
    eval
  }

  /** The scoring kernel behind c29 (batch) and d9 (streaming): eval
    * rides a broadcast into a typed local argmax — works unchanged on
    * a streaming Dataset because it is stateless and narrow. */
  private[graft] def contamScore(
      corpus: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      eval: Array[(Long, Array[Float])]): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(eval)
    corpus
      .mapPartitions { it =>
        val ev = bc.value
        // eval norms once per task, not once per (corpus row × eval
        // item) — the inner loop then does one dot per pair
        val evNorm = ev.map { case (_, evec) => math.sqrt(dot(evec, evec)) }
        it.map { case (id, v) =>
          val nv = math.sqrt(dot(v, v))
          var bestCos = Double.NegativeInfinity
          var bestId = -1L
          var i = 0
          while (i < ev.length) {
            val (eid, evec) = ev(i)
            val c = dot(v, evec) / (nv * evNorm(i))
            val cr = math.floor(c * 1e6 + 0.5) / 1e6
            // strict >: ev is id-sorted, so the FIRST maximum (min id)
            // wins ties, mirroring the oracle's (cos DESC, eval_id) rank
            if (cr > bestCos) { bestCos = cr; bestId = eid }
            i += 1
          }
          (id, bestCos, bestId)
        }
      }
      .toDF("vec_id", "max_cos", "nearest_eval_id")
      .withColumn("contaminated",
        (col("max_cos") >= lit(EmbedContamMin)).cast(IntegerType))
  }

  // ---------------------------------------------------------------- c30
  /** Docs per training shard. */
  val ShardSize = 64L

  /** c30: training-order shuffle + sharding — the final stage before
    * the trainer: a deterministic global shuffle (decorrelates the
    * crawl/source order) and assignment into fixed-size shards. Order
    * key is md5 of the doc id, so the permutation is reproducible
    * across runs and engines and re-running on a grown corpus only
    * interleaves NEW docs (old relative order is preserved).
    *
    * The exact global rank is computed WITHOUT a single-task global
    * window: the first two hex chars of the key split the corpus into
    * 256 order-contiguous buckets; per-bucket counts (an O(256)
    * aggregate) prefix-sum into bucket offsets on the driver, broadcast
    * back, and a per-bucket window supplies the within-bucket
    * row_number — 256-way parallel, one corpus shuffle (which IS the
    * training-order shuffle the op exists to perform). Same
    * distributed-prefix-sum shape as c15. The decomposition is
    * prefix-length-agnostic: on a 1000-executor cluster widen the
    * bucket prefix to 3-4 hex chars (4096/65536 order-contiguous
    * buckets) so window parallelism matches the cluster — the offset
    * table stays a trivial broadcast either way. The DuckDB oracle is
    * the straight global row_number; the hash match certifies the
    * bucket-offset decomposition equals it exactly. */
  def shuffleShard(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(
      col("doc_id"),
      md5(col("doc_id").cast("string")).as("h"))
      .withColumn("bucket", substring(col("h"), 1, 2))
    // O(256) rows: count per bucket -> exclusive prefix sum, driver-side
    // (a bounded plan-time collect, the c26 pattern), broadcast back
    val counts = keyed.groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val offDf = exclusiveOffsets(counts.toSeq).toDF("bucket", "boff")
    val byBucket = Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
    keyed.join(broadcast(offDf), "bucket")
      .withColumn("rank",
        col("boff") + row_number().over(byBucket).cast(LongType) - lit(1L))
      .select(
        col("doc_id"),
        col("rank"),
        // floor of an exact power-of-two division, NOT a double->int
        // cast (DuckDB rounds on that cast, Spark truncates)
        floor(col("rank") / lit(ShardSize)).cast(IntegerType).as("shard"),
        (col("rank") % lit(ShardSize)).cast(IntegerType).as("shard_pos"))
  }

  // ---------------------------------------------------------------- c31
  /** Tokens per boilerplate segment (the "line" unit of CCNet-style
    * line dedup, re-expressed over the corpus' space-separated text). */
  val SegTok = 3
  /** A segment appearing in at least this many DISTINCT docs is
    * boilerplate. */
  val BoilMinDocs = 2

  private val M61 = (1L << 61) - 1
  private val SegB1 = 1000003L
  private val SegB2 = 998244353L

  /** Compiled two-lane segment hashes: one (lane1, lane2, seglen) per
    * consecutive [[SegTok]]-token segment (trailing remainder its own
    * shorter segment). Char-wise polynomial over the segment's joined
    * text in two Mersenne-61 lanes — 122 key bits, identity up to a
    * ~2⁻¹²² collision (c24's argument: tokens cannot contain the
    * separator, so joined-text equality IS token-sequence equality).
    * A kernel, not a `transform` lambda: concat/hash work inside SQL
    * higher-order functions runs INTERPRETED per element — the exact
    * regression c24/c25 already fixed (measured here too: 18.9 s →
    * kernel at sf1). */
  private[graft] def segmentHashes(toks: Array[String]): Array[(Long, Long, Int)] = {
    val nseg = (toks.length + SegTok - 1) / SegTok
    val out = new Array[(Long, Long, Int)](nseg)
    var s = 0
    while (s < nseg) {
      val start = s * SegTok
      val end = math.min(start + SegTok, toks.length)
      var h1 = 1L
      var h2 = 1L
      var i = start
      while (i < end) {
        var j = -1 // -1 emits the joining space before non-first tokens
        if (i == start) j = 0
        while (j < toks(i).length) {
          val c = if (j < 0) ' ' else toks(i).charAt(j)
          h1 = Dedup.mulModM61(h1, SegB1) + c; if (h1 >= M61) h1 -= M61
          h2 = Dedup.mulModM61(h2, SegB2) + c; if (h2 >= M61) h2 -= M61
          j += 1
        }
        i += 1
      }
      out(s) = (h1, h2, end - start)
      s += 1
    }
    out
  }

  /** c31: boilerplate removal — CCNet-style frequency dedup at segment
    * granularity. The text splits into consecutive [[SegTok]]-token
    * segments (trailing remainder is its own shorter segment); a
    * segment whose text occurs in ≥ [[BoilMinDocs]] distinct docs — at
    * ANY position, position-free like CCNet's line hash — is
    * boilerplate and is dropped from the doc's kept-token budget.
    * Distinct from c24 (window-level span FLAGGING with both holders
    * marked) and c21 (WITHIN-doc repetition): this is the cross-doc
    * frequency REMOVAL rule a crawl pipeline runs to strip headers,
    * footers and navigation chrome.
    *
    * Scale shape: segmentation is the compiled [[segmentHashes]]
    * kernel (O(tokens/SegTok) rows, 16-byte two-lane keys — segment
    * text never shuffles); with [[BoilMinDocs]] = 2, "occurs in ≥ 2
    * distinct docs" is exactly `max(doc_id) ≠ min(doc_id)` over the
    * key, so the dup test is a key-window — ONE shuffle, no frequency
    * table, no join-back rescan (c24's shape; a higher threshold
    * would swap the window for a countDistinct + join). Null-text
    * docs re-enter through the trailing left join with NULL metrics
    * (c21 pattern). */
  def boilerplate(docs: DataFrame): DataFrame = {
    // the key-window dup test below encodes "≥ 2 distinct docs" as
    // min != max — raising the threshold needs a countDistinct + join
    require(BoilMinDocs == 2, s"boilerplate(): min/max window encodes exactly 2, got $BoilMinDocs")
    val spark = docs.sparkSession
    import spark.implicits._
    val seg = docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast(LongType), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        segmentHashes(text.split(" ", -1)).map { case (h1, h2, len) => (id, h1, h2, len) }
      }
      .toDF("doc_id", "h1", "h2", "seglen")
    val byKey = Window.partitionBy("h1", "h2")
    val perDoc = seg
      .withColumn("boiler",
        (min("doc_id").over(byKey) =!= max("doc_id").over(byKey)).cast(IntegerType))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast(IntegerType).as("n_segments"),
        sum("boiler").cast(IntegerType).as("n_boiler_segments"),
        sum(when(col("boiler") === 1, 0).otherwise(col("seglen")))
          .cast(LongType).as("tokens_kept"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
  }

  // ---------------------------------------------------------------- c32
  /** c32 token budget: keep the best-scoring docs until the selected
    * set's cumulative token count reaches this. Splits sf0.01 (~27k
    * total tokens) roughly in half. Shared with the SQL oracle. */
  val TokenBudget = 12000L

  /** Rows a single score bucket may hold before it is sub-split for
    * the within-bucket window (c32). 2^20 keeps any one window
    * partition ~1M rows while the (bucket, sub) offset table stays a
    * bounded collect: only FAT buckets sub-split, and the corpus can
    * hold at most corpus/SubRange of those sub rows in total. */
  val SubRange = 1L << 20

  /** Exclusive prefix sums of `counts` in the given order — the
    * driver-side half of the c30/c32 bucket-offset decomposition. */
  private[graft] def exclusiveOffsets[K](counts: Seq[(K, Long)]): Seq[(K, Long)] =
    counts.map(_._1).zip(
      counts.scanLeft(0L) { case (acc, (_, n)) => acc + n })

  /** c32: quality-ordered budget selection — the data-mixing step that
    * picks the best documents until a token budget is exhausted: order
    * by (quality DESC, doc_id), keep while the inclusive cumulative
    * token count stays ≤ [[TokenBudget]]. Quality here is the
    * stopword ratio in 1e-4 units (a stand-in for any per-doc score —
    * c27's NLL or a c33 classifier margin slot in unchanged).
    *
    * Scale shape: NO global sort, and no skew trap either. The score
    * quantizes to ≤ 10⁴+1 integer buckets whose (count, token-sum)
    * aggregate is a bounded collect — but UNLIKE c30's uniform
    * md5-prefix buckets, score buckets are data-dependent: a corpus
    * where one score dominates would funnel that bucket's window
    * through one task. So buckets fatter than [[SubRange]] rows
    * sub-split by doc_id range ([[SubRange]]-wide, order-contiguous
    * because doc_id is the tie ordering), the driver prefix-sums
    * token offsets over (score DESC, sub ASC) — the sub rows stay
    * bounded at corpus/SubRange because only fat buckets split — and
    * the window partitions by (bucket, sub): every partition ≲
    * SubRange rows whatever the score distribution. The oracle is the
    * straight global ordered window; the hash match certifies the
    * two-level decomposition equals it. */
  def budgetSelect(docs: DataFrame, budget: Long = TokenBudget,
      subRange: Long = SubRange): DataFrame = {
    // Scoring kernel, COMPILED and computed ONCE: the round-8 form
    // expressed the score as size(filter(tokens, isin(markers))) —
    // a higher-order lambda that evaluates INTERPRETED per token (the
    // c21/c24 lesson) — and recomputed that projection's lineage in
    // all three downstream jobs (bucket pass, combo pass, final
    // window): the sf1 profile showed 3× the tokenise cost and 2.7 s
    // vs DuckDB's 0.145. One typed pass + a persisted 16-byte-row
    // projection leaves each later job an aggregate of cached ints.
    val m = budgetScoreRows(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // eager checkpoint of the NARROW ranked rows (5 numeric cols)
      // while the cache is live — the Dedup c2/c3 pattern — so the
      // unpersist below can never force the final window job back
      // through the tokenizer. No trailing pad join: the kernel keeps
      // null-text docs as sentinel rows (the r10 form re-scanned the
      // corpus and ran a corpus-sized doc_id join just to re-attach
      // them — a full extra scan at 100 TB and ~5 of the 12 measured
      // sf0.1 AQE job floors).
      budgetRanked(m, budget, subRange).localCheckpoint(true)
    } finally m.unpersist(blocking = false)
  }

  /** The c32 scoring kernel: (doc_id, score_tenk, n_tokens), one
    * compiled pass over the text. Null-text docs stay in the stream as
    * (-1, -1) sentinel rows (they must surface in the result with NULL
    * metrics, and carrying them here is what lets [[budgetSelect]] run
    * on ONE corpus scan with no pad join). */
  private[graft] def budgetScoreRows(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val markers = TextAnalysis.markers("en").toSet
    docs
      .select(col("doc_id").cast(LongType), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        if (text == null) (id, -1, -1)
        else {
          val w = text.split(" ", -1)
          var hits = 0
          var i = 0
          while (i < w.length) {
            if (markers.contains(w(i))) hits += 1
            i += 1
          }
          // floor(1e4·hits/nTok + 0.5): the identical IEEE double ops as
          // the SQL oracle (integer inputs, one division, one floor)
          val score = math.floor(1e4 * hits.toDouble / w.length.toDouble + 0.5).toInt
          (id, score, w.length)
        }
      }
      .toDF("doc_id", "score_tenk", "n_tokens")
  }

  /** The lazy two-level ranking over a (persisted) score table —
    * separate from [[budgetSelect]] so PlanSpec can pin its shape
    * (the eager checkpoint hides the plan from the public query). */
  private[graft] def budgetRanked(
      m: DataFrame, budget: Long, subRange: Long): DataFrame = {
    val spark = m.sparkSession
    import spark.implicits._
    // null-text sentinel rows bypass the ranking and re-enter as the
    // NULL-metric arm of the trailing union
    val scored = m.filter(col("score_tenk") >= 0)
    // pass 1 — bounded: one row per distinct quantized score (≤ 10001),
    // carrying count AND token sum so the no-fat-bucket common path
    // needs no second aggregation job
    val bucketRows = scored.groupBy("score_tenk")
      .agg(count(lit(1)).as("cnt"), sum("n_tokens").as("toks"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val fatScores = bucketRows.filter(_._2 > subRange).map(_._1).toSet
    val withSub = scored.withColumn("sub",
      if (fatScores.isEmpty) lit(0L)
      else when(col("score_tenk").isin(fatScores.toSeq: _*),
        floor(col("doc_id") / lit(subRange)).cast(LongType))
        .otherwise(lit(0L)))
    // pass 2 runs ONLY when a bucket actually sub-splits — (bucket,
    // sub) token sums stay ≤ 10001 + corpus/subRange rows; otherwise
    // pass 1's (score, toks) rows ARE the combos (sub ≡ 0)
    val combos = (if (fatScores.isEmpty)
        bucketRows.map { case (s, _, toks) => (s, 0L) -> toks }
      else withSub.groupBy("score_tenk", "sub")
        .agg(sum("n_tokens").as("toks"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)))
      .sortBy { case ((s, sub), _) => (-s, sub) }
    val offDf = exclusiveOffsets(combos.toSeq)
      .map { case ((s, sub), off) => (s, sub, off) }
      .toDF("score_tenk", "sub", "boff")
    val inBucket = Window.partitionBy("score_tenk", "sub").orderBy("doc_id")
    withSub.join(broadcast(offDf), Seq("score_tenk", "sub"))
      .withColumn("cum_tokens",
        (col("boff") + sum("n_tokens").over(inBucket)).cast(LongType))
      .withColumn("selected",
        (col("cum_tokens") <= lit(budget)).cast(IntegerType))
      .select("doc_id", "score_tenk", "n_tokens", "cum_tokens", "selected")
      .unionByName(m.filter(col("score_tenk") < 0).select(
        col("doc_id"),
        lit(null).cast(IntegerType).as("score_tenk"),
        lit(null).cast(IntegerType).as("n_tokens"),
        lit(null).cast(LongType).as("cum_tokens"),
        lit(null).cast(IntegerType).as("selected")))
  }

  // ---------------------------------------------------------------- c22
  /** Domain-mixture weights: relative target proportions per source,
    * derived from the trailing digits of the source label (src7 →
    * 7 % 4 + 1 = 4 shares). A pure function of the label so the SQL
    * oracle applies the identical rule; a production pipeline swaps
    * in a real weight table without touching the plumbing. */
  def mixWeight(source: Column): Column =
    (substring(source, 4, 18).cast(IntegerType) % 4 + 1).cast(IntegerType)
  val MixWeightSql = "CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS INT)"

  /** c22: weighted domain-mixture sampling — downsample each source so
    * the SAMPLED corpus hits target token proportions. The binding
    * constraint is the scarcest source relative to its weight: the
    * feasible scale is K = min_s(tokens_s / w_s), each source's token
    * target is w_s·K, and its keep-rate is w_s·K / tokens_s (exactly
    * 1 for the binding source — no source is ever oversampled, which
    * would need duplication). Docs are kept by a deterministic md5
    * threshold (first 8 hex chars vs the rate scaled to 2^32), so the
    * sample is reproducible and stable under corpus growth, like c13.
    *
    * Scale shape: one groupBy over the (tiny) source cardinality, a
    * window over that stats table (sources rows, not corpus rows),
    * then a broadcast join + narrow filter over the corpus — the
    * corpus itself never shuffles. At 100 TB this is a scan. */
  def domainMix(docs: DataFrame): DataFrame = {
    // per-source token totals + weights: O(sources) rows
    val stats = docs
      .select(col("source"), size(split(col("text"), " ")).as("nt"))
      .groupBy("source").agg(sum("nt").cast(LongType).as("tokens"))
      .withColumn("w", mixWeight(col("source")))
    // K over the full stats table: an unpartitioned window over
    // O(sources) rows, NOT corpus rows — the single-task stage is a
    // few KB. Arithmetic mirrors the oracle token-for-token, with
    // EXPLICIT double casts (a bare 1.0 literal is DECIMAL to DuckDB),
    // so the IEEE doubles agree bit-exactly across engines.
    val k = min(col("tokens").cast(DoubleType) / col("w"))
      .over(Window.partitionBy())
    val scaled = floor(col("w") * col("kk") / col("tokens") * lit(4294967296.0))
      .cast(LongType)
    val rates = stats.withColumn("kk", k)
      .select(
        col("source"),
        round(col("w") * col("kk") / col("tokens"), 6).as("rate"),
        when(scaled >= 4294967296L, lit("zzzzzzzz"))
          .otherwise(format_string("%08x", scaled)).as("thr"))
    docs
      .join(broadcast(rates), "source")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 8) < col("thr"))
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("n_tokens"), col("rate"))
  }
}
