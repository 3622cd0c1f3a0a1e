package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical language-model scoring over the corpus — the two
  * model-based selection stages a large-scale training-data pipeline
  * runs after the rule-based gates (c16) and dedup (c19/c20):
  *
  *  - c27 [[ngramLm]]: CCNet-style fluency scoring — train a bigram LM
  *    on the corpus itself, score every document by its mean per-token
  *    negative log-likelihood, flag the statistical outliers (boilerplate
  *    and keyword-stuffed text scores LOW, incoherent token soup scores
  *    HIGH — both tails are quality signals).
  *  - c28 [[dsirWeight]]: DSIR-style importance weighting (Xie et al.
  *    2023, "Data Selection for Language Models via Importance
  *    Resampling") — train unigram LMs on a target slice and on the full
  *    corpus, score every document by its total log likelihood-ratio
  *    log p_target(doc) - log p_raw(doc), and keep docs that look more
  *    like the target domain than the background.
  *
  * Scale design (both operators, r13 form): the corpus TEXT is scanned
  * twice through a compiled typed kernel that emits narrow OCCURRENCE
  * rows with two-lane hashed gram keys (no string survives the kernel;
  * see LmScore.TokenLanes) — once for the model build, whose map-side
  * partial aggregation compresses straight to O(distinct grams) rows
  * before any shuffle, and once for the scoring probe (a third,
  * doc_id-pruned pass feeds the trailing all-docs join-back — column
  * pruning keeps it off the text bytes). The corpus-sized stream itself
  * NEVER shuffles: the model tables join back by gram key (AQE
  * broadcasts them when they fit, shuffle-joins otherwise), context
  * totals fold onto the model as window sums, and the per-doc report
  * aggregates with map-side combine. (The r12 per-(doc, gram)
  * pre-aggregation shuffled the whole occurrence stream 11 longs wide
  * for a dedup that rarely dedups on natural text — ~1 GB at sf1;
  * removing it took c42 from 4.6 s to 2.4 s there, hash unchanged.)
  *
  * Oracle-parity arithmetic (same discipline as Retrieval/c25): every
  * count is an exact integer, each transcendental (one `ln` per distinct
  * gram, over the model tables only) is quantized to 1e-4 immediately,
  * per-doc scores are integer sums of quantized units (order-independent
  * across partitions and engines), and the single trailing division is
  * IEEE-identical everywhere. c28's `keep` compares the integer sum
  * against zero (boundary-proof); c27's `high_nll` compares the
  * division result, which is still exact parity because both engines
  * compute the identical double and the rational mean (denominator
  * n·1e4) can never equal the threshold literal exactly.
  */
object LmScore {
  /** c27 flag threshold: mean per-token NLL above this marks a doc as a
    * statistical outlier vs the corpus LM. Sits just above the synthetic
    * corpus' mean (~3.39 at sf0.01, vocab ~30 ⇒ NLL ≈ ln V), so the flag
    * genuinely splits the corpus. Shared with the SQL oracle. */
  val NllFlagMax = 3.4

  /** c45 perplexity quantization: mean NLL in 1e-2-nat "centinat"
    * units — the bucket resolution the head/middle/tail thresholds are
    * computed over. Coarse enough that percentile ties are stable,
    * fine enough that the thirds land within 1% NLL of the exact
    * order statistic. Shared with the SQL oracle. */
  val PplQScale = 100.0

  /** Loud bound on c45's per-(lang, centinat) histogram collect: langs
    * are an enum and quantized NLL is a few thousand values, so the
    * histogram is O(10⁴) rows by construction — crossing this means
    * the input is not what the op contracts for (e.g. a free-text
    * "lang" column), and silently collecting it would be the driver
    * OOM class every other bounded collect in this file guards. */
  val PplHistMaxRows = 2000000

  /** c28 target slice: the sources whose distribution the importance
    * weights steer toward. Shared with the SQL oracle. */
  val DsirTargetSources: Seq[String] = Seq("src0", "src1")
  def dsirTargetSqlList: String = DsirTargetSources.map(s => s"'$s'").mkString(", ")

  /** Bigram OCCURRENCE rows with two-lane hashed keys — the c42
    * kernel one order shallower (see [[trigramRows]] for the key
    * mechanism and the occurrence-over-pre-aggregation rationale):
    * the bigram key (ga/gb), its w1 context (ca/cb = the token lanes),
    * and the w2 unigram lanes (ua/ub) for the vocab count. No string
    * column survives the kernel and the corpus-sized stream never
    * shuffles (model build map-side-combines to O(model); scoring
    * joins the model back onto this stream). Null text emits nothing
    * (the doc re-enters through the trailing left join with NULL
    * metrics, like c21). */
  private[graft] def bigramRows(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast(LongType), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          val tl = new TokenLanes(text.split(" ", -1))
          if (tl.n < 2) Iterator.empty
          else (0 until tl.n - 1).iterator.map { i =>
            (id, tl.app1(tl.h1(i), i + 1), tl.app2(tl.h2(i), i + 1),
              tl.h1(i), tl.h2(i), tl.h1(i + 1), tl.h2(i + 1))
          }
        }
      }
      .toDF("doc_id", "ga", "gb", "ca", "cb", "ua", "ub")
  }

  /** The 1e-4-quantized negative log-likelihood of an add-one-smoothed
    * event: floor(ln((denom) / (num+1)) * 1e4 + 0.5) as integer
    * "tenk" units. `denom`/`num` are exact-integer columns, so the one
    * transcendental runs over model-table rows only. */
  private def nllTenk(num: org.apache.spark.sql.Column,
      denom: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(log(denom.cast(DoubleType) / (num + lit(1.0))) * 1e4 + lit(0.5))
      .cast(LongType)

  /** Size gate for the c27/c28 staging persist: inputs whose
    * Catalyst-estimated size sits below this take the lazy recompute
    * path (re-tokenizing a sub-MB corpus is cheaper than materializing
    * and checkpointing the kernel rows — the r10 bench measured the
    * unconditional persist costing sf0.1 0.70 → 1.31 s); above it the
    * kernel rows persist once and feed every branch (the shape a
    * 100 TB run needs, measured at sf1 and the 100× probe). The
    * estimate is the logical plan's `stats.sizeInBytes` — file bytes
    * for a scan, no extra Spark job either way. */
  val StagingMinBytes: Long = 2L << 20

  private[graft] def belowStagingGate(docs: DataFrame): Boolean =
    docs.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(StagingMinBytes)

  /** c27: bigram-LM perplexity scoring. P(w2|w1) = (c(w1,w2)+1) /
    * (c(w1·)+V) with add-one smoothing over the prediction vocabulary
    * V = |distinct w2|; a doc's score is the mean NLL over its bigram
    * transitions. Docs with no bigrams (null or single-token text)
    * carry NULL metrics.
    *
    * CONTRACT: above [[StagingMinBytes]] the result is EAGERLY
    * materialized (persisted kernel + `localCheckpoint(true)`), so the
    * returned frame has truncated lineage and the checkpointed blocks
    * live until it is GC'd — callers that need to compose into the
    * lazy pre-checkpoint plan should use [[ngramLmPlan]] instead (same
    * results, hash-equal; spec-pinned). Below the gate the lazy plan is
    * returned as-is. */
  def ngramLm(docs: DataFrame): DataFrame =
    if (belowStagingGate(docs)) ngramLmPlan(docs) else ngramLmStaged(docs)

  /** The staged c27 path — the 100 TB shape (see [[ngramLm]]'s gate). */
  private[graft] def ngramLmStaged(docs: DataFrame): DataFrame = {
    // The kernel rows feed TWO lineage branches (the bigram model and
    // the scoring probe) and the bigram table three more (unigram
    // context, vocab size, the scoring join) — unpersisted, each branch
    // re-tokenized the corpus (measured ~3× DuckDB at sf1, the same
    // recompute class c42/c32 closed). The bigram table persists; the
    // narrow hashed kernel rows are recomputed for the second corpus
    // pass, which measured faster than reading them back from cache
    // (A/B'd at sf0.1 and the 100k-doc probe shape —
    // results/c27_occ_persist_ab.json). The bounded per-doc result
    // checkpoints eagerly so unpersist can never push the final job
    // back through the kernel (the c42 pattern).
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val rows = bigramRows(docs)
    val bc = rows.groupBy("ga", "gb", "ca", "cb", "ua", "ub")
      .agg(count(lit(1)).as("c2")).persist(lvl)
    try ngramScored(docs, rows, bc).localCheckpoint(true)
    finally bc.unpersist(blocking = false)
  }

  /** The unpersisted c27 pipeline — the plan PlanSpec inspects (the
    * public [[ngramLm]] checkpoints eagerly, which erases the lineage
    * from its returned plan). */
  private[graft] def ngramLmPlan(docs: DataFrame): DataFrame = {
    val rows = bigramRows(docs)
    ngramScored(docs, rows, rows.groupBy("ga", "gb", "ca", "cb", "ua", "ub")
      .agg(count(lit(1)).as("c2")))
  }

  /** c45: CCNet-style perplexity bucketing (Wenzek et al. 2019) — the
    * data-quality tiering stage between LM scoring (c27) and selection
    * (c32): per LANGUAGE, split the corpus into head / middle / tail
    * at the 1/3 and 2/3 points of the LM-score distribution (lowest
    * mean NLL = head = cleanest; CCNet keeps head+middle for
    * pretraining). Scoring reuses [[ngramLm]] verbatim — the c27
    * pipeline whose doubles are already oracle-hash-certified — so the
    * bucket arithmetic is the only new surface.
    *
    * Scale shape: zero windows, no global or per-lang sort (a per-lang
    * `row_number` would funnel corpus/nlang rows through single tasks —
    * the c15/c32 skew trap). The score quantizes to integer centinats
    * ([[PplQScale]]); the per-(lang, centinat) histogram is a bounded
    * map-side-combined aggregate (langs are an enum × a few thousand
    * quantized values, guarded by [[PplHistMaxRows]]); thresholds are
    * an exact integer driver computation over it (t_k = smallest value
    * whose cumulative count reaches k·n/3, via `3·cum ≥ k·n` — no
    * float division); assignment is a broadcast join back. Docs with
    * no bigrams (null/single-token text) carry bucket 'none', kept=0.
    *
    * Threshold semantics are quantile-on-QUANTIZED-values: every doc
    * in one centinat bucket lands on one side, so the thirds are exact
    * up to bucket granularity — deterministic and engine-portable,
    * where a row-rank split would depend on tie order. The SQL oracle
    * recomputes the histogram, thresholds, and assignment from the
    * same certified mean_nll, so the hash match certifies the whole
    * tiering, not just the score. */
  def pplBucket(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // doc_id-keyed join of two narrow tables (lang rides next to the
    // score); both sides prune to 2-4 columns, AQE plans the join
    val q = docs.select(col("doc_id").cast(LongType), col("lang"))
      .join(ngramLm(docs), Seq("doc_id"))
      .withColumn("ppl_q",
        floor(col("mean_nll") * lit(PplQScale)).cast(IntegerType))
      .select("doc_id", "lang", "n_bigrams", "ppl_q")
      .persist(lvl)
    try {
      val hist = q.filter(col("ppl_q").isNotNull)
        .groupBy("lang", "ppl_q").agg(count(lit(1)).as("c"))
        .limit(PplHistMaxRows + 1)
        .as[(String, Int, Long)].collect()
      require(hist.length <= PplHistMaxRows,
        s"c45 histogram exceeds $PplHistMaxRows (lang, centinat) rows — " +
          "is `lang` an enum column? Refusing an unbounded driver collect.")
      val th = hist.groupBy(_._1).map { case (lang, rows) =>
        val sorted = rows.sortBy(_._2)
        val n = sorted.map(_._3).sum
        var cum = 0L
        var t1 = Int.MaxValue; var t2 = Int.MaxValue
        sorted.foreach { case (_, pq, c) =>
          cum += c
          if (t1 == Int.MaxValue && 3 * cum >= n) t1 = pq
          if (t2 == Int.MaxValue && 3 * cum >= 2 * n) t2 = pq
        }
        (lang, t1, t2)
      }.toSeq.toDF("lang", "t1", "t2")
      q.join(broadcast(th), Seq("lang"), "left")
        .withColumn("bucket",
          when(col("ppl_q").isNull, lit("none"))
            .when(col("ppl_q") <= col("t1"), lit("head"))
            .when(col("ppl_q") <= col("t2"), lit("middle"))
            .otherwise(lit("tail")))
        .withColumn("kept",
          // coalesce: a NULL lang never matches the broadcast threshold
          // join, so `ppl_q <= t2` is NULL there — the oracle's
          // CASE/ELSE emits 0 for those rows, not NULL
          coalesce((col("ppl_q").isNotNull && col("ppl_q") <= col("t2"))
            .cast(IntegerType), lit(0)))
        .select("doc_id", "lang", "n_bigrams", "ppl_q", "bucket", "kept")
        .localCheckpoint(true)
    } finally q.unpersist(blocking = false)
  }

  /** The lazy c27 scoring pipeline over (persisted) kernel + model
    * tables. The unigram (context) table and vocab size derive from the
    * bigram table — O(model) input, not another corpus scan. Sums of
    * exact ints. */
  private def ngramScored(
      docs: DataFrame, rows: DataFrame, bc: DataFrame): DataFrame = {
    // the unigram context folds onto the bigram model as a WINDOW sum
    // (the r13 c42 treatment): one shuffle of the O(model) table by
    // the w1 lanes, one scan, and the corpus-sized rows go through ONE
    // join instead of two. Exact integer sums — hash unchanged.
    val bce = bc.withColumn("c1", sum("c2").over(
        org.apache.spark.sql.expressions.Window.partitionBy("ca", "cb")))
      .select("ga", "gb", "c2", "c1")
    val vv = bc.agg(countDistinct("ua", "ub").as("v"))
    val scored = rows.select("doc_id", "ga", "gb")
      .join(bce, Seq("ga", "gb"))
      .crossJoin(broadcast(vv))
      .withColumn("tenk", nllTenk(col("c2"), col("c1") + col("v")))
      // occurrence-level sums ≡ the per-(doc, gram) cnt-weighted sums
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast(IntegerType).as("n_bigrams"),
        sum(col("tenk")).as("sum_tenk"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("mean_nll",
        col("sum_tenk").cast(DoubleType) /
          (col("n_bigrams").cast(LongType) * lit(10000L)).cast(DoubleType))
      // the flag compares integer sums (mean > t ⇔ sum > t·n·1e4 would
      // need exact t; comparing the division result is still exact
      // parity because both engines compute the identical double)
      .withColumn("high_nll", (col("mean_nll") > lit(NllFlagMax)).cast(IntegerType))
      .select("doc_id", "n_bigrams", "mean_nll", "high_nll")
  }

  /** c42 backoff penalty −ln(0.4) in 1e-4-quantized "tenk" units:
    * floor(0.9162907…·1e4 + 0.5) = 9163. One constant, not a per-row
    * transcendental — shared verbatim with the SQL oracle. */
  val BackoffTenk = 9163L

  /** c42 train slice: md5 hash-bucket (the c13 mechanism) below this
    * hex prefix — 192/256 = 75% of docs train the model, the held-out
    * 25% contain genuinely unseen grams, so the backoff chain is
    * exercised on real data, not just in a unit fixture. */
  val TrigramTrainMax = "c0"

  private val M61 = (1L << 61) - 1
  private val LaneB1 = 1000003L
  private val LaneB2 = 1000033L
  /** Two-lane M61 polynomial hash of a string — the c24 span-key
    * mechanism: 122 key bits, so n-gram JOIN keys are two fixed-width
    * longs instead of strings (collision odds ~n²/2^123, negligible
    * at any corpus size; no string bytes on the model-join shuffles,
    * and no gram string survives the kernel). Perf note from the sf1
    * profile: this is the right shuffle shape at scale but was NOT
    * the sf1 bottleneck — the model is tiny there (27k distinct
    * training trigrams) and the cost is the kernel pass itself on the
    * single input split (see the c24/c25 single-split note in
    * SURVEY §6). */
  private[graft] def lane(s: String, base: Long): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = Dedup.mulModM61(h, base) + s.charAt(i)
      if (h >= M61) h -= M61
      i += 1
    }
    h
  }

  /** Per-token two-lane hash state for O(1) gram-key composition — the
    * shared kernel behind [[bigramRows]]/[[trigramRows]]/[[unigramRows]]:
    * each token is hashed ONCE per lane; a k-gram key extends a
    * (k−1)-gram key via the polynomial identity
    * lane(a + " " + b) = lane(a)·B^(len(b)+1) + lane(" " + b)
    * ([[app1]]/[[app2]]) — no per-gram string concat anywhere. */
  private[graft] final class TokenLanes(w: Array[String]) {
    val n: Int = w.length
    val h1 = new Array[Long](n); val h2 = new Array[Long](n)
    private val pa1 = new Array[Long](n); private val pa2 = new Array[Long](n)
    private val sp1 = new Array[Long](n); private val sp2 = new Array[Long](n)
    locally {
      var j = 0
      while (j < n) {
        val t = w(j)
        var a = 0L; var b = 0L
        var q1 = 1L; var q2 = 1L // B^len, accumulated per char
        var i = 0
        while (i < t.length) {
          a = Dedup.mulModM61(a, LaneB1) + t.charAt(i); if (a >= M61) a -= M61
          b = Dedup.mulModM61(b, LaneB2) + t.charAt(i); if (b >= M61) b -= M61
          q1 = Dedup.mulModM61(q1, LaneB1)
          q2 = Dedup.mulModM61(q2, LaneB2)
          i += 1
        }
        h1(j) = a; h2(j) = b
        pa1(j) = Dedup.mulModM61(q1, LaneB1) // B^(len+1)
        pa2(j) = Dedup.mulModM61(q2, LaneB2)
        // lane(" " + t) = ' '·B^len + lane(t)
        sp1(j) = { val v = Dedup.mulModM61(' '.toLong, q1) + a; if (v >= M61) v - M61 else v }
        sp2(j) = { val v = Dedup.mulModM61(' '.toLong, q2) + b; if (v >= M61) v - M61 else v }
        j += 1
      }
    }
    /** Extend lane-1 key `h` with token k: lane(h-gram + " " + w(k)). */
    def app1(h: Long, k: Int): Long = {
      val v = Dedup.mulModM61(h, pa1(k)) + sp1(k)
      if (v >= M61) v - M61 else v
    }
    def app2(h: Long, k: Int): Long = {
      val v = Dedup.mulModM61(h, pa2(k)) + sp2(k)
      if (v >= M61) v - M61 else v
    }
  }

  /** Trigram OCCURRENCE rows (one per position, train flag included) —
    * the c27 kernel one order deeper — emitted as HASHED keys for
    * every model-table space the backoff chain joins on: the trigram
    * (t3a/t3b), its (w1,w2) context (c2a/c2b), the (w2,w3) backoff
    * bigram (b2a/b2b), its w2 context (b1a/b1b) and the w3 unigram
    * (ua/ub). Tokens cannot contain the separator, so the
    * separator-joined string is an identity key per space (the
    * c27/c24 argument); no string column survives this kernel — the
    * report never needs the grams back.
    *
    * Kernel shape (the sf1 profile's lesson): the typed pass hashes
    * each TOKEN once and COMPOSES gram keys in O(1) M61 ops per
    * occurrence via the polynomial identity
    * lane(a + " " + b) = lane(a)·B^(len(b)+1) + lane(" " + b) —
    * no per-trigram string concat, no per-doc string hashmap (an
    * earlier form spent 7.5 s of the 8.9 s sf1 wall there, single
    * input split).
    *
    * Occurrence rows deliberately skip the r12 per-(doc, gram)
    * pre-aggregation: its 11-long-wide groupBy shuffled the ENTIRE
    * occurrence stream (~1 GB at sf1) for a dedup that rarely dedups
    * (cnt ≈ 1 on natural text). Instead, the model build aggregates
    * occurrences straight to gram space (map-side combine compresses
    * to O(model) rows before the shuffle), scoring joins the model
    * back onto the narrow occurrence stream (AQE broadcasts the model
    * when it fits), and the per-doc report aggregates with map-side
    * combine — the corpus-sized stream itself never shuffles wide. */
  /** The c13-split train flag as a JVM kernel: substring(md5(id),1,2) <
    * "c0" ⟺ first digest byte < 0xc0 (nibble→hex-char mapping is
    * monotonic, so the two-char comparison IS the byte comparison).
    * Computed per DOC inside the kernel so the occurrence rows never
    * pay a per-row md5 expression. */
  private[graft] def trainFlag(id: Long, md: java.security.MessageDigest): Boolean = {
    val d = md.digest(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (d(0) & 0xff) < Integer.parseInt(TrigramTrainMax, 16)
  }

  private[graft] def trigramRows(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast(LongType), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val tl = new TokenLanes(text.split(" ", -1))
            if (tl.n < 3) Iterator.empty
            else {
              val trn = trainFlag(id, md)
              (0 until tl.n - 2).iterator.map { i =>
                val c2a = tl.app1(tl.h1(i), i + 1)
                val c2b = tl.app2(tl.h2(i), i + 1)
                val t3a = tl.app1(c2a, i + 2)
                val t3b = tl.app2(c2b, i + 2)
                val b2a = tl.app1(tl.h1(i + 1), i + 2)
                val b2b = tl.app2(tl.h2(i + 1), i + 2)
                (id, trn, t3a, t3b, c2a, c2b, b2a, b2b,
                  tl.h1(i + 1), tl.h2(i + 1), tl.h1(i + 2), tl.h2(i + 2))
              }
            }
          }
        }
      }
      .toDF("doc_id", "trn", "t3a", "t3b", "c2a", "c2b",
        "b2a", "b2b", "b1a", "b1b", "ua", "ub")
  }

  /** 1e-4-quantized NLL of an EXACT ratio (num ≥ 1 guaranteed by the
    * caller's observed-gram predicate): floor(ln(den/num)·1e4 + 0.5). */
  private def lnTenk(num: org.apache.spark.sql.Column,
      den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(log(den.cast(DoubleType) / num) * 1e4 + lit(0.5)).cast(LongType)

  /** c42: trigram LM with STUPID BACKOFF (Brants et al. 2007, "Large
    * Language Models in Machine Translation") — c27's fluency score
    * deepened toward the published CCNet/KenLM regime: score each
    * trigram by the highest-order context observed in TRAINING, paying
    * a fixed −ln(0.4) penalty per backoff level:
    *
    *   S(w3|w1w2) = c(w1w2w3)/c(w1w2·)          if the trigram trained
    *              = 0.4 · c(w2w3)/c(w2·)         else if the bigram did
    *              = 0.4² · (c(w3)+1)/(N+V)       else (add-one base)
    *
    * The model trains on the 75% md5-bucket slice ([[TrigramTrainMax]],
    * the c13 split mechanism), so the held-out quarter of the corpus
    * genuinely exercises every backoff level — the per-doc level-hit
    * counters (n_hit3/n_hit2/n_hit1) put the backoff arithmetic
    * itself under the oracle hash, not just the blended score.
    *
    * Scale shape = c27's: one compiled kernel pass emits per-doc
    * aggregated trigram counts; every model table (t3/t2/b2/b1/u) is
    * an O(model) aggregation of those rows; scoring joins back by gram
    * key (AQE broadcasts the tables when they fit). All counts exact
    * integers; one quantized ln per distinct gram (model rows only);
    * backoff penalties are integer multiples of [[BackoffTenk]]; doc
    * scores are integer sums — order- and engine-independent. */
  def trigramBackoff(docs: DataFrame): DataFrame = {
    // The kernel rows feed the model build AND the scoring side. Only
    // the two O(model) fan-out tables persist; the occurrence stream
    // is deliberately RECOMPUTED per branch (the r13 c27/c42 choice:
    // the narrow hashed-key kernel pass is cheaper than caching a
    // corpus-sized stream — A/B'd in results/c27_occ_persist_ab.json
    // and results/c42_occ_persist_ab.json; the r9 form whose
    // re-tokenize cost 8.8 s at sf1 was the heavy STRING kernel this
    // round replaced). The bounded result checkpoints eagerly
    // (c32/Dedup pattern) so unpersist can never push the final job
    // back through the kernel.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val occ = trigramRows(docs)
    // t3 groups by the trigram key and CARRIES the derived-space keys
    // (functionally determined by the trigram — same cardinality);
    // b2 likewise carries the w2/w3 keys for its own fan-out
    val t3 = occ.filter(col("trn"))
      .groupBy("t3a", "t3b", "c2a", "c2b", "b2a", "b2b", "b1a", "b1b", "ua", "ub")
      .agg(count(lit(1)).as("c3"))
      .persist(lvl)
    val b2 = t3.groupBy("b2a", "b2b", "b1a", "b1b", "ua", "ub")
      .agg(sum("c3").as("cb"))
      .persist(lvl)
    try trigramScored(docs, occ, t3, b2).localCheckpoint(true)
    finally {
      t3.unpersist(blocking = false)
      b2.unpersist(blocking = false)
    }
  }

  /** The lazy scoring pipeline over (persisted) kernel + model
    * tables — separate so PlanSpec-style inspection stays possible
    * past the eager checkpoint. All model joins key on two-long
    * hashed gram keys (see [[trigramRows]]).
    *
    * Join shape (the round-9 sf1 profile's residual): the backoff
    * chain needs five model lookups per kernel row, but only THREE
    * have distinct join keys a row can independently hit — the
    * trigram's (w1,w2) context is functionally determined by the
    * trigram and the backoff bigram's w2-context by the bigram, so
    * t2 pre-joins onto t3 and b1 onto b2 MODEL-SIDE (O(model) rows,
    * AQE broadcasts them) and the corpus-sized kernel rows shuffle
    * through 3 joins instead of 5. The unigram join stays its own:
    * a row can miss both t3 and b2 yet hit u. */
  private def trigramScored(
      docs: DataFrame, occ: DataFrame, t3: DataFrame, b2: DataFrame): DataFrame = {
    val u = b2.groupBy("ua", "ub").agg(sum("cb").as("cu"))
    val tot = u.agg(sum("cu").as("nn"), count(lit(1)).as("v"))
    // model-side enrichment as WINDOW sums, not aggregate-and-join-back
    // (the r13 stage-count fix behind the sf1 "8 cores beat 32"
    // profile): each context total is a whole-partition sum over the
    // model table itself — one shuffle by the context key, one scan,
    // zero joins — where the r12 form cost an extra aggregation stage
    // plus a join-back PER CONTEXT SPACE over the same rows. Exact
    // integer sums, so the blended score is bit-identical (hash
    // unchanged; the oracle never sees the plan).
    val t3e = t3.select("t3a", "t3b", "c2a", "c2b", "c3")
      .withColumn("c2ctx", sum("c3").over(
        org.apache.spark.sql.expressions.Window.partitionBy("c2a", "c2b")))
      .select("t3a", "t3b", "c3", "c2ctx")
    val b2e = b2.select("b2a", "b2b", "b1a", "b1b", "cb")
      .withColumn("c1ctx", sum("cb").over(
        org.apache.spark.sql.expressions.Window.partitionBy("b1a", "b1b")))
      .select("b2a", "b2b", "cb", "c1ctx")
    val scored = occ
      .join(t3e, Seq("t3a", "t3b"), "left")
      .join(b2e, Seq("b2a", "b2b"), "left")
      .join(u, Seq("ua", "ub"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("tenk",
        when(col("c3").isNotNull, lnTenk(col("c3"), col("c2ctx")))
          .when(col("cb").isNotNull,
            lit(BackoffTenk) + lnTenk(col("cb"), col("c1ctx")))
          .otherwise(lit(2 * BackoffTenk) +
            nllTenk(coalesce(col("cu"), lit(0L)), col("nn") + col("v"))))
      // occurrence-level sums ≡ the r12 per-(doc, gram) cnt-weighted
      // sums (exact integers, order-free) — hash unchanged
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast(IntegerType).as("n_trigrams"),
        sum(when(col("c3").isNotNull, 1L).otherwise(0L))
          .cast(IntegerType).as("n_hit3"),
        sum(when(col("c3").isNull && col("cb").isNotNull, 1L)
          .otherwise(0L)).cast(IntegerType).as("n_hit2"),
        sum(when(col("c3").isNull && col("cb").isNull, 1L)
          .otherwise(0L)).cast(IntegerType).as("n_hit1"),
        sum(col("tenk")).as("sum_tenk"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("mean_nll",
        col("sum_tenk").cast(DoubleType) /
          (col("n_trigrams").cast(LongType) * lit(10000L)).cast(DoubleType))
      .withColumn("is_train",
        (substring(md5(col("doc_id").cast(StringType)), 1, 2)
          < lit(TrigramTrainMax)).cast(IntegerType))
      .select("doc_id", "n_trigrams", "n_hit3", "n_hit2", "n_hit1",
        "mean_nll", "is_train")
  }

  /** Per-doc aggregated unigram counts with the target-slice flag. */
  private[graft] def unigramRows(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tgt = DsirTargetSources.toSet
    docs.select(col("doc_id").cast(LongType), col("source"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, source, text) =>
        if (text == null) Iterator.empty
        else {
          // UNLIKE the bigram/trigram kernels, unigrams keep the
          // per-doc hash-map dedup: natural text repeats WORDS heavily
          // (3× compression here, vs ≈none for grams), so the map pays
          // for itself and each distinct token is lane-hashed once.
          // Keys leave the kernel as two-lane hashes (no strings).
          val w = text.split(" ", -1)
          val m = new scala.collection.mutable.HashMap[String, Int]
          var i = 0
          while (i < w.length) {
            m.update(w(i), m.getOrElse(w(i), 0) + 1)
            i += 1
          }
          val t = if (source != null && tgt.contains(source)) 1 else 0
          m.iterator.map { case (tok, c) =>
            (id, t, lane(tok, LaneB1), lane(tok, LaneB2), c.toLong)
          }
        }
      }
      .toDF("doc_id", "tgt", "wa", "wb", "cnt")
  }

  /** c28: DSIR importance weighting. Unigram LMs with add-one smoothing
    * over the raw vocabulary V: p_t(w) = (tc+1)/(T+V) from the target
    * slice, p_r(w) = (rc+1)/(R+V) from the full corpus. A doc's
    * log_ratio is its total log p_t(doc) - log p_r(doc) (positive =
    * more target-like than background; DSIR keeps by this statistic);
    * `keep` compares the integer sum against zero, so the decision is
    * exactly order- and engine-independent.
    *
    * CONTRACT: same size-gated staging as [[ngramLm]] — above
    * [[StagingMinBytes]] the result is eagerly materialized with
    * truncated lineage; plan-composing callers use
    * [[dsirWeightPlan]]. */
  def dsirWeight(docs: DataFrame): DataFrame =
    if (belowStagingGate(docs)) dsirWeightPlan(docs) else dsirWeightStaged(docs)

  /** The staged c28 path — the 100 TB shape (see [[ngramLm]]'s gate). */
  private[graft] def dsirWeightStaged(docs: DataFrame): DataFrame = {
    // same staging discipline as c27: only the O(model) table persists
    // (the occurrence stream recomputes once per branch — cheaper than
    // caching it); checkpoint the bounded result
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val rows = unigramRows(docs).persist(lvl)
    val model = rows.groupBy("wa", "wb").agg(
      sum("cnt").as("rc"),
      sum(when(col("tgt") === 1, col("cnt")).otherwise(lit(0L))).as("tc"))
      .persist(lvl)
    try dsirScored(docs, rows, model).localCheckpoint(true)
    finally {
      rows.unpersist(blocking = false)
      model.unpersist(blocking = false)
    }
  }

  /** The unpersisted c28 pipeline — the plan PlanSpec inspects. */
  private[graft] def dsirWeightPlan(docs: DataFrame): DataFrame = {
    val rows = unigramRows(docs)
    dsirScored(docs, rows, rows.groupBy("wa", "wb").agg(
      sum("cnt").as("rc"),
      sum(when(col("tgt") === 1, col("cnt")).otherwise(lit(0L))).as("tc")))
  }

  /** The lazy c28 scoring pipeline: one model table (raw + target
    * counts per word); totals and vocab size from one more O(model)
    * aggregation. */
  private def dsirScored(
      docs: DataFrame, rows: DataFrame, model: DataFrame): DataFrame = {
    val tot = model.agg(
      sum("rc").as("rr"), sum("tc").as("tt"), count(lit(1)).as("v"))
    val scored = rows.select("doc_id", "wa", "wb", "cnt")
      .join(model, Seq("wa", "wb"))
      .crossJoin(broadcast(tot))
      // log-ratio in tenk units: nll_raw - nll_target (both quantized
      // independently, mirrored in the oracle)
      .withColumn("delta",
        nllTenk(col("rc"), col("rr") + col("v")) -
          nllTenk(col("tc"), col("tt") + col("v")))
      .groupBy("doc_id")
      .agg(
        sum("cnt").cast(IntegerType).as("n_tokens"),
        sum(col("cnt") * col("delta")).as("sum_delta"))
    docs.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("log_ratio", col("sum_delta").cast(DoubleType) / lit(1e4))
      .withColumn("keep", (col("sum_delta") > lit(0L)).cast(IntegerType))
      .select("doc_id", "source", "n_tokens", "log_ratio", "keep")
  }
}
