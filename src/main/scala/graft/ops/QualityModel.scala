package graft.ops

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** c33: trained quality classifier — the fastText/GPT-3-style quality
  * filter: a linear classifier trained to tell a curated reference
  * slice from the raw crawl, whose score then gates every document.
  * The reference slice here is the c28 target-source set (the same
  * curated-vs-raw weak label DSIR uses), features are a hashed
  * bag-of-words, and the model is MLlib logistic regression — i.e.
  * the learned counterpart of c28's closed-form unigram ratio.
  *
  * Scale shape: HashingTF is a narrow map (no vocabulary is ever
  * collected — the hashing trick is exactly what makes bag-of-words
  * work at 100 TB); LR training is MLlib's distributed L-BFGS, one
  * treeAggregate over the training set per iteration. Production
  * trains on a bounded sample (`trainFraction` selects docs by a
  * deterministic hash, never a random split) and SCORES the full
  * corpus with the broadcast model — training cost is O(sample),
  * scoring is a narrow map. Scoring emits the class-1 probability
  * rounded to 1e-6 (golden-stable) and a keep flag at
  * [[QualityModel.KeepMin]].
  *
  * TRAINING has no DuckDB oracle (L-BFGS is not SQL-expressible) —
  * spec-pinned instead. SCORING is hash-certified since round 15: the
  * fitted weights quantize to integer micro-units (the c27 quantized-ln
  * discipline — the doc margin becomes an exact integer dot product,
  * order- and engine-independent) and persist as an OracleSide sidecar;
  * the oracle re-derives every token's feature index with
  * [[graft.operators.MurmurSql]], recomputes the margins, and applies
  * the same floor-quantized sigmoid/softmax.
  *
  * Residual cross-engine assumption (the lnTenk/c27 class, accepted
  * precedent): the ONE transcendental per lane (exp) runs on an
  * IDENTICAL exact-integer-derived double in both engines, but
  * java.lang.Math.exp and DuckDB's libm exp are each only ~0.5-1 ulp
  * accurate with no bit-identity guarantee — a doc whose quantized
  * sigmoid/softmax lands within one ulp of a floor(·1e6+0.5) boundary
  * could flip p_micro by 1 between engines. Probability ~1e-10 per
  * doc; every integer lane before and after the exp is exact.
  */
object QualityModel {
  /** Hashed feature space. 2^10 is plenty for the synthetic vocab;
    * production raises it (the hashing trick is size-agnostic). Must
    * stay a power of two (MurmurSql's nonNegativeMod shortcut). */
  val NumFeatures = 1024
  /** Class-1 (curated-like) probability at/above which a doc is kept. */
  val KeepMin = 0.5

  /** Weight quantum: fitted doubles round to 1e-6 units, making every
    * margin an exact integer sum (|w|·tokens ≈ 2e7·1e3 ≪ 2^63). */
  private def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  /** floor-quantized sigmoid in micro-units, as a Column over a
    * micro-margin: floor(1e6·σ(m/1e6) + 0.5). Mirrors the oracle SQL
    * text exactly — one transcendental on an identical double. */
  private def sigmoidMicro(m: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(lit(1e6) / (lit(1.0) + exp(-(m / lit(1e6)))) + lit(0.5))

  /** c33: train on the weak curated-vs-raw label, score every doc. */
  def qualityClassifier(
      docs: DataFrame,
      targetSources: Seq[String] = LmScore.DsirTargetSources,
      trainFraction: Int = 1): DataFrame = {
    val labeled = docs
      .filter(col("text").isNotNull)
      .select(
        col("doc_id"),
        split(col("text"), " ").as("toks"),
        // a NULL source is simply non-target (c28's semantics) — isin
        // alone would yield a NULL label and crash lr.fit
        coalesce(col("source").isin(targetSources: _*), lit(false))
          .cast(DoubleType).as("label"))
    val tf = new HashingTF()
      .setInputCol("toks").setOutputCol("features")
      .setNumFeatures(NumFeatures)
    // featurize ONCE (the c43 staging treatment): unstaged, the
    // tokenize+hash lineage is evaluated under both fit's instance
    // materialization and the scoring transform. Same storage class at
    // scale — MLlib persists the featurized train slice internally for
    // the L-BFGS loop anyway. A/B'd at sf0.1 and the 100k-doc probe
    // shape (results/c33_stage_ab.json).
    val feat = tf.transform(labeled).localCheckpoint(true)
    // deterministic hash sample, never randomSplit: the trained model
    // must not depend on partitioning or a sampler's RNG stream
    val train = if (trainFraction <= 1) feat
      else feat.filter(pmod(xxhash64(col("doc_id")), lit(trainFraction)) === 0)
    val lr = new LogisticRegression()
      .setMaxIter(25).setRegParam(0.01).setTol(1e-8)
    val model = lr.fit(train)
    // Scoring runs on QUANTIZED weights (micro-units), not
    // model.transform: the margin becomes an exact integer dot product
    // over the hashed term counts, so DuckDB can replay it bit-for-bit
    // from the pinned weights — see the object scaladoc. The scoring
    // pass itself is the same shape as before: a broadcast weight
    // array and one narrow map over the featurized corpus.
    val spark = docs.sparkSession
    import spark.implicits._
    val wq: Array[Long] = model.coefficients.toArray.map(micro)
    val iq: Long = micro(model.intercept)
    graft.operators.OracleSide.write(
      ((-1, iq) +: wq.toSeq.zipWithIndex.map { case (w, f) => (f, w) })
        .toDF("feature", "w_micro"),
      "c33_weights")
    val bw = spark.sparkContext.broadcast(wq)
    val margins = feat
      .select(col("doc_id").cast("long"), col("label"), col("features"))
      .as[(Long, Double, org.apache.spark.ml.linalg.Vector)]
      .map { case (id, label, v) =>
        var m = iq
        v.foreachActive((i, x) => m += x.toLong * bw.value(i))
        (id, label.toInt, m)
      }
      .toDF("doc_id", "label", "m_micro")
    val pMicro = sigmoidMicro(col("m_micro"))
    val scored = margins.select(
      col("doc_id"),
      col("label"),
      (pMicro / lit(1e6)).as("quality_score"),
      (pMicro >= lit((KeepMin * 1e6).toLong)).cast(IntegerType).as("keep"))
    // null-text docs re-enter with NULL metrics (the c21 contract every
    // sibling op follows) — a downstream gate must still see the doc
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
  }

  /** c43 label space: fixed, ordered — the class index IS the array
    * position, no StringIndexer (whose ordering depends on label
    * frequencies and would move classes when the corpus grows). */
  val LangClasses: Seq[String] = Seq("en", "de", "fr", "es", "zh", "unknown")

  /** c43 hashed char-n-gram space (fastText's subword trick). */
  val LangNumFeatures = 4096

  /** c43 L-BFGS iteration budget. Each iteration is one treeAggregate
    * JOB, so at bench scale the wall is iterations × job floor, not
    * gradient compute — size it to measured convergence (see the
    * c43 iteration sweep in SURVEY §6), not to a round number. */
  val LangMaxIter = 25

  /** c43: TRAINED language ID — the fastText-style classifier real
    * pipelines run (Joulin et al. 2016, "Bag of Tricks for Efficient
    * Text Classification"): multinomial logistic regression over
    * HASHED CHARACTER N-GRAMS (bi+trigrams), the representation that
    * reads accents, CJK codepoints, and orthography directly instead
    * of needing a marker-word list. Upgrades c6's stopword heuristic
    * from demo to operator.
    *
    * Supervision: distills c6's rule-based labels on a deterministic
    * 75% hash slice (weak supervision — the honest option for this
    * synthetic corpus, whose `lang` column is uncorrelated with the
    * text; on a real corpus the label column swaps in and NOTHING
    * else changes). Scoring reports the trained prediction, its
    * confidence, and agreement with the heuristic — the distillation
    * quality a production rollout would monitor before switching.
    *
    * Scale shape = c33's: the n-gram kernel is a narrow map (no
    * vocabulary collected — hashing trick), training is MLlib's
    * distributed L-BFGS over the bounded slice, scoring broadcasts
    * the quantized weights. Training is spec-pinned (L-BFGS is not
    * SQL-expressible; the content-over-label spec plants genuinely
    * distinct character distributions and asserts the model reads the
    * TEXT); scoring is hash-certified from the pinned weights since
    * round 15 (see the object scaladoc). */
  def langClassifier(docs: DataFrame, maxIter: Int = LangMaxIter): DataFrame = {
    // featurize ONCE (eager localCheckpoint, the c11/c42 staging
    // pattern): unstaged, the gram kernel + heuristic-label join +
    // HashingTF lineage is evaluated TWICE — under fit's instance
    // materialization and again under scoring. Staging is the same
    // storage class at 100 TB (MLlib already persists the featurized
    // 75% train slice internally for the L-BFGS loop) while saving a
    // full featurization pass. Measured (sf0.1): 5.25 →
    // 3.14 s at 32 cores; identical outputs (golden-pinned). The
    // residual wall is featurize 1.3 s + 25 treeAggregate jobs 1.7 s
    // (fit intercept 0.4 s, ~0.05 s/iteration) — job floor, not
    // gradient compute, and core-count-insensitive (8-core e2e 5.56 ≈
    // 32-core 5.25 before staging, 3.18 ≈ 3.14 after).
    val feat = langFeatures(docs).localCheckpoint(true)
    langScore(docs, feat, langFit(feat, maxIter))
  }

  /** The c43 gram kernel as a pure function (fuzzed directly by
    * PropertySpec): CODE-POINT bi/trigrams. The oracle re-derives
    * grams with DuckDB substr/length, which count code points, while
    * a naive Java substring counts UTF-16 units and would split
    * surrogate pairs on non-BMP text (different UTF-8 bytes →
    * different hashed features → hash-gate divergence). Identical
    * output for BMP text. */
  private[graft] def gramsOf(text: String): Seq[String] = {
    val n = text.length
    val bounds = new scala.collection.mutable.ArrayBuffer[Int](n + 1)
    var i = 0
    while (i < n) {
      bounds += i
      i += Character.charCount(text.codePointAt(i))
    }
    bounds += n
    val cp = bounds.length - 1
    val out = new scala.collection.mutable.ArrayBuffer[String](2 * cp)
    var j = 0
    while (j < cp - 1) {
      out += text.substring(bounds(j), bounds(j + 2))
      if (j < cp - 2) out += text.substring(bounds(j), bounds(j + 3))
      j += 1
    }
    out.toSeq
  }

  /** The c43 featurization pass: char bi+trigrams in a typed kernel
    * (one linear pass per doc; emits the n-gram multiset, hashed
    * next — never a collected vocabulary), the c6 heuristic label
    * join, and HashingTF. Split out (with [[langFit]] and
    * [[langScore]]) so a spec can drive featurize / fit / score
    * separately on the exact production plan. */
  private[graft] def langFeatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, gramsOf(text)) }
      .toDF("doc_id", "grams")
    val heuristic = TextAnalysis.langId(docs.filter(col("text").isNotNull))
      .select(col("doc_id"), col("predicted").as("heuristic_lang"))
    val labelIdx = array_position(
      lit(LangClasses.toArray), col("heuristic_lang")) - lit(1.0)
    val labeled = grams.join(heuristic, "doc_id")
      .withColumn("label", labelIdx.cast(DoubleType))
    val tf = new HashingTF()
      .setInputCol("grams").setOutputCol("features")
      .setNumFeatures(LangNumFeatures)
    tf.transform(labeled)
  }

  /** L-BFGS on the deterministic 75% hash slice (the c33 rule: never
    * randomSplit). MLlib persists its internal Instance RDD for the
    * iteration loop, so the 25 gradient passes do NOT re-read the
    * featurization lineage — each is one treeAggregate job over the
    * persisted instances. */
  private[graft] def langFit(
      feat: DataFrame, maxIter: Int): LogisticRegressionModel = {
    val train = feat.filter(pmod(xxhash64(col("doc_id")), lit(4)) < 3)
    new LogisticRegression()
      .setFamily("multinomial")
      .setMaxIter(maxIter).setRegParam(0.01).setTol(1e-8)
      .fit(train)
  }

  /** Broadcast-model scoring over the full featurized corpus + the
    * null-text re-entry join (the c21 contract). Like c33's binary
    * path, scoring runs on QUANTIZED weights: per-class margins are
    * exact integer dot products, prediction is first-max over the
    * integer margins, and confidence is the floor-quantized softmax of
    * the winner — exp runs once per class on a max-shifted EXACT
    * integer difference, summed in fixed class order, so the oracle
    * replays the identical IEEE chain from the pinned weights. */
  private[graft] def langScore(
      docs: DataFrame, feat: DataFrame,
      model: LogisticRegressionModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nCls = LangClasses.length
    val cm = model.coefficientMatrix
    // MLlib sizes the matrix to max(label)+1 — TAIL classes absent
    // from the training slice get no row. They can never be predicted,
    // so they enter the quantized surface as a -2^50-micro margin
    // sentinel (exp of -1.1e9 is exactly 0.0 in both engines, and the
    // magnitude keeps every m - mx subtraction far from Long range).
    val trained = model.numClasses
    val NegInfMicro = -(1L << 50)
    val wq: Array[Array[Long]] =
      Array.tabulate(nCls, LangNumFeatures)((c, f) =>
        if (c < trained) micro(cm(c, f)) else 0L)
    val iq: Array[Long] = Array.tabulate(nCls)(c =>
      if (c < trained) micro(model.interceptVector(c)) else NegInfMicro)
    graft.operators.OracleSide.write(
      (0 until nCls).flatMap { c =>
        (-1, c, iq(c)) +: (0 until LangNumFeatures)
          .map(f => (f, c, wq(c)(f))).filter(_._3 != 0L)
      }.toDF("feature", "cls", "w_micro"),
      "c43_weights")
    val bw = spark.sparkContext.broadcast((wq, iq))
    val classes = LangClasses.toArray
    val scored = feat
      .select(col("doc_id").cast("long"), col("heuristic_lang"), col("features"))
      .as[(Long, String, org.apache.spark.ml.linalg.Vector)]
      .map { case (id, heur, v) =>
        val (w, ic) = bw.value
        val m = ic.clone()
        v.foreachActive { (i, x) =>
          val xi = x.toLong
          var c = 0
          while (c < m.length) { m(c) += xi * w(c)(i); c += 1 }
        }
        var mx = m(0); var pred = 0
        var c = 1
        while (c < m.length) { if (m(c) > mx) { mx = m(c); pred = c }; c += 1 }
        // softmax denominator in FIXED ascending class order — the
        // winner's numerator is exp(0) = 1, so confidence = 1/S
        var s = 0.0
        c = 0
        while (c < m.length) { s += math.exp((m(c) - mx).toDouble / 1e6); c += 1 }
        (id, heur, classes(pred), math.floor(1e6 / s + 0.5) / 1e6)
      }
      .toDF("doc_id", "heuristic_lang", "pred_lang", "confidence")
      .withColumn("agree",
        (col("pred_lang") === col("heuristic_lang")).cast(IntegerType))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
  }
}
