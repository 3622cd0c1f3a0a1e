package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CorpusOps

/** Pins the corpus-preparation operators (c12–c17) on inline data with
  * known ground truth. The driver's oracle check proves Spark/DuckDB
  * parity on the synthetic tables; these specs prove the SEMANTICS on
  * inputs the synthetic word-salad never exercises (real PII hits,
  * planted duplicates, oversized docs, planted contamination). */
class CorpusSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("pii scrub redacts emails, IPs, phones and counts agree with the redactions") {
    val d = docs(
      1L -> "contact alice.smith+spam@example-mail.co.uk or bob@test.org today",
      2L -> "server at 10.0.255.3 and 192.168.1.1, call +1 555-123-4567 now",
      3L -> "no pii here at all")
    val out = CorpusOps.piiScrub(d).collect().sortBy(_.getAs[Long]("doc_id"))
    val r1 = out(0)
    assert(r1.getAs[Int]("n_emails") == 2 && r1.getAs[Int]("n_ipv4") == 0)
    assert(r1.getAs[String]("scrubbed") == "contact <EMAIL> or <EMAIL> today")
    val r2 = out(1)
    // counts run on the progressively-redacted text: the two IPs are
    // n_ipv4 ONLY — the loose phone pattern must not double-count them
    assert(r2.getAs[Int]("n_ipv4") == 2 && r2.getAs[Int]("n_phones") == 1, r2.toString)
    val s2 = r2.getAs[String]("scrubbed")
    assert(!s2.matches(".*\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}.*"), s2)
    assert(s2.contains("<IP>") && s2.contains("<PHONE>"), s2)
    val r3 = out(2)
    assert(r3.getAs[String]("scrubbed") == "no pii here at all")
    assert(r3.getAs[Int]("n_emails") + r3.getAs[Int]("n_ipv4") + r3.getAs[Int]("n_phones") == 0)
  }

  test("train split is a pure function of doc_id with stable proportions") {
    val d = docs((0L until 2000L).map(i => i -> s"doc $i"): _*)
    val out = CorpusOps.trainSplit(d)
    val byId = out.select("doc_id", "split").as[(Long, String)].collect().toMap
    // stability: a grown corpus never reassigns an old doc
    val grown = CorpusOps.trainSplit(docs((0L until 4000L).map(i => i -> s"doc $i"): _*))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(byId.forall { case (id, s) => grown(id) == s })
    // proportions: 93.75 / 3.125 / 3.125 ±2pp at n=2000
    val frac = byId.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.9375) < 0.02, frac.toString)
    assert(math.abs(frac.getOrElse("val", 0.0) - 0.03125) < 0.02, frac.toString)
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.03125) < 0.02, frac.toString)
  }

  test("stratified sample keeps all 'en' docs and downsamples the rest by lang") {
    val d = (0L until 1000L).map(i =>
        (i, s"doc $i", Seq("en", "de", "fr", "es", "zh")((i % 5).toInt)))
      .toDF("doc_id", "text", "lang")
    val kept = CorpusOps.stratifiedSample(d)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept("en") == 200, s"en must keep every doc: $kept")
    // thresholds 1/2, 1/4, 1/8, 1/16 of 200 per class, ±binomial noise
    assert(math.abs(kept("de") - 100.0) < 40, kept.toString)
    assert(math.abs(kept("fr") - 50.0) < 30, kept.toString)
    assert(math.abs(kept("es") - 25.0) < 20, kept.toString)
    assert(kept.getOrElse("zh", 0L) < 40, kept.toString)
  }

  test("c40 topk-by-key aggregator: key-desc order, doc-id tiebreak, cap, merge") {
    val agg = new CorpusOps.TopKByKeyAgg(3)
    var b = agg.zero
    for (x <- Seq((1L, 1, -5.0), (2L, 1, -1.0), (3L, 1, -3.0), (4L, 1, -0.5), (5L, 1, -1.0)))
      b = agg.reduce(b, x)
    // sample order is key DESC then doc_id ASC; -3.0 and -5.0 fall off the cap
    assert(b.toSeq == Seq((-0.5, 4L, 1), (-1.0, 2L, 1), (-1.0, 5L, 1)), b.toSeq.toString)
    val other = Array((-0.7, 9L, 2), (-6.0, 10L, 2))
    assert(agg.merge(b, other).toSeq == Seq((-0.5, 4L, 1), (-0.7, 9L, 2), (-1.0, 2L, 1)),
      "merge must interleave by the same order and re-cap")
    assert(agg.merge(agg.zero, other).toSeq == other.toSeq)
    assert(agg.merge(b, agg.zero).toSeq == b.toSeq)
  }

  test("c40 weighted sample: weight-biased, deterministic under reorder, k per source") {
    val heavyText = Seq.fill(400)("tok").mkString(" ") // w = 400
    val lightText = "tok tok tok tok"                  // w = 4
    val rows = (100L until 200L).map(i => (i, heavyText, "s")) ++
      (200L until 300L).map(i => (i, lightText, "s")) ++
      (300L until 305L).map(i => (i, lightText, "tiny")) // fewer docs than k
    val out = CorpusOps.weightedSample(rows.toDF("doc_id", "text", "source"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    val s = out.filter(_._1 == "s")
    assert(s.length == CorpusOps.WeightedSampleK)
    assert(s.map(_._2).sorted.toSeq == (1 to CorpusOps.WeightedSampleK), "ranks must be 1..k")
    // total weight 40000 (heavy) vs 400 (light): expected lights in the
    // sample ~0.16, so demanding >=14 heavy picks has huge margin
    assert(s.count(_._3 < 200L) >= 14, s"weighting not biased to heavy docs: ${s.toSeq}")
    // a source smaller than k yields the whole source
    assert(out.count(_._1 == "tiny") == 5)
    // determinism: same rows, reversed and repartitioned, same sample
    val again = CorpusOps.weightedSample(rows.reverse.toDF("doc_id", "text", "source")
        .repartition(7))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(again.sortBy(r => (r._1, r._2)).toSeq == out.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("pack chunks: offsets stay inside the budget and bins advance with the cumsum") {
    val words = (1 to 100).map(i => s"w$i").mkString(" ") // 100 tokens per doc
    val d = (0L until 10L).map(i => (i, words, s"shard${i % 2}"))
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.packChunks(d)
      .select("doc_id", "source", "n_tokens", "bin", "offset")
      .as[(Long, String, Int, Long, Long)].collect().sortBy(_._1)
    assert(out.forall(r => r._5 >= 0 && r._5 < CorpusOps.PackBudget))
    // within a shard: bin/offset follow the running token count exactly
    for (shard <- Seq("shard0", "shard1")) {
      var cum = 0L
      for (r <- out.filter(_._2 == shard)) {
        assert(r._4 == cum / CorpusOps.PackBudget, s"bin mismatch at $r")
        assert(r._5 == cum % CorpusOps.PackBudget, s"offset mismatch at $r")
        cum += r._3
      }
    }
    // shards pack independently: both start at bin 0, offset 0
    assert(out.count(r => r._4 == 0L && r._5 == 0L) >= 2)
  }

  test("pack chunks: a NULL source is a normal grouping key, not dropped") {
    val words = (1 to 50).map(i => s"w$i").mkString(" ") // 50 tokens per doc
    // nulls range-sort FIRST, so they exercise the leading-run arm of
    // every transition fold; enough rows to span several partitions
    val d = (0L until 400L).map(i =>
        (i, words, if (i < 300) null else "named"))
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.packChunks(d)
      .select("doc_id", "source", "n_tokens", "bin", "offset")
      .as[(Long, String, Int, Long, Long)].collect().sortBy(_._1)
    assert(out.length == 400)
    // the null group's cumsum must be one exact global run, not a
    // per-partition restart
    var cum = 0L
    for (r <- out.filter(_._2 == null)) {
      assert(r._4 == cum / CorpusOps.PackBudget, s"bin mismatch at $r")
      assert(r._5 == cum % CorpusOps.PackBudget, s"offset mismatch at $r")
      cum += r._3
    }
    assert(cum == 300L * 50, s"null-source rows dropped (cum=$cum)")
  }

  test("pack chunks: one source spreads across multiple tasks with an exact global cumsum") {
    val words20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = (0L until 1000L).map(i => (i, words20, "one_source"))
      .toDF("doc_id", "text", "source")
    // the scale property: a single source's rows land on >1 task (the
    // old per-source window serialized them through exactly one). AQE
    // coalesces this kilobyte-sized test shuffle to one partition —
    // disable coalescing here to observe the multi-task path (at real
    // scale partitions exceed the coalesce target and stay separate).
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val (nonEmpty, out) = try {
      val ne = CorpusOps.packRuns(d).rdd
        .mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0)).collect().sum
      // and the distributed prefix-sum is still the exact global cumsum
      (ne, CorpusOps.packChunks(d).select("doc_id", "bin", "offset")
        .as[(Long, Long, Long)].collect().sortBy(_._1))
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assert(nonEmpty > 1, s"single source fell into one task ($nonEmpty non-empty partitions)")
    assert(out.length == 1000)
    for ((r, i) <- out.zipWithIndex) {
      val start = 20L * i
      assert(r._2 == start / CorpusOps.PackBudget, s"bin mismatch at doc $i: $r")
      assert(r._3 == start % CorpusOps.PackBudget, s"offset mismatch at doc $i: $r")
    }
  }

  test("corpus filter applies rules in order with first-failing reason") {
    val good = (1 to 30).map(i => s"word$i").mkString(" ")
    val d = docs(
      1L -> good,               // keep (canonical)
      2L -> good,               // duplicate of 1
      3L -> "too short text",   // too_short (3 tokens)
      4L -> ((1 to 30).map(_ => "a.b.c.!?;").mkString(" ")), // punctuation
      5L -> ((1 to 30).map(_ => "internationalization").mkString(" "))) // token_len
    val out = CorpusOps.corpusFilter(d)
      .select("doc_id", "kept", "reason").as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1, "keep")), out.toString)
    assert(out(2L) == ((0, "duplicate")), out.toString)
    assert(out(3L) == ((0, "too_short")), out.toString)
    assert(out(4L) == ((0, "punctuation")), out.toString)
    assert(out(5L) == ((0, "token_len")), out.toString)
  }

  test("corpus filter survives an empty document (ANSI divide-by-zero guard)") {
    val out = CorpusOps.corpusFilter(docs(1L -> "", 2L -> "some short text"))
      .select("doc_id", "kept", "reason").as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((0, "too_short")), out.toString)
    assert(out(2L) == ((0, "too_short")), out.toString)
  }

  test("pack chunks: a null-text doc flows through as NULL metrics without moving the sum") {
    // the oracle: len(string_split(NULL)) is NULL; the windowed SUM
    // ignores it; bin/offset = f(cum - NULL) = NULL. Before the fix
    // the typed Int field aborted the whole job on the first such doc.
    val words10 = (1 to 10).map(_ => "w").mkString(" ")
    val d = Seq((1L, words10, "s"), (2L, null: String, "s"), (3L, words10, "s"))
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.packChunks(d).orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("n_tokens") == 10 && out(0).getAs[Long]("offset") == 0L)
    assert(out(1).isNullAt(out(1).fieldIndex("n_tokens"))
      && out(1).isNullAt(out(1).fieldIndex("bin"))
      && out(1).isNullAt(out(1).fieldIndex("offset")), out.mkString(","))
    assert(out(2).getAs[Long]("offset") == 10L, out.mkString(","))
  }

  test("corpus stats: null-text docs count in n_docs but not in value statistics") {
    // DuckDB: count(*) includes the NULL row; min/max/avg/
    // quantile_cont/sum all ignore it — the rank base is the NON-NULL
    // value count
    def mk(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    val d = Seq((0L, mk(10), "s"), (1L, mk(20), "s"), (2L, mk(30), "s"),
        (3L, null: String, "s"))
      .toDF("doc_id", "text", "source")
    val r = CorpusOps.corpusStats(d).collect().head
    assert(r.getAs[Long]("n_docs") == 4L, r.toString)
    assert(r.getAs[Int]("min_tokens") == 10 && r.getAs[Int]("max_tokens") == 30)
    assert(r.getAs[Double]("mean_tokens") == 20.0, r.toString)
    assert(r.getAs[Double]("p50_tokens") == 20.0, r.toString) // rank 0.5·(3−1)=1
    assert(math.abs(r.getAs[Double]("p90_tokens") - 28.0) < 1e-9, r.toString) // 20+0.8·10
    assert(r.getAs[Long]("total_chars") == 19L + 39L + 59L, r.toString)
    // an all-null source still reports its doc count, values all NULL
    val r2 = CorpusOps.corpusStats(
        Seq((0L, null: String, "x")).toDF("doc_id", "text", "source"))
      .collect().head
    assert(r2.getAs[Long]("n_docs") == 1L && r2.isNullAt(r2.fieldIndex("mean_tokens"))
      && r2.isNullAt(r2.fieldIndex("p50_tokens"))
      && r2.isNullAt(r2.fieldIndex("total_chars")), r2.toString)
  }

  test("corpus stats: exact interpolated percentiles per source") {
    // token counts 10/20/30/40 per shard: p50 = 25 (rank 1.5),
    // p90 = 37 (rank 2.7 → 30 + 0.7·10)
    val d = (0L until 8L).map { i =>
        val n = (1 + (i % 4).toInt) * 10
        (i, (1 to n).map(_ => "w").mkString(" "), s"shard${i / 4}")
      }.toDF("doc_id", "text", "source")
    val out = CorpusOps.corpusStats(d).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("p50_tokens"), r.getAs[Double]("p90_tokens"))))
      .toMap
    assert(out("shard0") == ((4L, 25.0, 37.0)), out.toString)
    assert(out("shard1") == ((4L, 25.0, 37.0)), out.toString)
  }

  test("contamination counts distinct shared shingles against the eval set") {
    val evalText = (1 to 20).map(i => s"e$i").mkString(" ") // ids < 20 are eval
    val cleanText = (1 to 20).map(i => s"c$i").mkString(" ")
    // leaked doc: contains tokens e5..e12 → 8-token run → 4 distinct 5-shingles
    val leaked = ((1 to 10).map(i => s"x$i") ++ (5 to 12).map(i => s"e$i")).mkString(" ")
    val d = docs(0L -> evalText,
      1L -> "tiny eval", // a shingle-less EVAL doc must not match shingle-less corpus docs
      20L -> cleanText, 21L -> leaked,
      22L -> "tiny doc") // < 5 tokens → no shingles, still reported clean
    val out = CorpusOps.contamination(d)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!out.contains(0L), "eval docs must not appear in the output")
    assert(out(20L) == ((0L, 0)), out.toString)
    assert(out(21L) == ((4L, 1)), out.toString)
    assert(out(22L) == ((0L, 0)), out.toString)
  }

  test("domain mix: binding source keeps everything, others downsample to weight ratios") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // weights from the label rule (srcN -> N % 4 + 1):
    //   src1 w=2, src2 w=3, src5 w=2
    // tokens: src1 = 40, src2 = 600, src5 = 400
    // K = min(40/2, 600/3, 400/2) = 20  ->  rates: 1.0, 0.1, 0.1
    val d = (
      (1 to 4).map(i => (100L + i, words(10), "src1")) ++
      (1 to 30).map(i => (200L + i, words(20), "src2")) ++
      (1 to 20).map(i => (300L + i, words(20), "src5"))
    ).toDF("doc_id", "text", "source")
    val out = CorpusOps.domainMix(d).collect()
    val bySrc = out.groupBy(_.getAs[String]("source"))
    // the binding source is never downsampled
    assert(bySrc("src1").length == 4, bySrc.view.mapValues(_.length).toMap.toString)
    assert(bySrc("src1").forall(_.getAs[Double]("rate") == 1.0))
    // non-binding sources carry the exact feasible rate and lose docs
    for (s <- Seq("src2", "src5"); r <- bySrc.getOrElse(s, Array.empty[org.apache.spark.sql.Row]))
      assert(r.getAs[Double]("rate") == 0.1, r.toString)
    assert(bySrc.getOrElse("src2", Array.empty[org.apache.spark.sql.Row]).length < 30)
    // deterministic: the kept set is a pure function of the input
    val again = CorpusOps.domainMix(d).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again == out.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("shuffle shard: exact permutation, full shards, growth preserves relative order") {
    val d = docs((0L until 200L).map(i => i -> s"doc $i"): _*)
    val out = CorpusOps.shuffleShard(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank"),
        r.getAs[Int]("shard"), r.getAs[Int]("shard_pos")))
    // ranks are exactly 0..N-1 (the bucket-offset decomposition is a
    // permutation, no gap/dup at any bucket boundary)
    assert(out.map(_._2).sorted.toSeq == (0L until 200L).toSeq)
    // shard/pos are rank arithmetic; all but the last shard are full
    out.foreach { case (_, r, s, p) =>
      assert(s == (r / CorpusOps.ShardSize).toInt && p == (r % CorpusOps.ShardSize).toInt)
    }
    val sizes = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.filter(_._1 < 3).values.forall(_ == CorpusOps.ShardSize.toInt), sizes.toString)
    // deterministic, and the shuffle decorrelates: rank order != id order
    assert(CorpusOps.shuffleShard(d).collect().map(_.getAs[Long]("rank")).toSeq ==
      out.map(_._2).toSeq)
    assert(out.sortBy(_._2).map(_._1).toSeq != (0L until 200L).toSeq)
    // growing the corpus only INTERLEAVES: old docs keep relative order
    val grown = CorpusOps.shuffleShard(
      docs((0L until 300L).map(i => i -> s"doc $i"): _*)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank")))
    val oldOrder = out.sortBy(_._2).map(_._1).toSeq
    val grownOrder = grown.sortBy(_._2).map(_._1).filter(_ < 200L).toSeq
    assert(grownOrder == oldOrder, "growth must not reorder existing docs")
  }

  test("boilerplate: position-free cross-doc segments removed, within-doc repeats kept") {
    val d = docs(
      1L -> "a b c d e f g h",  // segs: (a b c)(d e f)(g h)
      2L -> "x y z a b c",      // (x y z)(a b c) — shares "a b c" at a DIFFERENT position
      3L -> "p q r p q r",      // within-doc repeat only: one doc holds it -> kept
      4L -> (null: String))
    val out = CorpusOps.boilerplate(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[Integer]("n_segments")),
          Option(r.getAs[Integer]("n_boiler_segments")),
          Option(r.getAs[java.lang.Long]("tokens_kept"))))).toMap
    // "a b c" occurs in 2 distinct docs -> boilerplate in both; the
    // trailing "g h" remainder is its own 2-token segment
    assert(out(1L) == ((Some(3), Some(1), Some(5L))), out.toString)
    assert(out(2L) == ((Some(2), Some(1), Some(3L))), out.toString)
    assert(out(3L) == ((Some(2), Some(0), Some(6L))), out.toString)
    assert(out(4L) == ((None, None, None)), s"null text must carry NULL metrics: $out")
  }

  test("budget select: quality-desc order, doc_id ties, inclusive boundary") {
    val d = docs(
      1L -> "the the the the", // score 10000, 4 tokens
      2L -> "the x",           // score 5000, 2 tokens
      3L -> "x y z w",         // score 0, 4 tokens
      4L -> "the y",           // score 5000, 2 tokens (ties doc 2's bucket)
      5L -> (null: String))
    val out = CorpusOps.budgetSelect(d, budget = 7L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[Integer]("score_tenk")), Option(r.getAs[java.lang.Long]("cum_tokens")),
          Option(r.getAs[Integer]("selected"))))).toMap
    // order: doc1 (cum 4) -> doc2 (6) -> doc4 (8, over) -> doc3 (12)
    assert(out(1L) == ((Some(10000), Some(4L), Some(1))), out.toString)
    assert(out(2L) == ((Some(5000), Some(6L), Some(1))), out.toString)
    assert(out(4L) == ((Some(5000), Some(8L), Some(0))),
      s"tie must break by doc_id inside the score bucket: $out")
    assert(out(3L) == ((Some(0), Some(12L), Some(0))), out.toString)
    assert(out(5L) == ((None, None, None)), s"null text must carry NULL metrics: $out")
    // inclusive boundary: budget exactly at doc4's cum selects it
    val at = CorpusOps.budgetSelect(d, budget = 8L).collect()
      .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[Integer]("selected"))).toMap
    assert(at(4L) == Some(1), at.toString)
  }

  test("budget select: a fat score bucket sub-splits without changing the cumsum") {
    // 64 one-score docs of 2 tokens each; subRange=16 forces the fat
    // bucket through the (bucket, sub) two-level path — the exact
    // global cumsum must survive the decomposition
    val d = docs((0L until 64L).map(i => i -> "x y"): _*)
    val out = CorpusOps.budgetSelect(d, budget = 100L, subRange = 16L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum_tokens"),
        r.getAs[Int]("selected")))
      .sortBy(_._1)
    out.foreach { case (id, cum, sel) =>
      assert(cum == 2L * (id + 1), s"cumsum broke at sub boundary: ($id, $cum)")
      assert(sel == (if (cum <= 100L) 1 else 0), s"($id, $cum, $sel)")
    }
  }

  test("c44 canonicalize: hostile URLs — userinfo, punycode, case, ports, params") {
    import graft.ops.UrlGate.canonicalize
    // the full gauntlet in one URL: mixed-case scheme+host, userinfo,
    // default port, www, trailing slash, tracking params, fragment
    assert(canonicalize("HTTP://User:Pw@WWW.Example.COM:80/a/b/?z=1&utm_source=x&a=2#frag")
      == (("http://example.com/a/b?a=2&z=1", "example.com")))
    // https default port strips; a NON-default port is canonical
    assert(canonicalize("https://Example.com:443/x") == (("https://example.com/x", "example.com")))
    assert(canonicalize("https://example.com:8443/x")
      == (("https://example.com:8443/x", "example.com")))
    // punycode labels pass through lowercased, never decoded; the
    // public-suffix rule takes three labels under co.uk
    assert(canonicalize("https://XN--BCHER-KVA.Shop.CO.UK/p")
      == (("https://xn--bcher-kva.shop.co.uk/p", "shop.co.uk")))
    // empty path → root; root's slash is kept
    assert(canonicalize("http://a.com") == (("http://a.com/", "a.com")))
    assert(canonicalize("http://a.com/") == (("http://a.com/", "a.com")))
    // FQDN trailing dot names the same host: same dedup key, same
    // registered domain (a dotted host must not bypass the blocklist)
    assert(canonicalize("http://a.com./x") == canonicalize("http://a.com/x"))
    assert(canonicalize("http://www.a.com./x") == canonicalize("http://a.com/x"))
    // query-param reordering collides after the canonical sort
    assert(canonicalize("http://a.com/p?b=2&a=1") == canonicalize("http://a.com/p?a=1&b=2"))
    // tracking-only query drops the '?' entirely
    assert(canonicalize("http://a.com/p?utm_campaign=x&fbclid=1")
      == (("http://a.com/p", "a.com")))
    // '@' inside the userinfo password: host starts after the LAST '@'
    assert(canonicalize("http://u:p@w@host.com/q") == (("http://host.com/q", "host.com")))
    // query before any path; bare trailing colon (empty port)
    assert(canonicalize("http://A.com?z=1") == (("http://a.com/?z=1", "a.com")))
    assert(canonicalize("http://a.com:/p") == (("http://a.com/p", "a.com")))
    // zero-padded ports normalize numerically: ':080' IS the default
    // port, and a non-default padded port collides with its plain form
    assert(canonicalize("http://a.com:080/p") == (("http://a.com/p", "a.com")))
    assert(canonicalize("https://a.com:0443/p") == (("https://a.com/p", "a.com")))
    assert(canonicalize("http://a.com:08080/p")
      == canonicalize("http://a.com:8080/p"))
    // unparseable / null → (null, null)
    assert(canonicalize("not a url") == ((null, null)))
    assert(canonicalize(null) == ((null, null)))
  }

  test("c44 canonicalize: IP-literal hosts are their own registered domain") {
    import graft.ops.UrlGate.{canonicalize, registeredDomain}
    // IPv4: no label hierarchy — never group by last-two-octets
    assert(canonicalize("http://93.184.216.34/x")
      == (("http://93.184.216.34/x", "93.184.216.34")))
    assert(registeredDomain("93.184.216.34") == "93.184.216.34")
    assert(registeredDomain("10.0.0.1") == "10.0.0.1")
    // IPv4 with ports: default dropped, explicit kept
    assert(canonicalize("http://93.184.216.34:80/x")
      == (("http://93.184.216.34/x", "93.184.216.34")))
    assert(canonicalize("http://1.2.3.4:8080/p")
      == (("http://1.2.3.4:8080/p", "1.2.3.4")))
    // bracketed IPv6 (with and without port); the bracket survives
    // the port split because ':' inside brackets is not all-digits
    assert(canonicalize("http://[::1]/p") == (("http://[::1]/p", "[::1]")))
    assert(canonicalize("http://[::1]:8080/p")
      == (("http://[::1]:8080/p", "[::1]")))
    assert(canonicalize("https://[2001:db8::1]:443/p")
      == (("https://[2001:db8::1]/p", "[2001:db8::1]")))
    // distinct IPv4 hosts sharing last-two-octets stay distinct domains
    assert(registeredDomain("1.1.216.34") != registeredDomain("93.184.216.34"))
    // named hosts unaffected
    assert(registeredDomain("a.site-3.com") == "site-3.com")
  }

  test("c44 url gate: dedup keeps first, blocklist blocks, domain cap caps") {
    import graft.ops.UrlGate
    val d = Seq(
      // docs 1-3: one canonical URL via three raw disguises
      (1L, "http://site.com/p?a=1&z=1"),
      (2L, "HTTP://WWW.Site.COM:80/p/?z=1&a=1#x"),
      (3L, "http://u:p@site.com/p?utm_source=t&a=1&z=1"),
      // doc 4: blocked domain
      (4L, "https://bad.com/x"),
      // docs 5-8: same domain, distinct URLs — cap=2 keeps 5 and 6
      (5L, "https://big.co.uk/1"), (6L, "https://big.co.uk/2"),
      (7L, "https://big.co.uk/3"), (8L, "https://big.co.uk/4"),
      // doc 9: unparseable
      (9L, "garbage")
    ).toDF("doc_id", "url")
    val out = UrlGate.urlGate(d, blocklist = Seq("bad.com"), cap = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("url_canon") == "http://site.com/p?a=1&z=1")
    assert(out(2L).getAs[String]("url_canon") == out(1L).getAs[String]("url_canon"))
    assert(out(3L).getAs[String]("url_canon") == out(1L).getAs[String]("url_canon"))
    assert(out(1L).getAs[Int]("url_keep") == 1 && out(1L).getAs[Int]("kept") == 1)
    assert(out(2L).getAs[Int]("url_keep") == 0 && out(2L).getAs[Int]("kept") == 0)
    assert(out(3L).getAs[Int]("url_keep") == 0)
    assert(out(4L).getAs[Int]("blocked") == 1 && out(4L).getAs[Int]("kept") == 0
      && out(4L).getAs[Int]("url_keep") == 1 && out(4L).getAs[Int]("in_domain_cap") == 0,
      s"blocked docs are ineligible for the cap set: ${out(4L)}")
    assert(out(5L).getAs[Int]("in_domain_cap") == 1 && out(5L).getAs[Int]("kept") == 1)
    assert(out(6L).getAs[Int]("in_domain_cap") == 1 && out(6L).getAs[Int]("kept") == 1)
    assert(out(7L).getAs[Int]("in_domain_cap") == 0 && out(7L).getAs[Int]("kept") == 0)
    assert(out(8L).getAs[Int]("in_domain_cap") == 0)
    assert(out(7L).getAs[Int]("url_keep") == 1, "over-cap is not a dup")
    val g = out(9L)
    assert(g.isNullAt(g.fieldIndex("url_canon")) && g.isNullAt(g.fieldIndex("domain")))
    assert(g.getAs[Int]("url_keep") == 0 && g.getAs[Int]("kept") == 0)
    assert(out.size == 9, "one row per input doc")
  }

  test("quality classifier: separates curated-like from junk-like vocabulary") {
    // curated sources speak "clean" vocabulary, raw sources "junk";
    // two held-out docs (61, 62) carry each vocabulary under a RAW
    // source label — the classifier must score them by CONTENT
    val clean = (1 to 12).map(i => s"clean$i").mkString(" ")
    val junk = (1 to 12).map(i => s"junk$i").mkString(" ")
    val d = (0L until 60L).map { i =>
        if (i < 30) (i, clean, "src0") else (i, junk, "src9")
      } :+ ((61L, clean, "src9")) :+ ((62L, junk, "src9")) :+
      ((63L, null: String, "src9")) :+ ((64L, junk, null: String))
    val out = graft.ops.QualityModel.qualityClassifier(
        d.toDF("doc_id", "text", "source"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[Integer]("label")).map(_.toInt),
          Option(r.getAs[java.lang.Double]("quality_score")).map(_.toDouble),
          Option(r.getAs[Integer]("keep")).map(_.toInt)))).toMap
    assert(out(0L)._1 == Some(1) && out(59L)._1 == Some(0), out.toString)
    // null text re-enters with NULL metrics; null source = non-target,
    // scored normally (its junk text drops it)
    assert(out(63L) == ((None, None, None)), s"null text must carry NULL metrics: $out")
    assert(out(64L)._1 == Some(0) && out(64L)._3 == Some(0),
      s"null source must train as non-target, not crash: $out")
    // content beats the label: held-out clean text scores high and is
    // kept, held-out junk low and dropped
    assert(out(61L)._2.exists(_ > 0.9) && out(61L)._3 == Some(1),
      s"clean held-out rejected: $out")
    assert(out(62L)._2.exists(_ < 0.1) && out(62L)._3 == Some(0),
      s"junk held-out kept: $out")
    // determinism: the exact same input scores identically
    val again = graft.ops.QualityModel.qualityClassifier(
        d.toDF("doc_id", "text", "source"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Double]("quality_score")).map(_.toDouble)).toMap
    assert(again == out.map { case (k, v) => k -> v._2 }, "re-train diverged")
  }

  test("c33/c43 quantized scoring is faithful to the un-quantized model") {
    // The hash gate certifies that DuckDB replays the QUANTIZED
    // arithmetic — but a wrong quantization would be replayed
    // faithfully by both engines and still hash-match. This pins the
    // other side: the micro-quantized kernel must reproduce
    // model.transform's probabilities to within the quantization error
    // (weight rounding ≤ 0.5e-6 per unit count; sigmoid/softmax are
    // 1/4-Lipschitz, so per-doc drift is ~1e-5 at fixture sizes).
    import org.apache.spark.ml.functions.vector_to_array
    val en = (0L until 30L).map(i => (i, s"the and of to a in is item$i"))
    val de = (0L until 30L).map(i => (100L + i, s"der die und das nicht ist ding$i"))
    val zh = (0L until 30L).map(i => (200L + i, s"一二三四五 nr$i"))
    val d = (en ++ de ++ zh).toDF("doc_id", "text")
    val feat = graft.ops.QualityModel.langFeatures(d).localCheckpoint(true)
    val model = graft.ops.QualityModel.langFit(feat, 25)
    val kernel = graft.ops.QualityModel.langScore(d, feat, model).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("pred_lang"), r.getAs[Double]("confidence")))).toMap
    val direct = model.transform(feat)
      .select(col("doc_id"),
        col("prediction").cast("int").as("p"),
        vector_to_array(col("probability")).as("probs"))
      .collect()
      .map { r =>
        val probs = r.getAs[scala.collection.Seq[Double]]("probs").toSeq
        val sorted = probs.sorted(Ordering[Double].reverse)
        r.getAs[Long]("doc_id") ->
          ((graft.ops.QualityModel.LangClasses(r.getAs[Int]("p")),
            sorted.head, sorted.head - sorted(1)))
      }.toMap
    assert(kernel.keySet == direct.keySet)
    // argmax equality is only well-defined where the model itself is
    // decisive: a top-two gap inside the quantization drift (~1e-5)
    // can legitimately flip under exact-integer arithmetic, so the
    // pred assertion is gated on the gap (ADVICE r15) — and the
    // fixture must actually exercise it (min-gap guard below).
    val predGapBound = 1e-4
    kernel.foreach { case (id, (pl, conf)) =>
      val (dl, dconf, gap) = direct(id)
      if (gap > predGapBound)
        assert(pl == dl, s"doc $id: quantized pred $pl != model pred $dl (gap $gap)")
      assert(math.abs(conf - dconf) < 1e-4,
        s"doc $id: quantized conf $conf vs model $dconf")
    }
    val decisive = direct.values.count(_._3 > predGapBound)
    assert(decisive >= direct.size / 2,
      s"fixture degenerate: only $decisive/${direct.size} docs have a " +
        s"top-two gap above $predGapBound — the pred assertion would be vacuous")
  }

  test("c43 lang classifier: reads character distributions, reproduces the heuristic on text alone") {
    // three planted character distributions; labels come from the c6
    // heuristic, but the MODEL sees only hashed char n-grams — perfect
    // agreement on this separable fixture means it learned the
    // distributions, not the marker list (which it never receives)
    val en = (0L until 40L).map(i => (i, s"the and of to a in is item$i"))
    val de = (0L until 40L).map(i => (100L + i, s"der die und das nicht ist ding$i"))
    val zh = (0L until 40L).map(i => (200L + i, s"一二三四五 nr$i"))
    val d = (en ++ de ++ zh :+ ((300L, null: String))).toDF("doc_id", "text")
    val out = graft.ops.QualityModel.langClassifier(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // null text: NULL metrics (the c21 contract)
    assert(out(300L).isNullAt(out(300L).fieldIndex("pred_lang")))
    val scored = out.view.filterKeys(_ != 300L).toMap
    scored.values.foreach { r =>
      assert(r.getAs[String]("pred_lang") == r.getAs[String]("heuristic_lang"),
        s"model disagreed with heuristic on separable data: $r")
      assert(r.getAs[Int]("agree") == 1)
    }
    // ...and the heuristic labels are what the plant intended
    assert(scored(0L).getAs[String]("heuristic_lang") == "en")
    assert(scored(100L).getAs[String]("heuristic_lang") == "de")
    assert(scored(200L).getAs[String]("heuristic_lang") == "zh")
    // determinism: retrain on identical input scores identically
    val again = graft.ops.QualityModel.langClassifier(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Double]("confidence")).map(_.toDouble)).toMap
    assert(again == out.map { case (k, r) =>
      k -> Option(r.getAs[java.lang.Double]("confidence")).map(_.toDouble) },
      "re-train diverged")
  }

  test("bpe train: replays the classic low/lower/lowest merges deterministically") {
    // word freqs: low ×5, lower ×2, lowest ×2, newest ×6
    val d = docs(
      1L -> (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" "),
      2L -> (Seq.fill(2)("lowest") ++ Seq.fill(6)("newest")).mkString(" "))
    val out = graft.ops.BpeTrain.bpeTrain(spark, d, numMerges = 6)
      .collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_freq")))
    // hand-computed: (w,e) 10 [lower+lowest+newest] beats (l,o) 9;
    // round 3 is a TIE — (s,t</w>) 8 vs (we,s) 8 — broken
    // lexicographically on the left symbol ("s" < "we")
    assert(out(0) == ((1, "w", "e", "we", 10L)), out.mkString(";"))
    assert(out(1) == ((2, "l", "o", "lo", 9L)), out.mkString(";"))
    assert(out(2) == ((3, "s", "t</w>", "st</w>", 8L)), out.mkString(";"))
    assert(out(3) == ((4, "we", "st</w>", "west</w>", 8L)), out.mkString(";"))
    // round 5 ties again — (e,west</w>) 6 vs (n,e) 6 -> "e" < "n"
    assert(out(4) == ((5, "e", "west</w>", "ewest</w>", 6L)), out.mkString(";"))
    assert(out(5) == ((6, "n", "ewest</w>", "newest</w>", 6L)), out.mkString(";"))
    // determinism across re-runs (ties, if any, break lexicographically)
    val again = graft.ops.BpeTrain.bpeTrain(spark, d, numMerges = 6).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("merged")))
    assert(again.toSeq == out.map(r => (r._1, r._4)).toSeq, "re-train diverged")
  }

  test("bpe encode: applies the trained merges in rank order (hand-computed tokens)") {
    // same fixture as the train spec; merges learned: 1 (w,e) 2 (l,o)
    // 3 (s,t</w>) 4 (we,st</w>) 5 (e,west</w>) 6 (n,ewest</w>)
    val d = docs(
      1L -> (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" "),
      2L -> (Seq.fill(2)("lowest") ++ Seq.fill(6)("newest")).mkString(" "))
    val out = graft.ops.BpeTrain.bpeEncode(spark, d, numMerges = 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // low -> lo|w</w>; lower -> lo|we|r</w> (rank-1 (w,e) before rank-2 (l,o))
    assert(out(1L) == ((7, 5 * 2 + 2 * 3,
      Seq.fill(5)("lo|w</w>").mkString("|") + "|lo|we")), out(1L).toString)
    // lowest -> lo|west</w> (merges 1,2,3,4); newest -> newest</w> (1,3,4,5,6)
    assert(out(2L) == ((8, 2 * 2 + 6 * 1,
      Seq.fill(2)("lo|west</w>").mkString("|") +
        "|" + Seq.fill(6)("newest</w>").mkString("|"))), out(2L).toString)
  }

  test("bpe encode: null text propagates null metrics; unseen words still split") {
    val d = Seq((1L, Option("low low lower lower")), (2L, None: Option[String]),
      (3L, Option("zq"))).toDF("doc_id", "text")
    val out = graft.ops.BpeTrain.bpeEncode(spark, d, numMerges = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(2) && out(2L).isNullAt(3))
    // "zq" is below MinWordFreq (never in the vocab) but encodes anyway:
    // chars with no applicable merge
    assert(out(3L).getString(3) == "z|q</w>", out(3L).toString)
  }

  test("bpe train: merges stop when no pair repeats") {
    val d = docs(1L -> "ab cd") // every pair unique -> freq 1 < 2
    val out = graft.ops.BpeTrain.bpeTrain(spark, d).collect()
    assert(out.isEmpty, out.mkString(";"))
  }

  test("embed contamination: exact copy flagged, orthogonal clean, ties pick min eval id") {
    val ev = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (20L, Array(1f, 0f, 0f, 0f)),   // exact copy of eval 0
      (21L, Array(0f, 0f, 1f, 0f)),   // orthogonal to both
      (22L, Array(1f, 1f, 0f, 0f)))   // cos .707107 to BOTH -> tie
      .toDF("vec_id", "embedding")
    val out = CorpusOps.embedContamination(spark, ev).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(out.keySet == Set(20L, 21L, 22L), "eval rows must not appear")
    assert(out(20L).getAs[Double]("max_cos") == 1.0)
    assert(out(20L).getAs[Long]("nearest_eval_id") == 0L)
    assert(out(20L).getAs[Int]("contaminated") == 1)
    assert(out(21L).getAs[Double]("max_cos") == 0.0)
    assert(out(21L).getAs[Int]("contaminated") == 0)
    assert(out(22L).getAs[Double]("max_cos") == 0.707107)
    assert(out(22L).getAs[Long]("nearest_eval_id") == 0L, "tie must pick min eval id")
    assert(out(22L).getAs[Int]("contaminated") == 1)
  }

  test("ngram LM: exact tiny-case NLL; common transitions score below rare ones") {
    import graft.ops.LmScore
    // one doc "x y x y x": c2=2 for both bigram types, c1=2, V=2
    // ⇒ every transition NLL = ln(4/3) ⇒ tenk = 2877 ⇒ mean 0.2877
    val r1 = LmScore.ngramLm(docs(1L -> "x y x y x")).collect().head
    assert(r1.getAs[Int]("n_bigrams") == 4)
    assert(r1.getAs[Double]("mean_nll") == 0.2877, r1.toString)
    // corpus dominated by the a↔b loop; doc 99 is one-off transitions
    val d = docs(((1L to 10L).map(i => i -> "a b a b a b a b") :+
      (99L -> "q r s t u v w x")): _*)
    val out = LmScore.ngramLm(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_nll")).toMap
    assert(out(1L) < out(99L), out.toString)
  }

  test("ngram LM: high_nll fires on rare-transition docs and not on common ones") {
    import graft.ops.LmScore
    // 12 docs of 12 unique tokens each ⇒ V ≈ 144 second-position
    // words, every transition a singleton: NLL ≈ ln((1+V)/2) ≈ ln 72
    // ≈ 4.3 > NllFlagMax. Doc 100 repeats one 2-token loop: its
    // transitions are corpus-frequent, NLL ≈ ln 8 ≈ 2.1 < NllFlagMax.
    val unique = (1L to 12L).map(i =>
      i -> (1 to 12).map(j => s"u${i}_$j").mkString(" "))
    val d = docs((unique :+ (100L -> ("a b " * 10).trim)): _*)
    val out = LmScore.ngramLm(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("high_nll")).toMap
    assert(out(100L) == 0, s"common-transition doc flagged: $out")
    (1L to 12L).foreach(i => assert(out(i) == 1, s"rare-transition doc $i unflagged: $out"))
  }

  test("ngram LM: null and single-token docs carry NULL metrics") {
    import graft.ops.LmScore
    val d = Seq((1L, "hello"), (2L, null.asInstanceOf[String]), (3L, "a b a"))
      .toDF("doc_id", "text")
    val rows = LmScore.ngramLm(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).isNullAt(rows(1L).fieldIndex("mean_nll")), "single token")
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("n_bigrams")), "null text")
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("high_nll")), "null text flag")
    assert(!rows(3L).isNullAt(rows(3L).fieldIndex("mean_nll")))
  }

  test("c42 trigram backoff: exact tenk per level on a hand-computed held-out doc") {
    import graft.ops.LmScore
    // doc 4 is a TRAIN bucket (md5("4")=a8 < c0), doc 0 is HELD OUT
    // (md5("0")=cf). Model from doc 4 "a b c a b c" alone:
    //   t3 (a,b,c)=2 (b,c,a)=1 (c,a,b)=1; t2 (a,b)=2 (b,c)=1 (c,a)=1
    //   b2 (b,c)=2 (c,a)=1 (a,b)=1; b1 b=2 c=1 a=1
    //   u  c=2 a=1 b=1 ⇒ N=4, V=3
    // Held-out doc 0 "a b c x b c d" trigrams and exact tenk:
    //   (a,b,c): level 3, ln(2/2)=0            → 0
    //   (x,b,c): level 2, 9163 + ln(2/2)·1e4   → 9163
    //   (c,x,b): level 1, 18326 + ln(7/2)·1e4  → 18326 + 12528
    //   (b,c,x): level 1 unseen w3, 18326 + ln(7/1)·1e4 → 18326 + 19459
    //   (b,c,d): level 1 unseen w3             → 18326 + 19459
    val d = docs(4L -> "a b c a b c", 0L -> "a b c x b c d")
    val out = LmScore.trigramBackoff(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val h = out(0L)
    assert(h.getAs[Int]("is_train") == 0 && out(4L).getAs[Int]("is_train") == 1)
    assert(h.getAs[Int]("n_trigrams") == 5)
    assert(h.getAs[Int]("n_hit3") == 1 && h.getAs[Int]("n_hit2") == 1
      && h.getAs[Int]("n_hit1") == 3, h.toString)
    val sumTenk = 0L + 9163L + (18326L + 12528L) + 2 * (18326L + 19459L)
    assert(h.getAs[Double]("mean_nll") == sumTenk.toDouble / (5L * 10000L), h.toString)
    // the train doc scores itself perfectly: every ratio is c/c = 1
    assert(out(4L).getAs[Double]("mean_nll") == 0.0, out(4L).toString)
    assert(out(4L).getAs[Int]("n_hit3") == 4)
  }

  test("c42 trigram backoff: null and short docs carry NULL metrics") {
    import graft.ops.LmScore
    val d = Seq((1L, "a b"), (2L, null.asInstanceOf[String]), (4L, "a b c d"))
      .toDF("doc_id", "text")
    val rows = LmScore.trigramBackoff(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).isNullAt(rows(1L).fieldIndex("mean_nll")), "2-token doc")
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("n_trigrams")), "null text")
    assert(!rows(4L).isNullAt(rows(4L).fieldIndex("mean_nll")))
    // is_train is a pure function of doc_id, never NULL
    rows.values.foreach(r => assert(!r.isNullAt(r.fieldIndex("is_train"))))
  }

  test("dsir: target-vocab docs keep, background-vocab docs drop, exact deltas") {
    import graft.ops.LmScore
    // target slice (src0) speaks t+c, background (src7) speaks b+c;
    // probes 100/101 sit in the background source but use one vocab each
    val d = (
      (1 to 5).map(i => (i.toLong, "t c t c", "src0")) ++
      (1 to 5).map(i => (10L + i, "b c b c", "src7")) ++
      Seq((100L, "t t t", "src7"), (101L, "b b b", "src7"))
    ).toDF("doc_id", "text", "source")
    val out = LmScore.dsirWeight(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // hand computation: rc(t)=13 rc(b)=13 rc(c)=20, tc(t)=10 tc(c)=10
    // tc(b)=0, rr=46 tt=20 V=3 ⇒ delta(t) = 12528-7376 = 5152,
    // delta(b) = 12528-31355 = -18827
    assert(out(100L).getAs[Double]("log_ratio") == 3 * 5152 / 1e4, out(100L).toString)
    assert(out(100L).getAs[Int]("keep") == 1)
    assert(out(101L).getAs[Double]("log_ratio") == 3 * -18827 / 1e4, out(101L).toString)
    assert(out(101L).getAs[Int]("keep") == 0)
    // keep agrees with the sign of log_ratio everywhere
    out.values.foreach { r =>
      assert((r.getAs[Double]("log_ratio") > 0) == (r.getAs[Int]("keep") == 1), r.toString)
    }
  }

  test("c27/c28 staging gate: staged and lazy paths are row-identical; gate routes by size") {
    import graft.ops.LmScore
    // a corpus with repeated AND singleton grams, null text, and both
    // target / background sources — exercises every scoring branch
    val d = (
      (1L to 30L).map(i => (i, s"a b a b w$i x$i a", s"src${i % 4}")) :+
      (98L, null.asInstanceOf[String], "src0") :+
      (99L, "solo", "src7")
    ).toDF("doc_id", "text", "source")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rowsOf(LmScore.ngramLmStaged(d)) == rowsOf(LmScore.ngramLmPlan(d)))
    assert(rowsOf(LmScore.dsirWeightStaged(d)) == rowsOf(LmScore.dsirWeightPlan(d)))
    // gate routing: this inline corpus sits far below StagingMinBytes
    // (recompute path); a frame whose Catalyst estimate exceeds the
    // gate takes the staged path
    assert(LmScore.belowStagingGate(d))
    val wide = spark.range(0, 200000).toDF("doc_id")
      .withColumn("text", org.apache.spark.sql.functions.lit("t " * 40))
    assert(!LmScore.belowStagingGate(wide),
      s"estimate=${wide.queryExecution.optimizedPlan.stats.sizeInBytes}")
  }

  test("c45 ppl bucket: per-lang thirds, bucket ordering, null text, determinism") {
    import graft.ops.LmScore
    // 6 docs per lang with clearly separated LM scores (increasingly
    // unpredictable text against the corpus-trained bigram model) +
    // one null-text doc; thresholds are per-LANG, so the two langs'
    // identical structure must bucket independently
    def mk(lang: String, base: Long) = (0 until 6).map { k =>
      // k repeats of the predictable bigram + k singleton words
      val common = Seq.fill(8 - k)(s"p$lang q$lang").mkString(" ")
      val rare = (0 until k).map(j => s"r$lang${base + k}_$j").mkString(" ")
      (base + k, (common + " " + rare).trim, lang)
    }
    val d = (mk("aa", 10L) ++ mk("bb", 20L) :+
      ((99L, null.asInstanceOf[String], "aa"))).toDF("doc_id", "text", "lang")
    val out = LmScore.pplBucket(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // null text: bucket 'none', kept 0, NULL score
    assert(out(99L).getAs[String]("bucket") == "none")
    assert(out(99L).getAs[Int]("kept") == 0)
    assert(out(99L).isNullAt(out(99L).fieldIndex("ppl_q")))
    for (lang <- Seq("aa", "bb")) {
      val rows = out.values.filter(r =>
        r.getAs[String]("lang") == lang && !r.isNullAt(r.fieldIndex("ppl_q")))
      val byBucket = rows.groupBy(_.getAs[String]("bucket"))
        .view.mapValues(_.map(_.getAs[Int]("ppl_q")).toSeq).toMap
      // all three tiers populated, and tiers are ordered by score:
      // every head score <= every middle score <= every tail score
      assert(Set("head", "middle", "tail").subsetOf(byBucket.keySet),
        s"$lang buckets: ${byBucket.keySet}")
      assert(byBucket("head").max <= byBucket("middle").min)
      assert(byBucket("middle").max <= byBucket("tail").min)
      // kept = head + middle only
      rows.foreach { r =>
        val kept = r.getAs[Int]("kept")
        assert((kept == 1) == Set("head", "middle")(r.getAs[String]("bucket")))
      }
      // integer-thirds semantics on 6 distinct quantized scores: 2/2/2
      if (byBucket.values.map(_.size).sum == 6 &&
          byBucket.values.flatten.toSet.size == 6)
        assert(byBucket.view.mapValues(_.size).toMap ==
          Map("head" -> 2, "middle" -> 2, "tail" -> 2))
    }
    // retrain determinism: identical input, identical buckets
    val again = LmScore.pplBucket(d).collect().map(_.toString).sorted.toSeq
    assert(again == out.values.map(_.toString).toSeq.sorted)
  }

  test("c45 pplBucket: NULL lang rows keep kept=0, never NULL") {
    import graft.ops.LmScore
    // a NULL lang never matches the broadcast threshold join; the
    // oracle's CASE/ELSE emits 0 there — kept must coalesce, not
    // propagate the null comparison
    val d = Seq(
      (1L, "p q p q p q", "aa"), (2L, "p q r s t u", "aa"),
      (3L, "p q p q x y", null.asInstanceOf[String])).toDF("doc_id", "text", "lang")
    val rows = LmScore.pplBucket(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r3 = rows(3L)
    assert(!r3.isNullAt(r3.fieldIndex("kept")), "kept must not be NULL")
    assert(r3.getAs[Int]("kept") == 0)
    assert(r3.getAs[String]("bucket") == "tail") // no threshold row matched
  }

  test("c46 pipeline e2e: stage gates compose monotonically") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.operators.PipelineQueries.pipelineE2e(spark, dir).collect()
    assert(out.nonEmpty)
    // one row per URL-gate survivor
    val gateKept = graft.operators.PipelineQueries.urlGate(spark, dir)
      .filter(org.apache.spark.sql.functions.col("kept") === 1).count()
    assert(out.length.toLong == gateKept)
    out.foreach { r =>
      val tierKept = r.getAs[Int]("tier_kept")
      val selected = r.getAs[Int]("selected")
      // selection only among tier survivors; dropped docs carry NULL
      // selection metrics and selected=0 (never NULL)
      if (tierKept == 0) {
        assert(selected == 0)
        assert(r.isNullAt(r.fieldIndex("score_tenk")))
      }
      if (selected == 1) assert(tierKept == 1)
      // the lang column is the PREDICTED lang (stage 2), a closed enum
      assert(Set("en", "de", "fr", "es", "zh", "unknown")(r.getAs[String]("lang")))
    }
    // at least one doc selected and at least one tier-dropped doc at
    // this SF (the chain is not vacuous)
    assert(out.exists(_.getAs[Int]("selected") == 1))
    assert(out.exists(_.getAs[Int]("tier_kept") == 0))
  }

  test("dsir: null text carries NULL metrics and NULL keep") {
    import graft.ops.LmScore
    val d = Seq((1L, null.asInstanceOf[String], "src0"), (2L, "t t", "src0"))
      .toDF("doc_id", "text", "source")
    val rows = LmScore.dsirWeight(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).isNullAt(rows(1L).fieldIndex("n_tokens")))
    assert(rows(1L).isNullAt(rows(1L).fieldIndex("keep")))
    assert(!rows(2L).isNullAt(rows(2L).fieldIndex("keep")))
  }
}
