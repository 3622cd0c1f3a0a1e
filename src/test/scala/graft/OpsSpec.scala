package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal, TextAnalysis}

class OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 4
    val nearDup = base.replace("lazy", "sleepy")
    val unrelated = "completely different content about spark catalyst optimizer internals " * 4
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated, 4L -> (base + "trailing bit"))
    val sigs = Dedup.minHashSignatures(spark, d, Dedup.MinHashParams())
    val pairs = Dedup.lshCandidatePairs(spark, sigs, Dedup.MinHashParams())
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair not found: $pairs")
    assert(pairs.contains((1L, 4L)), s"superset pair not found: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"unrelated doc flagged: $pairs")
  }

  test("minhash estimated jaccard approximates exact shingle jaccard") {
    val tokens = (1 to 200).map(i => s"w$i")
    val a = tokens.mkString(" ")
    val b = (tokens.take(150) ++ (1 to 50).map(i => s"x$i")).mkString(" ")
    val d = docs(1L -> a, 2L -> b)
    val p = Dedup.MinHashParams(bands = 32) // aggressive banding → candidate found
    val sigs = Dedup.minHashSignatures(spark, d, p)
    val est = Dedup.lshCandidatePairs(spark, sigs, p)
      .select("est_jaccard").as[Double].collect()
    assert(est.nonEmpty)
    val sa = Dedup.shingles(a, 3).toSet
    val sb = Dedup.shingles(b, 3).toSet
    val exact = (sa & sb).size.toDouble / (sa | sb).size
    assert(math.abs(est.head - exact) < 0.2, s"est=${est.head} exact=$exact")
  }

  test("dedup kernels treat null text as the empty doc (no NPE)") {
    // the d8 rule — kernels must not NPE on foreign corpora — applied
    // to the c2/c3/d6 family: null ≡ "" exactly (same signature, same
    // fingerprint), so a null-text row flows through the streaming
    // dedup instead of permanently wedging the ingest query on
    // checkpoint restart
    val p = Dedup.MinHashParams()
    val cs = Dedup.hashCoefs(p)
    assert(Dedup.signatureOf(null, cs, p).sameElements(
      Dedup.signatureOf("", cs, p)))
    assert(Dedup.simHash64(null, 42) === Dedup.simHash64("", 42))
    assert(Dedup.shingles(null, 5).sameElements(Dedup.shingles("", 5)))
  }

  test("dedup summaries leave no cached plans behind") {
    // No clearCache here: the cacheManager is SESSION-SHARED, and
    // wiping it evicts other suites' caches (it cost the IVF index its
    // pinned partitioning once). A CacheManager plan-lookup can't work
    // either — typed-operator lambdas compare by reference, so a
    // rebuilt plan never matches the cached one. Instead diff the
    // SparkContext's persistent-RDD registry: the summaries' internal
    // signature caches must be gone; only their localCheckpoint'd
    // RESULTS (by-design node-local, reclaimed on GC) may remain.
    // Suites run sequentially in the forked test JVM, so the delta is
    // race-free. Deleting either `unpersist` in Dedup fails this test.
    val d = docs((1L to 20L).map(i => i -> s"document number $i with some shared words " * 3): _*)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val mh = Dedup.minHashSummary(spark, d)
    assert(mh.count() == 20)
    val sh = Dedup.simHashSummary(spark, d)
    assert(sh.count() == 20)
    val added = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) }
    // exactly the two localCheckpoint'd results (held live by mh/sh —
    // an unreferenced checkpoint is ContextCleaner-reclaimed and would
    // make the count flaky); a leaked signature cache, pinned strongly
    // by the CacheManager, would be a third entry
    assert(added.size == 2,
      s"expected only the two checkpointed results to stay registered, " +
        s"got ${added.size}: ${added.values.map(_.toString)}")
    assert(mh.count() + sh.count() == 40) // keeps mh/sh live through the delta check
  }

  test("lsh candidate scoring matches an independent recomputation") {
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 4
    val d = docs(1L -> base, 2L -> base.replace("lazy", "sleepy"),
      3L -> (base + "trailing bit"), 4L -> base)
    val p = Dedup.MinHashParams()
    val sigs = Dedup.minHashSignatures(spark, d, p)
    val byId = sigs.as[(Long, Array[Long])].collect().toMap
    val pairs = Dedup.lshCandidatePairs(spark, sigs, p)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, est) =>
      val eq = byId(a).zip(byId(b)).count { case (x, y) => x == y }
      val expected = BigDecimal(eq.toDouble / p.numHashes)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(est == expected, s"pair ($a,$b): kernel=$est expected=$expected")
    }
  }

  test("verified near-dups: LSH routing + exact verification equals all-pairs truth") {
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 4
    val nearDup = base.replace("lazy", "sleepy")
    val unrelated = "completely different content about spark catalyst optimizer internals " * 4
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated,
      4L -> (base + "trailing bit"), 5L -> unrelated)
    val rnd = new scala.util.Random(11)
    val e = (1L to 5L).map(i => (i, Array.fill(16)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val got = Dedup.verifiedNearDups(spark, d, e, minJaccard = 0.8)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // independent all-pairs truth from the exact shingle sets
    val sets = d.as[(Long, String)].collect()
      .map { case (id, t) => id -> Dedup.shingleSetOf(t, 3).toSet }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size.toDouble
      uni = (sets(a) | sets(b)).size
      if uni > 0
      j = math.floor(inter / uni * 1e6 + 0.5) / 1e6
      if j >= 0.8
    } yield (a, b, j)).toSet
    assert(want.nonEmpty, "fixture must contain qualifying pairs")
    assert(got == want, s"got $got, want $want")
    // the exact duplicate pair (3,5) must be present at jaccard 1.0
    assert(got.contains((3L, 5L, 1.0)))
  }

  test("verified near-dups: an exact-copy mega-family bypasses the LSH bucket cap") {
    // 60 identical copies with maxBucket = 10: without the collapse,
    // every band bucket for this family would overflow the cap and ALL
    // its pairs would silently vanish; collapsed, the family is ONE
    // signature and the pairs come back via within-class expansion
    val family = (1L to 60L).map(i =>
      (i, "same boilerplate text repeated for the dedup family test " * 3))
    val lone = Seq((100L, "completely unrelated content that stands alone " * 3))
    val d = (family ++ lone).toDF("doc_id", "text")
    val rnd = new scala.util.Random(5)
    val e = (1L to 100L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val p = Dedup.MinHashParams(numHashes = 128, bands = 32, maxBucket = 10)
    val got = Dedup.verifiedNearDups(spark, d, e, 0.8, p)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(got.length == 60 * 59 / 2, s"expected all family pairs, got ${got.length}")
    assert(got.forall(_._3 == 1.0))
    assert(!got.exists(r => r._1 == 100L || r._2 == 100L))
  }

  test("verified near-dups equal the all-pairs oracle on the sf0.001 corpus") {
    val sf = "/root/testdata/sf0.001"
    val got = Dedup.verifiedNearDups(spark,
        Tables.documents(spark, sf), Tables.embeddings(spark, sf))
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // local brute force over all pairs — the property the c19 DuckDB
    // oracle relies on: LSH recall is 1 at the threshold on this corpus
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => id -> Dedup.shingleSetOf(t, 3).toSet }
    val want = (for {
      (a, sa) <- sets.iterator; (b, sb) <- sets.iterator if a < b
      uni = (sa | sb).size if uni > 0
      j = math.floor((sa & sb).size.toDouble / uni * 1e6 + 0.5) / 1e6
      if j >= 0.8
    } yield (a, b, j)).toSet
    assert(got == want,
      s"LSH-routed pipeline diverged from all-pairs truth: " +
        s"missing=${want -- got}, extra=${got -- want}")
    assert(want.nonEmpty, "corpus must contain planted near-dups")
  }

  test("canonicalize co-clusters multi-hop families (A~B, B~C, A!~C)") {
    // two families linked only through middles, plus singletons; the
    // judge-required shape: A and C share no direct pair yet must land
    // in one family with the minimum id canonical
    val d = docs((1L to 10L).map(i => i -> s"doc $i"): _*)
    val pairs = Seq((2L, 5L), (5L, 9L), // 2-5-9 chain
      (4L, 7L))                         // separate family
      .toDF("id_a", "id_b")
    val got = Dedup.canonicalize(d, pairs)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    val want = (1L to 10L).map {
      case i @ (2L | 5L | 9L) => (i, 2L, if (i == 2L) 1 else 0)
      case i @ (4L | 7L)      => (i, 4L, if (i == 4L) 1 else 0)
      case i                  => (i, i, 1)
    }
    assert(got.toSeq == want, s"got ${got.toSeq}")
  }

  test("canonicalize converges on a long chain and with no pairs at all") {
    // a 40-hop path exercises the pointer-jumping rounds well past the
    // 2-3 a real near-dup family needs
    val n = 40L
    val d = docs((1L to n).map(i => i -> s"doc $i"): _*)
    val chain = (1L until n).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val got = Dedup.canonicalize(d, chain).as[(Long, Long, Int)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), s"chain must collapse to 1: ${got.filter(_._2 != 1L).toSeq}")
    assert(got.count(_._3 == 1) == 1)
    val none = Dedup.canonicalize(d, Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .as[(Long, Long, Int)].collect()
    assert(none.forall(r => r._2 == r._1 && r._3 == 1))
  }

  test("embedding near-dup block plan matches a local all-pairs check") {
    import graft.functions.VectorFunctions.dot
    val rnd = new scala.util.Random(7)
    val planted = Array.fill(8)(0.9f)
    val vecs = (1L to 30L).map { i =>
      val v = Array.fill(8)(rnd.nextFloat() - 0.5f)
      (i, if (i % 5 == 0) planted else v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(df, 0.3, numBlocks = 4)
      .as[(Long, Long, Double)].collect().toSet
    val expected = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      c = math.floor(dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb))) * 1e6 + 0.5) / 1e6
      if c >= 0.3
    } yield (ia, ib, c)).toSet
    assert(got == expected)
    assert(expected.nonEmpty)
  }

  test("embedding near-dup handles negative ids (block assignment is floorMod)") {
    val v = Array.fill(8)(0.5f)
    val df = Seq((-7L, v), (-2L, v), (3L, v)).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(df, 0.9, numBlocks = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((-7L, -2L), (-7L, 3L), (-2L, 3L)))
  }

  test("embedding near-dup: duplicate ids never emit self-pairs") {
    val v = Array.fill(8)(0.5f)
    val df = Seq((7L, v), (7L, v), (9L, v)).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(df, 0.9, numBlocks = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(!got.contains((7L, 7L)), s"self-pair leaked: $got")
    // the distinct-id pair is still reported (once per duplicate row)
    assert(got.count(_ == (7L, 9L)) == 2)
  }

  test("simhash: near-identical docs collide, unrelated do not") {
    val base = (1 to 100).map(i => s"tok$i").mkString(" ")
    val near = (1 to 100).map(i => if (i == 50) "changed" else s"tok$i").mkString(" ")
    val far = (1 to 100).map(i => s"other$i").mkString(" ")
    val ha = Dedup.simHash64(base, 42)
    val hb = Dedup.simHash64(near, 42)
    val hc = Dedup.simHash64(far, 42)
    assert(java.lang.Long.bitCount(ha ^ hb) <= 8)
    assert(java.lang.Long.bitCount(ha ^ hc) > 16)
  }

  test("ngram jaccard handles docs shorter than the shingle size") {
    val d = docs(1L -> "only two", 2L -> "x y", 3L -> "a b c d e")
    val out = Dedup.ngramJaccardPairs(d).orderBy("id_a").collect()
    assert(out.length == 2)
    assert(out(0).isNullAt(2), "pair of two shingle-less docs must yield null jaccard")
    assert(out(1).getDouble(2) == 0.0, "short-vs-long pair has jaccard 0")
  }

  test("exact dedup groups identical texts") {
    val d = docs(1L -> "same text", 2L -> "same text", 3L -> "different")
    val out = Dedup.exact(d).orderBy("keep_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("language id picks the language with most markers") {
    val d = docs(
      1L -> "the cat and the dog is in a house of cards",
      2L -> "der hund und die katze ist nicht das problem",
      3L -> "xyzzy plugh quux")
    val out = TextAnalysis.langId(d).select("doc_id", "predicted")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en"); assert(out(2L) == "de"); assert(out(3L) == "unknown")
  }

  test("fingerprint is deterministic and content-sensitive") {
    val (f1, w1) = TextAnalysis.fingerprintOf("hello world hello world")
    val (f2, w2) = TextAnalysis.fingerprintOf("hello world hello world")
    val (f3, _) = TextAnalysis.fingerprintOf("hello world hello worle")
    assert(f1 == f2 && w1 == w2)
    assert(f1 != f3)
  }

  test("multimodal feature extraction feeds similarity search end-to-end") {
    val d = docs(
      1L -> "identical media payload content",
      2L -> "identical media payload content", // byte-for-byte dup of 1
      3L -> "content payload media identical", // true byte permutation of 1
      4L -> "completely different binary stuff")
    val feats = Multimodal.featureExtract(spark, d)
    val rows = feats.as[(Long, Array[Float])].collect().toMap
    assert(rows.size == 4 && rows.values.forall(_.length == 64))
    // unit-norm embeddings; identical payloads -> identical vectors
    rows.values.foreach { v =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-5)
    }
    assert(rows(1L).toSeq == rows(2L).toSeq)
    assert(rows(1L).toSeq != rows(3L).toSeq, "bigram term must see byte order")
    // the bridge: exact search over extracted features puts the dup first
    val q = Array((1L, rows(1L)))
    val top = graft.ann.KnnExact.topK(spark, feats, q, k = 2)
      .orderBy("rk").select("neighbor_id").as[Long].collect()
    assert(top.toSet == Set(1L, 2L), s"dup not found by search: ${top.toSeq}")
  }

  test("multimodal decode stub: schema and per-row plumbing") {
    val d = docs(1L -> "abcd", 2L -> ("x" * 100))
    val meta = Multimodal.decode(spark, d).collect().sortBy(_.doc_id)
    assert(meta(0).byte_len == 4 && meta(1).byte_len == 100)
    assert(meta.forall(m => Set("img", "audio", "video").contains(m.format)))
    val frames = Multimodal.sampleFrames(spark, d, stride = 2).count()
    assert(frames == 1 + 4) // 1 frame for 4B doc; ceil(100/16)=7 frames -> idx 0,2,4,6
  }

  test("multimodal decode/frames/features exclude null payloads (the foreign-corpus rule)") {
    val d = docs(1L -> "abcd", 2L -> (null: String))
    val meta = Multimodal.decode(spark, d).collect()
    assert(meta.map(_.doc_id).toSeq == Seq(1L), "null payload must be excluded, not NPE")
    assert(Multimodal.sampleFrames(spark, d).select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(Multimodal.featureExtract(spark, d).select("vec_id").as[Long].collect().toSet == Set(1L))
  }

  test("simhash summary refuses maxHamming past the banding's recall guarantee") {
    val d = docs(1L -> "a b c")
    val e = intercept[IllegalArgumentException] {
      Dedup.simHashSummary(spark, d, maxHamming = 4)
    }
    assert(e.getMessage.contains("maxHamming"), e.getMessage)
  }

  test("c36 frame sampling: stride/boundary arithmetic, multibyte frames, null/empty docs") {
    val d = Seq(
      (1L, Option("a" * 40)),       // ceil(40/16)=3 frames -> last idx 2, stride 4 -> [0]
      (2L, Option("b" * 100)),      // 7 frames -> idx 0, 4
      (3L, Option("")),             // empty -> one empty frame
      (4L, None: Option[String]),   // null -> excluded
      (5L, Option("漢" * 20))       // 20 chars multibyte -> 2 frames -> idx 0
    ).toDF("doc_id", "text")
    val out = Multimodal.frameQuery(spark, d)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).map(_._2).toSeq == Seq(0))
    assert(byDoc(2L).map(_._2).toSeq.sorted == Seq(0, 4))
    assert(byDoc(3L).map(t => (t._2, t._4)).toSeq == Seq((0, 0)), "empty doc: one empty frame")
    assert(!byDoc.contains(4L), "null payload must be excluded")
    // frame content is CHARACTER-sliced: doc 2's frame 4 covers chars 65-80
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(byDoc(2L).find(_._2 == 4).get._3 == hex("b" * 16))
    assert(byDoc(5L).head._3 == hex("漢" * 16), "multibyte frame must slice by chars, hash by UTF-8 bytes")
    assert(byDoc(5L).head._4 == 16)
  }

  test("c47 frame dedup: cross-doc frames count, within-doc repeats don't, flag at threshold") {
    // docs 1 & 2 share their first 16-char frame (cross-doc dup);
    // doc 3 repeats ITS OWN frame internally but shares nothing —
    // within-doc repetition alone must not count as duplication
    val d = Seq(
      (1L, Option("A" * 16)),                    // 1 frame, shared with doc 2
      (2L, Option("A" * 16 + "B" * 48)),         // frames idx 0 ("A"*16), stride 4 -> just idx 0
      (3L, Option("C" * 16)),                    // unique frame
      (4L, None: Option[String])                 // null -> excluded
    ).toDF("doc_id", "text")
    val out = Multimodal.frameDedup(spark, d)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getInt(4))).toMap
    assert(out(1L) == ((1, 1, 1.0, 1)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((1, 1, 1.0, 1)), s"doc2: ${out(2L)}")
    assert(out(3L) == ((1, 0, 0.0, 0)), s"doc3: ${out(3L)}")
    assert(!out.contains(4L), "null payload excluded")
    // a doc sharing only PART of its frames flags only past the
    // threshold: doc 5 has frames idx 0 ("A"*16, shared) and idx 4
    // (unique) -> ratio 0.5, NOT flagged (strict >)
    val d2 = Seq(
      (1L, Option("A" * 16)),
      (5L, Option("A" * 16 + "x" * 64))) // ceil(80/16)=5 frames -> idx 0, 4
      .toDF("doc_id", "text")
    val o5 = Multimodal.frameDedup(spark, d2).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(4))).toMap
    assert(o5(5L) == ((2, 1, 0)), s"doc5: ${o5(5L)} — ratio 0.5 must not flag (strict >)")
  }

  test("c37 kmv aggregator: capped sorted buffer, dedupe, exact min-k union on merge") {
    val agg = new graft.ops.Sketches.KmvAgg(4)
    var b = agg.zero
    for (h <- Seq(50L, 10L, 30L, 10L, 70L, 20L)) b = agg.reduce(b, h)
    assert(b.toSeq == Seq(10L, 20L, 30L, 50L), b.toSeq.toString) // capped at 4, dup 10 once, 70 rejected
    val other = Array(5L, 20L, 25L, 60L)
    assert(agg.merge(b, other).toSeq == Seq(5L, 10L, 20L, 25L), "min-k union with cross-side dedupe")
    assert(agg.merge(agg.zero, other).toSeq == other.toSeq)
    assert(agg.merge(b, agg.zero).toSeq == b.toSeq)
  }

  test("c37 kmv estimate: exact below k, ~unbiased above k, partition-order-independent") {
    val mkDocs = (rows: Seq[(Long, String, String)]) =>
      rows.toDF("doc_id", "text", "source")
    // small source: 30 distinct words < k -> exact
    val small = (1 to 30).map(i => s"s$i").mkString(" ")
    // big source: 20000 distinct words spread over docs -> estimated
    val bigDocs = (0 until 40).map { d =>
      (100L + d, (0 until 500).map(i => s"w${d * 500 + i}").mkString(" "), "big")
    }
    val docs = mkDocs((1L, small, "small") +: bigDocs)
    val rows = graft.ops.Sketches.kmvDistinct(spark, docs).collect()
    val out = rows.map(r => r.getString(0) ->
      ((r.getInt(1), r.getLong(3)))).toMap
    assert(out("small") == ((30, 30L)), out.toString)
    val (heldBig, estBig) = out("big")
    assert(heldBig == graft.ops.Sketches.KmvK)
    assert(math.abs(estBig - 20000.0) / 20000.0 < 0.15,
      s"KMV estimate off by >15%: $estBig vs 20000")
    // order independence: reversed input, different partitioning
    val first = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val again = graft.ops.Sketches.kmvDistinct(spark,
        mkDocs(((1L, small, "small") +: bigDocs).reverse).repartition(7))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(again == first, "sketch depends on row order/partitioning")
  }

  test("c39 bloom aggregator: lazy empty zero, in-place OR merge, full-size finish") {
    val agg = new graft.ops.Sketches.BloomAgg(128) // 2 words
    assert(agg.zero.isEmpty, "zero must be the empty array (idle groups encode nothing)")
    val a = agg.reduce(agg.zero, 5)
    val b = agg.reduce(agg.zero, 70)
    assert(a.length == 2 && (a(0) & (1L << 5)) != 0)
    assert((b(1) & (1L << 6)) != 0)
    val m = agg.merge(agg.reduce(a, 127), b)
    assert((m(0) & (1L << 5)) != 0 && (m(1) & (1L << 6)) != 0 && (m(1) & (1L << 63)) != 0)
    assert(agg.merge(agg.zero, b).sameElements(b) && agg.merge(b, agg.zero).sameElements(b))
    val empty = agg.finish(agg.zero)
    assert(empty.length == 2 && empty.forall(_ == 0L), "finish must widen zero to the real bitmap")
  }

  test("c39 shingle positions: codegen md5-slice path equals the driver mirror") {
    val text = "one two three four five six" // two 5-token shingles
    val d = Seq((25L, text, "s")).toDF("doc_id", "text", "source")
    val fromSpark = graft.ops.Sketches.bloomShinglePositions(d)
      .collect().map(_._2).sorted.toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    val fromDriver = Seq("one two three four five", "two three four five six")
      .flatMap(s => graft.ops.Sketches.bloomPositions(md, s)).sorted
    assert(fromSpark == fromDriver,
      s"conv(substring(md5)) projection diverged from the driver mirror: $fromSpark vs $fromDriver")
  }

  test("c39 bloom membership: contaminated source hits all eval shingles, clean source none") {
    val evalText = "alpha bravo charlie delta echo foxtrot golf hotel" // 4 eval shingles
    val d = Seq(
      (1L, evalText, "evalsrc"), // below EvalIdBound: probe only, no corpus row
      (30L, "lead in words here " + evalText + " and a tail", "dirty"),
      (31L, "uno dos tres cuatro cinco seis siete ocho nueve diez", "clean"))
      .toDF("doc_id", "text", "source")
    val out = graft.ops.Sketches.bloomContain(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(3), r.getInt(4)))).toMap
    assert(out.keySet == Set("dirty", "clean"), "eval-only sources must not emit a sketch")
    assert(out("dirty")._3 == 4 && out("clean")._3 == 4)
    assert(out("dirty")._2 == 4, s"verbatim containment must hit every eval shingle: $out")
    assert(out("clean")._2 == 0, s"disjoint vocabulary must miss (FP odds ~1e-12): $out")
    // bits_set is bounded by 4 hashes x distinct shingles, and positive
    assert(out("clean")._1 > 0 && out("clean")._1 <= 4 * 6)
  }

  test("c41 cms aggregator: lazy empty zero, in-place elementwise-add merge, full-size finish") {
    val agg = new graft.ops.Sketches.CmsAgg(2, 4) // 8 cells
    assert(agg.zero.isEmpty, "zero must be the empty array (idle groups encode nothing)")
    var a = agg.reduce(agg.zero, 3)
    a = agg.reduce(a, 3)
    a = agg.reduce(a, 7)
    assert(a.length == 8 && a(3) == 2L && a(7) == 1L)
    val b = agg.reduce(agg.zero, 3)
    val m = agg.merge(a, b)
    assert(m(3) == 3L && m(7) == 1L, "merge must add counts elementwise")
    assert(agg.merge(agg.zero, b).sameElements(b) && agg.merge(b, agg.zero).sameElements(b))
    val empty = agg.finish(agg.zero)
    assert(empty.length == 8 && empty.forall(_ == 0L))
  }

  test("c41 cms positions: codegen md5-slice path equals the driver mirror, occurrence semantics") {
    val d = Seq((25L, "foo bar foo", "s")).toDF("doc_id", "text", "source")
    val fromSpark = graft.ops.Sketches.cmsFlatPositions(d)
      .collect().map(_._2).sorted.toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    // foo occurs TWICE: frequency sketches count occurrences, no dedupe
    val fromDriver = Seq("foo", "bar", "foo")
      .flatMap(w => graft.ops.Sketches.cmsPositions(md, w)).sorted
    assert(fromSpark == fromDriver,
      s"conv(substring(md5)) projection diverged from the driver mirror: $fromSpark vs $fromDriver")
  }

  test("c41 heavy hitters: exact candidate order, est==true without collisions, dense zeros") {
    val d = Seq(
      (30L, "apple apple apple banana banana cherry", "A"),
      (31L, "apple banana banana banana date date date date", "B"))
      .toDF("doc_id", "text", "source")
    val out = graft.ops.Sketches.heavyHitters(spark, d).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    // global: banana 5, then apple/date tied at 4 (token asc), cherry 1
    val ranks = out.filter(_._1 == "A").sortBy(_._2).map(r => (r._2, r._3)).toSeq
    assert(ranks == Seq((1, "banana"), (2, "apple"), (3, "date"), (4, "cherry")), ranks.toString)
    assert(out.length == 8, "4 candidates x 2 sources, dense")
    // 4 distinct tokens: a min-over-4-rows collision needs all four
    // slices to collide (~1e-10) — estimates must be exact here
    assert(out.forall(r => r._4 == r._5), s"est != true without collisions: ${out.toSeq}")
    val bCherry = out.find(r => r._1 == "B" && r._3 == "cherry").get
    assert(bCherry._4 == 0L && bCherry._5 == 0L, "absent candidate must report a dense zero row")
  }

  test("doc repetition flags duplicate-2gram and top-word stuffing, not normal prose") {
    val d = docs(
      1L -> "the quick brown fox jumps over a lazy dog near the river bank today",
      2L -> "buy now buy now buy now buy now buy now buy now",   // dup 2-grams
      3L -> "spam is spam and spam was spam so spam stays spam", // one word stuffed
      4L -> "single")                                            // degenerate: no 2-grams
    val out = TextAnalysis.docRepetition(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Int]("repetitive") == 0, out(1L).toString)
    assert(out(2L).getAs[Int]("repetitive") == 1, out(2L).toString)
    assert(out(2L).getAs[Double]("dup_2gram_ratio") > 0.5)
    assert(out(3L).getAs[Int]("repetitive") == 1, out(3L).toString)
    assert(out(3L).getAs[Double]("top_word_ratio") > 0.4)
    // a one-token doc has zero 2-grams (ratio 0, not NULL/NaN) and a
    // top-word ratio of 1 — degenerate docs are flagged, by design
    assert(out(4L).getAs[Int]("n_2grams") == 0)
    assert(out(4L).getAs[Double]("dup_2gram_ratio") == 0.0)
    assert(out(4L).getAs[Double]("top_word_ratio") == 1.0)
  }

  test("doc repetition propagates NULL text as NULL metrics (oracle semantics)") {
    // the typed kernel must mirror string_split(NULL) -> NULL through
    // every column, never coerce to "" (which would falsely flag the
    // doc repetitive with top_word_ratio 1.0)
    val d = Seq(
      (1L, "the quick brown fox jumps over a lazy dog near the river bank today"),
      (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.docRepetition(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!out(1L).isNullAt(1) && out(1L).getAs[Int]("repetitive") == 0)
    (1 to 5).foreach(i => assert(out(2L).isNullAt(i),
      s"column $i of the null-text row must be NULL: ${out(2L)}"))
  }

  test("semdedup prunes within clusters only, greedily against the KEPT set") {
    def at(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // cluster 0: 0° kept; 15° dup of 0° (cos .966 >= .95); 30° is NOT a
    // dup of the KEPT 0° (cos .866) even though it IS within .95 of the
    // DROPPED 15° — greedy-vs-kept must keep it
    // cluster 1: an exact copy of 0° survives (other cluster untouched)
    val emb = Seq(
      (10L, at(0)), (11L, at(15)), (12L, at(30)), (20L, at(0)))
      .toDF("vec_id", "embedding")
    val asg = Seq((10L, 0), (11L, 0), (12L, 0), (20L, 1))
      .toDF("vec_id", "cluster_id")
    val out = Dedup.semDedup(asg, emb, threshold = 0.95)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("keep")).toMap
    assert(out == Map(10L -> 1, 11L -> 0, 12L -> 1, 20L -> 1), out.toString)
  }

  test("semdedup keeps the min-id representative of an identical group") {
    val v = Array(0.6f, 0.8f)
    val emb = Seq((3L, v), (1L, v), (2L, v)).toDF("vec_id", "embedding")
    val asg = Seq((3L, 0), (1L, 0), (2L, 0)).toDF("vec_id", "cluster_id")
    val out = Dedup.semDedup(asg, emb, threshold = 0.999)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("keep")).toMap
    assert(out == Map(1L -> 1, 2L -> 0, 3L -> 0), out.toString)
  }
}
