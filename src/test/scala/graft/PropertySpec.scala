package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.RaBitQ
import graft.functions.VectorFunctions.{dot, l2sq}
import graft.ops.{Dedup, TextAnalysis}

/** Property-based checks for the arithmetic kernels the engine's
  * correctness rests on. Uses raw ScalaCheck generators with a
  * deterministic sampling loop (the scalatest-scalacheck bridge is not
  * on the offline classpath). */
class PropertySpec extends AnyFunSuite {
  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    val params = Gen.Parameters.default
    var executed = 0
    (0 until n).foreach { _ =>
      g.apply(params, seed).foreach { a => executed += 1; f(a) }
      seed = seed.next
    }
    // a filtered generator (suchThat etc.) returns None per rejected
    // seed — a property must never pass vacuously on zero samples
    assert(executed >= n / 2,
      s"generator produced only $executed/$n samples — property is near-vacuous")
  }
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))
  private val m61 = (BigInt(1) << 61) - 1
  private val longIn = Gen.chooseNum(0L, (1L << 61) - 2)

  test("mulModM61 equals BigInt multiplication mod 2^61-1") {
    forAll2(longIn, longIn) { (a, b) =>
      assert(BigInt(Dedup.mulModM61(a, b)) == (BigInt(a) * BigInt(b)) % m61)
    }
  }

  test("packBits/unpackAt roundtrips for arbitrary widths and values") {
    val gen = for {
      exBits <- Gen.chooseNum(2, 8)
      n <- Gen.chooseNum(1, 256)
      values <- Gen.listOfN(n, Gen.chooseNum(0, (1 << exBits) - 1))
    } yield (exBits, values.toArray)
    forAll(gen) { case (exBits, values) =>
      val packed = RaBitQ.packBits(values, exBits)
      values.indices.foreach { i =>
        assert(RaBitQ.unpackAt(packed, i, exBits) == values(i))
      }
    }
  }

  private val vec = Gen.listOfN(64, Gen.chooseNum(-10.0f, 10.0f)).map(_.toArray)

  test("l2sq is symmetric, non-negative, zero on self") {
    forAll2(vec, vec) { (a, b) =>
      assert(l2sq(a, b) == l2sq(b, a))
      assert(l2sq(a, b) >= 0.0)
      assert(l2sq(a, a) == 0.0)
    }
  }

  test("dot matches l2sq expansion: |a-b|^2 = |a|^2 + |b|^2 - 2<a,b>") {
    forAll2(vec, vec) { (a, b) =>
      val lhs = l2sq(a, b)
      val rhs = dot(a, a) + dot(b, b) - 2 * dot(a, b)
      assert(math.abs(lhs - rhs) < 1e-6 * (1 + math.abs(lhs)))
    }
  }

  test("fastQuantize codes are always in range with positive finite ipnorm") {
    val absVec = Gen.listOfN(64, Gen.chooseNum(0.0, 0.4)).map(_.toArray)
    forAll2(absVec, Gen.oneOf(2, 3, 4, 6, 7, 8)) { (abs, exBits) =>
      val (code, ipnorm) = RaBitQ.fastQuantize(abs, exBits)
      assert(code.forall(c => c >= 0 && c <= (1 << exBits) - 1))
      assert(ipnorm > 0 && java.lang.Double.isFinite(ipnorm))
    }
  }

  test("fastQuantizeT scale replays the code: c_d = min(⌊t·|o'_d|+ε⌋, max)") {
    // the exact identity the b5/b5b oracle relies on: given the
    // persisted scale t, the code APPLICATION is a closed-form per-dim
    // expression — a change to either side breaks the hash gate AND
    // this pin
    val absVec = Gen.listOfN(64, Gen.chooseNum(0.0, 0.4)).map(_.toArray)
    forAll2(absVec, Gen.oneOf(2, 3, 4, 6, 7, 8)) { (abs, exBits) =>
      val (code, _, t) = RaBitQ.fastQuantizeT(abs, exBits)
      val maxLevel = (1 << exBits) - 1
      val replay = abs.map(a => math.min((t * a + 1e-5).toInt, maxLevel))
      assert(code.sameElements(replay))
    }
  }

  test("packBits byte sum equals the closed-form per-dim contribution sum") {
    // packBits ORs DISJOINT bit ranges, so every byte (pad included) is
    // an exact integer SUM of ((v·2^s) mod 256) + (v·2^s) div 256 with
    // s = (exBits·d) mod 8 — the b5/b5b oracle's code_sum formula
    forAll2(Gen.oneOf(2, 3, 4, 6, 7, 8), Gen.long) { (exBits, seed) =>
      val rnd = new scala.util.Random(seed)
      val mask = (1 << exBits) - 1
      val values = Array.fill(64)(rnd.nextInt(mask + 1))
      val packed = RaBitQ.packBits(values, exBits)
      val bytes = packed.map(_ & 0xff).map(_.toLong).sum
      val closed = values.zipWithIndex.map { case (v, i) =>
        val shifted = v << ((i * exBits) & 7)
        (shifted & 0xff).toLong + (shifted >> 8)
      }.sum
      assert(bytes === closed)
    }
  }

  test("quantize → estimate/rerank: rerank is finite and x2 exact") {
    val res = Gen.listOfN(64, Gen.chooseNum(-1.0f, 1.0f)).map(_.toArray)
    forAll(res) { r =>
      val q = RaBitQ.quantize(r, exBits = 3)
      assert(math.abs(q.x2 - l2sq(r, new Array[Float](64))) < 1e-3)
      val qc = RaBitQ.QueryCluster(r, r.map(_.toDouble).sum, dot(r, r))
      val ex = RaBitQ.rerank(qc, q, 3)
      assert(java.lang.Double.isFinite(ex))
    }
  }

  test("shingles and fingerprint are total on arbitrary strings") {
    forAll(Gen.asciiPrintableStr) { s =>
      Dedup.shingles(s, 3) // must not throw
      Dedup.shingleSetOf(s, 3)
      val (f, w) = TextAnalysis.fingerprintOf(s)
      assert(f >= 0 && w >= 0)
    }
  }

  private val tokGen = Gen.listOf(
    Gen.oneOf(Gen.const(""), Gen.alphaNumStr.map(_.take(6)))).map(_.toArray)

  test("span hashes: window identity iff token-sequence identity") {
    forAll(tokGen, n = 300) { toks =>
      val hs = Dedup.spanWindowHashes(toks)
      val k = Dedup.SpanK
      // shape: one entry per window, 1-based positions, both lanes in range
      val expected = math.max(toks.length - k + 1, 0)
      assert(hs.length == (if (toks.length < k) 0 else expected))
      hs.zipWithIndex.foreach { case ((p, h1, h2), i) =>
        assert(p == i + 1)
        assert(h1 >= 0 && h1 < (1L << 61) - 1 && h2 >= 0 && h2 < (1L << 61) - 1)
      }
      // equal windows hash equal on BOTH lanes; with ≤6-char alphanumeric
      // tokens a lane collision of UNEQUAL windows would be a 2^-61 event
      val byContent = hs.indices.groupBy(i =>
        toks.slice(i, i + k).toSeq)
      byContent.values.foreach { idxs =>
        assert(idxs.map(i => (hs(i)._2, hs(i)._3)).distinct.size == 1,
          "identical windows must collide on both lanes")
      }
      val byHash = hs.indices.groupBy(i => (hs(i)._2, hs(i)._3))
      byHash.values.foreach { idxs =>
        assert(idxs.map(i => toks.slice(i, i + k).toSeq).distinct.size == 1,
          "distinct windows must not collide")
      }
    }
  }

  test("span hashes distinguish token-boundary shifts (no concat ambiguity)") {
    // ("ab","c") vs ("a","bc") and ("a","") vs ("a") prefix shapes —
    // per-token hashing must separate what a naive join would merge
    val a = Array("ab", "c", "x1", "x2", "x3", "x4", "x5", "x6")
    val b = Array("a", "bc", "x1", "x2", "x3", "x4", "x5", "x6")
    val ha = Dedup.spanWindowHashes(a)(0)
    val hb = Dedup.spanWindowHashes(b)(0)
    assert((ha._2, ha._3) != (hb._2, hb._3))
    val c = Array("a", "", "x1", "x2", "x3", "x4", "x5", "x6")
    val d = Array("", "a", "x1", "x2", "x3", "x4", "x5", "x6")
    val hc = Dedup.spanWindowHashes(c)(0)
    val hd = Dedup.spanWindowHashes(d)(0)
    assert((hc._2, hc._3) != (hd._2, hd._3))
  }

  test("bloom/cms aggregators: any partitioning of the insert stream folds to the same buffer") {
    // the invariant the d14/d15 batch≡stream claims rest on: reduce is
    // a fold whose merge is exactly "fold of the concatenation", for
    // any split point and any insert order within the halves
    val posGen = Gen.listOf(Gen.chooseNum(0, 127))
    forAll2(posGen, Gen.chooseNum(0, 1000)) { (ps, cutRaw) =>
      val aggs = Seq[graft.ops.Sketches.DenseLongSketchAgg](
        new graft.ops.Sketches.BloomAgg(128),
        new graft.ops.Sketches.CmsAgg(2, 64))
      val cut = if (ps.isEmpty) 0 else cutRaw % (ps.length + 1)
      val (l, r) = ps.splitAt(cut)
      for (agg <- aggs) {
        def fold(xs: Seq[Int]) = xs.foldLeft(agg.zero)(agg.reduce)
        val whole = agg.finish(fold(ps))
        val split = agg.finish(agg.merge(fold(l), fold(r)))
        assert(whole.sameElements(split), s"split at $cut diverged for $agg")
      }
      // CMS conservation: every insert adds exactly one count
      val cms = new graft.ops.Sketches.CmsAgg(2, 64)
      assert(cms.finish(ps.foldLeft(cms.zero)(cms.reduce)).sum == ps.length.toLong)
      // Bloom idempotence: re-inserting the stream changes nothing
      val bl = new graft.ops.Sketches.BloomAgg(128)
      def bfold(xs: Seq[Int]) = xs.foldLeft(bl.zero)(bl.reduce)
      assert(bl.finish(bfold(ps ++ ps)).sameElements(bl.finish(bfold(ps))))
    }
  }

  test("bloom/cms positions: in range, row-partitioned, deterministic on arbitrary strings") {
    val md = java.security.MessageDigest.getInstance("MD5")
    forAll(Gen.asciiPrintableStr) { s =>
      val bp = graft.ops.Sketches.bloomPositions(md, s)
      assert(bp.length == graft.ops.Sketches.BloomHashes)
      assert(bp.forall(p => p >= 0 && p < graft.ops.Sketches.BloomBits))
      val cp = graft.ops.Sketches.cmsPositions(md, s)
      assert(cp.length == graft.ops.Sketches.CmsDepth)
      cp.zipWithIndex.foreach { case (p, i) =>
        val w = graft.ops.Sketches.CmsWidth
        assert(p >= i * w && p < (i + 1) * w, "flat index must land in its own row")
      }
      assert(bp.sameElements(graft.ops.Sketches.bloomPositions(md, s)))
      assert(cp.sameElements(graft.ops.Sketches.cmsPositions(md, s)))
    }
  }

  test("top-k list merge equals sorted(DistIdOrder).take(k) of the union") {
    import graft.ann.KnnExact
    val ord = KnnExact.DistIdOrder
    // a small distance/id alphabet forces equal distances under
    // different ids, exact (dist, id) repeats and +0.0 next to -0.0
    val dist = Gen.frequency(3 -> Gen.oneOf(0.0, -0.0, 1.0, 2.5),
      1 -> Gen.chooseNum(-3.0, 3.0))
    val list = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.zip(dist, Gen.chooseNum(0L, 9L))))
    val gen = for {
      n <- Gen.chooseNum(0, 5)
      lists <- Gen.listOfN(n, list)
      k <- Gen.chooseNum(1, 40)
    } yield (lists, k)
    def bits(ds: Seq[Double]) = ds.map(java.lang.Double.doubleToRawLongBits)
    var (above, below, empty, signedZeros, idTies) = (0, 0, 0, 0, 0)
    forAll(gen, 500) { case (lists, k) =>
      val union = lists.flatten
      val want = union.sorted(ord).take(k)
      // fold the sorted lists pairwise, as both top-k merges do
      val (ids, ds) = lists.foldLeft((Array.emptyLongArray, Array.emptyDoubleArray)) {
        case ((ai, ad), l) =>
          val s = l.sorted(ord)
          KnnExact.mergeSorted(ai, ad, s.map(_._2).toArray, s.map(_._1).toArray, k)
      }
      assert(ids.toSeq == want.map(_._2), s"ids: k=$k lists=$lists")
      assert(bits(ds.toSeq) == bits(want.map(_._1)), s"dists: k=$k lists=$lists")
      if (k > union.length) above += 1 else below += 1
      if (lists.exists(_.isEmpty)) empty += 1
      val zeros = bits(union.map(_._1)).toSet
      if (zeros(bits(Seq(0.0)).head) && zeros(bits(Seq(-0.0)).head)) signedZeros += 1
      if (union.groupBy(_._1).values.exists(_.map(_._2).distinct.length > 1)) idTies += 1
    }
    assert(Seq(above, below, empty, signedZeros, idTies).forall(_ > 10),
      s"edge cases under-covered: above=$above below=$below empty=$empty " +
        s"signedZeros=$signedZeros idTies=$idTies")
  }

  test("topk-by-key aggregator: any split merges to the global sorted top-k") {
    val rowGen = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(-5.0, 0.0)))
    forAll2(rowGen, Gen.chooseNum(0, 1000)) { (rows0, cutRaw) =>
      val rows = rows0.map { case (id, k) => (id, 1, k) }
      val agg = new graft.ops.CorpusOps.TopKByKeyAgg(4)
      def fold(xs: Seq[(Long, Int, Double)]) = xs.foldLeft(agg.zero)(agg.reduce)
      val cut = if (rows.isEmpty) 0 else cutRaw % (rows.length + 1)
      val (l, r) = rows.splitAt(cut)
      val merged = agg.merge(fold(l), fold(r)).toSeq
      val expected = rows.map { case (id, w, k) => (k, id, w) }
        .sortBy { case (k, id, _) => (-k, id) }.take(4)
      assert(merged == expected, s"split at $cut: $merged vs $expected")
    }
  }

  test("repetition kernel matches a naive recomputation on arbitrary docs") {
    forAll(tokGen, n = 300) { toks =>
      val text = toks.mkString(" ")
      val w = text.split(" ", -1) // what the kernel actually tokenizes
      val (_, n1, n2, dup, top, flag) = TextAnalysis.repetitionOf(7L, text)
      assert(n1.get == w.length)
      val g2 = w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      assert(n2.get == g2.length)
      val dupNaive = if (g2.isEmpty) 0.0
        else (g2.length - g2.distinct.length).toDouble / g2.length
      val topNaive = w.groupBy(identity).values.map(_.length).max.toDouble / w.length
      assert(math.abs(dup.get - dupNaive) < 1e-6 && math.abs(top.get - topNaive) < 1e-6)
      assert(flag.get == (if (dupNaive > TextAnalysis.DupGramMax
        || topNaive > TextAnalysis.TopWordMax) 1 else 0))
    }
  }

  test("microSum two-lane algebra: regimes pinned vs HUGEINT truth at 2^63-scale counts") {
    // Mirror of Relational.microSum's accumulation, with per-value
    // COUNTS simulated by multiplication: Long addition is associative
    // mod 2^64, so count·x (wrapping) IS the wrapped repeated sum the
    // executor lanes would produce — this lets the property drive the
    // lanes to 2^63-scale row counts no test cluster could materialize.
    // Truth is BigInt (= DuckDB's exact HUGEINT), converted by Java's
    // correctly-rounded doubleValue (= DuckDB's HUGEINT→DOUBLE cast).
    def lanes(pairs: Seq[(Long, Long)]): (Long, Long) = {
      var hi = 0L; var lo = 0L
      pairs.foreach { case (m, c) => hi += c * (m >> 20); lo += c * (m & 0xFFFFFL) }
      (hi, lo)
    }
    def combine(hl: (Long, Long)): Double =
      hl._1.toDouble * 1048576.0 + hl._2.toDouble
    def truth(pairs: Seq[(Long, Long)]): BigInt =
      pairs.map { case (m, c) => BigInt(m) * c }.sum
    val MaxMicro = 205_000_000_000L // the sum_charge per-row ceiling (~2e11)

    // regime 1 — bit-exact: both lane totals ≤ 2^53 (≲ 9e9 rows/group,
    // ~3 TB in ONE group). Random multisets at full magnitude.
    val pair = Gen.zip(Gen.chooseNum(0L, MaxMicro), Gen.chooseNum(1L, 100_000_000L))
    forAll(Gen.listOfN(20, pair), n = 100) { pairs =>
      assert(combine(lanes(pairs)) === truth(pairs).toDouble)
    }
    // ...including the adversarial all-mask-bits edge right under 2^53
    val edge = Seq((MaxMicro | 0xFFFFFL, 8_500_000_000L))
    assert(combine(lanes(edge)) === truth(edge).toDouble)

    // regime 2 — lanes past 2^53 but far from wrap (~1e12 rows/group):
    // value-correct within ulps of the HUGEINT rounding (three
    // roundings instead of one), no longer guaranteed bit-exact
    val big = Seq((MaxMicro, 1_000_000_000_000L), (0xFFFFFL, 999_999_999_999L))
    val t2 = truth(big).toDouble
    assert(math.abs(combine(lanes(big)) - t2) <= 2 * math.ulp(t2))

    // regime 3 — the REAL cliff is the LO lane (per-row ≤ 2^20-1, so it
    // wraps ~10x earlier than hi's ~1e5 per-row): past ~8.8e12
    // rows/group the value is WRONG, not just inexact. Pinning the
    // cliff documents the design ceiling (~100x beyond the 100 TB
    // shape's 1e11 rows/group).
    val wrap = Seq((0xFFFFFL, 9_000_000_000_000L)) // lo ≈ 9.44e18 > 2^63
    assert(math.abs(combine(lanes(wrap)) - truth(wrap).toDouble) >
      1e6 * math.ulp(truth(wrap).toDouble))

    // ...and the single-long-lane accumulator microSum replaced in r14
    // wraps FOUR ORDERS OF MAGNITUDE earlier (~4.5e7 max-magnitude
    // rows, i.e. around sf60) — the regression this lane fixed
    val sf60 = Seq((MaxMicro, 50_000_000L))
    val naive = sf60.foldLeft(0L) { case (a, (m, c)) => a + c * m }
    assert(naive < 0, "expected the single-lane sum to wrap at sf60 scale")
    assert(combine(lanes(sf60)) === truth(sf60).toDouble)
  }

  // --- sqrt-elimination exactness (the optimizer rule's contract) --
  test("sqrt-elimination thresholds are exactly value-preserving at every ulp boundary") {
    // the naive rewrite sqrt(v) < c -> v < fl(c*c) flips boundary rows
    // by 1 ulp whenever c^2 is not representable; the rule's computed
    // thresholds must agree with the original predicate for EVERY
    // double v, in all four comparison shapes. Probe the ulp
    // neighborhood of c*c (where the only disagreements can live)
    // plus the thresholds themselves.
    val cGen = Gen.oneOf(
      Gen.chooseNum(0.0, 4.0),
      Gen.chooseNum(0.0, 1e-150), // subnormal-product regime
      Gen.oneOf(0.0, 0.1, 1.4, 2.0, math.sqrt(2), 1e154))
    forAll(cGen, 400) { c =>
      val t1 = graft.plans.SimplifyVectorExpressions.sqrtThreshold(c, strict = false)
      val t2 = graft.plans.SimplifyVectorExpressions.sqrtThreshold(c, strict = true)
      val around = (v: Double) => Seq(
        Math.nextDown(Math.nextDown(v)), Math.nextDown(v), v,
        Math.nextUp(v), Math.nextUp(Math.nextUp(v)))
      val probes = (around(c * c) ++ around(t1) ++ around(t2))
        .filter(v => v >= 0 && !v.isNaN)
      probes.foreach { v =>
        val s = Math.sqrt(v)
        assert((s < c) == (v < t1), s"< : c=$c v=$v t1=$t1")
        assert((s <= c) == (v < t2), s"<= : c=$c v=$v t2=$t2")
        assert((s > c) == (v >= t2), s"> : c=$c v=$v t2=$t2")
        assert((s >= c) == (v >= t1), s">= : c=$c v=$v t1=$t1")
      }
    }
  }

  // --- c44 URL-gauntlet fuzzer (ADVICE/VERDICT r15 task 6) ---------
  // URLs are GENERATED FROM COMPONENTS, so the expected canonical form
  // is construction-derived truth (never re-parsed): any parser bug in
  // UrlGate.canonicalize diverges from the component-built expectation.
  private case class UrlParts(
      scheme: String, schemeUp: Boolean, userinfo: Option[String],
      hostKind: Int, labels: List[String], www: String, dots: Int,
      port: Option[String], segs: List[String], trailingSlash: Boolean,
      params: List[(String, Option[String])], emptyChunks: Int,
      fragment: Option[String])

  private val urlGen: Gen[UrlParts] = {
    val label = Gen.oneOf("site-1", "xn--site-1", "blog", "example",
      "co", "uk", "com", "au", "a1", "b-2")
    val pname = Gen.oneOf("a", "z", "b2", "Z", "utm_source", "UTM_X",
      "fbclid", "REF", "gclid", "mc_cid", "Ref")
    val pval = Gen.option(Gen.oneOf("1", "x9", "Qq", ""))
    for {
      scheme <- Gen.oneOf("http", "https", "ftp")
      schemeUp <- Gen.oneOf(true, false)
      userinfo <- Gen.option(Gen.oneOf("u:p", "a@b:c", "x"))
      hostKind <- Gen.frequency(6 -> 0, 1 -> 1, 1 -> 2) // named/ipv4/ipv6
      nLabels <- Gen.chooseNum(1, 4)
      labels <- Gen.listOfN(nLabels, label)
      www <- Gen.oneOf("", "www.", "WWW.", "wWw.")
      dots <- Gen.chooseNum(0, 2)
      port <- Gen.option(Gen.oneOf("80", "443", "0080", "8080", "000",
        "", "65536999"))
      nSegs <- Gen.chooseNum(0, 3)
      segs <- Gen.listOfN(nSegs, Gen.oneOf("p", "q2", "X", ""))
      trailingSlash <- Gen.oneOf(true, false)
      nParams <- Gen.chooseNum(0, 5)
      params <- Gen.listOfN(nParams, Gen.zip(pname, pval))
      emptyChunks <- Gen.chooseNum(0, 2)
      fragment <- Gen.option(Gen.oneOf("sec", "a?b", ""))
    } yield UrlParts(scheme, schemeUp, userinfo, hostKind, labels, www,
      dots, port, segs, trailingSlash, params, emptyChunks, fragment)
  }

  test("c44 fuzz: canonicalize equals the component-derived expectation on 1k hostile URLs") {
    forAll(urlGen, 1000) { u =>
      val hostRaw = u.hostKind match {
        case 1 => "10.0.3.7"
        case 2 => "[2001:DB8::1]"
        case _ => u.www + u.labels.mkString(".") + ("." * u.dots)
      }
      val rawQ = {
        val chunks = u.params.map { case (n, v) =>
          v.fold(n)(n + "=" + _) } ++ List.fill(u.emptyChunks)("")
        if (chunks.isEmpty) "" else "?" + chunks.mkString("&")
      }
      val rawPath =
        if (u.segs.isEmpty && !u.trailingSlash) ""
        else "/" + u.segs.mkString("/") + (if (u.trailingSlash) "/" else "")
      val raw = (if (u.schemeUp) u.scheme.toUpperCase else u.scheme) +
        "://" + u.userinfo.fold("")(_ + "@") +
        hostRaw + u.port.fold("")(":" + _) +
        rawPath + rawQ + u.fragment.fold("")("#" + _)

      // expected canonical host: lowercase, strip trailing dots, strip
      // ONE leading www. (the documented pipeline, independently coded)
      var h = hostRaw.toLowerCase(java.util.Locale.ROOT)
      while (h.endsWith(".")) h = h.dropRight(1)
      if (h.startsWith("www.")) h = h.substring(4)
      // expected port: digits-only, numerically normalized, defaults dropped
      val expPort = u.port match {
        case None => ""
        case Some(p) if p.isEmpty => ""
        case Some(p) =>
          val s = p.dropWhile(_ == '0')
          val pn = if (s.isEmpty) "0" else s
          if ((u.scheme == "http" && pn == "80") ||
            (u.scheme == "https" && pn == "443")) "" else ":" + pn
      }
      val expPath = {
        val p0 = if (rawPath.isEmpty) "/" else rawPath
        if (p0.length > 1 && p0.endsWith("/")) p0.dropRight(1) else p0
      }
      val expQ = {
        val kept = u.params.map { case (n, v) => v.fold(n)(n + "=" + _) }
          .filter(_.nonEmpty)
          .filterNot { chunk =>
            val eq = chunk.indexOf('=')
            val name = (if (eq >= 0) chunk.substring(0, eq) else chunk)
              .toLowerCase(java.util.Locale.ROOT)
            name.startsWith("utm_") ||
              graft.ops.UrlGate.TrackingNames.contains(name)
          }.sorted
        if (kept.isEmpty) "" else "?" + kept.mkString("&")
      }
      val expCanon = u.scheme + "://" + h + expPort + expPath + expQ
      val expDomain =
        if (h.startsWith("[")) h
        else {
          val ls = h.split('.')
          if (ls.nonEmpty && ls.last.nonEmpty && ls.last.forall(_.isDigit)) h
          else if (ls.length <= 2) h
          else {
            val last2 = ls(ls.length - 2) + "." + ls(ls.length - 1)
            if (graft.ops.UrlGate.PublicSuffixes.contains(last2))
              ls(ls.length - 3) + "." + last2
            else last2
          }
        }
      val (canon, dom) = graft.ops.UrlGate.canonicalize(raw)
      assert(canon == expCanon, s"raw=$raw")
      assert(dom == expDomain, s"raw=$raw")
    }
    // degenerate inputs: null and scheme-less stay (null, null)
    assert(graft.ops.UrlGate.canonicalize(null) == ((null, null)))
    assert(graft.ops.UrlGate.canonicalize("site.com/x") == ((null, null)))
    assert(graft.ops.UrlGate.canonicalize("://x") == ((null, null)))
  }

  // --- c43 gram-kernel fuzzer: surrogate pairs / CJK (task 6) ------
  test("c43 fuzz: gramsOf equals code-point-array grams on 1k non-BMP strings") {
    val cpGen = Gen.frequency(
      4 -> Gen.chooseNum(97, 122), // ASCII letters
      1 -> Gen.const(32), // space
      3 -> Gen.chooseNum(0x4E00, 0x9FFF), // CJK
      2 -> Gen.chooseNum(0x1F300, 0x1F6FF), // emoji (surrogate pairs)
      1 -> Gen.chooseNum(0x1D100, 0x1D1FF), // musical (surrogate pairs)
      1 -> Gen.chooseNum(0xD800, 0xDFFF)) // LONE surrogates (hostile)
    val textGen = for {
      n <- Gen.chooseNum(0, 12)
      cps <- Gen.listOfN(n, cpGen)
    } yield cps
    forAll(textGen, 1000) { cps =>
      // build the string from raw code points (lone surrogates become
      // their UTF-16 char verbatim, like real-world broken text)
      val sb = new java.lang.StringBuilder
      cps.foreach { c =>
        if (Character.isBmpCodePoint(c)) sb.append(c.toChar)
        else sb.appendCodePoint(c)
      }
      val text = sb.toString
      // independent expectation: walk the JDK's own code-point stream
      val arr = text.codePoints().toArray
      val exp = scala.collection.mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < arr.length - 1) {
        exp += new String(arr, j, 2)
        if (j < arr.length - 2) exp += new String(arr, j, 3)
        j += 1
      }
      val got = graft.ops.QualityModel.gramsOf(text)
      assert(got == exp.toSeq, s"cps=${cps.mkString(",")}")
    }
  }
}
