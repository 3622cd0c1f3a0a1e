package graft.ann

/** RaBitQ + Extended-RaBitQ quantization and distance estimation.
  *
  * Clean-room re-expression of the reference semantics
  * (/root/reference/inc/index/Quantizer.hpp, Searcher.hpp): a vector's
  * residual to its cluster centroid is rotated and stored as
  *  - a 1-bit-per-dim sign code (packed into Longs) with four scalar
  *    factors for cheap estimated distances with an error bound, and
  *  - an extra (B−1)-bit-per-dim code with a per-vector optimal scale,
  *    used to re-rank candidates that survive the 1-bit prune.
  *
  * The reference's AVX512 FastScan/LUT machinery is single-node
  * mechanism; here the same estimator algebra runs inside Spark tasks
  * on the packed words.
  */
object RaBitQ {
  /** Per-vector quantization output (reference: SHORT_DATA factors +
    * LONG_CODE + EX_FACTOR, IVF.hpp:29-33). `exCode` stores the
    * sign-flipped extended codes (Quantizer.hpp:480-487) bit-packed at
    * exBits per dim — the reference's storage density
    * (store_compacted_code); read positions with [[RaBitQ.unpackAt]]. */
  final case class Quantized(
      signBits: Array[Long], // 1-bit code, LSB-first within each word
      exCode: Array[Byte],   // (B-1)-bit code per dim, flipped for negative dims
      x2: Float,             // squared distance to centroid (fac_x2)
      facIp: Float,          // 2x / (0.5·Σ|o'|)           (fac_ip)
      sumXb: Float,          // popcount of sign code       (fac_sumxb)
      facErr: Float,         // error-bound factor          (fac_err)
      xipnorm: Float)        // 2x / ⟨u+0.5, |o'|⟩          (ExFactor.xipnorm)

  def facNorm(d: Int): Double = 1.0 / math.sqrt(d.toDouble)
  def facErrConst(d: Int): Double = 2.0 / math.sqrt((d - 1).toDouble)

  /** Quantize one rotated residual (length = paddedDim).
    * @param residual rotated(x) − rotated(centroid)
    * @param exBits   extra bits per dim (total bits B = exBits + 1) */
  def quantize(residual: Array[Float], exBits: Int): Quantized = {
    val d = residual.length
    require(d % 64 == 0, s"padded dim must be a multiple of 64, got $d")
    // squared norm of residual = squared distance to centroid
    var x2 = 0.0
    locally { var i = 0; while (i < d) { x2 += residual(i).toDouble * residual(i); i += 1 } }
    val x = math.sqrt(x2)

    // normalized residual o' and its abs; sign bits
    val abs = new Array[Double](d)
    val words = new Array[Long](d / 64)
    var sumAbs = 0.0
    var popcnt = 0
    var i = 0
    while (i < d) {
      val v = if (x > 0) residual(i) / x else 0.0
      if (residual(i) > 0) { words(i >> 6) |= (1L << (i & 63)); popcnt += 1 }
      val a = math.abs(v)
      abs(i) = a
      sumAbs += a
      i += 1
    }

    // <o, ō> for the 1-bit code: Σ o'_d·sign_d/√D = Σ|o'_d|/√D
    var oObar = sumAbs * facNorm(d)
    if (!java.lang.Double.isFinite(oObar) || oObar == 0.0) oObar = 0.8 // Quantizer.hpp:418-420
    val facIp = if (sumAbs > 0) (1.0 / (0.5 * sumAbs)) * 2.0 * x else 0.0
    val facErr =
      math.sqrt(math.max(0.0, 1.0 - oObar * oObar) / (oObar * oObar)) * facErrConst(d) * 2.0 * x

    // extended code over |o'| with per-vector optimal scale
    val (code, ipnorm) = fastQuantize(abs, exBits)
    val xipnorm = ipnorm * 2.0 * x

    // flip codes for negative dims (Quantizer.hpp:480-486), then
    // bit-pack at exBits/dim — the reference's storage density
    // (store_compacted_code, Quantizer.hpp:491-631)
    val mask = (1 << exBits) - 1
    val flipped = new Array[Int](d)
    i = 0
    while (i < d) {
      val bit = (words(i >> 6) >>> (i & 63)) & 1L
      flipped(i) = if (bit == 1L) code(i) else (~code(i)) & mask
      i += 1
    }
    Quantized(words, packBits(flipped, exBits), x2.toFloat, facIp.toFloat,
      popcnt.toFloat, facErr.toFloat, xipnorm.toFloat)
  }

  /** Pack exBits-wide values into a little-endian bit stream (one
    * trailing pad byte so readers can always load two bytes). */
  def packBits(values: Array[Int], exBits: Int): Array[Byte] = {
    val out = new Array[Byte]((values.length * exBits + 7) / 8 + 1)
    var i = 0
    while (i < values.length) {
      val bitPos = i * exBits
      val byteIdx = bitPos >> 3
      val shift = bitPos & 7
      val v = (values(i) & ((1 << exBits) - 1)) << shift
      out(byteIdx) = (out(byteIdx) | (v & 0xff)).toByte
      if ((v >> 8) != 0) out(byteIdx + 1) = (out(byteIdx + 1) | (v >> 8)).toByte
      i += 1
    }
    out
  }

  /** Read the exBits-wide value at position d from a packed stream. */
  @inline def unpackAt(packed: Array[Byte], d: Int, exBits: Int): Int = {
    val bitPos = d * exBits
    val byteIdx = bitPos >> 3
    val shift = bitPos & 7
    val two = (packed(byteIdx) & 0xff) | ((packed(byteIdx + 1) & 0xff) << 8)
    (two >> shift) & ((1 << exBits) - 1)
  }

  /** Find the per-vector scale t maximizing ⟨ō, o⟩ and the code at that
    * scale (reference `fast_quantize`, Quantizer.hpp:138-219).
    * @param absRes |o'| (normalized abs residual)
    * @return (code per dim in [0, 2^exBits−1], ipnorm = 1/⟨u+0.5, |o'|⟩) */
  def fastQuantize(absRes: Array[Double], exBits: Int): (Array[Int], Double) = {
    val (code, ipnorm, _) = fastQuantizeT(absRes, exBits)
    (code, ipnorm)
  }

  /** [[fastQuantize]] widened with the selected scale t — the b5/b5b
    * oracle sidecar persists t so the code APPLICATION (the clamped
    * linear quantization `min(⌊t·|o'_d|+ε⌋, 2^exBits−1)`, the packed
    * byte-sum, and ipnorm/xipnorm) is recomputable in exact SQL
    * arithmetic, while the t-SEARCH itself (this heap-driven threshold
    * scan) stays pinned input. */
  def fastQuantizeT(absRes: Array[Double], exBits: Int): (Array[Int], Double, Double) = {
    val d = absRes.length
    val maxLevel = (1 << exBits) - 1
    var maxO = 0.0
    locally { var i = 0; while (i < d) { if (absRes(i) > maxO) maxO = absRes(i); i += 1 } }
    if (maxO <= 0.0) return (new Array[Int](d), 1.0, 0.0)
    val eps = 1e-5
    val nEnum = 10
    val tStart = (maxLevel / 3).toDouble / maxO // integer division as in the reference
    val tEnd = (maxLevel + nEnum).toDouble / maxO

    val cur = new Array[Int](d)
    var sqrDen = d * 0.25
    var num = 0.0
    // min-heap of (next threshold t, dim): a primitive binary heap, at
    // most one pending threshold per dim, 1-based (slot 0 unused). Its
    // sift comparisons are scala.collection.mutable.PriorityQueue's
    // under a t-reversed ordering, so equal thresholds pop in the same
    // order and the selected t is the same double.
    val heapT = new Array[Double](d + 1)
    val heapDim = new Array[Int](d + 1)
    var size = 0
    def push(t: Double, dim: Int): Unit = {
      size += 1
      var k = size
      while (k > 1 && heapT(k >> 1) > t) {
        heapT(k) = heapT(k >> 1); heapDim(k) = heapDim(k >> 1)
        k >>= 1
      }
      heapT(k) = t; heapDim(k) = dim
    }
    var i = 0
    while (i < d) {
      cur(i) = (tStart * absRes(i) + eps).toInt
      sqrDen += cur(i).toDouble * cur(i) + cur(i)
      num += (cur(i) + 0.5) * absRes(i)
      if (absRes(i) > 0) push((cur(i) + 1).toDouble / absRes(i), i)
      i += 1
    }
    var maxIp = 0.0
    var bestT = 0.0
    while (size > 0) {
      val curT = heapT(1)
      val dim = heapDim(1)
      // pop: the last slot moves to the root and sifts down, to the
      // right child only when the left's t is greater
      val lastT = heapT(size); val lastDim = heapDim(size)
      size -= 1
      var k = 1
      var sifting = true
      while (sifting && 2 * k <= size) {
        var j = 2 * k
        if (j < size && heapT(j) > heapT(j + 1)) j += 1
        if (lastT <= heapT(j)) sifting = false
        else { heapT(k) = heapT(j); heapDim(k) = heapDim(j); k = j }
      }
      heapT(k) = lastT; heapDim(k) = lastDim
      cur(dim) += 1
      sqrDen += 2.0 * cur(dim)
      num += absRes(dim)
      val curIp = num / math.sqrt(sqrDen)
      if (curIp > maxIp) { maxIp = curIp; bestT = curT }
      if (cur(dim) < maxLevel) {
        val tNext = (cur(dim) + 1).toDouble / absRes(dim)
        if (tNext < tEnd) push(tNext, dim)
      }
    }

    val code = new Array[Int](d)
    var num2 = 0.0
    i = 0
    while (i < d) {
      var c = (bestT * absRes(i) + eps).toInt
      if (c > maxLevel) c = maxLevel
      code(i) = c
      num2 += (c + 0.5) * absRes(i)
      i += 1
    }
    var ipnorm = 1.0 / num2
    if (!java.lang.Double.isFinite(ipnorm)) ipnorm = 1.0
    (code, ipnorm, bestT)
  }

  /** Query-side state for scanning one cluster (reference Searcher
    * `preparing`, Searcher.hpp:122-128): residual r = q_rot − c_rot,
    * S = Σ r_d. With `queryBits = 0` (default) the estimate phase uses
    * r exactly — same estimator, strictly less estimation error than
    * the reference. With `queryBits > 0` it scalar-quantizes r and
    * builds byte-indexed subset-sum tables (`qlut`), the JVM
    * re-expression of the reference's BQUERY=14 + pack_LUT FastScan
    * mechanism (Searcher.hpp:122-172) — the speed-for-accuracy knob on
    * the per-entry hot loop. */
  final case class QueryCluster(
      residual: Array[Float],
      sumRes: Double,
      sqrY: Double,
      qlut: QueryLut = null) {
    val y: Double = math.sqrt(sqrY)
  }

  /** Scalar-quantized query residual, packed for byte accumulation:
    * r_d ≈ vl + width·u_d, and `lut(g*256 + b)` = Σ u over the set
    * bits of byte `b` within dim group g (8 dims per group, one sign
    * byte). The reference's tables are 4-bit and sit in SIMD shuffle
    * registers (Searcher.hpp:130-172); the JVM reads them from memory,
    * where one load per 8 dims beats two per 8. Groups are padded to
    * full sign-bit words so the accumulation loop needs no tail
    * handling. [[lutLength]] sizes the table, [[level]] reads u_d. */
  final case class QueryLut(lut: Array[Int], vl: Float, width: Float) {
    /** u_d, the quantized level of dim d: the entry of the byte with
      * only d's bit set. */
    def level(d: Int): Int = lut(((d >> 3) << 8) + (1 << (d & 7)))
  }

  /** Ints in a [[QueryLut]] table for a `dim`-wide residual: 256 per 8
    * dims, dims padded to whole 64-bit sign words (2048 per word; 48 KB
    * at dim 384). */
  def lutLength(dim: Int): Int = ((dim + 63) >> 6) << 11

  def prepareQuery(
      qRot: Array[Float],
      cRot: Array[Float],
      queryBits: Int = 0): QueryCluster =
    prepareQueryInto(qRot, cRot, queryBits, null, null)

  /** [[prepareQuery]] with caller-owned scratch: `rBuf` (dim floats)
    * and `lutBuf` ([[lutLength]](dim) ints) are filled in place when
    * non-null. The search hot loop prepares once per (query, cluster,
    * partition) — ~320k calls per 2048-query chunk at the reference
    * shape (d=1536), where fresh arrays per call (a 6 KB residual and
    * a 192 KB table) would put ~60 GB per chunk of allocation on the
    * GC; fresh arrays of 30 KB per call already measured as the
    * dominant share of a 17 s chunk wall. Query-major scanning
    * finishes each prepared query before the next, so one scratch pair
    * per partition is safe. The returned QueryCluster aliases the
    * buffers — callers must not retain it across prepares (the
    * partition loop does not). */
  def prepareQueryInto(
      qRot: Array[Float],
      cRot: Array[Float],
      queryBits: Int,
      rBuf: Array[Float],
      lutBuf: Array[Int]): QueryCluster = {
    val d = qRot.length
    val r = if (rBuf != null && rBuf.length == d) rBuf else new Array[Float](d)
    var s = 0.0; var y2 = 0.0
    var i = 0
    while (i < d) {
      val v = qRot(i).toDouble - cRot(i)
      r(i) = v.toFloat; s += v; y2 += v * v
      i += 1
    }
    QueryCluster(r, s, y2,
      if (queryBits > 0) buildLut(r, queryBits, lutBuf) else null)
  }

  /** Quantize the residual to `bits`-bit ints (reference
    * data_range16 + scalar_quantize16, space.hpp:608-659) and build
    * the per-8-dim subset-sum tables: each group's 256 entries are the
    * outer sum of the 16-entry subset sums of its low and high 4 dims
    * (the reference's pack_LUT rows). Each u_d is computed once. Cost
    * is 255 adds per 8 dims per (query, cluster), amortized over every
    * entry of the cluster scan. */
  private[graft] def buildLut(
      r: Array[Float], bits: Int, lutBuf: Array[Int] = null): QueryLut = {
    val d = r.length
    // lutSumPop accumulates Σu in an Int: bound is dim·(2^bits−1).
    // Past it (paddedDim ≥ ~32832 at queryBits=16) the sum would wrap
    // silently and the prune would drop true neighbors — fail loudly
    // here, the single choke point every LUT query passes through
    require(d.toLong * ((1L << bits) - 1) <= Int.MaxValue,
      s"queryBits=$bits at dim=$d overflows the Int LUT accumulator " +
        s"(bound: dim·(2^queryBits−1) ≤ ${Int.MaxValue}); lower queryBits")
    var vl = Float.MaxValue; var vr = Float.MinValue
    var i = 0
    while (i < d) { val v = r(i); if (v < vl) vl = v; if (v > vr) vr = v; i += 1 }
    val levels = (1 << bits) - 1
    val width = if (vr > vl) (vr - vl) / levels else 1.0f
    val len = lutLength(d)
    val lut = if (lutBuf != null && lutBuf.length == len) lutBuf else new Array[Int](len)
    var off = 0
    while (off < len) {
      val base = off >> 5 // first dim of the group: 8 dims per 256 entries
      lut(off) = 0
      // subset-sum doubling: bit j's entries are those without it plus
      // u_j. Bits 0-3 make the low dims' 16-entry half-table; bits 4-7
      // then add the high dims' subset sums to it, the outer sum of the
      // two half-tables
      var j = 0
      while (j < 8) {
        val dim = base + j
        val u = if (dim < d) math.round((r(dim) - vl) / width) else 0
        val half = 1 << j
        var b = 0
        while (b < half) { lut(off + half + b) = lut(off + b) + u; b += 1 }
        j += 1
      }
      off += 256
    }
    QueryLut(lut, vl, width)
  }

  /** Σ r_d over dims whose sign bit is set (the exact form of the
    * FastScan-accumulated inner product, Searcher.hpp:199-216). */
  def sumOverSetBits(words: Array[Long], r: Array[Float]): Double =
    sumOverSetBits(words, 0, words.length, r)

  /** Packed-core form (see [[lutSumPop]]'s packed overload). */
  def sumOverSetBits(words: Array[Long], base: Int, nWords: Int,
      r: Array[Float]): Double = {
    var s = 0.0
    var w = 0
    while (w < nWords) {
      var bits = words(base + w)
      val dimBase = w << 6
      while (bits != 0L) {
        val d = dimBase + java.lang.Long.numberOfTrailingZeros(bits)
        s += r(d)
        bits &= bits - 1
      }
      w += 1
    }
    s
  }

  /** 1-bit estimated distance and its lower bound
    * (Searcher.hpp:199-221): est = x²+y² − ip·facIp,
    * lower = est − facErr·y, with ip = Σ_{bit} r_d − S/2. */
  def estimate(q: QueryCluster, v: Quantized): (Double, Double) = {
    val est = estimateDist(q, v.signBits, v.x2, v.facIp)
    (est, est - v.facErr * q.y)
  }

  /** Allocation-free forms for the search hot loop. */
  def estimateDist(q: QueryCluster, signBits: Array[Long], x2: Float, facIp: Float): Double = {
    val ip = sumOverSetBits(signBits, q.residual) - 0.5 * q.sumRes
    x2 + q.sqrY - ip * facIp
  }

  /** Shared byte-accumulation kernel for the LUT estimate and its
    * lower bound (one copy: a fix applied to the estimate but not the
    * pruning bound — or vice versa — would silently desynchronize
    * them). Returns (sum << 32) | popcount packed in one Long so the
    * per-candidate hot path stays allocation-free. 8 table loads per
    * 64-bit sign word, one per byte. The Int accumulator cannot wrap:
    * [[buildLut]] bounds dim·(2^queryBits−1) by Int.MaxValue. */
  private def lutSumPop(lut: Array[Int], signBits: Array[Long]): Long =
    lutSumPop(lut, signBits, 0, signBits.length)

  /** Packed-core form: the entry's `words` sign-bit longs start at
    * `base` inside a run-contiguous array (the block-major packed
    * layout IVFModel.runs holds per partition — streaming longs instead
    * of chasing one small array object per entry). The per-entry
    * API above delegates here, so the byte arithmetic exists once. */
  private def lutSumPop(
      lut: Array[Int], signBits: Array[Long], base: Int, words: Int): Long = {
    var sum = 0
    var pop = 0
    var w = 0
    while (w < words) {
      var bits = signBits(base + w)
      pop += java.lang.Long.bitCount(bits)
      var off = w << 11 // 8 groups × 256 entries per word
      var n = 0
      while (n < 8) {
        sum += lut(off + (bits & 255L).toInt)
        bits >>>= 8
        off += 256
        n += 1
      }
      w += 1
    }
    (sum.toLong << 32) | pop.toLong
  }

  /** LUT-accumulated estimate (reference scan_one_block's
    * accumulate_robust over the packed LUTs, Searcher.hpp:176-216):
    * Σ_{set bits} r_d ≈ width·Σ u_d + vl·popcount, with Σ u_d read
    * byte-by-byte from the subset-sum tables — 8 adds + 8 table loads
    * per 64 dims instead of one float add per set bit. Requires
    * `q.qlut != null` (prepareQuery with queryBits > 0). */
  def estimateDistLut(q: QueryCluster, signBits: Array[Long], x2: Float,
      facIp: Float): Double = {
    val ql = q.qlut
    val sp = lutSumPop(ql.lut, signBits)
    val sum = (sp >>> 32).toInt
    val pop = sp.toInt
    val ip = ql.width.toDouble * sum + ql.vl.toDouble * pop - 0.5 * q.sumRes
    x2 + q.sqrY - ip * facIp
  }

  /** Lower bound on the LUT path. Widens the float path's bound by the
    * query-quantization error: each set bit contributes r_d known only
    * to ±width/2, so |ip_lut − ip_float| ≤ popcount·width/2, and the
    * pruning margin must absorb it — otherwise a coarse `queryBits`
    * (Params allows down to 4) would silently prune true neighbors
    * instead of just costing more reranks. */
  def estimateLowerLut(q: QueryCluster, signBits: Array[Long], x2: Float,
      facIp: Float, facErr: Float): Double =
    // delegate to the packed core (the rerankDist precedent): the
    // widened-bound arithmetic must exist ONCE so the per-entry path
    // (AnnQueries) and the packed scan can never diverge
    estimateLowerLutPacked(q, signBits, 0, signBits.length, x2, facIp, facErr)

  /** Packed-layout twin of [[estimateLowerLut]]: sign bits read from
    * `base` in a run-contiguous array. Identical arithmetic (shared
    * [[lutSumPop]] core), so the two layouts can never diverge. */
  def estimateLowerLutPacked(q: QueryCluster, sign: Array[Long], base: Int,
      words: Int, x2: Float, facIp: Float, facErr: Float): Double = {
    val ql = q.qlut
    val sp = lutSumPop(ql.lut, sign, base, words)
    val sum = (sp >>> 32).toInt
    val pop = sp.toInt
    val ip = ql.width.toDouble * sum + ql.vl.toDouble * pop - 0.5 * q.sumRes
    x2 + q.sqrY - ip * facIp - facErr * q.y -
      math.abs(facIp) * (0.5 * ql.width) * pop
  }

  /** Float-path lower bound (est − facErr·y, as in [[estimate]]) over
    * the packed layout: sign bits read from `base` in a run-contiguous
    * array. */
  def estimateLowerPacked(q: QueryCluster, sign: Array[Long], base: Int,
      words: Int, x2: Float, facIp: Float, facErr: Float): Double = {
    val ip = sumOverSetBits(sign, base, words, q.residual) - 0.5 * q.sumRes
    x2 + q.sqrY - ip * facIp - facErr * q.y
  }

  /** Re-ranking distance from the extended code
    * (Searcher.hpp:227-230, algebraically identical):
    * dist = x²+y² − xipnorm·(⟨r, F⟩ − (2^B−1)/2·S)
    * with F_d = 2^exBits·bit_d + exCode_d. */
  def rerank(q: QueryCluster, v: Quantized, exBits: Int): Double =
    rerankDist(q, v.signBits, v.exCode, v.x2, v.xipnorm, exBits)

  def rerankDist(q: QueryCluster, signBits: Array[Long], exCode: Array[Byte],
      x2: Float, xipnorm: Float, exBits: Int): Double =
    rerankDistPacked(q, signBits, 0, exCode, x2, xipnorm, exBits)

  /** Pre-unpack one entry's full per-dim quantized code
    * F_d = bit_d·2^exBits + exCode_d into a byte run (requires
    * exBits ≤ 7 so F ≤ 255) — done ONCE at pack time so the rerank
    * hot loop becomes a sequential byte-stream FMA instead of a
    * per-dim bit-straddling unpack (thread samples showed rerank as
    * ~3/4 of the active scan at the reference shape). */
  private[graft] def packF(signBits: Array[Long], exCode: Array[Byte],
      dim: Int, exBits: Int, out: Array[Byte], baseOut: Int): Unit = {
    val hi = 1 << exBits
    var i = 0
    while (i < dim) {
      val bit = ((signBits(i >> 6) >>> (i & 63)) & 1L).toInt
      out(baseOut + i) = (bit * hi + unpackAt(exCode, i, exBits)).toByte
      i += 1
    }
  }

  /** Rerank from the pre-unpacked F byte run — IDENTICAL arithmetic
    * to [[rerankDistPacked]] (F_d is the same int, r_d·F_d the same
    * double product), just without the per-dim unpack. */
  def rerankDistF(q: QueryCluster, f: Array[Byte], base: Int,
      x2: Float, xipnorm: Float, exBits: Int): Double = {
    val r = q.residual
    val half = (1 << (exBits + 1)) - 1
    var ipF = 0.0
    var i = 0
    while (i < r.length) {
      ipF += r(i).toDouble * (f(base + i) & 0xff)
      i += 1
    }
    x2 + q.sqrY - xipnorm * (ipF - 0.5 * half * q.sumRes)
  }

  /** Two [[rerankDistF]] distances in one pass over the residual — the
    * entries at F-byte offsets `baseA` and `baseB` — written to
    * `out(0)` and `out(1)`. Each keeps its own accumulator summed in
    * dim order, so each is bit-identical to its [[rerankDistF]]; the
    * two independent chains overlap where one chain waits on its own
    * dependent additions. */
  def rerankDistF2(q: QueryCluster, f: Array[Byte],
      baseA: Int, x2A: Float, xipnormA: Float,
      baseB: Int, x2B: Float, xipnormB: Float,
      exBits: Int, out: Array[Double]): Unit = {
    val r = q.residual
    val half = (1 << (exBits + 1)) - 1
    var ipA = 0.0
    var ipB = 0.0
    var i = 0
    while (i < r.length) {
      val ri = r(i).toDouble
      ipA += ri * (f(baseA + i) & 0xff)
      ipB += ri * (f(baseB + i) & 0xff)
      i += 1
    }
    out(0) = x2A + q.sqrY - xipnormA * (ipA - 0.5 * half * q.sumRes)
    out(1) = x2B + q.sqrY - xipnormB * (ipB - 0.5 * half * q.sumRes)
  }

  /** Packed-layout core: sign bits read from `base` in a
    * run-contiguous array (the per-entry API above delegates here). */
  def rerankDistPacked(q: QueryCluster, sign: Array[Long], base: Int,
      exCode: Array[Byte], x2: Float, xipnorm: Float, exBits: Int): Double = {
    val r = q.residual
    val half = (1 << (exBits + 1)) - 1
    var ipF = 0.0
    var i = 0
    val hi = 1 << exBits
    while (i < r.length) {
      val bit = ((sign(base + (i >> 6)) >>> (i & 63)) & 1L).toInt
      val f = bit * hi + unpackAt(exCode, i, exBits)
      ipF += r(i).toDouble * f
      i += 1
    }
    x2 + q.sqrY - xipnorm * (ipF - 0.5 * half * q.sumRes)
  }
}
