package graft.ann

import scala.util.Random

/** Seeded random orthonormal rotation (reference:
  * /root/reference/inc/index/Rotator.hpp:14-19 — QR of a random
  * matrix). The orthonormalization is a pure-JVM modified Gram-Schmidt
  * over a seeded Gaussian matrix: deterministic IEEE double ops, so the
  * same (dim, seed) reproduces the same matrix on any machine — unlike
  * a LAPACK-backed QR, whose bits vary with the BLAS backend. Persisted
  * indexes additionally store the matrix itself (IVFModel.save), so a
  * load never depends on reconstruction at all.
  *
  * The matrix is small (paddedDim², ≤ a few MB for 1536-dim embeddings)
  * and is shipped to executors via a broadcast of the whole Rotator.
  */
final class Rotator private (
    val dim: Int,
    val seed: Long,
    /** Row-major P[out][in]: rotate(x)[o] = Σ_i P[o][i]·x[i]. */
    val matrix: Array[Array[Float]]) extends Serializable {

  def this(dim: Int, seed: Long) =
    this(dim, seed, Rotator.orthonormal(Rotator.roundUp(dim, 64), seed))

  val paddedDim: Int = Rotator.roundUp(dim, 64)
  require(matrix.length == paddedDim && matrix.forall(_.length == paddedDim),
    s"rotation matrix must be ${paddedDim}x$paddedDim")

  /** Zero-pad to paddedDim. Vectors longer than the indexed dimension
    * are a caller bug — fail fast instead of silently truncating. */
  def pad(v: Array[Float]): Array[Float] = {
    require(v.length <= paddedDim,
      s"vector has ${v.length} dims; this rotator indexes $dim (padded $paddedDim)")
    if (v.length == paddedDim) v
    else java.util.Arrays.copyOf(v, paddedDim)
  }

  /** Rotate a (possibly unpadded) vector of the indexed dimension.
    * Four output rows per sweep over `x` (paddedDim is a multiple of
    * 64, so no tail): each row keeps its own accumulator summed in `i`
    * order, so every output is bit-identical to the one-row loop
    * `Σ_i P[o][i]·x[i]`; the four independent chains share each load of
    * `x(i)`. */
  def rotate(v: Array[Float]): Array[Float] = {
    require(v.length == dim || v.length == paddedDim,
      s"vector has ${v.length} dims; this rotator indexes $dim (padded $paddedDim)")
    val x = pad(v)
    val out = new Array[Float](paddedDim)
    var o = 0
    while (o < paddedDim) {
      val r0 = matrix(o); val r1 = matrix(o + 1)
      val r2 = matrix(o + 2); val r3 = matrix(o + 3)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var i = 0
      while (i < paddedDim) {
        val xi = x(i).toDouble
        s0 += r0(i).toDouble * xi
        s1 += r1(i).toDouble * xi
        s2 += r2(i).toDouble * xi
        s3 += r3(i).toDouble * xi
        i += 1
      }
      out(o) = s0.toFloat; out(o + 1) = s1.toFloat
      out(o + 2) = s2.toFloat; out(o + 3) = s3.toFloat
      o += 4
    }
    out
  }

  /** Rotate a whole table of vectors, fanned across the common pool —
    * bit-identical to `vs.map(rotate)` (each output is an independent
    * matvec). Rotating K=4096 centroids at d=1536 is ~10 single-thread
    * GFLOPs; done serially it dominated a cold [[IVFModel.load]]
    * (measured 16-19 s of the ~21 s cold-start at the dev shape) —
    * paid on the DRIVER at every load and every build. */
  def rotateAll(vs: Array[Array[Float]]): Array[Array[Float]] = {
    val out = new Array[Array[Float]](vs.length)
    java.util.stream.IntStream.range(0, vs.length).parallel()
      .forEach(i => out(i) = rotate(vs(i)))
    out
  }
}

object Rotator {
  def roundUp(x: Int, m: Int): Int = ((x + m - 1) / m) * m

  /** Rebuild from a persisted matrix (bit-exact regardless of
    * environment). */
  def fromMatrix(dim: Int, seed: Long, matrix: Array[Array[Float]]): Rotator =
    new Rotator(dim, seed, matrix)

  /** Deterministic orthonormal d×d matrix: seeded Gaussian rows,
    * modified Gram-Schmidt in double precision. Pure JVM arithmetic —
    * no BLAS/LAPACK backend variance. */
  private[ann] def orthonormal(d: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new Random(seed)
    val rows = Array.fill(d, d)(rnd.nextGaussian())
    var i = 0
    while (i < d) {
      val ri = rows(i)
      // subtract projections onto previous rows
      var j = 0
      while (j < i) {
        val rj = rows(j)
        var dot = 0.0; var k = 0
        while (k < d) { dot += ri(k) * rj(k); k += 1 }
        k = 0
        while (k < d) { ri(k) -= dot * rj(k); k += 1 }
        j += 1
      }
      var nrm = 0.0; var k = 0
      while (k < d) { nrm += ri(k) * ri(k); k += 1 }
      // a seeded Gaussian matrix is full-rank with probability 1; the
      // guard re-seeds the row deterministically if cancellation ever
      // degenerates it
      if (nrm < 1e-12) {
        k = 0
        while (k < d) { ri(k) = rnd.nextGaussian(); k += 1 }
        i -= 1 // redo this row
      } else {
        val inv = 1.0 / math.sqrt(nrm)
        k = 0
        while (k < d) { ri(k) *= inv; k += 1 }
      }
      i += 1
    }
    rows.map(_.map(_.toFloat))
  }
}
