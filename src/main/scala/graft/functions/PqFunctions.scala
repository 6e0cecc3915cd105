package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Product-quantization kernels (public: Jégou, Douze, Schmid 2011,
  * "Product Quantization for Nearest Neighbor Search"): a vector is
  * split into `m` subspaces of `ds` dims; each subspace is vector-
  * quantized against its own `ks`-entry codebook, so the vector is
  * stored as `m` byte codes (16-32× less scan bandwidth than
  * float32). A query never reconstructs vectors: it precomputes one
  * dot-product lookup table against every codebook entry (m·ks
  * doubles, ONCE per query) and scores each corpus row with m table
  * lookups — the classic ADC (asymmetric distance computation) scan.
  *
  * The codebook rides into generated code as a codegen reference
  * object (a plain double[], laid out [(s·ks + c)·ds + d]), so every
  * kernel call stays inside whole-stage codegen with zero
  * per-row allocation beyond their output arrays.
  */
object PqKernels {

  /** argmin-L2 code per subspace; strict `<` keeps the LOWEST code on
    * ties (the rule the oracle reproduces with ORDER BY d2, code). */
  def pqEncode(vec: ArrayData, cb: Array[Double], m: Int, ks: Int,
      ds: Int): ArrayData = {
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD2 = Double.MaxValue
      var c = 0
      while (c < ks) {
        val off = (s * ks + c) * ds
        var d2 = 0.0
        var d = 0
        while (d < ds) {
          val diff = vec.getFloat(s * ds + d).toDouble - cb(off + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD2) { bestD2 = d2; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Raw subspace dot products of the query against every codebook
    * entry: lut[s·ks + c] = ⟨q_sub(s), C[s][c]⟩ — m·ks doubles,
    * computed once per query row. */
  def pqLut(q: ArrayData, cb: Array[Double], m: Int, ks: Int,
      ds: Int): ArrayData = {
    val out = new Array[Double](m * ks)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ks) {
        val off = (s * ks + c) * ds
        var dot = 0.0
        var d = 0
        while (d < ds) {
          dot += q.getFloat(s * ds + d).toDouble * cb(off + d)
          d += 1
        }
        out(s * ks + c) = dot
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC cosine: Σ_s lut[s·ks+code_s] / (qnorm · ‖x̂‖) with
    * ‖x̂‖² = Σ_s n2[s·ks+code_s] (n2 = precomputed codeword norms²).
    * Zero norms score 0 (same guard as the cosine kernels). */
  def pqAdcCosine(lut: ArrayData, codes: ArrayData, qnorm: Double,
      n2: Array[Double], ks: Int): Double = {
    val m = codes.numElements()
    var sdot = 0.0
    var sn2 = 0.0
    var s = 0
    while (s < m) {
      val idx = s * ks + (codes.getByte(s) & 0xff)
      sdot += lut.getDouble(idx)
      sn2 += n2(idx)
      s += 1
    }
    val denom = qnorm * math.sqrt(sn2)
    if (denom == 0.0) 0.0 else sdot / denom
  }

  /** ADC dot sum alone: Σ_s lut[s·ks+code_s] — the residual-space
    * half of the IVF-PQ score, where the centroid dot and the stored
    * reconstructed norm complete the cosine (the per-subspace LUT
    * cannot carry the centroid·residual cross term, so ‖x̂‖ rides the
    * code row instead of deriving from codeword norms). */
  def pqAdcDot(lut: ArrayData, codes: ArrayData, ks: Int): Double = {
    val m = codes.numElements()
    var sdot = 0.0
    var s = 0
    while (s < m) {
      sdot += lut.getDouble(s * ks + (codes.getByte(s) & 0xff))
      s += 1
    }
    sdot
  }

  /** Exact reconstructed norm at ENCODE time: ‖centroid + r̂‖ with
    * r̂ the codeword concatenation of `codes` — one double per row,
    * stored next to the m code bytes so the IVF-PQ cosine is exact
    * with respect to the reconstruction. */
  def pqReconNorm(codes: ArrayData, centroid: ArrayData,
      cb: Array[Double], ks: Int, ds: Int): Double = {
    val m = codes.numElements()
    var n2 = 0.0
    var s = 0
    while (s < m) {
      val off = (s * ks + (codes.getByte(s) & 0xff)) * ds
      var d = 0
      while (d < ds) {
        val v = centroid.getDouble(s * ds + d) + cb(off + d)
        n2 += v * v
        d += 1
      }
      s += 1
    }
    math.sqrt(n2)
  }

  /** Driver-side: codeword norms² in lut layout, derived once from
    * the codebook. */
  def codewordNorms2(cb: Array[Double], m: Int, ks: Int,
      ds: Int): Array[Double] = {
    val out = new Array[Double](m * ks)
    var i = 0
    while (i < m * ks) {
      var n2 = 0.0
      var d = 0
      while (d < ds) { val v = cb(i * ds + d); n2 += v * v; d += 1 }
      out(i) = n2
      i += 1
    }
    out
  }
}

/** Column-level entry points for the PQ kernels — one call each into
  * its [[KernelTable]] row. */
object PqFunctions {
  private val K = KernelTable
  def pqEncode(vec: Column, cb: Array[Double], m: Int, ks: Int, ds: Int): Column =
    K.pqEncode(vec, cb, m, ks, ds)
  def pqLut(q: Column, cb: Array[Double], m: Int, ks: Int, ds: Int): Column =
    K.pqLut(q, cb, m, ks, ds)
  def pqAdcCosine(lut: Column, codes: Column, qnorm: Column,
      norms2: Array[Double], ks: Int): Column =
    K.pqAdcCosine(lut, codes, qnorm, norms2, ks)
  def pqAdcDot(lut: Column, codes: Column, ks: Int): Column =
    K.pqAdcDot(lut, codes, ks)
  def pqReconNorm(codes: Column, centroid: Column, cb: Array[Double],
      ks: Int, ds: Int): Column =
    K.pqReconNorm(codes, centroid, cb, ks, ds)
}
