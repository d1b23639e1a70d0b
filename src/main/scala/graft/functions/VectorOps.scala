package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** JVM-static float-vector kernels — called from both the interpreted
  * `nullSafeEval` and the generated (whole-stage codegen) paths. Operating
  * directly on `ArrayData` avoids materializing Scala collections per row,
  * which is what makes brute-force similarity scans viable at scale. */
object VectorOps {

  /** Mismatched dimensions fail fast: silently truncating to the shorter
    * vector yields a plausible-but-wrong similarity, which is far worse at
    * scale than a loud error on the first bad row. */
  private def checkDims(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft vector ops require equal dimensions, got $n vs ${b.numElements()}")
    n
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Intersection size of two individually sorted, de-duplicated string
    * arrays — O(n+m) merge, no per-row hash set. Kernel for the exact
    * Jaccard verify tier. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    var i = 0; var j = 0; var c = 0
    val n = a.numElements(); val m = b.numElements()
    while (i < n && j < m) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** Index of the centroid with the highest cosine similarity to `vec`
    * (first max wins on ties — same contract as array_position-of-max).
    * Each per-centroid cosine uses the IDENTICAL operation sequence as
    * [[cosine]], so the fused kernel is bitwise-equal to evaluating
    * nCells separate cosine expressions — but the plan holds ONE
    * expression whose size is constant in nCells, instead of an
    * nCells-wide expression array that blows up codegen at the 4k–64k
    * cells a 100 TB corpus needs. */
  def argmaxCosineCell(vec: ArrayData, centroids: Array[Array[Float]]): Int = {
    if (centroids.isEmpty)
      throw new IllegalArgumentException(
        "cell assignment needs at least one centroid — an empty matrix " +
          "would silently route the whole corpus to a phantom cell 0")
    val n = vec.numElements()
    var best = Double.NegativeInfinity
    var bestC = 0
    var c = 0
    while (c < centroids.length) {
      val ct = centroids(c)
      if (ct.length != n)
        throw new IllegalArgumentException(
          s"graft vector ops require equal dimensions, got $n vs ${ct.length}")
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = vec.getFloat(i).toDouble
        val y = ct(i).toDouble
        d += x * y; na += x * x; nb += y * y
        i += 1
      }
      val cos = if (na == 0.0 || nb == 0.0) 0.0 else d / math.sqrt(na * nb)
      if (cos > best) { best = cos; bestC = c }
      c += 1
    }
    bestC
  }

  /** The `nprobe` centroid indices nearest `vec` by cosine, ordered
    * (cosine DESC, cell ASC) — the batched-probe twin of
    * [[argmaxCosineCell]] (identical per-centroid cosine arithmetic, so a
    * 1-probe call equals the argmax bitwise). Selection is O(nCells·nprobe)
    * with strict `>` comparison over ascending cells, which reproduces the
    * driver-side `nearestCells` stable sort's tie-break exactly. */
  def topCellsByCosine(
      vec: ArrayData, centroids: Array[Array[Float]], nprobe: Int): ArrayData = {
    val n = vec.numElements()
    val nc = centroids.length
    val cos = new Array[Double](nc)
    var c = 0
    while (c < nc) {
      val ct = centroids(c)
      if (ct.length != n)
        throw new IllegalArgumentException(
          s"graft vector ops require equal dimensions, got $n vs ${ct.length}")
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = vec.getFloat(i).toDouble
        val y = ct(i).toDouble
        d += x * y; na += x * x; nb += y * y
        i += 1
      }
      cos(c) = if (na == 0.0 || nb == 0.0) 0.0 else d / math.sqrt(na * nb)
      c += 1
    }
    val k = math.min(nprobe, nc)
    val out = new Array[Int](k)
    val taken = new Array[Boolean](nc)
    var r = 0
    while (r < k) {
      var best = Double.NegativeInfinity
      var bestC = -1
      var j = 0
      while (j < nc) {
        // NaN cosines (a NaN/Inf query component) compare false here; the
        // fallback below picks the first untaken cell so such a row selects
        // cells 0..k-1 — the same degraded-but-total behavior as
        // argmaxCosineCell's bestC = 0 start, instead of crashing the batch
        if (!taken(j) && cos(j) > best) { best = cos(j); bestC = j }
        j += 1
      }
      if (bestC < 0) {
        var f = 0
        while (f < nc && taken(f)) f += 1
        bestC = f
      }
      taken(bestC) = true
      out(r) = bestC
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Pack int8 quantization codes into a binary column — ONE byte per
    * component, the 4× storage shrink of the quantized ANN index tier (a
    * parquet array<int> element costs 4 bytes before encodings; a binary
    * cell costs its length). Two producers share this layout: signed q8
    * quantization codes in [-128, 127] (read back sign-extending, in
    * [[unpackQ8]]) and UNSIGNED PQ codes in [0, 255] (read back `& 0xff`,
    * in [[pqDecodeBytes]]). Anything outside [-128, 255] is a caller bug
    * and FAILS here — `toByte` truncation would silently corrupt every
    * vector the index later serves. */
  def packInt8(codes: ArrayData): Array[Byte] = {
    val n = codes.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val v = codes.getInt(i)
      if (v < -128 || v > 255)
        throw new IllegalArgumentException(
          s"int8 pack out of range: $v (expected [-128, 255])")
      out(i) = (v & 0xff).toByte
      i += 1
    }
    out
  }

  /** Dequantize packed int8 codes back to float32: v̂ᵢ = qᵢ·s/127 —
    * bitwise the same arithmetic as the column-level
    * [[graft.operators.Similarity.dequantizeInt8]] (double multiply,
    * double divide, float cast, in that order), so the quantized index
    * probe is oracle-replicable. */
  def unpackQ8(codes: Array[Byte], scale: Double): ArrayData = {
    val n = codes.length
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = (codes(i).toDouble * scale / 127.0).toFloat; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Product-quantization codes of `vec` against a subspace-major codebook
    * (entry `s*ksub + code` = code-th centroid of subspace s, each of
    * length dsub = dim/m): per subspace, the index of the sub-centroid
    * with the smallest squared-L2 distance to the sub-vector (first min
    * wins on ties — strict `<` over ascending codes, the argmax-cell
    * convention). L2, not cosine, because sub-vector norms carry signal
    * the concatenated reconstruction needs (Jégou, Douze, Schmid,
    * "Product quantization for nearest neighbor search", TPAMI 2011 —
    * public). ONE plan node: m·ksub distance evaluations per row against
    * a constant matrix, plan size constant in the codebook. */
  def pqAssign(vec: ArrayData, codebook: Array[Array[Float]], ksub: Int): ArrayData = {
    val dim = vec.numElements()
    val m = codebook.length / ksub
    val dsub = codebook(0).length
    if (m * dsub != dim || m * ksub != codebook.length)
      throw new IllegalArgumentException(
        s"pq codebook mismatch: dim=$dim, entries=${codebook.length}, ksub=$ksub, dsub=$dsub")
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < ksub) {
        val ct = codebook(s * ksub + c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val diff = vec.getFloat(s * dsub + i).toDouble - ct(i).toDouble
          d += diff * diff
          i += 1
        }
        if (d < best) { best = d; bestC = c }
        c += 1
      }
      out(s) = bestC
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Reconstructed float32 vector from PQ codes: the concatenation of each
    * subspace's coded centroid — the decode side of [[pqAssign]] (same
    * subspace-major layout). Scoring against the reconstruction is the
    * standard PQ search contract; per-component error is bounded by the
    * subspace quantizer's cell radius. */
  def pqDecode(codes: ArrayData, codebook: Array[Array[Float]], ksub: Int): ArrayData = {
    val m = codes.numElements()
    val dsub = codebook(0).length
    if (m * ksub != codebook.length)
      throw new IllegalArgumentException(
        s"pq codebook mismatch: m=$m, entries=${codebook.length}, ksub=$ksub")
    val out = new Array[Float](m * dsub)
    var s = 0
    while (s < m) {
      val code = codes.getInt(s)
      if (code < 0 || code >= ksub)
        throw new IllegalArgumentException(s"pq code out of range: $code (ksub=$ksub)")
      System.arraycopy(codebook(s * ksub + code), 0, out, s * dsub, dsub)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** [[pqDecode]] over the PACKED one-byte-per-code binary form
    * ([[packInt8]] of the code array) — the on-disk PQ index tier decodes
    * straight from storage without an intermediate array<int> column. */
  def pqDecodeBytes(codes: Array[Byte], codebook: Array[Array[Float]], ksub: Int): ArrayData = {
    val m = codes.length
    val dsub = codebook(0).length
    if (m * ksub != codebook.length)
      throw new IllegalArgumentException(
        s"pq codebook mismatch: m=$m, entries=${codebook.length}, ksub=$ksub")
    val out = new Array[Float](m * dsub)
    var s = 0
    while (s < m) {
      // PQ codes are UNSIGNED [0, ksub-1]: a signed read would reject the
      // wrapped bytes of every code ≥ 128 the standard ksub=256 produces
      val code = codes(s) & 0xff
      if (code >= ksub)
        throw new IllegalArgumentException(s"pq code out of range: $code (ksub=$ksub)")
      System.arraycopy(codebook(s * ksub + code), 0, out, s * dsub, dsub)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Cosine similarity; 0.0 when either vector is all-zero. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else d / math.sqrt(na * nb)
  }
}
