package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, Literal, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (SURVEY §7.3: native fast paths where a Scala
  * UDF would sit in the hot loop). Each generates a single static call in
  * whole-stage codegen — no boxing, no Row allocation, no UDF serialization.
  *
  * These give the engine the scalar primitives the reference lacked entirely
  * (its only extension point is the row-level poly transform,
  * reference: framework/ubw-core/.../PileHelper.scala:117-179).
  */

/** 64-bit FNV-1a document fingerprint of a string column. */
case class Fingerprint64(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint64"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.fnv1a64(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.fnv1a64(($c).getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Fingerprint64 =
    copy(child = newChild)
}

/** Second, domain-separated 64-bit FNV-1a stream — see
  * [[TextHash.Fnv1a64AltBasis]]; paired with [[Fingerprint64]] for 128-bit
  * fingerprinting where aggregate birthday collisions matter. */
case class Fingerprint64Alt(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint64_alt"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.fnv1a64Alt(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.fnv1a64Alt(($c).getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Fingerprint64Alt =
    copy(child = newChild)
}

/** Unicode NFC normalization (java.text.Normalizer) — canonical
  * composition so visually-identical strings (é vs e+◌́) share one dedup
  * key, the CCNet normalize-before-hash step. ASCII fast path: a string
  * with no code point ≥ 0x80 is returned untouched without the Normalizer
  * call (the overwhelmingly common case in a web corpus). */
case class NfcNormalize(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** 64-bit SimHash signature of a token array column. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.simhash64(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Cosine similarity of two float-array columns, as double. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(left.dataType, right.dataType),
      Seq(ArrayType(FloatType), ArrayType(FloatType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosine($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** Dot product of two float-array columns, as double. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(left.dataType, right.dataType),
      Seq(ArrayType(FloatType), ArrayType(FloatType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Fused one-pass text-marker statistics of a raw string column:
  * struct(n_tokens, n_distinct, lang_hits array, stop_hits) — see
  * TextMarkers.stats. Replaces up to seven interpreted higher-order
  * passes (split / array_distinct / per-language isin filters) with a
  * single codegen call; the combining arithmetic stays in Columns so
  * oracle contracts are unchanged. */
case class MarkerStats(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("lang_hits", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("stop_hits", IntegerType, nullable = false)))
  override def prettyName: String = "graft_marker_stats"

  override protected def nullSafeEval(input: Any): Any =
    TextMarkers.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextMarkers.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): MarkerStats =
    copy(child = newChild)
}

/** Fused one-pass repetition statistics of a raw string column:
  * struct(n_tokens, n_distinct, max_freq, n_3gram, dup_3gram, max_run) —
  * see TextQuality.stats. One codegen call instead of five interpreted
  * higher-order passes; all counts exact (string sets, not sketches) so
  * the quality-filter oracle replicates them with list operations. */
case class RepetitionStats(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("max_freq", IntegerType, nullable = false),
    StructField("n_3gram", IntegerType, nullable = false),
    StructField("dup_3gram", IntegerType, nullable = false),
    StructField("max_run", IntegerType, nullable = false)))
  override def prettyName: String = "graft_repetition_stats"

  override protected def nullSafeEval(input: Any): Any =
    TextQuality.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextQuality.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

/** IVF cell assignment: argmax-cosine centroid index of a float-vector
  * column against a constant centroid matrix (array<array<float>> literal,
  * shipped once with the task binary like any plan constant). ONE plan
  * node regardless of nCells — the per-cell cosine arithmetic is bitwise
  * identical to [[CosineSim]]; see VectorOps.argmaxCosineCell. */
case class IvfCellAssign(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _))
          if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, foldable array<array<float>>), " +
          s"got (${l.simpleString}, ${r.simpleString}, foldable=${right.foldable})")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_cell"

  /** The constant matrix, converted ONCE per expression instance (not per
    * row) — also registered as a codegen reference object. */
  @transient private lazy val matrix: Array[Array[Float]] =
    GraftExprChecks.floatMatrixOf(right)

  override protected def nullSafeEval(vec: Any, cents: Any): Any =
    VectorOps.argmaxCosineCell(
      vec.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("ivfCentroids", matrix, "float[][]")
    defineCodeGen(ctx, ev, (v, _) =>
      s"graft.functions.VectorOps.argmaxCosineCell($v, $m)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): IvfCellAssign =
    copy(left = l, right = r)
}

/** Top-`nprobe` IVF cells of a float-vector column against a constant
  * centroid matrix, ordered (cosine DESC, cell ASC) — the batched-ANN
  * probe assignment ([[IvfCellAssign]]'s top-n twin; same constant-matrix
  * discipline: ONE plan node regardless of nCells). See
  * VectorOps.topCellsByCosine. */
case class IvfCellsTopN(left: Expression, right: Expression, nprobe: Int)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _))
          if right.foldable && nprobe > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, foldable array<array<float>>, nprobe > 0), " +
          s"got (${l.simpleString}, ${r.simpleString}, foldable=${right.foldable}, nprobe=$nprobe)")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_ivf_cells_topn"

  @transient private lazy val matrix: Array[Array[Float]] =
    GraftExprChecks.floatMatrixOf(right)

  override protected def nullSafeEval(vec: Any, cents: Any): Any =
    VectorOps.topCellsByCosine(
      vec.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], matrix, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("ivfCentroids", matrix, "float[][]")
    defineCodeGen(ctx, ev, (v, _) =>
      s"graft.functions.VectorOps.topCellsByCosine($v, $m, $nprobe)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): IvfCellsTopN =
    copy(left = l, right = r)
}

/** Pack int8 quantization codes (array<int>, each in [-127, 127]) into a
  * binary column — the storage form of the quantized ANN index. See
  * VectorOps.packInt8. */
case class PackInt8(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(ArrayType(IntegerType)))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_pack_int8"

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.packInt8(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.packInt8($c)")

  override protected def withNewChildInternal(newChild: Expression): PackInt8 =
    copy(child = newChild)
}

/** Dequantize a packed-int8 binary column back to array<float> given its
  * per-row scale — the probe-time inverse of [[PackInt8]]; bitwise the
  * dequantizeInt8 arithmetic. See VectorOps.unpackQ8. */
case class UnpackQ8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(left.dataType, right.dataType),
      Seq(BinaryType, DoubleType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "graft_unpack_q8"

  override protected def nullSafeEval(codes: Any, scale: Any): Any =
    VectorOps.unpackQ8(codes.asInstanceOf[Array[Byte]], scale.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, s) => s"graft.functions.VectorOps.unpackQ8($c, $s)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): UnpackQ8 =
    copy(left = l, right = r)
}

/** Product-quantization code assignment: per-subspace argmin-L2 codes
  * (array<int> of m = dim/dsub entries) of a float-vector column against a
  * constant subspace-major codebook (array<array<float>> literal of m·ksub
  * entries, each dsub wide) — ONE plan node whose size is constant in the
  * codebook, the [[IvfCellAssign]] discipline applied to the PQ fine
  * quantizer. See VectorOps.pqAssign. */
case class PqAssign(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _))
          if right.foldable && ksub > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, foldable array<array<float>>, ksub > 0), " +
          s"got (${l.simpleString}, ${r.simpleString}, foldable=${right.foldable}, ksub=$ksub)")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_assign"

  @transient private lazy val codebook: Array[Array[Float]] =
    GraftExprChecks.floatMatrixOf(right)

  override protected def nullSafeEval(vec: Any, cb: Any): Any =
    VectorOps.pqAssign(
      vec.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], codebook, ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pqCodebook", codebook, "float[][]")
    defineCodeGen(ctx, ev, (v, _) =>
      s"graft.functions.VectorOps.pqAssign($v, $m, $ksub)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAssign =
    copy(left = l, right = r)
}

/** PQ reconstruction: concatenated coded sub-centroids (array<float> of
  * dim) from a code column — array<int> form ([[PqAssign]] output) or the
  * packed one-byte-per-code binary form ([[PackInt8]] of it, the on-disk
  * index tier). See VectorOps.pqDecode / pqDecodeBytes. */
case class PqDecode(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _) | BinaryType, ArrayType(ArrayType(FloatType, _), _))
          if right.foldable && ksub > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<int> | binary, foldable array<array<float>>, ksub > 0), " +
          s"got (${l.simpleString}, ${r.simpleString}, foldable=${right.foldable}, ksub=$ksub)")
    }
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "graft_pq_decode"

  @transient private lazy val codebook: Array[Array[Float]] =
    GraftExprChecks.floatMatrixOf(right)

  private def packed: Boolean = left.dataType == BinaryType

  override protected def nullSafeEval(codes: Any, cb: Any): Any =
    if (packed)
      VectorOps.pqDecodeBytes(codes.asInstanceOf[Array[Byte]], codebook, ksub)
    else
      VectorOps.pqDecode(
        codes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], codebook, ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pqCodebook", codebook, "float[][]")
    val fn = if (packed) "pqDecodeBytes" else "pqDecode"
    defineCodeGen(ctx, ev, (c, _) =>
      s"graft.functions.VectorOps.$fn($c, $m, $ksub)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqDecode =
    copy(left = l, right = r)
}

/** MinHash signature (array<long> of `numHashes` mins) of a shingle array —
  * one fused JVM pass; see TextHash.minhashSig. */
case class MinHashSig(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  // coefficients resolve ONCE per expression instance (and ride codegen as
  // reference objects) — a per-row cache lookup in the hottest dedup
  // kernel would pay a boxed tuple-key allocation per row for nothing
  @transient private lazy val coeffs = TextHash.minhashCoeffs(numHashes, seed)

  override protected def nullSafeEval(input: Any): Any =
    TextHash.minhashSigWith(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      coeffs._1, coeffs._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", coeffs._1, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", coeffs._2, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.minhashSigWith($c, $aRef, $bRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Feature-hashed, L2-normalized tf vector of a token array — one fused
  * codegen call; see TextHash.hashedTfVector. */
case class HashedTfVector(child: Expression, dim: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "graft_hashed_tf_vector"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.hashedTfVector(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.hashedTfVector($c, $dim)")

  override protected def withNewChildInternal(newChild: Expression): HashedTfVector =
    copy(child = newChild)
}

/** Intersection size of two sorted de-duplicated string arrays. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(left.dataType, right.dataType),
      Seq(ArrayType(StringType), ArrayType(StringType)))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.sortedIntersectCount(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** Word k-shingles of a string column — fused codegen twin of the
  * interpreted HOF formulation; see TextHash.wordShingles. */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.wordShingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.wordShingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Fused one-pass character-n-gram profile of a string column:
  * struct(n_chars, n_grams, n_distinct) — see TextQuality.charStats.
  * One codegen call, zero per-gram allocation on ASCII, replacing the
  * transform/substr/array_distinct chain (one allocated string per gram). */
case class CharNgramStats(child: Expression, n: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_grams", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false)))
  override def prettyName: String = "graft_char_ngram_stats"

  override protected def nullSafeEval(input: Any): Any =
    TextQuality.charStats(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextQuality.charStats($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharNgramStats =
    copy(child = newChild)
}

/** Fused one-pass Gopher-rule statistics of a raw string column:
  * struct(n_words, sum_word_chars, n_alpha_words, n_stop_distinct, n_hash,
  * n_ellipsis, n_lines, n_bullet_lines, n_ellipsis_lines) — see
  * TextGopher.stats. One codegen call over the raw bytes instead of the
  * nine interpreted split/filter/regexp passes the Column formulation
  * would need; every count replicates in the DuckDB oracle with plain
  * string/list operations. */
case class GopherStats(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("sum_word_chars", IntegerType, nullable = false),
    StructField("n_alpha_words", IntegerType, nullable = false),
    StructField("n_stop_distinct", IntegerType, nullable = false),
    StructField("n_hash", IntegerType, nullable = false),
    StructField("n_ellipsis", IntegerType, nullable = false),
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_bullet_lines", IntegerType, nullable = false),
    StructField("n_ellipsis_lines", IntegerType, nullable = false)))
  override def prettyName: String = "graft_gopher_stats"

  override protected def nullSafeEval(input: Any): Any =
    TextGopher.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextGopher.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
}

/** Member-wise first-collision pair expansion for the banded dedup family
  * (MinHash band hashes / hyperplane LSH table buckets): members are
  * (id, keys) structs, `member` selects whose pairs this row emits, `band`
  * is the current band/table index. See PairOps.keyedMemberPairs. */
case class KeyedMemberPairs(
    first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      // the kernel reads keys with getLong — an array<int> key column
      // (e.g. hash() instead of xxhash64()) would pass a looser check and
      // then read 8 bytes across two 4-byte elements: garbage collisions
      case (ArrayType(StructType(Array(a, k)), _), IntegerType, IntegerType)
          if a.dataType == LongType &&
            (k.dataType match {
              case ArrayType(LongType, _) => true
              case _ => false
            }) =>
        TypeCheckResult.TypeCheckSuccess
      case (f, s, t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<struct<long,array<long>>>, int, int), " +
          s"got (${f.simpleString}, ${s.simpleString}, ${t.simpleString})")
    }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_keyed_member_pairs"

  override protected def nullSafeEval(ms: Any, member: Any, band: Any): Any =
    PairOps.keyedMemberPairs(
      ms.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      member.asInstanceOf[Int], band.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (ms, member, band) =>
      s"graft.functions.PairOps.keyedMemberPairs($ms, $member, $band)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): KeyedMemberPairs =
    copy(first = f, second = s, third = t)
}

/** Member-wise first-colliding-chunk (id_a, id_b, hamming) expansion for
  * SimHash pigeonhole banding: members are (id, sig) structs; chunk keys
  * are derived from the signatures in place. See PairOps.sigMemberPairs. */
case class SigMemberPairs(
    first: Expression, second: Expression, third: Expression, maxHamming: Int)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StructType(Array(a, b)), _), IntegerType, IntegerType)
          if a.dataType == LongType && b.dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case (f, s, t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<struct<long,long>>, int, int), " +
          s"got (${f.simpleString}, ${s.simpleString}, ${t.simpleString})")
    }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("hamming", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_sig_member_pairs"

  override protected def nullSafeEval(ms: Any, member: Any, chunk: Any): Any =
    PairOps.sigMemberPairs(
      ms.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      member.asInstanceOf[Int], chunk.asInstanceOf[Int], maxHamming)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (ms, member, chunk) =>
      s"graft.functions.PairOps.sigMemberPairs($ms, $member, $chunk, $maxHamming)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SigMemberPairs =
    copy(first = f, second = s, third = t)
}

/** Member-wise first-colliding-band pair expansion for the exact-jaccard
  * tier: members are (id, sz, bandHashes) structs; pairs are pruned by the
  * jaccard size law before emission. See PairOps.sizedMemberPairs. */
case class SizedMemberPairs(
    first: Expression, second: Expression, third: Expression, threshold: Double)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      // band-hash keys must be array<long> — the kernel reads getLong
      // (see KeyedMemberPairs)
      case (ArrayType(StructType(Array(a, b, c)), _), IntegerType, IntegerType)
          if a.dataType == LongType && b.dataType == IntegerType &&
            (c.dataType match {
              case ArrayType(LongType, _) => true
              case _ => false
            }) =>
        TypeCheckResult.TypeCheckSuccess
      case (f, s, t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<struct<long,int,array<long>>>, int, int), " +
          s"got (${f.simpleString}, ${s.simpleString}, ${t.simpleString})")
    }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_sized_member_pairs"

  override protected def nullSafeEval(ms: Any, member: Any, band: Any): Any =
    PairOps.sizedMemberPairs(
      ms.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      member.asInstanceOf[Int], band.asInstanceOf[Int], threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (ms, member, band) =>
      s"graft.functions.PairOps.sizedMemberPairs($ms, $member, $band, $threshold)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SizedMemberPairs =
    copy(first = f, second = s, third = t)
}

/** Bloom-filter membership probe of a 64-bit fingerprint column against a
  * CONSTANT bloom bitset ([[BloomOps]]) — the scan-local pre-filter of the
  * bloom-accelerated incremental dedup tier. The bitset is held as a plan
  * reference object (`ctx.addReferenceObj`), NOT a codegen literal: a
  * megabyte-scale array rides the serialized plan/broadcast exactly once
  * and never inflates the generated Java source. k probes per row, no
  * allocation. */
case class BloomMightContain(child: Expression, bloom: Array[Byte], k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.expect(prettyName, Seq(child.dataType), Seq(LongType))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  // case-class equality on Array[Byte] is REFERENCE equality, which would
  // defeat canonicalization/subexpression elimination for two probes of
  // equal bitsets (and break equals/hashCode symmetry after a plan
  // serialization round-trip) — compare the bytes by content
  override def equals(other: Any): Boolean = other match {
    case that: BloomMightContain =>
      child == that.child && k == that.k &&
        java.util.Arrays.equals(bloom, that.bloom)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(k), Int.box(java.util.Arrays.hashCode(bloom)))

  override protected def nullSafeEval(fp: Any): Any =
    BloomOps.mightContain(bloom, fp.asInstanceOf[Long], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBits", bloom, "byte[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.BloomOps.mightContain($ref, $c, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** A non-null primitive value (numeric, date, timestamp) that evaluates
  * as its [[Literal]] does but is not inlined into generated code: the
  * code reads it once from the plan's references into a primitive field,
  * so two plans that differ only in such values generate the same source
  * and share one compiled class. Not foldable, so neither a rule nor an
  * expression's code generation evaluates it into an inlined constant;
  * it renders as the literal, so explain text is unchanged.
  * [[graft.compile.FilterParams]] places it. */
case class Param(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Minimal input-type validation shared by the custom expressions (stand-in
  * for ExpectsInputTypes, whose AbstractDataType is private[sql]). Nullable
  * array element flags are ignored on purpose. */
object GraftExprChecks {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  /** A FOLDABLE array<array<float>> child (centroid matrix / PQ codebook)
    * evaluated once into a JVM matrix — shared by IvfCellAssign,
    * IvfCellsTopN, PqAssign and PqDecode so the conversion (and any guard
    * added to it) lives in one place. */
  def floatMatrixOf(e: Expression): Array[Array[Float]] = {
    val arr = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    Array.tabulate(arr.numElements())(i => arr.getArray(i).toFloatArray())
  }

  private def same(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(x, _), ArrayType(y, _)) => same(x, y)
    case _ => a == b
  }

  def expect(name: String, actual: Seq[DataType], wanted: Seq[DataType]): TypeCheckResult =
    if (actual.zip(wanted).forall { case (a, w) => same(a, w) }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (${wanted.map(_.simpleString).mkString(", ")}), " +
        s"got (${actual.map(_.simpleString).mkString(", ")})")
}
