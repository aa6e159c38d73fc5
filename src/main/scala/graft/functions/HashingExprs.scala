package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the blocking hot path. Both are
  * codegen'd (the generated code calls the static kernels in
  * [[HashingKernels]] — same pattern as Spark's own hash expressions), so
  * the LSH stage stays inside whole-stage codegen with zero boxed
  * allocation per row.
  */
/** Shared input contract for the shingle-family expressions: STRING tokens
  * (hash the bytes) or PRE-HASHED 64-bit tokens (chain `hashLong` — the
  * bandwidth-light path where docs materialize token hashes once).
  */
private[functions] trait TokenArrayInput extends UnaryExpression {
  protected def opName: String
  override final def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) | ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$opName requires array<string> or array<bigint>, got $other")
  }
  protected final def preHashed: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == LongType
}

case class MinHashBandKeysExpr(child: Expression, shingleK: Int, numHashes: Int,
                               bands: Int) extends UnaryExpression with TokenArrayInput {
  require(numHashes % bands == 0, s"numHashes $numHashes not divisible by bands $bands")

  override protected def opName: String = "minhash_band_keys"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_band_keys"

  override protected def nullSafeEval(input: Any): Any =
    if (preHashed)
      HashingKernels.minhashBandKeysFromHashes(input.asInstanceOf[ArrayData], shingleK, numHashes, bands)
    else
      HashingKernels.minhashBandKeys(input.asInstanceOf[ArrayData], shingleK, numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (preHashed) "minhashBandKeysFromHashes" else "minhashBandKeys"
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashingKernels.$fn($c, $shingleK, $numHashes, $bands)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class PairCombosExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pair_combos requires array<bigint>, got $other")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("conv_a", LongType, nullable = false),
      StructField("conv_b", LongType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pair_combos"

  override protected def nullSafeEval(input: Any): Any =
    HashingKernels.pairCombosLong(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashingKernels.pairCombosLong($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class NgramsUpToExpr(child: Expression, maxN: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngrams_up_to requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ngrams_up_to"

  override protected def nullSafeEval(input: Any): Any =
    HashingKernels.ngramsUpTo(input.asInstanceOf[ArrayData], maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashingKernels.ngramsUpTo($c, $maxN)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class WordShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle size k=$k must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    HashingKernels.wordShingles(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashingKernels.wordShingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ShingleHashesExpr(child: Expression, k: Int, seed: Long,
                             distinct: Boolean) extends UnaryExpression with TokenArrayInput {
  require(k >= 1, s"shingle size k=$k must be >= 1")

  override protected def opName: String = "shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    if (preHashed)
      HashingKernels.shingleHashesFromHashes(input.asInstanceOf[ArrayData], k, seed, distinct)
    else
      HashingKernels.shingleHashes(input.asInstanceOf[ArrayData], k, seed, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (preHashed) "shingleHashesFromHashes" else "shingleHashes"
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashingKernels.$fn($c, $k, ${seed}L, $distinct)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowed shingle fingerprints (Schleimer et al. SIGMOD'03; see
  * [[HashingKernels.winnowedShingleHashes]]): the exact-shingle blocking
  * key generator at a ~w× lower key rate with a length-(w+k−1) shared-run
  * recall guarantee.
  */
case class WinnowedShingleHashesExpr(child: Expression, k: Int, w: Int,
                                     seed: Long) extends UnaryExpression with TokenArrayInput {
  require(k >= 1 && w >= 1, s"shingle k=$k and window w=$w must be >= 1")

  override protected def opName: String = "winnowed_shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnowed_shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    if (preHashed)
      HashingKernels.winnowedShingleHashesFromHashes(input.asInstanceOf[ArrayData], k, w, seed)
    else
      HashingKernels.winnowedShingleHashes(input.asInstanceOf[ArrayData], k, w, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (preHashed) "winnowedShingleHashesFromHashes" else "winnowedShingleHashes"
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashingKernels.$fn($c, $k, $w, ${seed}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got $other")
  }

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    HashingKernels.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashingKernels.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
