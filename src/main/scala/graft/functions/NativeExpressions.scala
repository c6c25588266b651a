package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** shared analysis-time guard: every (name, expr) must be a FOLDABLE
  * positive Int literal — misuse fails at analysis, not as an array-size
  * exception inside an executor task (round-3 advice). A foldable NULL
  * passes (null param -> null rows, the SQL convention). One definition
  * for the minhash/winnow parameter expressions instead of a copy each. */
private[functions] object PositiveLiteralGuard {
  def check(pretty: String, params: (String, Expression)*): TypeCheckResult =
    params.foldLeft(TypeCheckResult.TypeCheckSuccess: TypeCheckResult) {
      case (acc, (name, e)) =>
        if (acc.isFailure) acc
        else if (!e.foldable)
          TypeCheckResult.TypeCheckFailure(s"$pretty: $name must be a literal")
        else e.eval() match {
          case v: Int if v <= 0 =>
            TypeCheckResult.TypeCheckFailure(s"$pretty: $name must be positive, got $v")
          case _ => TypeCheckResult.TypeCheckSuccess
        }
    }

  /** variant that also RETURNS the literal's value, for checks that need
    * it downstream (codebook-shape validation). Unlike [[check]], a
    * foldable NULL fails here — a null geometry parameter cannot size
    * anything. One definition instead of the per-expression copies
    * PqEncodeExpr/PqAdcExpr used to carry. */
  def value(pretty: String, name: String, e: Expression): Either[TypeCheckResult, Int] =
    if (!e.foldable)
      Left(TypeCheckResult.TypeCheckFailure(s"$pretty: $name must be a literal"))
    else e.eval() match {
      case v: Int if v > 0 => Right(v)
      case v => Left(TypeCheckResult.TypeCheckFailure(
        s"$pretty: $name must be a positive literal, got $v"))
    }
}

/** shared codegen template for kernels that return a BOXED value (null =
  * SQL NULL): call into a fresh local, derive isNull, unbox with a
  * neutral default — one definition instead of a copy per expression */
private[functions] object NullableKernelGen {
  def gen(ctx: CodegenContext, ev: ExprCode,
      boxType: String, unbox: String, neutral: String, call: String): String = {
    val boxed = ctx.freshName("boxed")
    s"""
       |$boxType $boxed = $call;
       |${ev.isNull} = $boxed == null;
       |${ev.value} = ${ev.isNull} ? $neutral : $boxed.$unbox();
     """.stripMargin
  }
}

/** Native Catalyst expressions (SURVEY §4 custom work, items 1–2):
  * codegen'd SURT canonicalization and RFC 4648 base32 — both participate
  * in whole-stage codegen via a static kernel call, replacing the 8-deep
  * composed-builtin expression tree of [[Surt.surtKey]] on the hot path.
  */
case class SurtKeyExpr(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "surt_key_native"

  override def nullSafeEval(input: Any): Any =
    SurtAlg.surtKeyUTF8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resultCode = nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.SurtAlg.surtKeyUTF8($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
    resultCode
  }

  override protected def withNewChildInternal(newChild: Expression): SurtKeyExpr =
    copy(child = newChild)
}

/** binary -> base32 string (WARC-Payload-Digest dialect). */
case class Base32Expr(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "base32"

  override def nullSafeEval(input: Any): Any =
    SurtAlg.base32UTF8(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SurtAlg.base32UTF8($c)")

  override protected def withNewChildInternal(newChild: Expression): Base32Expr =
    copy(child = newChild)
}

/** array<string> tokens -> 64-bit SimHash sketch ([[SimHashAlg]] kernel;
  * agrees bit-for-bit with the composed `Dedup.simhash64` aggregation). */
case class SimHash64Expr(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHashAlg.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashAlg.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** (array<string> shingles, n) -> length-n minhash signature
  * ([[MinHashAlg]] kernel; bit-parity with the composed
  * min-per-seed-column aggregation in `graft.ops.Dedup`). */
case class MinHashSigExpr(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else PositiveLiteralGuard.check(prettyName, "n" -> right)
  }

  override def nullSafeEval(shingles: Any, n: Any): Any =
    MinHashAlg.signature(shingles.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, n) =>
      s"""
         |${ev.value} = graft.functions.MinHashAlg.signature($arr, $n);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSigExpr =
    copy(left = newLeft, right = newRight)
}

/** Fused tokenize+sketch: text -> SimHash, null when token-less. The
  * array-taking [[SimHash64Expr]] serves custom tokenizers; this form
  * keeps the default-tokenizer path free of CodegenFallback lambdas. */
case class SimHashTextExpr(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64_text"

  override def nullSafeEval(input: Any): Any =
    SimHashAlg.simhash64Text(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NullableKernelGen.gen(ctx, ev,
      "java.lang.Long", "longValue", "0L",
      s"graft.functions.SimHashAlg.simhash64Text($c)"))

  override protected def withNewChildInternal(newChild: Expression): SimHashTextExpr =
    copy(child = newChild)
}

/** Per-row character entropy (see [[EntropyAlg]]): one codegen'd pass,
  * replacing the explode→two-hash-aggs→join composed form. */
case class CharEntropyExpr(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any =
    EntropyAlg.charEntropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NullableKernelGen.gen(ctx, ev,
      "java.lang.Double", "doubleValue", "0.0",
      s"graft.functions.EntropyAlg.charEntropy($c)"))

  override protected def withNewChildInternal(newChild: Expression): CharEntropyExpr =
    copy(child = newChild)
}

/** Fused tokenize+shingle+sketch: (text, n, shingleSize) -> minhash
  * signature, null when the text has < shingleSize tokens. */
case class MinHashTextExpr(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig_text"

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else PositiveLiteralGuard.check(prettyName, "n" -> second, "shingleSize" -> third)
  }

  override def nullSafeEval(text: Any, n: Any, shingleSize: Any): Any =
    MinHashAlg.signatureText(
      text.asInstanceOf[UTF8String], n.asInstanceOf[Int], shingleSize.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n, k) =>
      s"""
         |${ev.value} = graft.functions.MinHashAlg.signatureText($t, $n, $k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): MinHashTextExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Fused tokenize+shingle-hash+window-min winnowing fingerprints:
  * (text, k, w) -> distinct array<long> fingerprints, null when the text
  * has < k tokens ([[WinnowAlg]] kernel; bit-parity with the composed
  * `Dedup.winnowFingerprintsComposed` HOF stack it replaces — the
  * round-7 1914 s bench line). */
case class WinnowTextExpr(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "winnow_fps_text"

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else PositiveLiteralGuard.check(prettyName, "k" -> second, "w" -> third)
  }

  override def nullSafeEval(text: Any, k: Any, w: Any): Any =
    WinnowAlg.fingerprints(
      text.asInstanceOf[UTF8String], k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k, w) =>
      s"""
         |${ev.value} = graft.functions.WinnowAlg.fingerprints($t, $k, $w);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): WinnowTextExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** (array<double>, array<double>) -> cosine similarity. Replaces the
  * CodegenFallback `aggregate(zip_with(...))` lambda stack on every
  * embedding hot path (round-3 sim_ann_* finding); value-parity with the
  * composed form is pinned in NativeExprSpec. */
case class CosineSimExpr(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null on length mismatch (HOF parity)
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecAlg.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => NullableKernelGen.gen(ctx, ev,
      "java.lang.Double", "doubleValue", "0.0",
      s"graft.functions.VecAlg.cosine($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** (array<double>, array<double>) -> dot product; the projection step of
  * every power-iteration / linear-scoring pass (Pca.topComponent ran this
  * as an interpreted aggregate(zip_with(...)) per row per iteration). */
case class VecDotExpr(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null on length mismatch (HOF parity)
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecAlg.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => NullableKernelGen.gen(ctx, ev,
      "java.lang.Double", "doubleValue", "0.0",
      s"graft.functions.VecAlg.dot($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
}

/** (array<double>, array<double>) -> Euclidean distance */
case class L2DistExpr(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null on length mismatch (HOF parity)
  override def prettyName: String = "l2_dist"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecAlg.l2Dist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => NullableKernelGen.gen(ctx, ev,
      "java.lang.Double", "doubleValue", "0.0",
      s"graft.functions.VecAlg.l2Dist($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2DistExpr =
    copy(left = newLeft, right = newRight)
}

/** (array<double> vector, array<array<double>> flat codebook, subDim,
  * nCent) -> array<int> PQ codes (argmin centroid per subspace; subDim ==
  * dim gives plain nearest-centroid assignment). The codebook rides in as
  * a literal — centroids are driver-side model artifacts, broadcast with
  * the plan — so encoding is ONE narrow codegen pass: no explode, no
  * centroid join, no argmin window (the round-3 pqTopK shape this
  * replaces). nCent makes the codebook's shape authoritative
  * ([[VecAlg.pqEncode]]); a FOLDABLE codebook (every call site) is
  * shape-validated here at analysis time, so a corrupt model artifact
  * fails the plan loudly instead of NULLing every row, and runtime NULLs
  * are strictly per-row damage. */
case class PqEncodeExpr(
    first: Expression, second: Expression, third: Expression, fourth: Expression)
  extends QuaternaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)), IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true // null for rows that don't tile the codebook
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) return base
    def positiveLit(name: String, e: Expression): Either[TypeCheckResult, Int] =
      PositiveLiteralGuard.value(prettyName, name, e)
    (positiveLit("subDim", third), positiveLit("nCent", fourth)) match {
      case (Left(f), _) => f
      case (_, Left(f)) => f
      case (Right(subDim), Right(nCent)) if second.foldable =>
        second.eval() match {
          case null => TypeCheckResult.TypeCheckSuccess // null book -> null rows
          case b: ArrayData =>
            val n = b.numElements()
            if (n == 0 || n % nCent != 0)
              TypeCheckResult.TypeCheckFailure(
                s"$prettyName: codebook holds $n subvectors, not a positive multiple of nCent=$nCent")
            else {
              var i = 0
              while (i < n) {
                val cent = b.getArray(i)
                if (cent == null || cent.numElements() != subDim)
                  return TypeCheckResult.TypeCheckFailure(
                    s"$prettyName: codebook entry $i is ${if (cent == null) "null"
                    else s"length ${cent.numElements()}"}, expected subDim=$subDim")
                i += 1
              }
              TypeCheckResult.TypeCheckSuccess
            }
          case _ => TypeCheckResult.TypeCheckSuccess
        }
      case _ => TypeCheckResult.TypeCheckSuccess
    }
  }

  override def nullSafeEval(ed: Any, book: Any, subDim: Any, nCent: Any): Any =
    VecAlg.pqEncode(
      ed.asInstanceOf[ArrayData], book.asInstanceOf[ArrayData],
      subDim.asInstanceOf[Int], nCent.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ed, book, sd, nc) =>
      s"""
         |${ev.value} = graft.functions.VecAlg.pqEncode($ed, $book, $sd, $nc);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): PqEncodeExpr =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** (array<double> query residual, array<int> codes, array<array<double>>
  * flat codebook, nCent) -> double ADC distance
  * ([[VecAlg.pqAdc]]): Σ per-subspace l2 between the residual's slice and
  * the centroid each code names. The BATCHED IVF-PQ probe's scoring
  * kernel — the single-query path precomputes a literal ADC table on the
  * driver (m lookups/row); a query BATCH would pay that driver loop per
  * query, so this kernel computes the same sum on the executors from
  * (residual, codes) directly. Same accumulation order as the table path
  * (SimilaritySpec pins batch == single bit-for-bit). A foldable codebook
  * is shape-validated at analysis time like [[PqEncodeExpr]]; runtime
  * NULLs are strictly per-row damage. */
case class PqAdcExpr(
    first: Expression, second: Expression, third: Expression, fourth: Expression)
  extends QuaternaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(IntegerType),
      ArrayType(ArrayType(DoubleType)), IntegerType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null on row-level damage
  override def prettyName: String = "pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) return base
    val nCent = PositiveLiteralGuard.value(prettyName, "nCent", fourth) match {
      case Left(f) => return f
      case Right(v) => v
    }
    if (!third.foldable) return TypeCheckResult.TypeCheckSuccess
    third.eval() match {
      case null => TypeCheckResult.TypeCheckSuccess // null book -> null rows
      case b: ArrayData =>
        val n = b.numElements()
        if (n == 0 || n % nCent != 0)
          return TypeCheckResult.TypeCheckFailure(
            s"$prettyName: codebook holds $n subvectors, not a positive multiple of nCent=$nCent")
        val subDim =
          if (b.isNullAt(0)) -1 else b.getArray(0).numElements()
        var i = 0
        while (i < n) {
          val cent = if (b.isNullAt(i)) null else b.getArray(i)
          if (cent == null || cent.numElements() != subDim)
            return TypeCheckResult.TypeCheckFailure(
              s"$prettyName: codebook entry $i is ${if (cent == null) "null"
              else s"length ${cent.numElements()}"}, expected uniform subDim=$subDim")
          i += 1
        }
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckSuccess
    }
  }

  override def nullSafeEval(res: Any, codes: Any, book: Any, nCent: Any): Any =
    VecAlg.pqAdc(
      res.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData],
      book.asInstanceOf[ArrayData], nCent.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (res, codes, book, nc) => NullableKernelGen.gen(ctx, ev,
      "java.lang.Double", "doubleValue", "0.0",
      s"graft.functions.VecAlg.pqAdc($res, $codes, $book, $nc)"))

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): PqAdcExpr =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** (array<double>, array<double>) -> elementwise difference (residual
  * vectors for IVF-PQ); NULL on length mismatch / null slots like the
  * other vector kernels */
case class VecSubExpr(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_sub"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecAlg.sub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.functions.VecAlg.sub($a, $b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSubExpr =
    copy(left = newLeft, right = newRight)
}

/** (array<double> vector, array<array<double>> hyperplanes) -> int
  * sign-bit bucket; value-parity with the composed transform/aggregate
  * form (NativeExprSpec + SimilaritySpec pin it). */
case class LshBucketExpr(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "lsh_bucket"

  override def nullSafeEval(ed: Any, planes: Any): Any =
    VecAlg.lshBucket(ed.asInstanceOf[ArrayData], planes.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (ed, planes) => s"graft.functions.VecAlg.lshBucket($ed, $planes)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshBucketExpr =
    copy(left = newLeft, right = newRight)
}

/** (string, binary serialized [[org.apache.spark.util.sketch.BloomFilter]])
  * -> might-contain boolean (kernel #14). Replaces the last corpus-sized
  * Scala UDF (the dedup_bloom_prefilter probe): a closure-based probe
  * boxes every row and breaks whole-stage codegen in its projection; this
  * stays inside codegen via a reference-object call.
  *
  * NULL text probes FALSE, not NULL — the prefilter contract is "could
  * this text be in the history", and a null text certainly is not; this
  * also matches the prior UDF's `t != null && mightContain` semantics so
  * the driver key's row set is unchanged.
  *
  * The filter rides the plan as a foldable binary literal and is
  * deserialized ONCE per task (lazy val, shared by interpreted eval and
  * the codegen reference object). Scale note: Spark broadcasts the task
  * binary (which embeds literals + codegen references) once per executor
  * via TorrentBroadcast, so a plan-embedded filter costs the same
  * per-executor bytes as an explicit `sparkContext.broadcast` — without
  * the driver-side handle plumbing. */
/** (string haystack, LITERAL array<string> terms) -> any term is a
  * byte-substring of the haystack — kernel #16, the blocklist term arm
  * at realistic list size. Replaces `exists(typedLit(terms),
  * contains(...))`, whose cost is |terms| naive scans per row (C4's
  * badwords list is ~400 entries), with ONE [[AhoCorasick]] automaton
  * pass per row — cost independent of term count, built once per plan
  * from the foldable term array. Byte-level matching == the
  * UTF8String.contains semantics of the HOF form (NativeExprSpec pins
  * parity on null-free lists); null ELEMENTS are SKIPPED — the HOF's
  * three-valued exists would yield NULL there, so callers must sanitize
  * nulls out of the list (Blocklist.gateWith does) — and an empty-string
  * term matches everything (the contains("") convention). */
case class MultiContainsExpr(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, ArrayType(StringType))
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "multi_contains"

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: terms must be a literal array (the automaton builds once per plan)")
    else if (right.eval() == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: terms must not be null")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val ac: AhoCorasick = {
    val arr = right.eval().asInstanceOf[ArrayData]
    val terms = (0 until arr.numElements()).flatMap(i =>
      Option(arr.getUTF8String(i)).map(_.getBytes))
    AhoCorasick.build(terms)
  }

  def matchesUTF8(s: UTF8String): Boolean = ac.matches(s)

  override def nullSafeEval(s: Any, t: Any): Any =
    matchesUTF8(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("multiContains", this, classOf[MultiContainsExpr].getName)
    nullSafeCodeGen(ctx, ev, (s, _) => s"${ev.value} = $ref.matchesUTF8($s);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MultiContainsExpr =
    copy(left = newLeft, right = newRight)
}

case class BloomMightContainExpr(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, BinaryType)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: filter must be a literal binary (a serialized BloomFilter)")
    else if (right.eval() == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: filter must not be null")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(right.eval().asInstanceOf[Array[Byte]]))

  // mightContainBinary on the UTF8String's bytes == mightContainString on
  // the JVM string (both hash the UTF-8 encoding) — no String allocation
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = left.eval(input)
    t != null && filter.mightContainBinary(t.asInstanceOf[UTF8String].getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val bf = ctx.addReferenceObj("bloomFilter", filter,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    val c = left.genCode(ctx)
    ev.copy(
      code = c.code + code"""
        |boolean ${ev.value} = false;
        |if (!${c.isNull}) {
        |  ${ev.value} = $bf.mightContainBinary(${c.value}.getBytes());
        |}
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContainExpr =
    copy(left = newLeft, right = newRight)
}

/** (array<string> words, binary serialized merge table) -> total BPE piece
  * count (kernel #15). Replaces the `Bpe.encode` per-row Scala UDF — the
  * last corpus-sized closure path — with a codegen reference-object call,
  * same motivation as [[BloomMightContainExpr]]: a closure boxes every
  * row's Seq[String] through the converter layer and breaks whole-stage
  * codegen in its projection.
  *
  * The merge table rides the plan as a foldable binary literal
  * ([[BpeAlg.serialize]]) and is parsed ONCE per task into a
  * [[BpeAlg.Coder]] whose per-thread memo collapses Zipf-repeated words
  * to a single segmentation each. NULL words-array -> NULL (the UDF's
  * null-in/null-out); null ELEMENTS count 0 defensively. */
case class BpePieceCountExpr(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType), BinaryType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bpe_piece_count"

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: merges must be a literal binary (BpeAlg.serialize output)")
    else if (right.eval() == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: merges must not be null")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val coder: BpeAlg.Coder =
    new BpeAlg.Coder(right.eval().asInstanceOf[Array[Byte]])

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) null else coder.pieceCountAll(a.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val cd = ctx.addReferenceObj("bpeCoder", coder, classOf[BpeAlg.Coder].getName)
    val c = left.genCode(ctx)
    ev.copy(code = c.code + code"""
      |boolean ${ev.isNull} = ${c.isNull};
      |int ${ev.value} = -1;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $cd.pieceCountAll(${c.value});
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpePieceCountExpr =
    copy(left = newLeft, right = newRight)
}

/** Registration — either per-session ([[GraftFunctions.register]]) or at
  * session build time via
  * `.withExtensions(new GraftExtensions)` / the
  * `spark.sql.extensions=graft.functions.GraftExtensions` conf. */
object GraftFunctions {
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "surt_key_native" -> ((exprs: Seq[Expression]) => SurtKeyExpr(exprs.head)),
    "base32" -> ((exprs: Seq[Expression]) => Base32Expr(exprs.head)),
    "simhash64" -> ((exprs: Seq[Expression]) => SimHash64Expr(exprs.head)),
    "minhash_sig" -> ((exprs: Seq[Expression]) => MinHashSigExpr(exprs(0), exprs(1))),
    "simhash64_text" -> ((exprs: Seq[Expression]) => SimHashTextExpr(exprs.head)),
    "minhash_sig_text" -> ((exprs: Seq[Expression]) => MinHashTextExpr(exprs(0), exprs(1), exprs(2))),
    "winnow_fps_text" -> ((exprs: Seq[Expression]) => WinnowTextExpr(exprs(0), exprs(1), exprs(2))),
    "cosine_sim" -> ((exprs: Seq[Expression]) => CosineSimExpr(exprs(0), exprs(1))),
    "vec_dot" -> ((exprs: Seq[Expression]) => VecDotExpr(exprs(0), exprs(1))),
    "l2_dist" -> ((exprs: Seq[Expression]) => L2DistExpr(exprs(0), exprs(1))),
    "pq_encode" -> ((exprs: Seq[Expression]) => PqEncodeExpr(exprs(0), exprs(1), exprs(2), exprs(3))),
    "pq_adc" -> ((exprs: Seq[Expression]) => PqAdcExpr(exprs(0), exprs(1), exprs(2), exprs(3))),
    "lsh_bucket" -> ((exprs: Seq[Expression]) => LshBucketExpr(exprs(0), exprs(1))),
    "vec_sub" -> ((exprs: Seq[Expression]) => VecSubExpr(exprs(0), exprs(1))),
    "char_entropy" -> ((exprs: Seq[Expression]) => CharEntropyExpr(exprs.head)),
    "bloom_might_contain" -> ((exprs: Seq[Expression]) => BloomMightContainExpr(exprs(0), exprs(1))),
    "multi_contains" -> ((exprs: Seq[Expression]) => MultiContainsExpr(exprs(0), exprs(1))),
    "bpe_piece_count" -> ((exprs: Seq[Expression]) => BpePieceCountExpr(exprs(0), exprs(1))),
    "heavy_hitters" -> ((exprs: Seq[Expression]) => MisraGriesAgg(exprs(0), exprs(1))))

  def register(spark: SparkSession): Unit = all.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.NativeExpressions", name),
        builder))
    }
    ext.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions =
        graft.sources.NameWarcScanRdds
    })
    ext.injectOptimizerRule(_ => graft.sources.FoldLocalRelation)
  }
}
