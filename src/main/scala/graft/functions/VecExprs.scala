package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for float-vector math (SURVEY.md §2.11:
  * "promote hot ones to codegen'd Expressions").
  *
  * The higher-order-function forms (`aggregate(zip_with(...))`) are
  * interpreted per element — closure dispatch and boxed doubles on every
  * coordinate. These expressions generate a tight primitive Java loop
  * inside whole-stage codegen: one virtual call per ROW instead of ~4 per
  * COORDINATE. At 64-d × millions of pairs (medoids, ANN, LSH verify) that
  * is the hot path of the engine.
  *
  * Math is (double)float accumulation in index order — bit-identical to
  * the HOF forms and to the DuckDB oracle's CAST(v AS DOUBLE) sums.
  */
abstract class FloatVecBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  /** Element read as double, matching each side's array element type —
    * mixed float/double pairs (e.g. float vectors vs a double centroid)
    * stay in one codegen'd loop with no array-level cast.
    */
  protected final def elem(side: Expression, v: String, i: String): String =
    side.dataType match {
      case ArrayType(FloatType, _) => s"(double)$v.getFloat($i)"
      case _                       => s"$v.getDouble($i)"
    }
  protected final def elemEval(side: Expression, x: ArrayData, i: Int): Double =
    side.dataType match {
      case ArrayType(FloatType, _) => x.getFloat(i).toDouble
      case _                       => x.getDouble(i)
    }

  /** Java statements: given array vars `a`,`b` and length var `n`,
    * accumulate into double var `acc` at index `i`.
    */
  protected def combine(a: String, b: String, i: String): String
  protected def combineEval(x: ArrayData, y: ArrayData, i: Int): Double

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += combineEval(x, y, i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $acc += ${combine(a, b, i)};
        }
        ${ev.value} = $acc;
      """
    })
}

/** Σ aᵢ·bᵢ */
case class FloatVecDot(left: Expression, right: Expression) extends FloatVecBinary {
  override def prettyName: String = "vec_dot"
  protected def combine(a: String, b: String, i: String): String =
    s"${elem(left, a, i)} * ${elem(right, b, i)}"
  protected def combineEval(x: ArrayData, y: ArrayData, i: Int): Double =
    elemEval(left, x, i) * elemEval(right, y, i)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Σ (aᵢ−bᵢ)² */
case class FloatVecSqDist(left: Expression, right: Expression) extends FloatVecBinary {
  override def prettyName: String = "vec_sqdist"
  protected def combine(a: String, b: String, i: String): String =
    s"(${elem(left, a, i)} - ${elem(right, b, i)}) * (${elem(left, a, i)} - ${elem(right, b, i)})"
  protected def combineEval(x: ArrayData, y: ArrayData, i: Int): Double = {
    val d = elemEval(left, x, i) - elemEval(right, y, i)
    d * d
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecSqDist =
    copy(left = newLeft, right = newRight)
}

/** Hamming distance between two strings (byte-wise; our simhash signatures
  * are ASCII '0'/'1'): mismatched positions over the common prefix plus the
  * length difference. Codegen'd primitive loop — the verify stage of
  * banded simhash near-dup runs this over every candidate pair.
  */
case class StrHamming(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.IntegerType
  import org.apache.spark.unsafe.types.UTF8String
  override def prettyName: String = "str_hamming"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == org.apache.spark.sql.types.StringType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String]
    val y = b.asInstanceOf[UTF8String]
    val n = math.min(x.numBytes, y.numBytes)
    var acc = math.abs(x.numBytes - y.numBytes)
    var i = 0
    while (i < n) { if (x.getByte(i) != y.getByte(i)) acc += 1; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numBytes(), $b.numBytes());
        int $acc = java.lang.Math.abs($a.numBytes() - $b.numBytes());
        for (int $i = 0; $i < $n; $i++) {
          if ($a.getByte($i) != $b.getByte($i)) $acc++;
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StrHamming =
    copy(left = newLeft, right = newRight)
}

/** SimHash-64 of a token array as one scalar expression: per token an md5,
  * each of the 64 signature bits votes ±1 by the corresponding md5 bit,
  * sign of the vote sum sets the output bit ('0'/'1' chars, bit 0 first).
  *
  * Math is EXACTLY the relational formulation (explode tokens ×64 bits →
  * two shuffled aggregations) and the DuckDB oracle — but runs as a
  * per-row loop: ~|tokens| md5s per document instead of 64·|tokens| rows
  * through two exchanges. Interpreted eval (md5 via MessageDigest is not
  * worth a codegen template); the expression sits in a Project, so the
  * surrounding stage still whole-stage-codegens around it.
  */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def prettyName: String = "simhash64"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    var t = 0
    while (t < arr.numElements()) {
      if (!arr.isNullAt(t)) {
        md.reset()
        val digest = md.digest(arr.getUTF8String(t).getBytes)
        var bit = 0
        while (bit < 64) {
          // bit b of the hex string = bit (3 - b%4) of nibble b/4
          val nibble =
            if (bit % 8 < 4) (digest(bit / 8) >> 4) & 0xf
            else digest(bit / 8) & 0xf
          val bitval = (nibble >> (3 - bit % 4)) & 1
          votes(bit) += (if (bitval == 1) 1 else -1)
          bit += 1
        }
      }
      t += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < 64) { sb.append(if (votes(i) > 0) '1' else '0'); i += 1 }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

object VecExprs {
  def simhash64(toks: Column): Column =
    GraftSqlBridge.column(SimHash64(GraftSqlBridge.expression(toks)))

  def hamming(a: Column, b: Column): Column =
    GraftSqlBridge.column(StrHamming(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(FloatVecDot(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  def sqDist(a: Column, b: Column): Column =
    GraftSqlBridge.column(FloatVecSqDist(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  /** ‖a‖₂ */
  def norm(a: Column): Column = sqrt(dot(a, a))
  /** cos(a,b) = a·b / (‖a‖‖b‖) */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}

/** SQL surface: `spark.sql.extensions=graft.functions.GraftExtensions`
  * registers vec_dot / vec_sqdist for SQL users.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => FloatVecDot(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("vec_sqdist"),
      new ExpressionInfo(classOf[FloatVecSqDist].getName, "vec_sqdist"),
      (args: Seq[Expression]) => FloatVecSqDist(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("str_hamming"),
      new ExpressionInfo(classOf[StrHamming].getName, "str_hamming"),
      (args: Seq[Expression]) => StrHamming(args(0), args(1))))
  }
}
