package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot path.
  *
  * The composable form (`zip_with` + `aggregate` higher-order functions)
  * allocates a lambda frame per element and does not participate in
  * whole-stage codegen. This expression generates a tight primitive loop
  * instead — same numeric semantics as the HOF pipelines it replaces:
  * for float/double elements, widen each element to double *before*
  * multiplying and accumulate strictly left-to-right from 0.0 (the
  * [[graft.operators.VectorOps]] contract); for long×long, multiply and
  * accumulate in long from 0L with Java wrap-around — so results (and
  * the DuckDB oracle hashes) are bit-identical in every case.
  *
  * Accepted element-type pairs: any mix of float/double → double;
  * long×long → long.
  *
  * Installed as SQL function `graft_dot` in every session by
  * [[GraftExtensions]].
  */
case class FloatDotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType | LongType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(LongType), Some(LongType)) => TypeCheckResult.TypeCheckSuccess
      case (Some(l), Some(r)) if l != LongType && r != LongType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_dot expects two arrays of float/double elements (any mix) " +
          s"or two arrays of long, got (${left.dataType}, ${right.dataType})")
    }

  private lazy val integral: Boolean =
    elemType(left).contains(LongType) && elemType(right).contains(LongType)
  // the interpreted path's element widths, resolved once, not per row
  private lazy val leftFloat: Boolean = elemType(left).contains(FloatType)
  private lazy val rightFloat: Boolean = elemType(right).contains(FloatType)

  private def load(arr: ArrayData, float: Boolean, i: Int): Double =
    if (float) arr.getFloat(i).toDouble else arr.getDouble(i)

  override def dataType: DataType = if (integral) LongType else DoubleType
  override def prettyName: String = "graft_dot"
  override def nullable: Boolean = true

  // mismatched lengths and null elements yield null — exactly what the HOF
  // pipeline produces (zip_with pads the shorter array with nulls; a null
  // term nulls the aggregate), so the bit-identical claim holds on ALL
  // inputs, not just well-formed ones
  private lazy val elementsNullable: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    if (integral) {
      var acc = 0L
      var i = 0
      while (i < n) {
        if (elementsNullable && (x.isNullAt(i) || y.isNullAt(i))) return null
        acc += x.getLong(i) * y.getLong(i)
        i += 1
      }
      acc
    } else {
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (elementsNullable && (x.isNullAt(i) || y.isNullAt(i))) return null
        acc += load(x, leftFloat, i) * load(y, rightFloat, i)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      // element null checks compile in only when the schema allows null
      // elements — parquet-typical array<float> (containsNull=false after
      // analysis) keeps the tight two-load loop
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      def load(arr: String, t: DataType): String = t match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case DoubleType => s"$arr.getDouble($i)"
        case LongType => s"$arr.getLong($i)"
      }
      val (accDecl, term) =
        if (integral)
          (s"long $acc = 0L;", s"$a.getLong($i) * $b.getLong($i)")
        else
          (s"double $acc = 0.0;",
            s"${load(a, elemType(left).get)} * ${load(b, elemType(right).get)}")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  $accDecl
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $term;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** graft's SQL functions, by name: the one list that both
    * [[GraftExtensions]] and [[register]] install.
    */
  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (exprs => FloatDotProduct(exprs.head, exprs(1))),
    "graft_minhash" -> (exprs => MinHashBands(exprs.head, 4)),
    "graft_shingles" -> (exprs => ShingleArray(exprs.head)),
    "graft_simhash" -> (exprs => SimHashBits(exprs.head)),
    "graft_zorder" -> { exprs =>
      require(exprs.length >= 3,
        s"graft_zorder(bits, dim1, dim2, ...) takes >= 3 arguments, got ${exprs.length}")
      val bits = exprs.head match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_zorder: bits must be an integer literal, got $other")
      }
      ZOrderLong(bits, exprs.tail)
    },
    "graft_min_k" -> { exprs =>
      // a named arity error instead of a raw IndexOutOfBounds from the
      // builder during analysis
      require(exprs.length == 2,
        s"graft_min_k(value, k) takes 2 arguments, got ${exprs.length}")
      BoundedMinK(exprs.head, exprs(1))
    })

  /** Idempotently register graft SQL functions on a session. Every
    * session already has them from its creation ([[GraftExtensions]]);
    * registering again replaces each with itself.
    */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
    }
}

/** Installs graft's SQL functions in every session Spark creates. Listed
  * in `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * which the session builder loads through `ServiceLoader`; sessions cloned
  * or forked from one (streaming micro-batches, `newSession`) share it.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, build) =>
      extensions.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name), build))
    }
}
