package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding tier's hottest scalar:
  * the float-array dot product (SURVEY §2.10 tier (b): native
  * `Expression` > UDF — the same extension point as [[DbExpression]]).
  *
  * The composed-builtin form Similarity used previously —
  * `Σ element_at(a,i)·element_at(b,i)` unrolled over 64 dims — is ~192
  * expression nodes PER DOT PRODUCT and ~3 000 nodes per sign-LSH code
  * column; Catalyst analysis/optimization of those trees cost 1-2 s of
  * driver time per query (measured on s3; `graft.tools.Profile phases` splits it), dwarfing
  * execution at bench scale and re-paid by every executor's codegen.
  * This is ONE node emitting a tight fused loop.
  *
  * Determinism contract (the cross-engine hash gates depend on it): the
  * loop multiplies in ascending index order and folds the sum
  * left-associatively from +0.0 — the IDENTICAL IEEE-754 op sequence as
  * the unrolled chain and as DuckDB's `a[1]*b[1] + a[2]*b[2] + …`
  * oracle SQL. (`0.0 + x == x` bit-exactly for every double except
  * `-0.0`, which normalizes to `+0.0`; sign-of-zero is unobservable in
  * every consumer — comparison, division, ranking.) A NULL array yields
  * NULL (BinaryExpression's standard null intolerance), and a NULL
  * ELEMENT yields NULL too, matching the chain's null propagation; the
  * graft tables carry no null elements. Length mismatch yields NULL:
  * the DuckDB oracle's unrolled chain indexes a[1..64] where an
  * out-of-range element is NULL and poisons the whole sum, so a
  * truncated partial sum here would diverge SILENTLY on one engine —
  * NULL makes malformed (non-64-dim) data fail the hash gate loudly on
  * both. (All graft embeddings are fixed 64-dim, so this is a guard,
  * not a hot path.)
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with Serializable {

  // covariant override: AbstractDataType itself is private[sql]
  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

object DotProductExpr {
  val function: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      // arity-checked here so a wrong call fails as an analysis-time
      // error with a clear message, not an IndexOutOfBounds from the
      // builder (extra args must not be silently ignored either)
      require(children.length == 2,
        s"graft_dot requires exactly 2 arguments, got ${children.length}")
      DotProductExpr(children(0), children(1))
    })
}
