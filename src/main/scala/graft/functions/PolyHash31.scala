package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine-portable 31-bit polynomial
  * rolling hash (see Dedup.polyHash31 — the plain-Scala reference the
  * tests compare against): `h₀=7, h←(h·131+c) mod 2³¹−1` over the
  * string's chars.
  *
  * Why an Expression and not a UDF: `doGenCode` emits a direct static
  * call inside the generated code, so the surrounding operator stays in
  * whole-stage codegen with no ScalaUDF boundary — no encoder
  * round-trip, no closure dispatch, null handling fused into the
  * generated null-check. This is the (b)-tier of the build brief's
  * extension preference order, demonstrated on the hash that the whole
  * MinHash/SimHash pipeline leans on.
  */
case class PolyHash31(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly_hash31 requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "poly_hash31"

  override protected def nullSafeEval(input: Any): Any =
    PolyHash31.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash31.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash31 =
    copy(child = newChild)
}

object PolyHash31 {
  /** THE engine-defining hash modulus (2^31 − 1): hash values lie in
    * [0, Mod). Every consumer (Sampling's range slices, Dedup's
    * permutation family, the DuckDB oracle SQL) must reference this
    * definition — the cross-engine contract breaks if any copy
    * drifts. */
  val Mod: Long = 2147483647L

  /** Column form for Scala callers (no session registry needed): the
    * hash of a string column, null for null. */
  def column(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      PolyHash31(org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Static hot path shared by interpreted eval and generated code.
    * Iterates UTF-16 code units via String — identical to polyHash31 and
    * the DuckDB `list_reduce` on the ASCII corpus. */
  def hash(u: UTF8String): Long = {
    val s = u.toString
    var a = 7L
    var i = 0
    while (i < s.length) { a = (a * 131 + s.charAt(i)) % Mod; i += 1 }
    a
  }

  /** Injection for `SparkSessionExtensions` (config
    * `spark.sql.extensions=graft.functions.GraftExtensions`), exposing
    * the expression to SQL as `poly_hash31(str)`. */
  val functionDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("poly_hash31"),
    new ExpressionInfo(classOf[PolyHash31].getName, "poly_hash31"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        s"poly_hash31 takes exactly 1 argument, got ${children.size}")
      PolyHash31(children.head)
    })
}

/** Session extension wiring (build brief: custom expressions register
  * via SparkSessionExtensions). Activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(PolyHash31.functionDescriptor)
    ext.injectFunction(ArrayDot.functionDescriptor)
    ext.injectFunction(MisraGries.functionDescriptor)
  }
}
