package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: Σ aᵢ·bᵢ over two `array<float>` columns,
  * accumulated left-to-right in double — exactly the semantics of the
  * `aggregate(zip_with(...))` HOF chain in [[graft.operators.VectorOps]],
  * but with `doGenCode` emitting a tight primitive loop (no per-element
  * lambda dispatch, no boxing), keeping the similarity hot path inside
  * whole-stage codegen. Escalation per SURVEY §4: built-ins first, custom
  * Expression only on measured need (the HOF chain dominated the
  * similarity bench).
  *
  * Null handling: a NULL array yields NULL (BinaryExpression default),
  * and so does a LENGTH MISMATCH — `zip_with` pads the short side with
  * null, which poisons the HOF chain's sum to NULL, so the documented
  * "exactly the semantics" claim has to hold on ragged input too (the
  * same ADVICE r9 #4 contract as [[DotProductIntExact]]). Elements are
  * assumed non-null (embedding vectors).
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_f"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      java.lang.Double.valueOf(s)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += (double)$a.getFloat($i) * (double)$b.getFloat($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  val dotFInfo = new ExpressionInfo(classOf[DotProductFloat].getName, "graft_dot_f")
  val dotIInfo = new ExpressionInfo(classOf[DotProductIntExact].getName, "graft_dot_i")
  val phraseInfo = new ExpressionInfo(classOf[PhraseCount].getName, "graft_phrase_count")
  val sketchInfo = new ExpressionInfo(classOf[ShingleSketch].getName, "graft_shingle_sketch")
  val setInfo = new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingle_set")
  val jwInfo = new ExpressionInfo(classOf[JaroWinklerSim].getName, "graft_jaro_winkler")

  /** Idempotent runtime registration for sessions built without
    * extensions (e.g. the driver's Verify/Bench sessions). A function
    * the session already has is left alone: every driver entry calls
    * this, and a replacement logs a WARN line per function. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def add(name: String, build: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    add("graft_dot_f", exprs => DotProductFloat(exprs(0), exprs(1)))
    add("graft_dot_i", exprs => DotProductIntExact(exprs(0), exprs(1)))
    add("graft_phrase_count", exprs => PhraseCount(exprs(0), exprs(1)))
    add("graft_shingle_sketch", exprs => ShingleSketch(exprs(0)))
    add("graft_shingle_set", exprs => ShingleSet(exprs(0)))
    add("graft_jaro_winkler", exprs => JaroWinklerSim(exprs(0), exprs(1)))
  }

  /** Column-level API (requires [[register]] or [[GraftExtensions]]). */
  def dotF(a: Column, b: Column): Column = call_function("graft_dot_f", a, b)
  def dotI(a: Column, b: Column): Column = call_function("graft_dot_i", a, b)
  def phraseCount(tokens: Column, phrase: Column): Column =
    call_function("graft_phrase_count", tokens, phrase)
  def shingleSketch(shingles: Column): Column =
    call_function("graft_shingle_sketch", shingles)
  def shingleSet(shingles: Column): Column =
    call_function("graft_shingle_set", shingles)
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("graft_jaro_winkler", a, b)
}

/** `SparkSession.builder.withExtensions(new GraftExtensions)` — the
  * library's extension hook; registers the native functions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_dot_f"),
      GraftFunctions.dotFInfo,
      (exprs: Seq[Expression]) => DotProductFloat(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_dot_i"),
      GraftFunctions.dotIInfo,
      (exprs: Seq[Expression]) => DotProductIntExact(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_phrase_count"),
      GraftFunctions.phraseInfo,
      (exprs: Seq[Expression]) => PhraseCount(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_shingle_sketch"),
      GraftFunctions.sketchInfo,
      (exprs: Seq[Expression]) => ShingleSketch(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("graft_shingle_set"),
      GraftFunctions.setInfo,
      (exprs: Seq[Expression]) => ShingleSet(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      GraftFunctions.jwInfo,
      (exprs: Seq[Expression]) => JaroWinklerSim(exprs(0), exprs(1))))
  }
}
