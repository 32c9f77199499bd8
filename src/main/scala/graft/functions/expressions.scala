package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the operators Spark lacks
  * (SURVEY.md §2.10). Exposed as Columns through `shims.toColumn`
  * and registered for SQL by `Registry.ensure`.
  */

/** A1 column-letter codec (bijective base-26): 0->A, 25->Z, 26->AA,
  * 701->ZZ, 702->AAA. Full-range — the reference's two-letter
  * implementation breaks at index 702 (/root/reference/indexer.py:42,
  * a documented defect we fix).
  */
object A1 {
  def colLetter(i: Int): String = {
    require(i >= 0, s"column index must be >= 0, got $i")
    val sb = new java.lang.StringBuilder(4)
    var n = i
    while (n >= 0) {
      sb.append(('A' + n % 26).toChar)
      n = n / 26 - 1
    }
    sb.reverse.toString
  }

  def toIndex(s: String): Int = {
    require(s != null && s.nonEmpty && s.forall(c => c >= 'A' && c <= 'Z'),
      s"not an A1 column: '$s'")
    var acc = 0
    var k = 0
    while (k < s.length) { acc = acc * 26 + (s.charAt(k) - 'A' + 1); k += 1 }
    acc - 1
  }
}

/** a1_col(idx): Int => String, whole-stage-codegen'd via the static
  * forwarder on graft.functions.A1. */
case class A1Col(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    if (child.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"a1_col needs INT, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(A1.colLetter(v.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.functions.A1.colLetter($c))")
  override protected def withNewChildInternal(c: Expression): A1Col = copy(c)
}

/** a1_index(letters): String => Int, inverse of a1_col. */
case class A1Index(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"a1_index needs STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    A1.toIndex(v.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.A1.toIndex($c.toString())")
  override protected def withNewChildInternal(c: Expression): A1Index = copy(c)
}

/** chunk_text(text, size, overlap): the project's one true UDTF
  * (SURVEY.md §2.3 G2) — emits (pos INT, chunk STRING) rows per input
  * text via Chunker.split. A Generator composes with the rest of the
  * plan as a narrow op (no shuffle); Catalyst prunes `chunk` if only
  * `pos` is consumed.
  *
  * Implements CollectionGenerator with a doGenCode that calls the
  * static [[ChunkText.chunkRows]] kernel, so GenerateExec keeps the
  * chunk pipeline inside whole-stage codegen (the previous
  * CodegenFallback broke the scan->chunk->embed stage in two).
  */
case class ChunkText(text: Expression, size: Expression, overlap: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.CollectionGenerator {

  override def children: Seq[Expression] = Seq(text, size, overlap)

  override def inline: Boolean = true
  override def position: Boolean = false
  override def collectionType: DataType =
    ArrayType(elementSchema, containsNull = false)

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("chunk", StringType, nullable = false)))

  override def checkInputDataTypes() =
    if (text.dataType == StringType && size.foldable && overlap.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "chunk_text(text STRING, size INT literal, overlap INT literal)")

  private lazy val sizeV = size.eval().asInstanceOf[Int]
  private lazy val overlapV = overlap.eval().asInstanceOf[Int]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    if (t == null) Nil
    else {
      val chunks = Chunker.split(t.toString, sizeV, overlapV)
      var i = -1
      chunks.map { c => i += 1; InternalRow(i, UTF8String.fromString(c)) }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tGen = text.genCode(ctx)
    val cls = ChunkText.getClass.getName.stripSuffix("$")
    ev.copy(code = code"""
      ${tGen.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $cls.chunkRows(${tGen.isNull} ? null : ${tGen.value}, $sizeV, $overlapV);
      boolean ${ev.isNull} = false;""")
  }

  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): ChunkText =
    copy(text = cs(0), size = cs(1), overlap = cs(2))
}

object ChunkText {
  /** Static kernel for the generated code path: chunks -> ArrayData of
    * (pos, chunk) InternalRows (empty array for null/empty text —
    * same no-row semantics as the interpreted eval). */
  def chunkRows(t: UTF8String, size: Int, overlap: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    if (t == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val chunks = Chunker.split(t.toString, size, overlap)
    val rows = new Array[Any](chunks.length)
    var i = 0
    while (i < chunks.length) {
      rows(i) = InternalRow(i, UTF8String.fromString(chunks(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}

/** embed_text(text): deterministic hashed-n-gram embedding as a
  * native expression — one static call in generated code straight to
  * the Embed kernel, instead of a ScalaUDF's encoder round trip
  * (SURVEY.md §2.5 V1; the hot scalar of every index build).
  *
  * `expectedBackend` defaults to the DRIVER-resolved backend class at
  * plan construction and ships with the serialized expression; the
  * executor-side kernel asserts its own resolution matches
  * ([[Embed.assertBackend]]) so a `graft.embed.backend` property set
  * on only one side fails fast instead of silently mixing embedding
  * spaces.
  */
case class EmbedText(child: Expression, dim: Int,
                     expectedBackend: String = Embed.backend.getClass.getName)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"embed_text needs STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    Embed.embedArrayChecked(v.asInstanceOf[UTF8String], dim, expectedBackend)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // a JVM class name is a safe Java string literal (letters, digits,
    // '.', '$')
    defineCodeGen(ctx, ev, c =>
      s"""graft.functions.Embed.embedArrayChecked($c, $dim, "$expectedBackend")""")
  override protected def withNewChildInternal(c: Expression): EmbedText = copy(c)
}

/** A driver-computed per-query double (a query vector's norm, its SQ8
  * factor) that reaches generated code by reference
  * (`ctx.addReferenceObj`) instead of as an inlined Java literal. It is
  * not foldable, so the optimizer cannot turn it back into a literal:
  * two searches of one plan shape generate the same source and share
  * its compiled classes, since Spark's codegen cache is keyed by the
  * source text. The value is whatever the caller computed, bit for bit. */
case class QueryConst(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("queryConst", value, "java.lang.Double")
    ev.copy(code = code"final double ${ev.value} = $ref.doubleValue();",
      isNull = FalseLiteral)
  }
}

/** Optimizer rule: cancel A1 codec roundtrips —
  * a1_index(a1_col(x)) => x and a1_col(a1_index(s)) => s. Arises when
  * provenance written with letters is re-parsed for range predicates
  * (S5-S8 over q40-shaped tables); the rewrite keeps point/range
  * reads sargable instead of evaluating the codec per row.
  * Injected by GraftExtensions (injectOptimizerRule).
  */
object SimplifyA1Roundtrips
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.transformAllExpressions {
      case A1Index(A1Col(x)) => x
      case A1Col(A1Index(s)) => s
    }
}

/** Column-side builders. */
object exprs {
  import org.apache.spark.sql.functions.lit

  def a1Col(c: Column): Column = shims.toColumn(A1Col(shims.toExpression(c)))
  def a1Index(c: Column): Column = shims.toColumn(A1Index(shims.toExpression(c)))
  def queryConst(v: Double): Column = shims.toColumn(QueryConst(v))
  def chunkText(c: Column, size: Int = Chunker.DefaultSize,
                overlap: Int = Chunker.DefaultOverlap): Column =
    shims.toColumn(ChunkText(shims.toExpression(c),
      shims.toExpression(lit(size)), shims.toExpression(lit(overlap))))
}
