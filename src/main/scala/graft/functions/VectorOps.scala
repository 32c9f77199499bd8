package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** Vector distance/similarity over ArrayType(FloatType) embedding
  * columns (SURVEY.md §2.5 V3). Backed by the codegen'd VecKernels
  * expressions (tight loops over unsafe array data); arithmetic is
  * element-wise double with a left-to-right fold, so results are
  * deterministic and bit-identical to both the declarative
  * `zip_with`+`aggregate` formulation and the DuckDB oracle mirrors.
  */
object VectorOps {

  def vecDot(a: Column, b: Column): Column =
    shims.toColumn(VecDot(shims.toExpression(a), shims.toExpression(b)))

  def vecNormSq(a: Column): Column =
    shims.toColumn(VecNormSq(shims.toExpression(a)))

  def vecNorm(a: Column): Column = sqrt(vecNormSq(a))

  def vecL2Sq(a: Column, b: Column): Column =
    shims.toColumn(VecL2Sq(shims.toExpression(a), shims.toExpression(b)))

  def vecL2(a: Column, b: Column): Column = sqrt(vecL2Sq(a, b))

  /** Cosine similarity; 0.0 (distance 1.0) when either vector has
    * zero norm — the hnswlib convention ([[HnswGraph]] uses it too).
    * A zero norm makes the dot exactly 0, so flooring the norm product
    * at the smallest positive double yields 0 without a division by
    * zero (which ANSI mode raises), and leaves every non-zero pair's
    * quotient bit-identical: two non-zero float vectors' norm product
    * is at least ~2e-90. */
  def vecCosine(a: Column, b: Column): Column = cosine(a, b, vecNorm(b))

  private def cosine(a: Column, b: Column, bNorm: Column): Column =
    vecDot(a, b) / greatest(vecNorm(a) * bNorm, lit(Double.MinPositiveValue))

  /** Dot product against a plan-time constant query vector. */
  def vecDotConst(a: Column, q: Array[Float]): Column =
    vecDot(a, lit(q))

  def vecL2Const(a: Column, q: Array[Float]): Column =
    vecL2(a, lit(q))

  /** [[vecCosine]] against a constant query: the query's norm is
    * computed once on the driver with the kernel and sqrt the optimizer
    * would fold `vecNorm(lit(q))` with (so every double is
    * bit-identical) and reaches generated code by reference
    * ([[QueryConst]]), so each new query vector reuses the compiled
    * classes of its plan shape. */
  def vecCosineConst(a: Column, q: Array[Float]): Column =
    cosine(a, lit(q), exprs.queryConst(math.sqrt(VecKernels.normSq(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(q)))))

  /** The three chromadb collection spaces (`hnsw:space` metadata
    * values; chromadb 0.4.x hnswlib config). */
  val Spaces: Set[String] = Set("cosine", "l2", "ip")

  /** Similarity of `a` to the constant query `q` in a collection
    * `space`, oriented so DESCENDING order = nearest-first on every
    * space (the orientation [[graft.sources.IndexStore]]'s rank
    * windows already use): cosine -> cosine similarity, ip -> dot
    * product, l2 -> negated squared L2. Monotone-equivalent to the
    * chroma distance convention (l2 = squared L2, ip = 1 - dot,
    * cosine = 1 - cos), which [[spaceDist]] exposes directly. */
  def spaceSim(space: String, a: Column, q: Array[Float]): Column = space match {
    case "cosine" => vecCosineConst(a, q)
    case "ip"     => vecDotConst(a, q)
    case "l2"     => -vecL2Sq(a, lit(q))
    case other => throw new IllegalArgumentException(
      s"unknown space '$other' (expected one of ${Spaces.mkString(", ")})")
  }

  /** [[spaceSim]] between two vector Columns (the batch-search form,
    * where the query vector arrives as a fanned-out column rather
    * than a plan-time constant). */
  def spaceSim2(space: String, a: Column, b: Column): Column = space match {
    case "cosine" => vecCosine(a, b)
    case "ip"     => vecDot(a, b)
    case "l2"     => -vecL2Sq(a, b)
    case other => throw new IllegalArgumentException(
      s"unknown space '$other' (expected one of ${Spaces.mkString(", ")})")
  }

  /** chroma-convention distance between two vector Columns in
    * `space` — ASCENDING order = nearest-first. Element arithmetic
    * is double with a left-to-right fold on both the kernel and the
    * declarative path, so values mirror the DuckDB oracle exactly. */
  def spaceDist(space: String, a: Column, b: Column): Column = space match {
    case "cosine" => lit(1.0) - vecCosine(a, b)
    case "ip"     => lit(1.0) - vecDot(a, b)
    case "l2"     => vecL2Sq(a, b)
    case other => throw new IllegalArgumentException(
      s"unknown space '$other' (expected one of ${Spaces.mkString(", ")})")
  }

  /** [[spaceDist]] over ArrayType(DoubleType) columns: the same
    * formulas as declarative higher-order folds (zip_with product /
    * difference-square, left-to-right aggregate into a double
    * accumulator) — bit-identical to the float-kernel path's
    * arithmetic and to `list_sum(list_transform(...))` in DuckDB.
    * The float kernels reject ARRAY<DOUBLE> input by type check;
    * this is the general-element-type seam for corpora that carry
    * double embeddings (e.g. derived/rescaled vectors). */
  def spaceDistD(space: String, a: Column, b: Column): Column = {
    def fold(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, x) => acc + x)
    def dotD = fold(zip_with(a, b, (x, y) => x * y))
    def l2SqD = fold(zip_with(a, b, (x, y) => (x - y) * (x - y)))
    def normSqD(v: Column) = fold(zip_with(v, v, (x, y) => x * y))
    space match {
      case "cosine" => lit(1.0) -
        dotD / greatest(sqrt(normSqD(a)) * sqrt(normSqD(b)), lit(Double.MinPositiveValue))
      case "ip"     => lit(1.0) - dotD
      case "l2"     => l2SqD
      case other => throw new IllegalArgumentException(
        s"unknown space '$other' (expected one of ${Spaces.mkString(", ")})")
    }
  }
}
