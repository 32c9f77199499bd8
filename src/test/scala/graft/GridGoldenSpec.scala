package graft

import graft.operators.GridIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden pipeline test on the reference-shaped micro-fixture
  * (FIXTURES.md "Reference-shaped micro-fixtures"): one spreadsheet,
  * two sheets, header row + 3 data rows, empty cells, a >1000-char
  * cell (multi-chunk), non-string-ish numerics, and a column index
  * >= 26 (two-letter A1). Expected ids follow
  * {file_id}_{sheet_id}_{colLetter}{sheetRow}_{chunkPos}
  * (/root/reference/indexer.py:56).
  */
class GridGoldenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def grid = {
    import spark.implicits._
    val longCell = ("lorem ipsum dolor sit amet " * 45).trim // ~1200 chars
    val wideRow = Array.fill(27)("").updated(0, "first").updated(26, "wide")
    Seq(
      ("file1", 0L, "Sheet1", Array(
        Array("Name", "Qty", "Note"),        // header
        Array("alpha", "42", ""),            // row 2
        Array("", "7", longCell),            // row 3 (empty + long cell)
        Array("gamma", "", "note3"))),       // row 4
      ("file1", 123L, "Sheet2", Array(
        (0 until 27).map(i => s"H$i").toArray, // header
        wideRow)))                             // row 2, col AA occupied
      .toDF("file_id", "sheet_id", "tab_name", "rows")
  }

  test("cells: provenance, A1 letters, header skip, empty-cell filter") {
    val cells = GridIngest.cells(grid)
    val got = cells.select("file_id", "sheet_id", "col_letter", "sheet_row", "value")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getString(2), r.getLong(3), r.getString(4))).toSet
    // header row never appears
    assert(!got.exists(_._5 == "Name"))
    // empty cells are dropped
    assert(!got.exists(_._5 == ""))
    // regular cell: sheet 0, data row 1 => sheet_row 2
    assert(got.contains(("file1", 0L, "A", 2L, "alpha")))
    assert(got.contains(("file1", 0L, "B", 3L, "7")))
    // two-letter column: index 26 => AA on sheet 123 row 2
    assert(got.contains(("file1", 123L, "AA", 2L, "wide")))
  }

  test("chunks: reference id contract incl. multi-chunk cells and links") {
    val idx = GridIngest.chunks(GridIngest.cells(grid))
    val ids = idx.select("chunk_id").collect().map(_.getString(0)).toSet
    assert(ids.contains("file1_0_A2_0"))   // alpha
    assert(ids.contains("file1_123_AA2_0")) // wide col
    // the >1000-char cell at C3 must produce at least chunks _0 and _1
    assert(ids.contains("file1_0_C3_0") && ids.contains("file1_0_C3_1"))
    // ids are unique
    assert(ids.size == idx.count())
    // link contract (app.py:63-69 shape)
    val link = idx.filter(col("chunk_id") === "file1_123_AA2_0")
      .select("link").head.getString(0)
    assert(link == "https://docs.google.com/spreadsheets/d/file1/edit#gid=123&range=AA2")
    // embeddings are unit-norm
    val emb = idx.select("embedding").head.getSeq[Float](0)
    val norm = math.sqrt(emb.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }
}
