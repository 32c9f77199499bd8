package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{exprs, Embed}

/** Reference-faithful grid ingestion (SURVEY.md §3.2 buildIndex):
  * worksheet grids -> cells -> chunks with the reference's exact id
  * and link contract:
  *
  *   chunk id  = {file_id}_{sheet_id}_{colLetter}{sheetRow}_{chunkPos}
  *               (/root/reference/indexer.py:56)
  *   deep link = .../d/{file_id}/edit#gid={sheet_id}&range={col}{row}
  *               (/root/reference/app.py:63-69)
  *   sheet row = data row position + 2 (1-based sheet numbering plus
  *               header row — the *corrected* convention; the
  *               reference is off by one, indexer.py:54, SURVEY §0)
  *
  * Input grid: one DataFrame row per worksheet,
  * (file_id, sheet_id, tab_name, rows: Array[Array[String]]) with
  * rows(0) = header. The double posexplode is SURVEY §2.3 G1 — two
  * Generators, positions preserved, fused into one narrow codegen
  * stage with the non-empty filter (P1) and string handling (P2).
  */
object GridIngest {

  /** Grid -> one row per non-empty data cell with full provenance. */
  def cells(grid: DataFrame): DataFrame =
    grid
      .select(col("file_id"), col("sheet_id"), col("tab_name"),
        posexplode(col("rows")).as(Seq("row_pos", "row_values")))
      .filter(col("row_pos") >= 1) // drop header row
      .select(col("file_id"), col("sheet_id"), col("tab_name"),
        col("row_pos"),
        posexplode(col("row_values")).as(Seq("col_idx", "value")))
      .filter(col("value").isNotNull && length(trim(col("value"))) > 0)
      .withColumn("col_letter", exprs.a1Col(col("col_idx")))
      // row_pos is 1-based over data rows already (header was pos 0);
      // +1 converts to 1-based sheet numbering including the header
      .withColumn("sheet_row", (col("row_pos") + 1).cast(LongType))

  /** Cells -> chunked, embedded index rows with reference-contract
    * ids and deep links. */
  def chunks(cellsDf: DataFrame,
             chunkSize: Int = 1000, overlap: Int = 200,
             dim: Int = Embed.DefaultDim): DataFrame =
    cellsDf
      .select(col("file_id"), col("sheet_id"), col("tab_name"),
        col("col_letter"), col("sheet_row"),
        exprs.chunkText(col("value"), chunkSize, overlap).as(Seq("pos", "chunk")))
      .withColumn("chunk_id",
        concat_ws("_", col("file_id"), col("sheet_id"),
          concat(col("col_letter"), col("sheet_row")), col("pos")))
      .withColumn("link",
        format_string("https://docs.google.com/spreadsheets/d/%s/edit#gid=%s&range=%s%d",
          col("file_id"), col("sheet_id").cast(StringType),
          col("col_letter"), col("sheet_row")))
      .withColumn("embedding", Embed.embedCol(col("chunk"), dim))
}
