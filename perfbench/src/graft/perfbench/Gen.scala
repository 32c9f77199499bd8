package graft.perfbench

import java.util.SplittableRandom

/** One generated worksheet: the grid shape `GridIngest.cells` reads
  * (rows(0) is the header row). */
final case class Sheet(fileId: String, sheetId: Long, tab: String,
                       rows: Array[Array[String]])

/** One generated spreadsheet file (a Drive workbook). */
final case class Workbook(fileId: String, sheets: Seq[Sheet])

/** Seeded input generator: every input a workload feeds the program
  * comes from here, and the same seed gives the same inputs. It makes
  * `files` one-sheet workbooks of the shape [[Gen]]'s constants give. */
final class Gen(seed: Long, files: Int) {
  import Gen._
  private val rnd = new SplittableRandom(seed)

  /** Vocabulary of pronounceable pseudo-words, rank 0 most frequent. */
  val vocab: Array[String] = {
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < Vocab) {
      val syl = 1 + rnd.nextInt(3)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb.append(cons.charAt(rnd.nextInt(cons.length)))
          .append(vow.charAt(rnd.nextInt(vow.length)))
        if (rnd.nextInt(3) == 0) sb.append(cons.charAt(rnd.nextInt(cons.length)))
      }
      seen += sb.toString
    }
    seen.toArray
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(r => 1.0 / math.pow(r + 1, ZipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }

  private def zipfIndex(r: SplittableRandom, cdf: Array[Double]): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  def word(r: SplittableRandom): String = vocab(zipfIndex(r, zipfCdf))

  def words(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => word(r)).mkString(" ")

  /** One cell: ~22% empty (blank or whitespace), ~15% numeric, ~4%
    * long text over 1000 characters (several chunks), the rest short
    * Zipf text. */
  def cell(r: SplittableRandom): String = {
    val p = r.nextInt(100)
    if (p < 18) ""
    else if (p < 22) "  "
    else if (p < 37)
      if (r.nextBoolean()) r.nextInt(100000).toString
      else f"${r.nextDouble() * 10000}%.2f"
    else if (p < 41) words(r, 190 + r.nextInt(160))
    else words(r, 3 + r.nextInt(18))
  }

  private def fileId(i: Int, r: SplittableRandom): String = {
    val alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    "1" + (0 until 11).map(_ => alnum.charAt(r.nextInt(alnum.length))).mkString + f"$i%03d"
  }

  /** Column c gets text in the first few columns and only occasional
    * cells in the wide tail, so two-letter columns hold real data. */
  private def sheet(fid: String, r: SplittableRandom): Sheet = {
    val header = Array.tabulate(Cols)(c => s"col$c ${word(r)}")
    val data = Array.fill(RowsPerSheet) {
      Array.tabulate(Cols) { c =>
        if (c < 6 || r.nextInt(8) == 0) cell(r) else ""
      }
    }
    Sheet(fid, r.nextInt(1000).toLong, "Tab 0", header +: data)
  }

  val workbooks: IndexedSeq[Workbook] = (0 until files).map { i =>
    val r = rnd.split()
    val fid = fileId(i, r)
    Workbook(fid, Seq(sheet(fid, r)))
  }

  /** A revised version of `wb` (the webhook re-index after an edit):
    * about a third of the short text and numeric cells are rewritten
    * with a cell of the same kind. Blank and long cells keep their
    * value, so every cell still yields the same number of chunks. */
  def revise(wb: Workbook, r: SplittableRandom): Workbook =
    wb.copy(sheets = wb.sheets.map { sh =>
      sh.copy(rows = sh.rows.head +: sh.rows.tail.map(_.map { v =>
        if (v.trim.isEmpty || v.length >= 1000 || r.nextInt(3) != 0) v
        else if (v.forall(c => c.isDigit || c == '.')) r.nextInt(100000).toString
        else words(r, 3 + r.nextInt(18))
      }))
    })

  /** Query pool: Zipf word queries plus a share cut verbatim from
    * indexed chunk text. */
  def queries(n: Int, chunkTexts: IndexedSeq[String], verbatimShare: Double,
              r: SplittableRandom): IndexedSeq[String] =
    (0 until n).map { _ =>
      if (chunkTexts.nonEmpty && r.nextDouble() < verbatimShare) {
        val toks = chunkTexts(r.nextInt(chunkTexts.size)).split(" ").filter(_.nonEmpty)
        val len = math.min(toks.length, 3 + r.nextInt(6))
        val start = r.nextInt(toks.length - len + 1)
        toks.slice(start, start + len).mkString(" ")
      } else words(r, 2 + r.nextInt(4))
    }

  /** Zipf draw over `n` pool positions (popular queries repeat). */
  def poolSampler(n: Int, s: Double = 1.0): SplittableRandom => Int = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    r => zipfIndex(r, cdf)
  }

  def split(): SplittableRandom = rnd.split()
}

object Gen {
  /** Data rows per sheet, under a header row. */
  val RowsPerSheet = 6
  /** Columns per sheet: more than 26 puts cells in two-letter A1
    * columns (AA, AB). */
  val Cols = 28
  /** Pseudo-words in the vocabulary, and its Zipf exponent. */
  val Vocab = 3000
  val ZipfS = 1.07
}
