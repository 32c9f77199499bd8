package graft.perfbench

import graft.functions.{Chunker, Embed}
import graft.sources.IndexStore

/** One indexed chunk as the benchmark expects the layouts to hold it. */
final case class ModelChunk(id: String, source: String, docId: Long,
                            text: String, vec: Array[Float])

/** The benchmark's own picture of the corpus, kept in plain JVM
  * collections: which chunk ids every layout must hold, with their
  * text and vectors, and the brute-force top-k every search is judged
  * against. It never calls a Spark verb. */
final class Model(dim: Int) {
  private val chunks = scala.collection.mutable.LinkedHashMap.empty[String, ModelChunk]
  private val bySource = scala.collection.mutable.HashMap.empty[String, Set[String]]
  private val fileBytes = scala.collection.mutable.HashMap.empty[String, Long]

  /** Raw cell-text bytes (UTF-8) of every file currently indexed. */
  def rawBytes: Long = fileBytes.values.sum
  def bytesOf(fileId: String): Long = fileBytes.getOrElse(fileId, 0L)

  def size: Int = chunks.size
  def get(id: String): Option[ModelChunk] = chunks.get(id)
  def all: Iterable[ModelChunk] = chunks.values
  def idsOf(source: String): Set[String] = bySource.getOrElse(source, Set.empty)

  /** Replace every chunk of `wb`'s file with the chunks of its current
    * cells; returns (ids removed, chunks added). */
  def putFile(wb: Workbook): (Set[String], Seq[ModelChunk]) = {
    val old = dropFile(wb.fileId)
    val docs = Model.docs(wb)
    fileBytes(wb.fileId) = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
    val added = docs.flatMap { case (docId, text, src) =>
      Chunker.split(text, IndexStore.ChunkSize, IndexStore.ChunkOverlap)
        .zipWithIndex.map { case (c, pos) =>
          ModelChunk(s"${src}_${docId}_$pos", src, docId, c, Embed.embed(c, dim))
        }
    }
    added.foreach(c => chunks.put(c.id, c))
    bySource.put(wb.fileId, added.map(_.id).toSet)
    (old, added)
  }

  def dropFile(fileId: String): Set[String] = {
    val old = idsOf(fileId)
    old.foreach(chunks.remove)
    bySource.remove(fileId)
    fileBytes.remove(fileId)
    old
  }

  /** Brute-force cosine top-k in plain JVM code: (id, sim) best first,
    * ties broken by id as the layouts break them. */
  def topK(q: Array[Float], k: Int): IndexedSeq[(String, Double)] = {
    val heap = new java.util.PriorityQueue[(String, Double)](k + 1,
      (a: (String, Double), b: (String, Double)) =>
        if (a._2 != b._2) java.lang.Double.compare(a._2, b._2) else b._1.compareTo(a._1))
    val qn = Model.norm(q)
    chunks.valuesIterator.foreach { c =>
      val s = Model.cosine(q, qn, c.vec)
      heap.add((c.id, s))
      if (heap.size > k) heap.poll()
    }
    val out = new Array[(String, Double)](heap.size)
    var i = out.length - 1
    while (!heap.isEmpty) { out(i) = heap.poll(); i -= 1 }
    out.toIndexedSeq
  }
}

object Model {
  /** (doc_id, text, source) rows of a workbook: one per non-blank data
    * cell, doc_id = sheet_id·100000 + row_pos·100 + col_idx — the same
    * expression the benchmark applies to `GridIngest.cells` output. */
  def docs(wb: Workbook): Seq[(Long, String, String)] =
    wb.sheets.flatMap { sh =>
      sh.rows.toSeq.zipWithIndex.drop(1).flatMap { case (row, rp) =>
        row.toSeq.zipWithIndex.collect {
          case (v, ci) if v != null && v.trim.nonEmpty =>
            (docIdOf(sh.sheetId, rp, ci), v, wb.fileId)
        }
      }
    }

  def docIdOf(sheetId: Long, rowPos: Int, colIdx: Int): Long =
    sheetId * 100000L + rowPos * 100L + colIdx

  def norm(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    math.sqrt(s)
  }

  def cosine(q: Array[Float], qn: Double, v: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < q.length) { d += q(i).toDouble * v(i); i += 1 }
    val n = qn * norm(v)
    if (n == 0) 0.0 else d / n
  }
}
