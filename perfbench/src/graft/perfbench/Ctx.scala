package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Embed
import graft.operators.{GridIngest, Hybrid}
import graft.sources.{IndexStore, LexicalStore}

/** Where one run keeps its layouts: under the benchmark's own work
  * directory, never under the paths the verification catalog uses. */
final class Layouts(root: String) {
  /** The exact family scans every row of the IVF layout: exact search
    * reads any layout that holds the embedding column. */
  val exact = s"$root/ivf"
  val ivf = s"$root/ivf"
  val ivfpq = s"$root/ivfpq"
  val hnsw = s"$root/hnsw"
  val lex = s"$root/bm25"
  val all: Seq[(String, String)] =
    Seq("ivf" -> ivf, "ivfpq" -> ivfpq, "hnsw" -> hnsw, "bm25" -> lex)
}

/** One run's state: the session, the tracer, the benchmark's model of
  * the corpus, and everything measured so far. Every call into the
  * library goes through here, wrapped in a tracer span named after
  * the layer it enters. */
final class Ctx(val spark: SparkSession, val tr: Tracer, work: String) {
  import spark.implicits._

  val dim: Int = Embed.DefaultDim
  val k = 10
  val model = new Model(dim)
  val paths = new Layouts(s"$work/layouts")

  // ---- measurements --------------------------------------------------
  /** Timed single searches of the measured window: (family, ms). */
  val singles = ArrayBuffer.empty[(String, Double)]
  /** Timed batch calls: (verb, queries answered, ms). */
  val batches = ArrayBuffer.empty[(String, Int, Double)]
  /** Timed writes: (kind, ms). */
  val writes = ArrayBuffer.empty[(String, Double)]
  /** Recall@k of each distinct (verb, query text) the window ran, as of
    * its last run. Pool queries repeat under the Zipf draw; counting
    * every repeat would let the few most popular queries of a seed
    * decide the mean. The last run wins, so after churn writes a
    * query's recall is that of the current state. */
  val recalls = scala.collection.mutable.LinkedHashMap.empty[(String, String), Double]
  val jvmTopKMs = ArrayBuffer.empty[Double]
  /** HNSW calls that had to load a pin: ms of each such call. */
  val pinLoadMs = ArrayBuffer.empty[Double]
  val layoutFiles = ArrayBuffer.empty[Long]
  /** Raw cell-text bytes of the files the timed writes re-indexed or
    * deleted (the base of write amplification). */
  var userBytesWritten = 0L
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  /** False during warm-up: ops run and are checked but not recorded. */
  var recording = false
  var firstTimedOpMs: Long = -1L
  val setupTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Seconds since JVM start at which each phase of the run ended. */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def phase(name: String): Unit =
    phases(name) = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  /** Non-blank cells of the bulk-indexed corpus, and what the grid
    * stage made of them (0 where a workload skips that stage). */
  var corpusCells = 0
  var cellCount = 0L
  var gridChunkCount = 0L

  private def now: Double = System.nanoTime() / 1e6

  def fail(kind: String, msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$kind: ${msg.take(300)}"
    System.err.println(s"[perfbench] FAILED $kind: $msg")
  }

  /** Run one user operation: time `body` end to end (tracer root span
    * around it), then check its output outside the timing. A thrown
    * exception or a failed check counts the op as failed. */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[(T, Double)] = {
    attempted += 1
    if (recording && firstTimedOpMs < 0) firstTimedOpMs = System.currentTimeMillis()
    val t0 = now
    val res = try Right(tr.op(if (recording) kind else s"warm.$kind")(body))
              catch { case NonFatal(e) => Left(e) }
    val ms = now - t0
    res match {
      case Left(e) =>
        fail(kind, e.toString); None
      case Right(v) =>
        val bad = try check(v) catch { case NonFatal(e) => Some(s"check threw $e") }
        bad match {
          case Some(m) => fail(kind, m); None
          case None => Some((v, ms))
        }
    }
  }

  // ---- bulk index (set-up of every workload) --------------------------

  /** Grid -> cells -> chunks, one chunk+embed pass, then the builds of
    * `families`. Without `grid` the chunk+embed pass reads the cells
    * straight from the workbooks, as the re-index webhook does. Returns
    * the wall seconds of the whole sequence. */
  def bulkIndex(wbs: Seq[Workbook], families: Seq[String], grid: Boolean): Double = {
    wbs.foreach(model.putFile)
    val nDocs = wbs.map(Model.docs(_).size).sum
    corpusCells = nDocs
    val t0 = now
    val docs =
      if (grid) gridDocs(wbs, nDocs)
      else wbs.flatMap(Model.docs).toDF("doc_id", "text", "source")
    val t1 = now
    val rows = tr.call("functions", "chunk_embed") {
      val r = IndexStore.indexRows(docs, dim).localCheckpoint()
      val n = r.count()
      require(n == model.size, s"indexRows produced $n chunks, the model expects ${model.size}")
      r
    }
    setupTimes("functions.chunk_embed_s") = (now - t1) / 1e3
    families.foreach { f =>
      val tb = now
      f match {
        case "ivf" => tr.call("index_store", "build_ivf")(
          IndexStore.buildIvfFromRows(spark, rows, paths.ivf))
        case "ivfpq" => tr.call("index_store", "build_ivfpq")(
          IndexStore.buildIvfPqFromRows(spark, rows, paths.ivfpq))
        case "hnsw" => tr.call("index_store", "build_hnsw")(
          IndexStore.buildHnswFromRows(spark, rows, paths.hnsw))
        case "bm25" => tr.call("lexical_store", "build_bm25")(
          LexicalStore.build(spark, rows.select("chunk_id", "chunk"), paths.lex,
            idCol = "chunk_id", textCol = "chunk"))
      }
      setupTimes(s"build_$f") = (now - tb) / 1e3
    }
    (now - t0) / 1e3
  }

  /** GridIngest.cells and GridIngest.chunks over the workbooks, both
    * materialized and checked against the model; returns the cells as
    * (doc_id, text, source) documents. */
  private def gridDocs(wbs: Seq[Workbook], nDocs: Int): DataFrame = {
    val grid = wbs.flatMap(_.sheets).map(s => (s.fileId, s.sheetId, s.tab, s.rows))
      .toDF("file_id", "sheet_id", "tab_name", "rows")
    val t0 = now
    val cells = tr.call("grid_ingest", "cells") {
      val c = GridIngest.cells(grid).localCheckpoint()
      cellCount = c.count(); c
    }
    setupTimes("grid_ingest.cells_s") = (now - t0) / 1e3
    val t1 = now
    gridChunkCount = tr.call("grid_ingest", "chunks") {
      GridIngest.chunks(cells)
        .agg(count(lit(1)), sum(size(col("embedding")))).head().getLong(0)
    }
    setupTimes("grid_ingest.chunks_s") = (now - t1) / 1e3
    require(cellCount == nDocs, s"GridIngest.cells produced $cellCount cells, expected $nDocs")
    require(gridChunkCount == model.size,
      s"GridIngest.chunks produced $gridChunkCount chunks, the model expects ${model.size}")
    cells.select(
      (col("sheet_id") * 100000L + col("row_pos") * 100L + col("col_idx")).as("doc_id"),
      col("value").as("text"), col("file_id").as("source"))
  }

  // ---- searches ------------------------------------------------------

  def embed(q: String): Array[Float] = tr.call("functions", "embed")(Embed.embed(q, dim))

  def terms(q: String): Seq[String] = q.split(" ").filter(_.nonEmpty).toSeq

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  /** One single search of `family`, end to end: text in, the k
    * presented rows collected out. */
  def search(family: String, q: String): Array[Row] = family match {
    case "exact" =>
      val v = embed(q)
      tr.call("index_store", "search_exact")(
        IndexStore.searchTopKVec(spark, paths.exact, v, k).collect())
    case "ivf" =>
      val v = embed(q)
      tr.call("index_store", "search_ivf")(
        IndexStore.searchTopKIvfVec(spark, paths.ivf, v, k).collect())
    case "ivfpq" =>
      val v = embed(q)
      tr.call("index_store", "search_ivfpq")(
        IndexStore.searchTopKIvfPqVec(spark, paths.ivfpq, v, k).collect())
    case "hnsw" =>
      val v = embed(q)
      val p0 = persisted; val t0 = now
      val r = tr.call("index_store", "search_hnsw")(
        IndexStore.searchTopKHnswVec(spark, paths.hnsw, v, k).collect())
      if (persisted > p0 && recording) pinLoadMs += now - t0
      r
    case "bm25" =>
      tr.call("lexical_store", "search_bm25")(
        LexicalStore.searchTopKLexical(spark, paths.lex, terms(q), k).collect())
    case "parsed" =>
      tr.call("lexical_store", "search_parsed")(
        LexicalStore.searchQueryString(spark, Ctx.parsedQuery(q),
          Map("text" -> paths.lex), "text", k = k).collect())
    case "hybrid" =>
      tr.call("hybrid", "search_rrf")(
        Hybrid.searchTopKHybrid(spark, paths.lex, paths.ivf, q, k).collect())
  }

  /** Brute-force truth for `q`, timed as the plain-JVM floor. */
  def truth(q: String): IndexedSeq[(String, Double)] = {
    val v = Embed.embed(q, dim)
    val t0 = now
    val t = model.topK(v, k + 1)
    if (recording) jvmTopKMs += now - t0
    t
  }

  /** Output checks of one single search; records recall for the ANN
    * families. */
  def checkSearch(family: String, q: String, rows: Array[Row]): Option[String] = family match {
    case "exact" | "ivf" | "ivfpq" | "hnsw" =>
      val ids = rows.map(_.getAs[String]("chunk_id"))
      val ranks = rows.map(_.getAs[Int]("rank"))
      val tr10 = truth(q)
      if (rows.length != k) Some(s"$family returned ${rows.length} rows, expected $k")
      else if (!ranks.sameElements(1 to k)) Some(s"$family ranks ${ranks.mkString(",")}")
      else if (ids.distinct.length != k) Some(s"$family duplicate ids")
      else ids.find(model.get(_).isEmpty).map(id => s"$family returned unknown id $id")
        .orElse {
          val top = tr10.take(k).map(_._1).toSet
          if (family == "exact") {
            // equal to the brute-force top-k, up to ties at the k-th similarity
            val kth = tr10(k - 1)._2
            val qv = Embed.embed(q, dim); val qn = Model.norm(qv)
            ids.find(id => !top(id) &&
              Model.cosine(qv, qn, model.get(id).get.vec) < kth - 1e-6)
              .map(id => s"exact search returned $id outside the brute-force top-$k")
          } else {
            if (recording) recalls((family, q)) = ids.count(top).toDouble / k
            None
          }
        }
    case "bm25" | "parsed" =>
      val ids = rows.map(_.getAs[String]("doc_id"))
      val rankCol = if (family == "bm25") "lex_rank" else "parsed_rank"
      val ranks = rows.map(_.getAs[Int](rankCol))
      val must = if (family == "bm25") None else Some(Ctx.parsedMust(q))
      val qs = terms(q).toSet
      def matches(text: String): Boolean = {
        val toks = text.split(" ").iterator.filter(_.nonEmpty)
        must match {
          case Some(m) => toks.contains(m)
          case None => toks.exists(qs)
        }
      }
      val expected = math.min(k, model.all.count(c => matches(c.text)))
      if (rows.length != expected) Some(s"$family returned ${rows.length} rows, expected $expected")
      else if (!ranks.sameElements(1 to rows.length)) Some(s"$family ranks ${ranks.mkString(",")}")
      else ids.find(id => model.get(id).forall(c => !matches(c.text)))
        .map(id => s"$family returned $id, which is unknown or matches no query term")
    case "hybrid" =>
      val ids = rows.map(_.getAs[String]("chunk_id"))
      val ranks = rows.map(_.getAs[Int]("rank"))
      val vecIds = rows.filter(r => !r.isNullAt(r.fieldIndex("vec_rank")))
        .map(_.getAs[String]("chunk_id"))
      if (rows.length != k) Some(s"hybrid returned ${rows.length} rows, expected $k")
      else if (!ranks.sameElements(1 to k)) Some(s"hybrid ranks ${ranks.mkString(",")}")
      else if (rows.exists(r => r.isNullAt(r.fieldIndex("lex_rank")) && r.isNullAt(r.fieldIndex("vec_rank"))))
        Some("hybrid row ranked by neither arm")
      else ids.find(model.get(_).isEmpty).map(id => s"hybrid returned unknown id $id")
        .orElse {
          // the vector arm is the IVF top-k: its rows are judged
          // against the brute-force top-k like any ANN result
          if (recording && vecIds.nonEmpty) {
            val top = truth(q).take(k).map(_._1).toSet
            recalls(("hybrid", q)) = vecIds.count(top).toDouble / vecIds.length
          }
          None
        }
  }

  /** One timed single search with its checks. */
  def single(family: String, q: String): Unit =
    op(s"search_$family")(search(family, q))(rows => checkSearch(family, q, rows))
      .foreach { case (_, ms) => if (recording) singles += ((family, ms)) }

  // ---- batch searches -------------------------------------------------

  def batch(verb: String, qs: Seq[(Long, String)]): Array[Row] = verb match {
    case "ivf" =>
      val vs = qs.map { case (i, q) => (i, embed(q)) }
      tr.call("index_store", "batch_ivf")(
        IndexStore.searchTopKIvfBatchVec(spark, paths.ivf, vs, k).collect())
    case "hnsw" =>
      val vs = qs.map { case (i, q) => (i, embed(q)) }
      val p0 = persisted; val t0 = now
      val r = tr.call("index_store", "batch_hnsw")(
        IndexStore.searchTopKHnswBatchVec(spark, paths.hnsw, vs, k).collect())
      if (persisted > p0 && recording) pinLoadMs += now - t0
      r
    case "hybrid" =>
      tr.call("hybrid", "batch")(
        Hybrid.searchTopKHybridBatch(spark, paths.lex, paths.ivf, qs, k).collect())
  }

  /** Output checks of one batch call: every query id gets a well-formed
    * top-k. Records recall per query like the single searches do (for
    * hybrid, of its vector-arm rows). */
  def checkBatch(verb: String, qs: Seq[(Long, String)], rows: Array[Row]): Option[String] = {
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    val bad = qs.map(_._1).find { qid =>
      val rs = byQ.getOrElse(qid, Array.empty[Row])
      rs.length != k || !rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to k) ||
        rs.exists(r => model.get(r.getAs[String]("chunk_id")).isEmpty)
    }.map(qid => s"batch $verb: query $qid lacks a well-formed top-$k")
      .orElse(if (byQ.keySet != qs.map(_._1).toSet) Some(s"batch $verb: unexpected query ids") else None)
    if (bad.isEmpty && recording) qs.foreach { case (qid, q) =>
      val top = truth(q).take(k).map(_._1).toSet
      val ids = byQ(qid).toSeq.filter(r => verb != "hybrid" || !r.isNullAt(r.fieldIndex("vec_rank")))
        .map(_.getAs[String]("chunk_id"))
      if (ids.nonEmpty) recalls((s"batch_$verb", q)) = ids.count(top).toDouble / ids.size
    }
    bad
  }

  def batchCall(verb: String, qs: Seq[(Long, String)]): Unit =
    op(s"batch_$verb")(batch(verb, qs))(rows => checkBatch(verb, qs, rows))
      .foreach { case (_, ms) => if (recording) batches += ((verb, qs.size, ms)) }

  // ---- writes (the one-file re-index webhook) -----------------------

  private def docsDf(wb: Workbook): DataFrame =
    Model.docs(wb).toDF("doc_id", "text", "source")

  /** A write acknowledged by the program whose read-your-writes check
    * has not run yet. */
  private final case class Pending(kind: String, ms: Double, bytes: Long,
                                   timed: Boolean, check: () => Option[String])
  private var pending: Option[Pending] = None

  /** Run the read-your-writes check of the last write, if it is still
    * pending. Workloads call it after the reads that follow a write, and
    * every write calls it first: the checks read the same layouts and
    * would fill the memos again, so they must not sit between a write
    * and the timed reads that follow it. A failed check counts the
    * write as failed and drops its sample. */
  def settle(): Unit = pending.foreach { p =>
    pending = None
    val bad = try p.check() catch { case NonFatal(e) => Some(s"check threw $e") }
    bad match {
      case Some(m) => fail(s"write_${p.kind}", m)
      case None =>
        if (p.timed) { writes += ((p.kind, p.ms)); userBytesWritten += p.bytes }
    }
  }

  /** Re-index one whole spreadsheet file on the IVF and BM25 layouts
    * hybrid reads; `compact` runs the maintenance compactions inside
    * the same acknowledged write. */
  def reindex(wb: Workbook, compact: Boolean): Unit = {
    settle()
    val bytes = Model.docs(wb).map(_._2.getBytes("UTF-8").length.toLong).sum
    op("write_reindex") {
      val docs = docsDf(wb)
      tr.call("index_store", "upsert_ivf")(IndexStore.upsertIvf(spark, docs, paths.ivf))
      tr.call("lexical_store", "upsert")(LexicalStore.upsertLexical(spark, paths.lex,
        IndexStore.indexRows(docs, dim).select("chunk_id", "chunk"),
        idCol = "chunk_id", textCol = "chunk"))
      if (compact) compaction()
    } { _ => model.putFile(wb); None }.foreach { case (_, ms) =>
      pending = Some(Pending("reindex", ms, bytes, recording, () => checkFile(wb.fileId)))
    }
  }

  /** Delete one whole spreadsheet file from both layouts. */
  def deleteFile(fileId: String): Unit = {
    settle()
    val ids = model.idsOf(fileId).toSeq.sorted
    val probe = model.get(ids.head).get
    val bytes = model.bytesOf(fileId)
    op("write_delete") {
      tr.call("index_store", "delete_ivf")(IndexStore.deleteIdsIvf(spark, paths.ivf, ids))
      tr.call("lexical_store", "delete")(LexicalStore.deleteLexical(spark, paths.lex, ids))
    } { _ => model.dropFile(fileId); None }.foreach { case (_, ms) =>
      pending = Some(Pending("delete", ms, bytes, recording, () => checkGone(ids, probe)))
    }
  }

  private def compaction(): Unit = {
    layoutFiles += Ctx.fileCount(paths.ivf)
    tr.call("index_store", "compact_ivf")(IndexStore.compactIvf(spark, paths.ivf))
    tr.call("lexical_store", "compact")(LexicalStore.compactLexical(spark, paths.lex))
  }

  /** The read-your-writes checks are independent reads, so they run
    * side by side; they are outside every timed op (see [[settle]]). */
  private val checkPool = java.util.concurrent.Executors.newFixedThreadPool(3)
  private def together(checks: (() => Option[String])*): Option[String] = {
    val futures = checks.map(c => checkPool.submit(new java.util.concurrent.Callable[Option[String]] {
      def call(): Option[String] = c()
    }))
    futures.map { f =>
      try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }.collectFirst { case Some(m) => m }
  }

  /** Read-your-writes after a re-index: `IndexStore.get` returns exactly
    * the file's chunks with their new text, an IVF search for a revised
    * chunk's text ranks that text first, and the lexical layout scores
    * the chunk for its own terms. */
  private def checkFile(fileId: String): Option[String] = {
    val want = model.idsOf(fileId)
    val probe = want.toSeq.sorted.map(model.get(_).get).find(_.text.length > 20)
      .getOrElse(model.get(want.min).get)
    together(
      () => {
        val got = IndexStore.get(spark, paths.ivf, want.toSeq, limit = want.size + 1).collect()
          .map(r => r.getAs[String]("chunk_id") -> r.getAs[String]("chunk")).toMap
        if (got.keySet != want) Some(s"get($fileId) returned ${got.size} ids, expected ${want.size}")
        else got.collectFirst { case (id, text) if model.get(id).get.text != text =>
          s"get returned stale text for $id" }
      },
      () => {
        val top = IndexStore.searchTopKIvf(spark, paths.ivf, probe.text, k).collect()
        if (top.isEmpty || top.head.getAs[String]("chunk") != probe.text)
          Some(s"IVF search for revised text of ${probe.id} did not rank it first")
        else None
      },
      () => {
        val lex = LexicalStore.searchTopKLexical(spark, paths.lex, terms(probe.text), k,
          allow = Some(Seq(probe.id).toDF("doc_id"))).collect()
        if (lex.map(_.getAs[String]("doc_id")).toSeq != Seq(probe.id))
          Some(s"lexical layout does not score ${probe.id} for its own terms")
        else None
      })
  }

  /** After a delete: no chunk of the file is readable, and the
    * lexical layout no longer scores one of them for its own terms. */
  private def checkGone(ids: Seq[String], probe: ModelChunk): Option[String] =
    together(
      () => {
        val got = IndexStore.get(spark, paths.ivf, ids, limit = ids.size + 1).count()
        if (got != 0) Some(s"$got deleted chunks still readable") else None
      },
      () => {
        val lex = LexicalStore.searchTopKLexical(spark, paths.lex, terms(probe.text), k,
          allow = Some(Seq(probe.id).toDF("doc_id"))).count()
        if (lex != 0) Some(s"deleted chunk ${probe.id} still scored by the lexical layout")
        else None
      })

  // ---- space ---------------------------------------------------------

  def layoutBytes: Map[String, Long] =
    paths.all.collect { case (n, p) if new java.io.File(p).exists => n -> Ctx.du(new java.io.File(p)) }.toMap

}

object Ctx {
  /** Parsed-query form of a pool query: its first word required, the
    * next two optional (Lucene `+a b c`). Only alphabetic tokens, so
    * the query-string grammar reads every token as a plain term. */
  def parsedWords(q: String): Seq[String] = {
    q.split(" ").filter(w => w.nonEmpty && w.forall(_.isLetter)).toSeq.take(3)
  }
  def parsedQuery(q: String): String = {
    val ws = parsedWords(q)
    (("+" + ws.head) +: ws.tail).mkString(" ")
  }
  def parsedMust(q: String): String = parsedWords(q).head

  def du(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  def fileCount(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) 1L else 0L }
      else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(p))
  }
}
