package graft.perfbench

import java.util.SplittableRandom

/** What a workload hands back for reporting besides [[Ctx]]'s own
  * measurements. */
final case class Outcome(bulkIndexS: Double, chunksIndexed: Int)

/** The workloads. Each is one closed-loop client: it sends the next
  * operation only after the previous one has returned and been
  * checked. */
object Workloads {
  /** Files of the corpus every workload indexes in its set-up: 30
    * one-sheet workbooks of 6 data rows by 28 columns ([[Gen]]), about
    * 1,300 chunks and 150 KB of cell text. One collection of it fits
    * every cache the program has (the HNSW pin LRU holds 8 layouts, the
    * Relations memo is unbounded, Spark's storage memory is far
    * larger), so serving cost is engine cost. */
  val Files = 30
  val PoolSize = 256
  val BatchSize = 64

  val HotFamilies = Seq("exact", "ivf", "ivfpq", "hnsw", "bm25", "parsed", "hybrid")
  /** Reads after each churn write, one of each family: with equal
    * counts the median of the window's reads sits in the middle
    * family's cluster (ivf), not on the edge between two. */
  val ChurnReads = Seq("bm25", "ivf", "hybrid")
  /** Hybrid batch calls at the end of each churn cycle: with one call,
    * `batch_queries_per_s` is a single sample. */
  val ChurnBatches = 2

  /** A seeded, Zipf-repeating stream of pool queries. */
  final class Queries(gen: Gen, pool: IndexedSeq[String], r: SplittableRandom) {
    private val draw = gen.poolSampler(pool.size)
    def next(): String = pool(draw(r))
    /** Next query usable by `family` (parsed queries need a word). */
    def nextFor(family: String): String = {
      var q = next()
      while (family == "parsed" && Ctx.parsedWords(q).isEmpty) q = next()
      q
    }
    def batch(n: Int): Seq[(Long, String)] = (0 until n).map(i => (i.toLong, next()))
  }

  private def queries(ctx: Ctx, gen: Gen): Queries = {
    val texts = ctx.model.all.map(_.text).toIndexedSeq
    new Queries(gen, gen.queries(PoolSize, texts, verbatimShare = 0.3, gen.split()), gen.split())
  }

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** serve_hot: one collection with every layout built in set-up (the
    * exact family ranks every row of the IVF layout, so it needs no
    * layout of its own). The measured window repeats a fixed cycle —
    * two round-robin passes over the seven single-search families
    * (Zipf-repeating query texts), then one round of the three batch
    * verbs — until at least `seconds` have passed, so every run sees
    * the same op mix. After the window, `HotDeletes` writes — each the
    * delete of one whole spreadsheet file from the IVF and BM25 layouts
    * — give the write metrics on the warmed collection without
    * invalidating anything the window read. One more delete before them
    * is not timed, so the timed ones are warm. No delete can come before
    * the window: it maintains only the IVF and BM25 layouts, and the
    * IVF-PQ and HNSW layouts would go on returning the deleted chunks. */
  val HotPasses = 2
  val HotDeletes = 2
  /** Queries per batch call in the warm-up (the plans compile the same
    * at any batch size; the window uses [[BatchSize]]). */
  val WarmBatchSize = 8

  def serveHot(ctx: Ctx, seed: Long, seconds: Int): Outcome = {
    val gen = new Gen(seed, Files)
    ctx.phase("session")
    val bulk = ctx.bulkIndex(gen.workbooks, Seq("ivf", "ivfpq", "hnsw", "bm25"), grid = true)
    ctx.phase("bulk_index")
    val chunks = ctx.model.size
    val qs = queries(ctx, gen)
    val order = shuffled(HotFamilies, gen.split())
    val deletes = shuffled(gen.workbooks.map(_.fileId), gen.split()).take(HotDeletes + 1)
    // warm-up: one pass over every family and one batch round, not timed
    order.foreach(f => ctx.single(f, qs.nextFor(f)))
    batchRound(ctx, qs, WarmBatchSize)
    ctx.phase("warm_up")
    ctx.recording = true
    val t0 = System.nanoTime()
    do {
      (0 until HotPasses).foreach(_ => order.foreach(f => ctx.single(f, qs.nextFor(f))))
      batchRound(ctx, qs, BatchSize)
    } while (elapsedS(t0) < seconds)
    ctx.phase("window")
    ctx.recording = false
    ctx.deleteFile(deletes.head)
    ctx.recording = true
    deletes.tail.foreach(ctx.deleteFile)
    ctx.settle()
    ctx.phase("writes")
    Outcome(bulk, chunks)
  }

  private def batchRound(ctx: Ctx, qs: Queries, n: Int): Unit = {
    val b = qs.batch(n)
    Seq("ivf", "hnsw", "hybrid").foreach(v => ctx.batchCall(v, b))
  }

  /** churn: the webhook path on the IVF and BM25 layouts hybrid reads.
    * Set-up indexes the workbooks' cells directly (no grid stage), as
    * the webhook does. The warm-up runs a re-index with both
    * compactions inside it, so the window's first write is not the
    * run's first upsert. The measured window repeats a fixed cycle
    * until at least `seconds` have passed: re-index one whole file,
    * delete one, re-index another, then re-index one more with both
    * compactions inside the same acknowledged write. Two plain
    * re-indexes put the write median on the mean of two samples of the
    * same kind, with the delete below them and the compacting write
    * above. After each write come the [[ChurnReads]] searches, and only
    * then the write's read-your-writes check; at the end
    * [[ChurnBatches]] hybrid batches. Files are picked Zipf-style, so
    * popular files are edited again and again, and a deleted file comes
    * back when it is next re-indexed. */
  def churn(ctx: Ctx, seed: Long, seconds: Int): Outcome = {
    val gen = new Gen(seed, Files)
    ctx.phase("session")
    val bulk = ctx.bulkIndex(gen.workbooks, Seq("ivf", "bm25"), grid = false)
    ctx.phase("bulk_index")
    val chunks = ctx.model.size
    val qs = queries(ctx, gen)
    val wr = gen.split()
    val pickFile = gen.poolSampler(gen.workbooks.size, 0.8)
    val current = scala.collection.mutable.HashMap.empty[String, Workbook]
    val live = scala.collection.mutable.LinkedHashSet(gen.workbooks.map(_.fileId): _*)
    def reindex(compact: Boolean): Unit = {
      val wb = gen.workbooks(pickFile(wr))
      val next = gen.revise(current.getOrElse(wb.fileId, wb), wr)
      ctx.reindex(next, compact)
      current(wb.fileId) = next
      live += wb.fileId
    }
    def delete(): Unit = {
      val f = live.toSeq(wr.nextInt(live.size))
      ctx.deleteFile(f)
      live -= f
    }
    def reads(): Unit = {
      ChurnReads.foreach(f => ctx.single(f, qs.nextFor(f)))
      ctx.settle()
    }
    // warm-up, not timed: a compacting re-index, the reads, a small batch
    reindex(compact = true); reads()
    ctx.batchCall("hybrid", qs.batch(WarmBatchSize))
    ctx.phase("warm_up")
    ctx.recording = true
    val t0 = System.nanoTime()
    do {
      reindex(compact = false); reads()
      delete(); reads()
      reindex(compact = false); reads()
      reindex(compact = true); reads()
      (0 until ChurnBatches).foreach(_ => ctx.batchCall("hybrid", qs.batch(BatchSize)))
    } while (elapsedS(t0) < seconds)
    ctx.phase("window")
    Outcome(bulk, chunks)
  }

  /** A miniature of both workloads that enters every code path they
    * use, run once when the benchmark is built so that the JVM's
    * class-data-sharing archive holds the classes a run loads. Nothing
    * is recorded. */
  def classes(ctx: Ctx, seed: Long): Outcome = {
    val gen = new Gen(seed, 6)
    val bulk = ctx.bulkIndex(gen.workbooks, Seq("ivf", "ivfpq", "hnsw", "bm25"), grid = true)
    val qs = queries(ctx, gen)
    HotFamilies.foreach(f => ctx.single(f, qs.nextFor(f)))
    batchRound(ctx, qs, WarmBatchSize)
    ctx.reindex(gen.revise(gen.workbooks(0), gen.split()), compact = true)
    ctx.deleteFile(gen.workbooks(1).fileId)
    ctx.settle()
    Outcome(bulk, ctx.model.size)
  }

  private def shuffled[T: scala.reflect.ClassTag](xs: Seq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
}
