package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns one run's measurements into the reported metrics. */
object Report {
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Tail latency: the 90th percentile, linearly interpolated between
    * the two nearest samples. A window holds 9 to 14 single searches,
    * where the highest percentile with ten samples beyond it would be
    * the median or below, so this is an estimate with about two samples
    * beyond it; the evidence file records the sample count. */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = 0.9 * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def peakRssMb: Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Throwable => Runtime.getRuntime.totalMemory / 1048576.0 }

  /** The end-to-end metrics, in BENCHMARK.json order. */
  def endToEnd(ctx: Ctx, o: Outcome, jvmStartMs: Long): Metrics = {
    val m: Metrics = mutable.LinkedHashMap.empty
    val q = ctx.singles.map(_._2).toSeq
    val w = ctx.writes.map(_._2).toSeq
    m("setup_s") = ((ctx.firstTimedOpMs - jvmStartMs) / 1e3, "s")
    m("query_p50_ms") = (median(q), "ms")
    m("query_tail_ms") = (tail(q), "ms")
    m("batch_queries_per_s") =
      (ctx.batches.map(_._2).sum * 1e3 / math.max(1e-9, ctx.batches.map(_._3).sum), "1/s")
    m("write_p50_ms") = (median(w), "ms")
    m("write_tail_ms") = (tail(w), "ms")
    m("index_chunks_per_s") = (o.chunksIndexed / o.bulkIndexS, "1/s")
    m("bytes_stored_per_input_byte") =
      (ctx.layoutBytes.values.sum.toDouble / math.max(1L, ctx.model.rawBytes), "ratio")
    m("recall_at_10") = (mean(ctx.recalls.values.toSeq), "ratio")
    m("peak_rss_mb") = (peakRssMb, "MB")
    m
  }

  /** Per-layer metrics of a traced run. A layer the workload never
    * enters reports 0. */
  def perLayer(ctx: Ctx, o: Outcome, tr: Tracer, listener: EngineListener): Metrics = {
    val m: Metrics = mutable.LinkedHashMap.empty
    val spans = tr.spans.toSeq
    val jobs = listener.jobs.values.asScala.toSeq.filter(_.endMs >= 0)
    val windowOps = spans.filter(s => s.layer == "op" && !s.name.startsWith("warm.")).map(_.op).toSet
    val opSpans = spans.filter(s => s.layer == "op" && windowOps(s.op))
    val nOps = math.max(1, opSpans.size)
    val jobsByOp = jobs.filter(j => windowOps(j.opTag)).groupBy(_.opTag)
    val spansByOp = spans.filter(s => windowOps(s.op)).groupBy(_.op)

    // innermost span of the job's op that contains its start
    val jobSpan: Map[Int, Int] = jobsByOp.toSeq.flatMap { case (op, js) =>
      val ss = spansByOp.getOrElse(op, Seq.empty)
      js.map { j =>
        val inside = ss.filter(s => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)
        j.id -> (if (inside.isEmpty) -1 else inside.maxBy(_.startMs).id)
      }
    }.toMap
    val jobsOfSpan: Map[Int, Seq[JobRec]] =
      jobsByOp.values.flatten.toSeq.groupBy(j => jobSpan(j.id))
    val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

    def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
      val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var tot = 0.0; var curA = -1.0; var curB = -1.0
      c.foreach { case (a, b) =>
        if (curB < 0 || a > curB) { if (curB >= 0) tot += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB >= 0) tot += curB - curA
      tot
    }
    def jobIv(js: Seq[JobRec]) = js.map(j => (j.startMs.toDouble, j.endMs.toDouble))
    /** All jobs started anywhere under span `s`. */
    def jobsUnder(s: Span): Seq[JobRec] =
      jobsOfSpan.getOrElse(s.id, Seq.empty) ++ children.getOrElse(s.id, Seq.empty).flatMap(jobsUnder)
    def driverOnly(s: Span): Double = s.ms - union(jobIv(jobsUnder(s)), s.startMs, s.endMs)
    def selfMs(s: Span): Double =
      s.ms - union(children.getOrElse(s.id, Seq.empty).map(c => (c.startMs, c.endMs)) ++
        jobIv(jobsOfSpan.getOrElse(s.id, Seq.empty)), s.startMs, s.endMs)

    def calls(layer: String, name: String): Seq[Span] =
      spans.filter(s => s.layer == layer && s.name == name && windowOps(s.op))
    def ms(ss: Seq[Span]) = ss.map(_.ms)
    def perCall(ss: Seq[Span])(f: Span => Double): Double = mean(ss.map(f))
    def nJobs(s: Span) = jobsUnder(s).size.toDouble
    def nTasks(s: Span) = jobsUnder(s).map(_.tasks).sum.toDouble
    val bytes = ctx.layoutBytes

    // functions
    m("functions.embed_query_us") = (median(ms(calls("functions", "embed"))) * 1e3, "us")
    m("functions.chunk_embed_rows_per_s") =
      (o.chunksIndexed / math.max(1e-9, ctx.setupTimes.getOrElse("functions.chunk_embed_s", 0.0)), "1/s")
    m("functions.jvm_topk_ms") = (median(ctx.jvmTopKMs.toSeq), "ms")
    // grid_ingest
    m("grid_ingest.cells_s") = (ctx.setupTimes.getOrElse("grid_ingest.cells_s", 0.0), "s")
    m("grid_ingest.chunks_s") = (ctx.setupTimes.getOrElse("grid_ingest.chunks_s", 0.0), "s")
    m("grid_ingest.cells") = (ctx.cellCount.toDouble, "count")
    m("grid_ingest.chunks") = (ctx.gridChunkCount.toDouble, "count")
    // index_store
    Seq("ivf", "ivfpq", "hnsw").foreach { f =>
      m(s"index_store.build_${f}_s") = (ctx.setupTimes.getOrElse(s"build_$f", 0.0), "s")
    }
    Seq("ivf", "ivfpq", "hnsw").foreach { f =>
      m(s"index_store.bytes_$f") = (bytes.getOrElse(f, 0L).toDouble, "bytes")
    }
    Seq("exact", "ivf", "ivfpq", "hnsw").foreach { f =>
      val ss = calls("index_store", s"search_$f")
      m(s"index_store.search_$f.p50_ms") = (median(ms(ss)), "ms")
      m(s"index_store.search_$f.tail_ms") = (tail(ms(ss)), "ms")
      m(s"index_store.search_$f.jobs") = (perCall(ss)(nJobs), "count")
      m(s"index_store.search_$f.tasks") = (perCall(ss)(nTasks), "count")
      m(s"index_store.search_$f.driver_only_ms") = (median(ss.map(driverOnly)), "ms")
    }
    Seq("ivf", "hnsw").foreach { f =>
      m(s"index_store.batch_${f}_s") = (median(ms(calls("index_store", s"batch_$f"))) / 1e3, "s")
    }
    m("index_store.hnsw_pin_loads") = (ctx.pinLoadMs.size.toDouble, "count")
    m("index_store.hnsw_pin_load_ms") = (median(ctx.pinLoadMs.toSeq), "ms")
    m("index_store.upsert_ivf_ms") = (median(ms(calls("index_store", "upsert_ivf"))), "ms")
    m("index_store.delete_ivf_ms") = (median(ms(calls("index_store", "delete_ivf"))), "ms")
    m("index_store.compact_ivf_s") = (median(ms(calls("index_store", "compact_ivf"))) / 1e3, "s")
    m("index_store.layout_files") =
      ((if (ctx.layoutFiles.nonEmpty) median(ctx.layoutFiles.map(_.toDouble).toSeq)
        else Ctx.fileCount(ctx.paths.ivf).toDouble), "count")
    // lexical_store
    m("lexical_store.build_bm25_s") = (ctx.setupTimes.getOrElse("build_bm25", 0.0), "s")
    m("lexical_store.bytes") = (bytes.getOrElse("bm25", 0L).toDouble, "bytes")
    val bm25 = calls("lexical_store", "search_bm25")
    m("lexical_store.search_bm25.p50_ms") = (median(ms(bm25)), "ms")
    m("lexical_store.search_bm25.jobs") = (perCall(bm25)(nJobs), "count")
    m("lexical_store.search_parsed.p50_ms") = (median(ms(calls("lexical_store", "search_parsed"))), "ms")
    m("lexical_store.upsert_ms") = (median(ms(calls("lexical_store", "upsert"))), "ms")
    m("lexical_store.compact_s") = (median(ms(calls("lexical_store", "compact"))) / 1e3, "s")
    // hybrid
    val rrf = calls("hybrid", "search_rrf")
    m("hybrid.search_rrf.p50_ms") = (median(ms(rrf)), "ms")
    m("hybrid.search_rrf.jobs") = (perCall(rrf)(nJobs), "count")
    m("hybrid.batch_s") = (median(ms(calls("hybrid", "batch"))) / 1e3, "s")
    // relations: memo misses show up as jobs whose call site is the resolve
    val opJobs = jobsByOp.values.flatten.toSeq
    m("relations.resolve_jobs_per_op") =
      (opJobs.count(_.site.contains("Relations.scala")).toDouble / nOps, "count")
    // engine
    m("engine.jobs_per_op") = (opJobs.size.toDouble / nOps, "count")
    m("engine.stages_per_op") = (opJobs.map(_.stages.size).sum.toDouble / nOps, "count")
    m("engine.tasks_per_op") = (opJobs.map(_.tasks).sum.toDouble / nOps, "count")
    m("engine.driver_only_ms_per_op") = (mean(opSpans.map(driverOnly)), "ms")
    m("engine.executor_run_ms_per_op") = (opJobs.map(_.runMs).sum.toDouble / nOps, "ms")
    m("engine.executor_cpu_ms_per_op") = (opJobs.map(_.cpuNs).sum / 1e6 / nOps, "ms")
    m("engine.gc_ms") = (opJobs.map(_.gcMs).sum.toDouble, "ms")
    m("engine.input_bytes_per_op") = (opJobs.map(_.inBytes).sum.toDouble / nOps, "bytes")
    m("engine.shuffle_write_bytes") = (opJobs.map(_.shuffleWrite).sum.toDouble, "bytes")
    m("engine.spill_bytes") = (opJobs.map(_.spill).sum.toDouble, "bytes")
    val writeOps = opSpans.filter(_.name.startsWith("write_")).map(_.op).toSet
    m("engine.output_bytes_per_user_byte") =
      (opJobs.filter(j => writeOps(j.opTag)).map(_.outBytes).sum.toDouble /
        math.max(1L, ctx.userBytesWritten), "ratio")
    // self time per layer, per op
    val layerSpans = spans.filter(s => windowOps(s.op))
    Seq("op" -> "client", "functions" -> "functions", "index_store" -> "index_store",
        "lexical_store" -> "lexical_store", "hybrid" -> "hybrid").foreach { case (l, name) =>
      m(s"$name.self_ms_per_op") = (layerSpans.filter(_.layer == l).map(selfMs).sum / nOps, "ms")
    }
    m("engine.self_ms_per_op") =
      (mean(opSpans.map(s => union(jobIv(jobsUnder(s)), s.startMs, s.endMs))), "ms")
    // tracing overhead: compare with query_p50_ms / write_p50_ms of the
    // untraced run of the same seed
    m("trace.query_p50_ms") = (median(ctx.singles.map(_._2).toSeq), "ms")
    m("trace.write_p50_ms") = (median(ctx.writes.map(_._2).toSeq), "ms")
    m("trace.bookkeeping_us_per_op") = (tr.bookkeepingNs / 1e3 / math.max(1, tr.opCount), "us")
    m
  }
}
