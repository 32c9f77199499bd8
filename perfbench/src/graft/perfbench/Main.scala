package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one JVM, one closed-loop client thread, Spark
  * `local[nproc]`.
  *
  * {{{
  * Main --workload serve_hot|churn --seed N --seconds S --trace 0|1
  *      --work DIR --result FILE --detail FILE
  * }}}
  *
  * `--workload classes` runs [[Workloads.classes]], the miniature the
  * build runs to make the class-data-sharing archive.
  *
  * Writes the result object (the last stdout line of `perfbench/run.py`)
  * to `--result` and the run's evidence (box state, corpus sizes,
  * per-family latencies, failures, and in the traced run every span and
  * job) to `--detail`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val work = args("work")
    require(Set("serve_hot", "churn", "classes")(workload), s"unknown workload $workload")
    val load0 = Box.loadavg(); val ticks0 = Box.cpuTicks()

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the session configuration graft.Bench measures the catalog with
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work)

    val outcome = workload match {
      case "serve_hot" => Workloads.serveHot(ctx, seed, seconds)
      case "churn" => Workloads.churn(ctx, seed, seconds)
      case "classes" => Workloads.classes(ctx, seed)
    }
    tracer.listener.foreach(_.drain(10000))
    val load1 = Box.loadavg(); val ticks1 = Box.cpuTicks()

    val metrics = tracer.listener match {
      case Some(l) => Report.perLayer(ctx, outcome, tracer, l)
      case None => Report.endToEnd(ctx, outcome, jvmStartMs)
    }
    val correct = ctx.failed == 0 && ctx.attempted > 0
    val result = Json.obj(Seq(
      "correct" -> Json.bool(correct),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    Files.write(Paths.get(args("result")), (result + "\n").getBytes(UTF_8))

    val q = ctx.singles.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, xs) =>
      val ms = xs.map(_._2).toSeq
      f -> Json.obj(Seq("n" -> ms.size.toString, "p50_ms" -> Json.num(Report.median(ms)),
        "max_ms" -> Json.num(ms.max)))
    }
    val detail = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> Json.bool(trace),
      "box" -> Json.obj(Seq(
        "nproc" -> cpus.toString,
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
        "spark" -> Json.str(spark.version),
        "jdk" -> Json.str(System.getProperty("java.version")),
        "scala" -> Json.str(scala.util.Properties.versionNumberString),
        "loadavg_start" -> Json.str(load0), "loadavg_end" -> Json.str(load1),
        "steal_pct" -> Json.num(Box.stealPct(ticks0, ticks1)))),
      "corpus" -> Json.obj(Seq(
        "files" -> Workloads.Files.toString,
        "cells" -> ctx.corpusCells.toString, "chunks" -> outcome.chunksIndexed.toString,
        "chunks_now" -> ctx.model.size.toString,
        "text_bytes_now" -> ctx.model.rawBytes.toString)),
      "phases_s" -> Json.obj(ctx.phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "setup_times_s" -> Json.obj(ctx.setupTimes.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "bulk_index_s" -> Json.num(outcome.bulkIndexS),
      "queries" -> Json.obj(q),
      "query_samples" -> ctx.singles.size.toString,
      "singles" -> Json.arr(ctx.singles.toSeq.map { case (f, ms) =>
        Json.obj(Seq("family" -> Json.str(f), "ms" -> Json.num(ms))) }),
      "query_tail_p90_ms" -> Json.num(Report.tail(ctx.singles.map(_._2).toSeq)),
      "writes" -> Json.arr(ctx.writes.toSeq.map { case (k, v) =>
        Json.obj(Seq("kind" -> Json.str(k), "ms" -> Json.num(v))) }),
      "write_samples" -> ctx.writes.size.toString,
      "write_tail_p90_ms" -> Json.num(Report.tail(ctx.writes.map(_._2).toSeq)),
      "batches" -> Json.arr(ctx.batches.toSeq.map { case (v, n, ms) =>
        Json.obj(Seq("verb" -> Json.str(v), "queries" -> n.toString, "ms" -> Json.num(ms))) }),
      "recall_samples" -> ctx.recalls.size.toString,
      "failures" -> Json.arr(ctx.failures.toSeq.map(Json.str))) ++
      (if (trace) Seq(
        "spans" -> Json.arr(tracer.spans.toSeq.map { s =>
          Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
            "op" -> s.op.toString, "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
            "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)))
        }),
        "jobs" -> Json.arr(tracer.listener.get.jobs.values.toArray(Array.empty[JobRec]).toSeq
          .sortBy(_.id).map { j =>
            Json.obj(Seq("id" -> j.id.toString, "op" -> j.opTag.toString,
              "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
              "stages" -> j.stages.size.toString, "tasks" -> j.tasks.toString,
              "site" -> Json.str(j.site)))
          }))
      else Nil)
    Files.write(Paths.get(args("detail")), (Json.obj(detail) + "\n").getBytes(UTF_8))
    System.err.println(s"[perfbench] $workload seed=$seed trace=$trace attempted=${ctx.attempted} " +
      s"failed=${ctx.failed} singles=${ctx.singles.size} writes=${ctx.writes.size} " +
      s"batches=${ctx.batches.size} load=$load0 -> $load1")
    // everything is written; the layouts and Spark's scratch files live
    // in the work directory the caller removes, so skip the shutdown
    Runtime.getRuntime.halt(0)
  }
}

/** Box evidence, as graft.Bench records it. */
object Box {
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  def cpuTicks(): Option[Array[Long]] =
    try Some(new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8).linesIterator
      .next().split("\\s+").drop(1).map(_.toLong))
    catch { case _: Throwable => None }

  def stealPct(a: Option[Array[Long]], b: Option[Array[Long]]): Double = (a, b) match {
    case (Some(x), Some(y)) =>
      val d = y.zip(x).map { case (q, p) => q - p }
      if (d.sum > 0) 100.0 * d.lift(7).getOrElse(0L) / d.sum else 0.0
    case _ => 0.0
  }
}

/** Just enough JSON writing for the result and detail files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
