package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the engine listener saw it, with the task metrics
  * of every stage it ran. */
final class JobRec(val id: Int, val startMs: Long, val opTag: Int,
                   val site: String) {
  @volatile var endMs: Long = -1L
  var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inBytes = 0L; var shuffleWrite = 0L; var spill = 0L; var outBytes = 0L
  val stages = scala.collection.mutable.HashSet.empty[Int]
}

/** SparkListener the benchmark registers in its traced run only. Jobs
  * carry the op id through the job tag [[Tracer.op]] sets. */
final class EngineListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .getOrElse("")
    val op = tags.split(",").collectFirst {
      case t if t.startsWith(Tracer.TagPrefix) => t.stripPrefix(Tracer.TagPrefix).toInt
    }.getOrElse(-1)
    val site = e.stageInfos.map(_.name).mkString(";")
    val rec = new JobRec(e.jobId, e.time, op, site)
    e.stageIds.foreach(s => stageJob.put(s, rec))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      val m = e.taskMetrics
      r.synchronized {
        r.tasks += 1
        r.stages += e.stageId
        if (m != null) {
          r.runMs += m.executorRunTime; r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime; r.inBytes += m.inputMetrics.bytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  /** Wait until every started job has ended (the bus is asynchronous). */
  def drain(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // trailing task-end events of the last stage
  }
}

/** A span: an op (root, parent = -1) or one call into a layer. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder. Off, every method just runs its body, so
  * the untraced run pays nothing but a boolean test. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int, String, String, Double)] = Nil // (id, op, layer, name, start)
  private var nextId = 0
  private var ops = 0
  private var curOp = -1 // -1: outside any op (set-up, checks)
  /** Client-thread time spent inside the recorder itself. */
  var bookkeepingNs = 0L

  val listener: Option[EngineListener] =
    if (on) { val l = new EngineListener; sc.addSparkListener(l); Some(l) } else None

  private def open(layer: String, name: String): Unit = {
    stack = (nextId, curOp, layer, name, nowMs) :: stack
    nextId += 1
  }

  private def close(): Unit = {
    val (id, op, layer, name, start) = stack.head
    stack = stack.tail
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    spans += Span(id, parent, op, layer, name, start, nowMs)
  }

  /** Run one timed user operation as a root span; its Spark jobs are
    * tagged with the op id. */
  def op[T](kind: String)(f: => T): T =
    if (!on) f
    else {
      val b0 = System.nanoTime()
      curOp = ops
      ops += 1
      val tag = Tracer.TagPrefix + curOp
      sc.addJobTag(tag)
      open("op", kind)
      bookkeepingNs += System.nanoTime() - b0
      try f
      finally {
        val b1 = System.nanoTime()
        close()
        sc.removeJobTag(tag)
        curOp = -1
        bookkeepingNs += System.nanoTime() - b1
      }
    }

  /** One call into a layer's public function, as a child span. */
  def call[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val b0 = System.nanoTime()
      open(layer, name)
      bookkeepingNs += System.nanoTime() - b0
      try f
      finally {
        val b1 = System.nanoTime()
        close()
        bookkeepingNs += System.nanoTime() - b1
      }
    }

  def opCount: Int = ops
}

object Tracer {
  val TagPrefix = "perfbench-op-"
}
