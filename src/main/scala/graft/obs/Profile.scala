package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.shims

/** What one op cost the scheduler and the driver, from [[Profile.of]].
  *
  * Times are milliseconds, sizes bytes. `wallMs` is the body's wall
  * time; `jobMs` the union of its jobs' start-to-end intervals (at most
  * `wallMs`); `driverMs = wallMs - jobMs`, the time no job of the op
  * ran. `planningMs` sums the analysis, optimization and planning
  * phases of the SQL executions the op's jobs carry; a DataFrame
  * analysed before the body and run inside it brings its analysis
  * along. `stages` counts completed stages (skipped ones never run);
  * `tasks` counts ended task attempts; the byte counters sum the
  * completed stages' task metrics. */
final case class Profile(
    label: String,
    wallMs: Double,
    jobMs: Double,
    driverMs: Double,
    planningMs: Long,
    jobs: Int,
    stages: Int,
    tasks: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    inputBytes: Long,
    jobList: Seq[Profile.Job]) {

  /** One JSON object of every field but the label. */
  def json: String = {
    def ms(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    val js = jobList.map(j => s"""{"stage":${str(j.stage)},"tasks":${j.tasks},"ms":${j.ms}}""")
    s"""{"wall_ms":${ms(wallMs)},"job_ms":${ms(jobMs)},"driver_ms":${ms(driverMs)},""" +
      s""""planning_ms":$planningMs,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""input_bytes":$inputBytes,"job_list":${js.mkString("[", ",", "]")}}"""
  }
}

/** One profiling tool for every caller: a bench query, a test's job
  * count, an op under study.
  *
  * [[of]] runs its body under a fresh marker local property. Spark
  * copies a thread's local properties onto every job the thread
  * submits, and onto the broadcast and subquery jobs it runs on its
  * own pools, so the jobs of the body carry the marker wherever they
  * run; a job on another thread does not. One listener per
  * SparkContext attributes events to the open markers, and the counts
  * are read after the listener bus drained. */
object Profile {

  /** One job of a profile: its first stage's name (Spark's call site:
    * the action for a job the body submits, Spark's own pool for an
    * AQE query stage), its ended tasks, and its start-to-end ms. */
  final case class Job(stage: String, tasks: Long, ms: Long)

  private val Key = "graft.obs.profile"
  private val ids = new AtomicLong

  /** Run `body` and profile it. A nested call takes the jobs of its own
    * body and restores the enclosing marker when it returns. A body
    * that throws rethrows; its profile is dropped. */
  def of[A](spark: SparkSession, label: String)(body: => A): (A, Profile) = {
    val sc = spark.sparkContext
    val rec = recorderFor(sc)
    val marker = s"$label#${ids.incrementAndGet()}"
    val state = rec.open(marker)
    val enclosing = sc.getLocalProperty(Key)
    try {
      sc.setLocalProperty(Key, marker)
      val t0 = System.nanoTime()
      val a = try body finally sc.setLocalProperty(Key, enclosing)
      val wallMs = (System.nanoTime() - t0) / 1e6
      ListenerBus.drain(sc)
      (a, state.result(label, wallMs))
    } finally rec.close(marker)
  }

  /** Entries the listener holds for open profiles (0 when none is open). */
  private[obs] def heldEntries: Int = synchronized(installed.map(_._2.held).getOrElse(0))

  private var installed: Option[(SparkContext, Recorder)] = None

  private def recorderFor(sc: SparkContext): Recorder = synchronized {
    installed match {
      case Some((c, r)) if c eq sc => r
      case _ =>
        val r = new Recorder
        sc.addSparkListener(r)
        installed = Some((sc, r))
        r
    }
  }

  private final class JobRec(val id: Int, val stage: String, val start: Long,
                             val stageIds: Seq[Int]) {
    var end = start
    var tasks = 0L
  }

  /** One open profile's counts. The listener thread writes them and
    * the profiling thread reads them, both under this object's lock. */
  private final class State {
    var closed = false
    val jobs = ArrayBuffer.empty[JobRec]
    val execIds = ArrayBuffer.empty[Long]
    var stages = 0
    var planningMs = 0L
    var shuffleRead, shuffleWrite, input = 0L

    def result(label: String, wallMs: Double): Profile = synchronized {
      var union, from, to = 0L
      jobs.map(j => (j.start, j.end)).sortBy(_._1).foreach { case (s, e) =>
        if (s > to) { union += to - from; from = s; to = e }
        else to = math.max(to, e)
      }
      union += to - from
      val jobMs = math.min(union.toDouble, wallMs)
      Profile(label, wallMs, jobMs, wallMs - jobMs, planningMs, jobs.size, stages,
        jobs.map(_.tasks).sum, shuffleRead, shuffleWrite, input,
        jobs.map(j => Job(j.stage, j.tasks, j.end - j.start)).toList)
    }
  }

  private final class Recorder extends SparkListener {
    private val open = new ConcurrentHashMap[String, State]
    private val byJob = new ConcurrentHashMap[Int, (State, JobRec)]
    private val byStage = new ConcurrentHashMap[Int, (State, JobRec)]
    private val byExec = new ConcurrentHashMap[Long, State]

    def open(marker: String): State = {
      val s = new State
      open.put(marker, s)
      s
    }

    /** Forget `marker`: later events carrying it are ignored. */
    def close(marker: String): Unit = Option(open.remove(marker)).foreach { s =>
      s.synchronized {
        s.closed = true
        s.jobs.foreach { j => byJob.remove(j.id); j.stageIds.foreach(byStage.remove) }
        s.execIds.foreach(byExec.remove)
      }
    }

    def held: Int = open.size + byJob.size + byStage.size + byExec.size

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Key))).flatMap(m => Option(open.get(m)))
        .foreach { s =>
          s.synchronized {
            if (!s.closed) {
              val first = if (e.stageInfos.isEmpty) "?" else e.stageInfos.minBy(_.stageId).name
              val j = new JobRec(e.jobId, first, e.time, e.stageIds)
              s.jobs += j
              byJob.put(e.jobId, (s, j))
              e.stageIds.foreach(byStage.put(_, (s, j)))
              props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
                .map(_.toLong).foreach { id => s.execIds += id; byExec.put(id, s) }
            }
          }
        }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byJob.get(e.jobId)).foreach { case (s, j) => s.synchronized(j.end = e.time) }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(byStage.get(e.stageInfo.stageId)).foreach { case (s, _) =>
        s.synchronized {
          s.stages += 1
          Option(e.stageInfo.taskMetrics).foreach { m =>
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.input += m.inputMetrics.bytesRead
          }
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { case (s, j) => s.synchronized(j.tasks += 1) }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(byExec.get(end.executionId)).foreach { s =>
          s.synchronized(s.planningMs += shims.planningMs(end))
        }
      case _ =>
    }
  }
}
