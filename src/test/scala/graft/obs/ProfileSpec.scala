package graft.obs

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.broadcast
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LexicalStore, QueryParser}

/** Tasks run in this JVM under local mode, so a task can signal the
  * test through a latch of a top-level object. */
object ProfileSpecLatch {
  @volatile var running = new CountDownLatch(1)
}

/** [[Profile.of]] counts exactly the jobs its body runs, on any thread
  * the body hands work to, and nothing else; its times add up; and it
  * keeps no state once a profile closed. */
class ProfileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def assertConsistent(p: Profile): Unit = {
    assert(math.abs(p.driverMs + p.jobMs - p.wallMs) <= 1.0, p)
    assert(Seq(p.wallMs, p.jobMs, p.driverMs).forall(_ >= 0), p)
    assert(Seq(p.planningMs, p.jobs.toLong, p.stages.toLong, p.tasks, p.shuffleReadBytes,
      p.shuffleWriteBytes, p.inputBytes).forall(_ >= 0), p)
    assert(p.jobList.size == p.jobs && p.jobList.map(_.tasks).sum == p.tasks, p)
    assert(p.jobList.forall(j => j.tasks >= 0 && j.ms >= 0), p)
  }

  test("a broadcast join's collect counts its broadcast job and its result job") {
    // the broadcast side's collect runs on Spark's broadcast pool; a
    // fresh DataFrame, since a re-run one reuses its broadcast
    def df = spark.range(0, 1000, 1, 4).join(broadcast(spark.range(0, 10, 1, 2)), "id")
    df.collect()
    val (rows, p) = Profile.of(spark, "join")(df.collect())
    assert(rows.length == 10)
    assert(p.jobs == 2 && p.stages == 2 && p.tasks == 6, p)
    assert(p.planningMs >= 0 && p.wallMs > 0, p)
    assertConsistent(p)
  }

  test("a job another thread runs during the body is not counted") {
    ProfileSpecLatch.running = new CountDownLatch(1)
    val go = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await()
      spark.sparkContext.parallelize(0 until 2, 2).foreach { _ =>
        ProfileSpecLatch.running.countDown()
        Thread.sleep(300)
      }
    })
    other.start()
    val (_, p) = Profile.of(spark, "own") {
      go.countDown()
      ProfileSpecLatch.running.await()
      spark.range(0, 10, 1, 3).collect()
    }
    other.join()
    assert(p.jobs == 1 && p.tasks == 3, p)
    assertConsistent(p)
  }

  test("a nested profile takes its own jobs and restores the enclosing one") {
    val (inner, outer) = Profile.of(spark, "outer") {
      spark.range(0, 10, 1, 2).collect()
      val (_, in) = Profile.of(spark, "inner")(spark.range(0, 10, 1, 3).collect())
      spark.range(0, 10, 1, 1).collect()
      in
    }
    assert(inner.jobs == 1 && inner.tasks == 3, inner)
    assert(outer.jobs == 2 && outer.tasks == 3, outer)
    Seq(inner, outer).foreach(assertConsistent)
    val (_, idle) = Profile.of(spark, "idle")(Thread.sleep(20))
    assert(idle.jobs == 0 && idle.jobMs == 0 && idle.driverMs >= 20, idle)
    assertConsistent(idle)
  }

  test("the listener holds no state once 1,000 profiles closed, failed ones included") {
    val sc = spark.sparkContext
    (1 to 1000).foreach { i =>
      // every tenth body runs a job, every hundredth one fails
      val jobs = if (i % 10 == 0) 1 else 0
      def body(): Unit = if (jobs == 1) sc.parallelize(Seq(1), 1).count()
      if (i % 100 == 0)
        intercept[IllegalStateException](Profile.of(spark, "fails") {
          body()
          throw new IllegalStateException("body failed")
        })
      else assert(Profile.of(spark, "tiny")(body())._2.jobs == jobs)
    }
    assert(Profile.heldEntries == 0)
  }

  test("prep-pool jobs carry the properties of the call that submitted them") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("profile-spec").toString + "/body"
    LexicalStore.build(spark, Seq((1L, "alpha beta gamma"), (2L, "alpha gamma delta"),
      (3L, "beta better betting"), (4L, "gamma gambit alpaca"), (5L, "delta alpha bet"))
      .toDF("doc_id", "text"), path)
    // two prefix clauses and a fuzzy one: three dictionary expansions
    val q = QueryParser.parse("+alpha bet* gam* alpah~2")
    def search(): Unit =
      LexicalStore.searchParsed(spark, q, Map("body" -> path), "body").collect()
    search()
    // reference: on a prep thread every clause runs inline, so the
    // whole search runs on the profiling thread
    val inline = LexicalStore.awaitInOrder(Seq(
      () => Profile.of(spark, "inline")(search())._2.jobs, () => 0)).head
    assert(inline > 0)
    // the enclosing profile's marker is a local property like a job
    // group: a pool thread created during the first call would keep it
    val (later, first) = Profile.of(spark, "first") {
      search()
      Seq.fill(2)(Profile.of(spark, "later")(search())._2.jobs)
    }
    assert((first.jobs +: later) == Seq.fill(3)(inline), first)
  }
}
