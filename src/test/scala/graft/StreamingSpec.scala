package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics the bounded complete-mode oracles (q80/q81)
  * cannot exercise: append-mode window finalization driven by the
  * watermark, and late-data drop.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermark finalizes windows in append mode and drops late rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val agg = ms.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("start"), col("k"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test").start()
    try {
      // two rows in window [10:00, 10:10)
      ms.addData((ts("2024-01-01 10:01:00"), "a"), (ts("2024-01-01 10:06:00"), "a"))
      q.processAllAvailable()
      // nothing emitted yet: watermark (10:06 - 10m) hasn't passed 10:10
      assert(spark.table("wm_test").count() == 0)
      // an 11:00 row pushes the watermark to 10:50 => first window final
      ms.addData((ts("2024-01-01 11:00:00"), "a"))
      q.processAllAvailable()
      val emitted = spark.table("wm_test").collect()
      assert(emitted.length == 1)
      assert(emitted.head.getAs[Long]("n") == 2)
      // a very late row (9:00, far below the watermark) must be dropped
      ms.addData((ts("2024-01-01 09:00:00"), "a"))
      // and another advance to flush anything it might have created
      ms.addData((ts("2024-01-01 12:00:00"), "a"))
      q.processAllAvailable()
      val after = spark.table("wm_test").collect()
      assert(!after.exists(_.getAs[Timestamp]("start") == ts("2024-01-01 09:00:00")),
        "late row below the watermark must not produce a window")
    } finally q.stop()
  }

  test("session windows merge across micro-batches and finalize via watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long)]
    val agg = ms.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("start"), col("w.end").as("end"),
        col("user_id"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_test").start()
    try {
      // batch 1: two events 20 min apart -> one open session [10:00, 10:50)
      ms.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:20:00"), 1L))
      q.processAllAvailable()
      assert(spark.table("sess_test").count() == 0, "session still open")
      // batch 2: an event at 10:40 EXTENDS the same session (gap < 30m
      // from 10:20) — state from batch 1 must merge, not restart
      ms.addData((ts("2024-01-01 10:40:00"), 1L))
      q.processAllAvailable()
      assert(spark.table("sess_test").count() == 0, "merged session still open")
      // batch 3: 13:00 pushes the watermark past 11:10 -> session final
      ms.addData((ts("2024-01-01 13:00:00"), 2L))
      q.processAllAvailable()
      val done = spark.table("sess_test").collect()
      assert(done.length == 1)
      val r = done.head
      assert(r.getAs[Long]("user_id") == 1L)
      assert(r.getAs[Long]("n") == 3L, "all three events in ONE merged session")
      assert(r.getAs[Timestamp]("start") == ts("2024-01-01 10:00:00"))
      assert(r.getAs[Timestamp]("end") == ts("2024-01-01 11:10:00"),
        "session closes 30m after the last event")
    } finally q.stop()
  }

  test("streaming dropDuplicates removes redelivered events across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, String)]
    val agg = ms.toDF().toDF("event_id", "ts", "k")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("dedup_test").start()
    try {
      ms.addData((1L, ts("2024-01-01 10:00:00"), "a"), (2L, ts("2024-01-01 10:01:00"), "a"))
      q.processAllAvailable()
      // batch 2 redelivers event 1 (at-least-once upstream) + a new one
      ms.addData((1L, ts("2024-01-01 10:00:00"), "a"), (3L, ts("2024-01-01 10:02:00"), "b"))
      q.processAllAvailable()
      val rows = spark.table("dedup_test").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("a" -> 2L, "b" -> 1L), s"redelivery must not double-count: $rows")
    } finally q.stop()
  }

  test("maxFilesPerTrigger is a SOURCE option: one inbox file per micro-batch") {
    // guards the q113 regression class: placed on the writeStream the
    // option is silently ignored and every staged file collapses into
    // one batch — the multi-round incremental maintenance path never runs
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_mfpt")
    val inbox = tmp.resolve("inbox").toString
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.mode("append").parquet(inbox)
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.mode("append").parquet(inbox)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inbox)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (b.count() > 0) batches.incrementAndGet(); ()
      }
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.get() == 2,
      s"two staged files must stream as two micro-batches, saw ${batches.get()}")
  }

  test("row-wise dsir scorer equals the batch join scorer doc-for-doc") {
    import spark.implicits._
    import graft.operators.Corpus
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val isTarget = col("lang") === "en"
    val weights = Corpus.dsirWeightArray(docs, "text", isTarget)
    val batch = Corpus.dsirScores(docs, "text", isTarget)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rowwise = Corpus.dsirScoreRowwise(docs, "text", weights, "doc_id")
      .filter(col("n_grams") > 0)
      .collect().map(r => (r.getLong(0), (r.getInt(1).toLong, r.getLong(2))))
      .toMap
    assert(rowwise == batch,
      "the streaming scorer must reproduce the batch join score exactly")
    // a bucket the training corpus never hit carries the smoothing
    // floor (0+1)*1e6/(0+1) in the dense array — dsirWeights' closed
    // form for a 0-count bucket. (A merely-unseen GRAM usually hashes
    // into an occupied bucket and takes that bucket's trained weight
    // — that is DSIR's hashing semantics, not a fallback case.)
    val tinyW = Corpus.dsirWeightArray(
      Seq((0L, "onlyword", true)).toDF("doc_id", "text", "t"),
      "text", col("t"))
    val a = Corpus.dsirScoreRowwise(
        Seq((0L, "five brand new gram words")).toDF("doc_id", "text"),
        "text", tinyW, "doc_id")
      .collect().head
    // the one trained bucket also weighs (1+1)*1e6/(1+1) = 1e6, so
    // every gram scores exactly the floor
    assert(a.getInt(1) == 9 && a.getLong(2) == 9 * 1000000L,
      s"untrained buckets must score the 1e6 floor each: ${a.getLong(2)}")
  }

  test("replayed upsert micro-batch is a no-op: same identities, same inventory") {
    // the q113 foreachBatch sink's safety argument under at-least-once
    // delivery: re-upserting a wave that already applied must leave
    // the layout's row algebra unchanged (identity = (source, doc_id))
    import spark.implicits._
    import graft.sources.IndexStore
    val dir = s"${Sessions.workDir}/test_stream_replay_idx"
    val docs = (0L until 30L).map(i =>
        (i, s"stream replay document number $i body text", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    IndexStore.buildIvf(spark, docs, dir, nCells = 4, lloydIters = 1)
    val wave = (0L until 30L by 5L).map(i =>
        (i, s"revised stream document $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    def inventory(): Map[String, (Long, Long, Long)] =
      spark.read.parquet(dir).groupBy("source")
        .agg(count(lit(1)), countDistinct(col("doc_id")),
          sum(length(col("chunk"))).cast("long"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    IndexStore.upsertIvf(spark, wave, dir)
    val first = inventory()
    IndexStore.upsertIvf(spark, wave, dir) // the replay
    assert(inventory() == first,
      "replaying an applied upsert wave must not change the inventory")
    // and the revision actually took: no stale original chunk text
    val texts = spark.read.parquet(dir).filter(col("doc_id") === 0L)
      .select("chunk").collect().map(_.getString(0))
    assert(texts.toSeq == Seq("revised stream document 0"), texts.toSeq.toString)
  }

  test("q214: streamed segment ingestion is deterministic across " +
      "full re-streams and really appends per micro-batch") {
    val d = "/root/testdata/sf0.001"
    // the UNMEMOIZED lifecycle, deliberately: the gate memoizes per
    // session (the q151 convention), so the determinism claim the
    // memo leans on must be pinned against two REAL re-streams
    val first = graft.streaming.Streams.q214Lifecycle(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(first.nonEmpty)
    // two staged files under maxFilesPerTrigger=1 => two segments
    assert(first.head.last == 2,
      s"expected exactly 2 streamed segments, got ${first.head.last}")
    // the lifecycle wipes and re-streams from scratch per invocation:
    // a second full run must land byte-identical ranks (the merged
    // scoring is arrival-order-free — the q157 theorem, exercised
    // through the actual stream)
    val second = graft.streaming.Streams.q214Lifecycle(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(first == second)
  }

  test("q83 leaves the session's partition overwrite mode as it found it") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    val rows = SparkEntry.queries("q83_incremental_index")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    assert(spark.conf.get(key) == before)
  }
}
