package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedStore

/** The versioned store's contract: published segments are immutable
  * (snapshot isolation falls out), deletes rewrite only touched
  * segments, historical reads survive later verbs, and vacuum is the
  * only destructive verb and is fenced.
  */
class VersionedStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def freshPath(name: String): String = {
    val p = s"${Sessions.workDir}/test_versioned/$name"
    val root = Paths.get(p)
    if (Files.isDirectory(root))
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(q => Files.deleteIfExists(q))
    p
  }

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "grp")
  }

  private def segFiles(path: String, seg: String): Set[(String, Long)] = {
    val d = Paths.get(s"$path/data/$seg")
    Files.walk(d).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> Files.size(p)).toSet
  }

  test("published segments are byte-untouched by later verbs; old versions replay") {
    val p = freshPath("immutable")
    assert(VersionedStore.create(spark, df(1L -> "a", 2L -> "b"), p) == 1)
    val seg0Before = segFiles(p, "seg=0")
    assert(VersionedStore.append(spark, df(3L -> "a", 4L -> "c"), p) == 2)
    assert(VersionedStore.deleteWhere(spark, p, col("grp") === "a") == 3)
    assert(segFiles(p, "seg=0") == seg0Before,
      "append + delete must not rewrite a published segment")
    def ids(v: Int): Set[Long] =
      VersionedStore.readVersion(spark, p, Some(v))
        .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(1) == Set(1L, 2L), "v1 replays the original snapshot")
    assert(ids(2) == Set(1L, 2L, 3L, 4L))
    assert(ids(3) == Set(2L, 4L), "latest excludes the deleted group")
    assert(VersionedStore.readVersion(spark, p, None)
      .count() == 2, "default read is the latest version")
  }

  test("deleteWhere rewrites only segments containing doomed rows") {
    val p = freshPath("touch")
    VersionedStore.create(spark, df(1L -> "a", 2L -> "a"), p)
    VersionedStore.append(spark, df(3L -> "b", 4L -> "b"), p)
    VersionedStore.deleteWhere(spark, p, col("grp") === "b" && col("id") === 3L)
    // seg=0 (all 'a') holds no doomed rows: carried by REFERENCE into
    // v3; only the touched seg=1 was rewritten (as seg=2)
    val segs = Files.list(Paths.get(s"$p/data")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(segs == Set("seg=0", "seg=1", "seg=2"), s"segments: $segs")
    val v3 = VersionedStore.readVersion(spark, p, Some(3))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(v3 == Set(1L, 2L, 4L))
    // a no-match delete publishes a new version with the same segments
    val v4 = VersionedStore.deleteWhere(spark, p, col("grp") === "zzz")
    assert(v4 == 4)
    assert(VersionedStore.readVersion(spark, p, Some(4))
      .count() == 3)
  }

  test("vacuum removes only unreferenced segments, is fenced, and keeps the latest readable") {
    val p = freshPath("vacuum")
    VersionedStore.create(spark, df(1L -> "a"), p)
    VersionedStore.append(spark, df(2L -> "b"), p)
    VersionedStore.deleteWhere(spark, p, col("grp") === "a")
    intercept[IllegalArgumentException] { VersionedStore.vacuum(p, 0) }
    val removed = VersionedStore.vacuum(p, retainLast = 1)
    assert(removed == Seq("seg=0"),
      s"only the segment no retained manifest references goes: $removed")
    assert(VersionedStore.versions(p) == Seq(3), "expired manifests dropped")
    assert(VersionedStore.readVersion(spark, p, Some(3))
      .select("id").collect().map(_.getLong(0)).toSet == Set(2L))
    intercept[IllegalArgumentException] {
      VersionedStore.readVersion(spark, p, Some(1))
    }
  }

  test("zone maps prune proven-disjoint segments, fail OPEN without stats") {
    import spark.implicits._
    val p = freshPath("zonemap")
    val lowDf = Seq((1L, "a"), (5L, "b")).toDF("id", "grp")
    val hiDf = Seq((100L, "a"), (200L, "b")).toDF("id", "grp")
    VersionedStore.create(spark, lowDf, p)
    VersionedStore.writeZoneMap(spark, p, "seg=0", Seq("id"))
    VersionedStore.append(spark, hiDf, p) // deliberately NO zone map
    assert(VersionedStore.zoneMap(p, "seg=0") == Map("id" -> (1L, 5L)))
    assert(VersionedStore.zoneMap(p, "seg=1").isEmpty)
    // [90, 300]: seg=0 provably disjoint -> pruned; seg=1 has no stats
    // -> MUST be read (fail open)
    val (df, read, total) =
      VersionedStore.readRangePruned(spark, p, None, "id", 90L, 300L)
    assert((read, total) == (1, 2))
    assert(df.select("id").collect().map(_.getLong(0)).toSet == Set(100L, 200L))
    // a range covering nothing with stats everywhere prunes to zero
    // segments and yields an empty (not failing) frame
    VersionedStore.writeZoneMap(spark, p, "seg=1", Seq("id"))
    val (df2, read2, _) =
      VersionedStore.readRangePruned(spark, p, None, "id", 500L, 600L)
    assert(read2 == 0 && df2.count() == 0)
    // the row-level filter still applies inside surviving segments:
    // zone maps are a may-contain test, not the predicate
    val (df3, read3, _) =
      VersionedStore.readRangePruned(spark, p, None, "id", 2L, 3L)
    assert(read3 == 1 && df3.count() == 0,
      "seg=0 overlaps [2,3] by stats but holds no matching row")
  }

  test("appendBatch: a replayed transaction publishes nothing (exactly-once)") {
    val p = freshPath("txn")
    VersionedStore.create(spark, df(1L -> "a"), p)
    assert(VersionedStore.appendBatch(spark, df(2L -> "b"), p, "0") == 2)
    // the at-least-once replay: same txn id, same (or corrupt) payload
    // -> manifest unchanged, no new version, data not duplicated
    assert(VersionedStore.appendBatch(spark, df(2L -> "b"), p, "0") == 2)
    assert(VersionedStore.appendBatch(spark, df(99L -> "x"), p, "0") == 2,
      "a replay is identified by its txn id, not its payload")
    assert(VersionedStore.versions(p) == Seq(1, 2))
    assert(VersionedStore.readVersion(spark, p, None)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // a NEW txn id is a real append
    assert(VersionedStore.appendBatch(spark, df(3L -> "c"), p, "1") == 3)
    assert(VersionedStore.readVersion(spark, p, None).count() == 3)
  }

  test("compact merges to one segment, preserves data and union zone maps, keeps history") {
    val p = freshPath("compact")
    VersionedStore.create(spark, df(1L -> "a", 2L -> "a"), p)
    VersionedStore.writeZoneMap(spark, p, "seg=0", Seq("id"))
    VersionedStore.appendBatch(spark, df(10L -> "b"), p, "0")
    VersionedStore.writeZoneMap(spark, p, "seg=txn-0", Seq("id"))
    val before = VersionedStore.readVersion(spark, p, None)
      .select("id").collect().map(_.getLong(0)).toSet
    val v = VersionedStore.compact(spark, p)
    assert(v == 3)
    val after = VersionedStore.readVersion(spark, p, None)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(after == before, "compaction must not change the table")
    // one merged segment with the UNION zone map
    assert(VersionedStore.zoneMap(p, "seg=1") == Map("id" -> (1L, 10L)))
    val (_, read, total) =
      VersionedStore.readRangePruned(spark, p, None, "id", 100L, 200L)
    assert((read, total) == (0, 1), "merged stats still prune")
    // history survives compaction until vacuum
    assert(VersionedStore.readVersion(spark, p, Some(1)).count() == 2)
    // compacting a single-segment table is a no-op version-wise
    assert(VersionedStore.compact(spark, p) == 3)
  }

  test("rollback republishes history forward; evolved schemas merge on read") {
    import spark.implicits._
    val p = freshPath("rollback")
    VersionedStore.create(spark, df(1L -> "a"), p)
    // schema evolution: the second segment ADDS a column
    val wide = Seq((2L, "b", 0.5)).toDF("id", "grp", "score")
    VersionedStore.appendBatch(spark, wide, p, "0")
    val merged = VersionedStore.readVersion(spark, p, None)
    assert(merged.columns.toSet == Set("id", "grp", "score"))
    val scores = merged.orderBy("id").select("score").collect()
    assert(scores(0).isNullAt(0), "pre-evolution rows read the new column as null")
    assert(scores(1).getDouble(0) == 0.5)
    // rollback: version 3 = version 1's manifest, bad v2 kept in history
    assert(VersionedStore.rollback(spark, p, 1) == 3)
    assert(VersionedStore.readVersion(spark, p, None)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    assert(VersionedStore.readVersion(spark, p, Some(2)).count() == 2,
      "the rolled-back version remains readable for forensics")
    intercept[IllegalArgumentException] {
      VersionedStore.rollback(spark, p, 99)
    }
  }

  test("numeric-segment verbs keep working after rollback (names derive " +
      "from disk, not the republished manifest)") {
    val p = freshPath("rollback_append")
    VersionedStore.create(spark, df(1L -> "a"), p)          // v1: seg=0
    VersionedStore.append(spark, df(2L -> "b"), p)          // v2: seg=0,seg=1
    VersionedStore.rollback(spark, p, 1)                    // v3 = v1's manifest
    // seg=1 still exists on disk (held by v2's manifest); the next
    // append must NOT try to rewrite it
    VersionedStore.append(spark, df(3L -> "c"), p)          // v4
    assert(VersionedStore.readVersion(spark, p, None)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(VersionedStore.readVersion(spark, p, Some(2)).count() == 2,
      "v2 history intact")
  }

  test("deleteWhere retains rows where the predicate is NULL (SQL DELETE " +
      "semantics)") {
    import spark.implicits._
    val p = freshPath("null_delete")
    val rows = Seq((1L, "keep"), (2L, null), (3L, "drop"))
      .toDF("id", "grp")
    VersionedStore.create(spark, rows, p)
    VersionedStore.deleteWhere(spark, p, col("grp") === "drop")
    // row 2's predicate is NULL -> did not match -> must survive
    assert(VersionedStore.readVersion(spark, p, None)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("diffVersions: added, removed, CHANGED (delete+re-append same id) " +
      "and unchanged, per group") {
    val p = freshPath("diff")
    // v1: ids 1 (A), 2 (A), 3 (B)
    VersionedStore.create(spark, df(1L -> "A", 2L -> "A", 3L -> "B"), p)
    // v2: drop id 2 entirely and id 1 (to re-add it mutated)
    VersionedStore.deleteWhere(spark, p, col("id") <= 2)
    // v3: id 1 returns under a NEW group (the changed row) + id 4 appears
    VersionedStore.append(spark, df(1L -> "B", 4L -> "B"), p)
    val got = VersionedStore.diffVersions(spark, p, from = 1, to = 3,
        idCol = "id", groupCol = "grp")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // changed rows charge the TO-side group (coalesce(grp_b, grp_a));
    // id 2's removal charges its only group A; id 3 survives B intact
    assert(got == Map(
      "A" -> ((0L, 1L, 0L, 0L)),
      "B" -> ((1L, 0L, 1L, 1L))), got.toString)
    // identity diff: everything unchanged
    val self = VersionedStore.diffVersions(spark, p, 3, 3, "id", "grp")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(self.forall(_ == ((0L, 0L, 0L))))
  }

  test("diffVersions counts DOCUMENTS under duplicate ids and keeps " +
      "NULL columns in their hash slot") {
    import spark.implicits._
    val p = freshPath("diffdup")
    // v1 holds id 1 TWICE (identical rows) — appends don't enforce
    // id uniqueness; the diff must not double-count the survivor
    VersionedStore.create(spark, df(1L -> "A", 1L -> "A", 2L -> "A"), p)
    VersionedStore.deleteWhere(spark, p, col("id") === 2)
    val got = VersionedStore.diffVersions(spark, p, 1, 2, "id", "grp")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4))).toSeq
    assert(got == Seq(("A", 1L, 1L)), // one removal, ONE unchanged doc
      got.toString)
    // NULL keeps its slot: (NULL, "x") vs ("x", NULL) must CHANGE
    val p2 = freshPath("diffnull")
    val rows1 = Seq((1L, Option.empty[String], Option("x")))
      .toDF("id", "c1", "c2")
    val rows2 = Seq((1L, Option("x"), Option.empty[String]))
      .toDF("id", "c1", "c2")
    VersionedStore.create(spark, rows1.withColumn("grp", lit("G")), p2)
    VersionedStore.deleteWhere(spark, p2, lit(true))
    VersionedStore.append(spark, rows2.withColumn("grp", lit("G")), p2)
    val nulls = VersionedStore.diffVersions(spark, p2, 1, 3, "id", "grp")
      .collect().head
    assert(nulls.getLong(3) == 1L && nulls.getLong(4) == 0L,
      s"swapped NULL slots must report changed, got $nulls")
  }

  test("compact preserves schema-evolved columns (mergeSchema on the " +
      "multi-segment rewrite)") {
    import spark.implicits._
    val p = freshPath("compact_evolved")
    VersionedStore.create(spark, df(1L -> "a"), p)
    VersionedStore.append(spark,
      Seq((2L, "b", 0.5)).toDF("id", "grp", "score"), p)
    VersionedStore.compact(spark, p)
    val out = VersionedStore.readVersion(spark, p, None)
    assert(out.columns.toSet == Set("id", "grp", "score"),
      s"compaction dropped evolved columns: ${out.columns.toSeq}")
    assert(out.filter(col("score") === 0.5).count() == 1)
  }

  test("a racing writer to the same version number fails loudly instead " +
      "of silently replacing the winner's manifest") {
    val p = freshPath("race_commit")
    VersionedStore.create(spark, df(1L -> "a"), p)
    // the winner takes v2; the loser — who computed next=2 from a
    // stale listing — publishes the same number and must throw, with
    // the winner's bytes untouched
    VersionedStore.publishManifest(p, 2, Seq("seg=0"))
    val winner = Paths.get(p, "_versions", "v000002.txt")
    intercept[java.nio.file.FileAlreadyExistsException] {
      VersionedStore.publishManifest(p, 2, Seq("seg=0", "seg=evil"))
    }
    assert(Files.readString(winner) == "seg=0",
      "the winner's manifest must be untouched by the losing commit")
    assert(!Files.list(Paths.get(p, "_versions")).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".tmp")),
      "the loser must clean up its tmp file")
  }

  test("refreshSummary absorbs only new segments and merges exactly; destructive verbs fence it") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val p = freshPath("ivm")
    def rows(xs: (Long, String, Long)*) = xs.toDF("id", "grp", "v")
    VersionedStore.create(spark, rows((1L, "a", 10L), (2L, "b", 5L)), p)
    assert(VersionedStore.refreshSummary(spark, p, "grp", "v") == 1)
    VersionedStore.append(spark, rows((3L, "a", 7L)), p)
    // the incrementality meter: ONE new segment absorbed, not a rescan
    assert(VersionedStore.refreshSummary(spark, p, "grp", "v") == 1)
    // idempotent when nothing is new
    assert(VersionedStore.refreshSummary(spark, p, "grp", "v") == 0)
    val sum = VersionedStore.readSummary(spark, p)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(sum.toSeq == Seq(("a", 2L, 17L), ("b", 1L, 5L)))
    // a delete invalidates absorbed segments -> loud failure, no
    // silent double-count
    VersionedStore.deleteWhere(spark, p, col("grp") === "b")
    intercept[IllegalArgumentException] {
      VersionedStore.refreshSummary(spark, p, "grp", "v")
    }
  }
}
