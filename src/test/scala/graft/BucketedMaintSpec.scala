package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IndexStore

/** Maintenance verbs on the bucket-partitioned LSH layout — the
  * multi-row-per-chunk case (one row per LSH table), where a delete
  * that misses any bucket resurrects the chunk in that bucket's
  * probes. */
class BucketedMaintSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val d = "/root/testdata/sf0.001"
  private val path = s"${Sessions.workDir}/test_bucketed_maint"

  test("deleteIdsBucketed removes every bucket row of the chunk; " +
       "upsertBucketed replaces all old rows with the revision's") {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = Tables.documents(spark, d).filter(col("doc_id") < 40)
    IndexStore.buildBucketed(spark, docs, path)
    val layout = spark.read.parquet(path)
    val doomed = layout.filter(col("doc_id") === 3)
      .select("chunk_id").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(layout.filter(col("doc_id") === 3).count() >= doomed.size,
      "a chunk appears once per LSH table")
    IndexStore.deleteIdsBucketed(spark, path, doomed)
    assert(spark.read.parquet(path).filter(col("doc_id") === 3).count() == 0,
      "no bucket may keep a row of the deleted chunk")
    // search still serves
    assert(IndexStore.searchTopKAnnPartitioned(spark, path, "alpha", k = 3,
      multiprobe = true).collect().length <= 3)
    // upsert: revise doc 5 to one short chunk; all old rows die
    val before5 = spark.read.parquet(path).filter(col("doc_id") === 5).count()
    assert(before5 > 0)
    IndexStore.upsertBucketed(spark,
      Tables.documents(spark, d).filter(col("doc_id") === 5)
        .withColumn("text", lit("revised short text")), path)
    val after = spark.read.parquet(path).filter(col("doc_id") === 5)
    assert(after.filter(not(col("chunk").startsWith("revised"))).count() == 0,
      "no stale pre-revision row may survive in any bucket")
    assert(after.count() > 0, "the revision's bucket rows are present")
    // the wrong-family guard composes here too
    intercept[IllegalArgumentException] {
      IndexStore.deleteIds(spark, path, Seq("whatever"))
    }
    // a missing layout path is a legitimate no-op delete, not a
    // wrong-verb error (and never a FileNotFoundException)
    IndexStore.deleteIds(spark, path + "_nonexistent", Seq("whatever"))
  }
}
