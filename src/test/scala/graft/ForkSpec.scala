package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IndexStore

/** Collection fork (chroma `collection.fork`): independent copies,
  * byte-level isolation, sidecars included. */
class ForkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val d = "/root/testdata/sf0.001"

  /** md5 of every regular file under `root`, keyed by relative path —
    * the byte-identity fingerprint of a layout. */
  private def fingerprint(root: String): Map[String, String] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try
      walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map { p: Path =>
          val rel = base.relativize(p).toString
          val md = MessageDigest.getInstance("MD5")
          rel -> md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }.toMap
    finally walk.close()
  }

  private def rmIfExists(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  test("fork copies the whole layout incl. sidecars; mutating the fork " +
       "leaves the original byte-identical") {
    val orig = s"${Sessions.workDir}/test_fork_orig"
    val fork = s"${Sessions.workDir}/test_fork_copy"
    rmIfExists(orig); rmIfExists(fork)
    val docs = Tables.documents(spark, d).limit(40)
    IndexStore.buildIvf(spark, docs, orig, nCells = 4)
    val before = fingerprint(orig)
    IndexStore.forkCollection(spark, orig, fork)
    // the trained quantizer sidecar rides along — the fork serves
    // searches immediately
    assert(Files.exists(Paths.get(s"$fork/_centroids")))
    val r = IndexStore.searchTopKIvf(spark, fork, "alpha", k = 3,
      probes = 2, overfetch = 8).collect()
    assert(r.length == 3)
    // delete half the docs from the FORK only
    val doomed = spark.read.parquet(fork)
      .filter(col("doc_id") % 2 === 0)
      .select("chunk_id").collect().map(_.getString(0)).toSeq
    // the wrong-family verb fails loudly instead of corrupting the
    // cell-partitioned layout with source= directories
    intercept[IllegalArgumentException] {
      IndexStore.deleteIds(spark, fork, doomed)
    }
    IndexStore.deleteIdsIvf(spark, fork, doomed)
    assert(spark.read.parquet(fork)
      .filter(col("doc_id") % 2 === 0).count() == 0,
      "fork must drop the deleted docs")
    assert(fingerprint(orig) == before,
      "the original layout must be byte-identical after mutating the fork")
    assert(spark.read.parquet(orig)
      .filter(col("doc_id") % 2 === 0).count() > 0,
      "the original keeps the rows the fork deleted")
  }

  /** Inode of every regular file under `root`, keyed by relative
    * path — equal inodes mean the bytes are physically shared. */
  private def inodes(root: String): Map[String, Long] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try
      walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map { p: Path =>
          base.relativize(p).toString ->
            Files.getAttribute(p, "unix:ino").asInstanceOf[Long]
        }.toMap
    finally walk.close()
  }

  test("on a local fs the fork HARDLINKS the files (no data-byte copy); " +
       "a fork-side rewrite un-shares only the touched partitions") {
    val orig = s"${Sessions.workDir}/test_fork_ln_orig"
    val fork = s"${Sessions.workDir}/test_fork_ln_copy"
    rmIfExists(orig); rmIfExists(fork)
    val docs = Tables.documents(spark, d).limit(40)
    IndexStore.build(spark, docs, orig)
    val before = fingerprint(orig)
    IndexStore.forkCollection(spark, orig, fork)
    val oi = inodes(orig)
    val fi = inodes(fork)
    assert(fi.keySet == oi.keySet, "fork must mirror the full tree")
    // every file — data, sidecars, checksums — shares its inode with
    // the source: the fork moved zero data bytes
    fi.foreach { case (rel, ino) =>
      assert(ino == oi(rel), s"$rel must be hardlinked, not copied")
    }
    // mutate ONE source partition in the fork; its files un-share,
    // every untouched partition keeps the shared inode
    val sources = spark.read.parquet(fork).select("source").distinct()
      .collect().map(_.getString(0)).sorted
    assert(sources.length >= 2, s"fixture needs >=2 source partitions: ${sources.toSeq}")
    val victim = sources.head
    val doomed = spark.read.parquet(fork)
      .filter(col("source") === victim).limit(1)
      .select("chunk_id").collect().map(_.getString(0)).toSeq
    IndexStore.deleteIds(spark, fork, doomed)
    val fi2 = inodes(fork)
    fi2.foreach { case (rel, ino) =>
      if (rel.startsWith(s"source=$victim/"))
        assert(!oi.values.exists(_ == ino),
          s"rewritten $rel must not share an inode with the source layout")
      else if (oi.contains(rel))
        assert(ino == oi(rel), s"untouched $rel must keep its shared inode")
    }
    // and the original is still byte-identical
    assert(fingerprint(orig) == before)
  }

  test("fork refuses a missing source or an existing destination") {
    val orig = s"${Sessions.workDir}/test_fork_orig" // exists from the test above
    intercept[IllegalArgumentException] {
      IndexStore.forkCollection(spark, s"${Sessions.workDir}/no_such_coll",
        s"${Sessions.workDir}/test_fork_x")
    }
    intercept[IllegalArgumentException] {
      IndexStore.forkCollection(spark, orig, orig)
    }
  }
}
