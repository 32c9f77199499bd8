package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IndexStore

/** MMR diversity reranking: the greedy selection's conventions and
  * the search surface over a persisted layout. */
class MmrSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val d = "/root/testdata/sf0.001"

  // three near-duplicates of the top hit plus two distinct directions
  private val cands: Seq[(String, Long, Array[Float])] = Seq(
    ("a1", 990000L, Array(1f, 0f, 0f)),
    ("a2", 980000L, Array(0.999f, 0.01f, 0f)),
    ("a3", 970000L, Array(0.998f, 0.02f, 0f)),
    ("b1", 500000L, Array(0f, 1f, 0f)),
    ("c1", 400000L, Array(0f, 0f, 1f)))

  test("lambda=1 reduces to pure relevance order") {
    val sel = IndexStore.mmrSelect(cands, k = 3, lambdaMicros = 1000000L)
    assert(sel == Seq(("a1", 1), ("a2", 2), ("a3", 3)))
  }

  test("lambda=0.5 promotes diverse directions over near-duplicates") {
    val sel = IndexStore.mmrSelect(cands, k = 3, lambdaMicros = 500000L)
    assert(sel.head == ("a1", 1), "first pick is always the most relevant")
    assert(sel.map(_._1).toSet == Set("a1", "b1", "c1"),
      s"near-duplicates of a1 must lose to the orthogonal candidates: $sel")
  }

  test("k beyond the candidate count returns every candidate, ranked") {
    val sel = IndexStore.mmrSelect(cands, k = 99)
    assert(sel.length == cands.length && sel.map(_._2) == (1 to 5))
  }

  test("ties in the objective break to the smaller id") {
    val tied = Seq(
      ("x2", 900000L, Array(1f, 0f)),
      ("x1", 900000L, Array(1f, 0f)),
      ("y1", 100000L, Array(0f, 1f)))
    val sel = IndexStore.mmrSelect(tied, k = 2)
    assert(sel.head._1 == "x1", s"equal scores pick the smaller id: $sel")
  }

  test("searchTopKMmr over a persisted layout: k ranked rows, diversity-shifted") {
    val path = s"${Sessions.workDir}/test_mmr_idx"
    val docs = Tables.documents(spark, d).limit(60)
    IndexStore.build(spark, docs, path)
    val r = IndexStore.searchTopKMmr(spark, path, "alpha beta", k = 5,
      fetchK = 16).collect()
    assert(r.length == 5 && r.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4, 5))
    // rank 1 agrees with the pure-relevance search; the tail may differ
    val exact = IndexStore.searchTopK(spark, path, "alpha beta", k = 5).collect()
    assert(r.head.getAs[String]("chunk_id") == exact.head.getAs[String]("chunk_id"))
    // lambda=1 degenerates to the exact order over the same fetch set
    val rel = IndexStore.searchTopKMmr(spark, path, "alpha beta", k = 5,
      fetchK = 16, lambdaMicros = 1000000L).collect()
    assert(rel.map(_.getAs[String]("chunk_id")).toSeq ==
      exact.map(_.getAs[String]("chunk_id")).toSeq)
  }

  test("mmrSelect tolerates duplicate candidate ids (multi-row layouts)") {
    val v = Array(1f, 0f)
    val dup = Seq(("a", 900000L, v), ("a", 900000L, v),
      ("b", 100000L, Array(0f, 1f)))
    // k beyond the DISTINCT count must not argmax an empty remainder
    val sel = IndexStore.mmrSelect(dup, k = 3)
    assert(sel == Seq(("a", 1), ("b", 2)))
  }

  test("searchTopKMmr on a one-row-per-(table,chunk) bucketed layout " +
       "returns each chunk once") {
    val path = s"${Sessions.workDir}/test_mmr_bucketed"
    val docs = Tables.documents(spark, d).limit(30)
    IndexStore.buildBucketed(spark, docs, path)
    val r = IndexStore.searchTopKMmr(spark, path, "alpha beta", k = 5,
      fetchK = 16).collect()
    assert(r.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4, 5))
    assert(r.map(_.getAs[String]("chunk_id")).distinct.length == 5,
      "the per-LSH-table row duplication must not reach the result")
  }

  test("searchTopKMmrBatch: each query's rows reproduce the single-query " +
       "selection; IVF batch with all-cells probing equals the exact batch") {
    val path = s"${Sessions.workDir}/test_mmr_batch_idx"
    val docs = Tables.documents(spark, d).limit(60)
    IndexStore.buildIvf(spark, docs, path, nCells = 4)
    val queries = Seq(0L -> "alpha beta", 1L -> "gamma delta shuffle")
    val batch = IndexStore.searchTopKMmrBatch(spark, path, queries, k = 5,
      fetchK = 16).collect()
    assert(batch.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"))).toSeq ==
      queries.flatMap { case (qid, _) => (1 to 5).map(qid -> _) })
    queries.foreach { case (qid, text) =>
      val single = IndexStore.searchTopKMmr(spark, path, text, k = 5,
        fetchK = 16).collect().map(_.getAs[String]("chunk_id")).toSeq
      val mine = batch.filter(_.getAs[Long]("query_id") == qid)
        .map(_.getAs[String]("chunk_id")).toSeq
      assert(mine == single, s"batch query $qid must equal the single form")
    }
    val ivfBatch = IndexStore.searchTopKMmrIvfBatch(spark, path, queries,
      k = 5, fetchK = 16, probes = 4).collect()
    assert(ivfBatch.map(r => (r.getAs[Long]("query_id"),
        r.getAs[String]("chunk_id"))).toSeq ==
      batch.map(r => (r.getAs[Long]("query_id"),
        r.getAs[String]("chunk_id"))).toSeq,
      "probing every cell must reproduce the exact batch MMR")
    val probed = IndexStore.searchTopKMmrIvfBatch(spark, path, queries,
      k = 5, fetchK = 16, probes = 2).collect()
    assert(probed.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"))).toSeq ==
      queries.flatMap { case (qid, _) => (1 to 5).map(qid -> _) })
  }

  test("searchTopKMmrIvf: probe-pruned fetch; all-cells probing equals full scan") {
    val path = s"${Sessions.workDir}/test_mmr_ivf_idx"
    val docs = Tables.documents(spark, d).limit(60)
    IndexStore.buildIvf(spark, docs, path, nCells = 4)
    val full = IndexStore.searchTopKMmr(spark, path, "alpha beta", k = 5,
      fetchK = 16).collect()
    val allCells = IndexStore.searchTopKMmrIvf(spark, path, "alpha beta", k = 5,
      fetchK = 16, probes = 4).collect()
    assert(full.map(_.getAs[String]("chunk_id")).toSeq ==
      allCells.map(_.getAs[String]("chunk_id")).toSeq,
      "probing every cell must reproduce the full-scan MMR exactly")
    val probed = IndexStore.searchTopKMmrIvf(spark, path, "alpha beta", k = 5,
      fetchK = 16, probes = 2).collect()
    assert(probed.length == 5 &&
      probed.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4, 5))
  }
}
