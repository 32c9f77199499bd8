package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the retrieval-evaluation family: q194's graded nDCG@k
  * (q174's MRR is rank-only and pinned by its oracle; nDCG adds the
  * graded-relevance and integer-discount assembly worth a hand-check).
  */
class EvalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def w = operators.VectorSearch.ndcgWeightsMicros(4)

  // d0/d1 share source A, d2/d3 share source B; unit-ish vectors with
  // unambiguous cosine orderings (one deliberate 0-cosine tie d0/d3
  // broken by doc_id).
  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "A", Seq(1f, 0f)),
      (1L, "A", Seq(0.8f, 0.6f)),
      (2L, "B", Seq(0f, 1f)),
      (3L, "B", Seq(-1f, 0f)))
      .toDF("doc_id", "source", "embedding")
  }

  test("ndcg discounts: w(1)=1e6 exactly, w(3)=5e5 exactly, strictly decreasing") {
    assert(w.head == 1000000L)
    assert(w(2) == 500000L) // 1e6 / log2(4) = 1e6 / 2
    assert(w.zip(w.tail).forall { case (a, b) => a > b })
  }

  test("evalNdcg: perfect, shifted and tail-hit rankings assemble the " +
      "exact integer DCG/IDCG/nDCG") {
    import spark.implicits._
    // q0: own vector => ranks d0,d1,d2,d3; self at 1, source-mate at 2
    // q1: d2's axis => ranks d2,d1,d0,d3; self at 2, source-mate at 3
    // q2: own vector => ranks d2,d1,d0,d3; self at 1, source-mate at 4
    val queries = Seq(
      (0L, Seq(1f, 0f)),
      (1L, Seq(0f, 1f)),
      (2L, Seq(0f, 1f)))
      .toDF("query_id", "qvec")
    val out = operators.VectorSearch.evalNdcg(docs, queries, 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // every source has 2 docs => n_rel = 1, ideal = [3, 1] => idcg
    val idcg = 3L * w(0) + w(1)
    assert(out.keySet == Set(0L, 1L, 2L))
    out.values.foreach { case (nRel, hits, _, idcgOut, _) =>
      assert(nRel == 1L && hits == 2L && idcgOut == idcg)
    }
    assert(out(0L)._3 == 3L * w(0) + w(1)) // perfect => dcg = idcg
    assert(out(0L)._5 == 1000000L)
    assert(out(1L)._3 == 3L * w(1) + w(2)) // self@2, mate@3
    assert(out(1L)._5 == 1000000L * (3L * w(1) + w(2)) / idcg)
    assert(out(2L)._3 == 3L * w(0) + w(3)) // self@1, mate@4 (tie-break)
    assert(out(2L)._5 == 1000000L * (3L * w(0) + w(3)) / idcg)
    // grading separates what binary MRR can't: q2 found its doc first
    // but its mate last — it must land strictly between q1 and q0
    assert(out(1L)._5 < out(2L)._5 && out(2L)._5 < out(0L)._5)
  }

  test("evalNdcg: a query whose prefix holds neither self nor mates scores 0") {
    import spark.implicits._
    // k=1: only rank 1 is scored; q3's top hit for the d1-axis probe
    // is d1 (cos 0.6·...), not itself => rel 0 at the only rank
    val queries = Seq((3L, Seq(0.8f, 0.6f))).toDF("query_id", "qvec")
    val out = operators.VectorSearch.evalNdcg(docs, queries, 1)
      .collect()
    assert(out.length == 1)
    assert(out.head.getLong(3) == 0L) // dcg
    assert(out.head.getLong(5) == 0L) // ndcg
  }
}
