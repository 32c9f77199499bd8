package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Embed
import graft.sources.IndexStore

/** Differential checks of the shared search pipeline (probe ->
  * candidates -> pre-rank -> rerank-and-present): a family whose
  * approximation is switched off (every cell probed, an overfetch cut
  * wider than the corpus) must return exactly the exact search's page,
  * a batch must return each query's single-search page, and every text
  * form must equal `Embed.embed` followed by its vector form. */
class SearchPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "sheet", "range",
    "column", "formula", "pivot", "chart", "macro", "filter", "index", "vector")
  private val nDocs = 60
  private val nCells = 4

  /** Seeded scalacheck texts over the corpus vocabulary. */
  private def texts(n: Int, seed: Long): Seq[String] = {
    val g = Gen.listOfN(4, Gen.oneOf(vocab)).map(_.mkString(" "))
    (0 until n).map(i => g(Gen.Parameters.default, Seed(seed + i)).get)
  }

  private lazy val root =
    java.nio.file.Files.createTempDirectory("search-pipeline-spec").toString

  private lazy val layouts: Map[String, String] = {
    import spark.implicits._
    val docs = texts(nDocs, 7L).zipWithIndex
      .map { case (t, i) => (i.toLong, t, s"sheet${i % 3}") }
      .toDF("doc_id", "text", "source")
    val ls = Seq("exact", "ivf", "pq", "hnsw", "bucketed").map(f => f -> s"$root/$f").toMap
    IndexStore.build(spark, docs, ls("exact"))
    IndexStore.buildIvf(spark, docs, ls("ivf"), nCells = nCells)
    IndexStore.buildIvfPq(spark, docs, ls("pq"), nCells = nCells)
    IndexStore.buildHnsw(spark, docs, ls("hnsw"))
    IndexStore.buildBucketed(spark, docs, ls("bucketed"))
    ls
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private val queries = texts(5, 1000L)
  private val where = Some(col("source") === "sheet1")

  test("with the approximation switched off, SQ8, IVF and IVF-PQ equal exact") {
    val l = layouts
    val noApprox: Seq[(String, (String, Option[org.apache.spark.sql.Column]) => DataFrame)] = Seq(
      "sq8" -> ((q, w) => IndexStore.searchTopKSq8(spark, l("exact"), q, k = 8,
        overfetch = nDocs, where = w, includeDistance = true)),
      "ivf" -> ((q, w) => IndexStore.searchTopKIvf(spark, l("ivf"), q, k = 8,
        probes = nCells, overfetch = nDocs, where = w, includeDistance = true)),
      "ivfpq" -> ((q, w) => IndexStore.searchTopKIvfPq(spark, l("pq"), q, k = 8,
        probes = nCells, overfetch = nDocs, where = w, includeDistance = true)))
    for (q <- queries; w <- Seq(None, where); (name, search) <- noApprox) {
      val exact = rows(IndexStore.searchTopK(spark, l("exact"), q, k = 8,
        where = w, includeDistance = true))
      assert(exact.nonEmpty)
      assert(rows(search(q, w)) == exact, s"$name vs exact for '$q' (where=$w)")
    }
  }

  test("searchTopKIvfPqBatch equals per-query searchTopKIvfPq") {
    val l = layouts
    val batch = queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }
    for (w <- Seq(None, where)) {
      val got = rows(IndexStore.searchTopKIvfPqBatch(spark, l("pq"), batch, k = 6,
        probes = 2, overfetch = 20, where = w))
      for ((qid, q) <- batch) {
        val single = rows(IndexStore.searchTopKIvfPq(spark, l("pq"), q, k = 6,
          probes = 2, overfetch = 20, where = w))
        val mine = got.filter(_.getLong(0) == qid).map(r => Row(r.toSeq.tail: _*))
        assert(mine == single, s"query $qid '$q' (where=$w)")
      }
    }
  }

  test("every single-query text form equals embed plus its vector form") {
    val l = layouts
    type Pair = (String => DataFrame, Array[Float] => DataFrame)
    val families: Seq[(String, Pair)] = Seq(
      "exact" -> ((q: String) => IndexStore.searchTopK(spark, l("exact"), q, k = 5),
        (v: Array[Float]) => IndexStore.searchTopKVec(spark, l("exact"), v, k = 5)),
      "lsh" -> ((q: String) => IndexStore.searchTopKAnn(spark, l("exact"), q, k = 5),
        (v: Array[Float]) => IndexStore.searchTopKAnnVec(spark, l("exact"), v, k = 5)),
      "sq8" -> ((q: String) => IndexStore.searchTopKSq8(spark, l("exact"), q, k = 5),
        (v: Array[Float]) => IndexStore.searchTopKSq8Vec(spark, l("exact"), v, k = 5)),
      "ivf" -> ((q: String) => IndexStore.searchTopKIvf(spark, l("ivf"), q, k = 5),
        (v: Array[Float]) => IndexStore.searchTopKIvfVec(spark, l("ivf"), v, k = 5)),
      "ivfpq" -> ((q: String) => IndexStore.searchTopKIvfPq(spark, l("pq"), q, k = 5),
        (v: Array[Float]) => IndexStore.searchTopKIvfPqVec(spark, l("pq"), v, k = 5)),
      "hnsw" -> ((q: String) => IndexStore.searchTopKHnsw(spark, l("hnsw"), q, k = 5),
        (v: Array[Float]) => IndexStore.searchTopKHnswVec(spark, l("hnsw"), v, k = 5)),
      "bucketed" -> ((q: String) => IndexStore.searchTopKAnnPartitioned(spark,
          l("bucketed"), q, k = 5),
        (v: Array[Float]) => IndexStore.searchTopKAnnPartitionedVec(spark,
          l("bucketed"), v, k = 5)),
      "explainIvf" -> ((q: String) => IndexStore.explainSearchIvf(spark, l("ivf"), q, k = 5),
        (v: Array[Float]) => IndexStore.explainSearchIvfVec(spark, l("ivf"), v, k = 5)),
      "explainIvfPq" -> ((q: String) => IndexStore.explainSearchIvfPq(spark, l("pq"), q, k = 5),
        (v: Array[Float]) => IndexStore.explainSearchIvfPqVec(spark, l("pq"), v, k = 5)))
    for (q <- queries; (name, (text, vec)) <- families) {
      val t = rows(text(q))
      assert(t.nonEmpty, s"$name returned nothing for '$q'")
      assert(t == rows(vec(Embed.embed(q, Embed.DefaultDim))), s"$name for '$q'")
    }
  }
}
