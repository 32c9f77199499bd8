package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Embed
import graft.obs.Profile
import graft.sources.IndexStore

/** The serving floor of one vector search: a single search with a
  * pre-rank is one Spark job, a new query vector reuses the compiled
  * classes of its plan shape, and the in-plan pre-rank cut keeps the
  * batch form's order where compressed scores tie across its
  * boundary. */
class SingleSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val k = 8
  private val nCells = 4

  private lazy val root =
    java.nio.file.Files.createTempDirectory("single-search-spec").toString

  /** 12 distinct texts, 5 documents each: the copies share one vector,
    * so their SQ8 and ADC scores tie and any cut whose size is not a
    * multiple of 5 splits a tie group (ties go to the smaller
    * chunk_id). */
  private lazy val layouts: Map[String, String] = {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "sheet", "range",
      "column", "formula", "pivot", "chart", "macro", "filter")
    val texts = words.indices.map(i =>
      Seq.tabulate(4)(j => words((i + j * 5) % words.length)).mkString(" "))
    val docs = (0 until 60).map(i => (i.toLong, texts(i % texts.length), s"sheet${i % 3}"))
      .toDF("doc_id", "text", "source")
    val ls = Seq("exact", "ivf", "pq", "hnsw").map(f => f -> s"$root/$f").toMap
    IndexStore.build(spark, docs, ls("exact"))
    IndexStore.buildIvf(spark, docs, ls("ivf"), nCells = nCells)
    IndexStore.buildIvfPq(spark, docs, ls("pq"), nCells = nCells)
    IndexStore.buildHnsw(spark, docs, ls("hnsw"))
    ls
  }

  private def vec(q: String): Array[Float] = Embed.embed(q, Embed.DefaultDim)
  private val qa = vec("alpha sheet formula")
  private val qb = vec("pivot chart gamma range")
  private val where = Some(col("source") === "sheet1")

  private val singles: Seq[(String, (Array[Float], Option[Column]) => DataFrame)] = Seq(
    "exact" -> ((v, w) => IndexStore.searchTopKVec(spark, layouts("exact"), v, k, w)),
    "sq8" -> ((v, w) => IndexStore.searchTopKSq8Vec(spark, layouts("exact"), v, k, where = w)),
    "ivf" -> ((v, w) => IndexStore.searchTopKIvfVec(spark, layouts("ivf"), v, k, where = w)),
    "ivfpq" -> ((v, w) => IndexStore.searchTopKIvfPqVec(spark, layouts("pq"), v, k, where = w)))

  test("a single exact, SQ8, IVF or IVF-PQ search runs exactly one Spark job") {
    for ((name, search) <- singles; w <- Seq(None, where)) {
      search(qa, w).collect() // sidecar memos and layout resolution
      val n = Profile.of(spark, name)(search(qb, w).collect())._2.jobs
      assert(n == 1, s"$name (where=$w) ran $n jobs")
    }
  }

  /** Embeddings are unit vectors, so each test scales its two queries
    * to norms no other search here has (`scale` and `scale + 0.5`): a
    * norm inlined as a literal would then need a new class, even where
    * two layouts share a stage's code. */
  private def assertNoRecompile(name: String, scale: Float)(
      search: Array[Float] => DataFrame): Unit = {
    search(qa.map(_ * scale)).collect()
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    search(qb.map(_ * (scale + 0.5f))).collect()
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    assert(n == 0, s"$name compiled $n classes for a new query vector of a seen shape")
  }

  test("a new query vector reuses the compiled classes: exact") {
    assertNoRecompile("exact", 2f)(v => IndexStore.searchTopKVec(spark, layouts("exact"), v, k))
  }

  test("a new query vector reuses the compiled classes: IVF") {
    assertNoRecompile("ivf", 3f)(v => IndexStore.searchTopKIvfVec(spark, layouts("ivf"), v, k))
  }

  test("a new query vector reuses the compiled classes: IVF-PQ") {
    assertNoRecompile("ivfpq", 5f)(v =>
      IndexStore.searchTopKIvfPqVec(spark, layouts("pq"), v, k))
  }

  test("a new query vector reuses the compiled classes: HNSW") {
    assertNoRecompile("hnsw", 7f)(v =>
      IndexStore.searchTopKHnswVec(spark, layouts("hnsw"), v, k))
  }

  /** The single search's page equals the batch form's page for a batch
    * of one, projected onto the single page's columns the batch also
    * returns. */
  private def assertBatchOfOne(name: String, single: DataFrame, batch: DataFrame): Unit = {
    val shared = single.columns.filter(batch.columns.contains)
    assert(shared.contains("rank") && shared.contains("chunk_id"))
    val s = single.select(shared.map(col).toIndexedSeq: _*).collect().toSeq
    val b = batch.select(shared.map(col).toIndexedSeq: _*).collect().toSeq
    assert(s.nonEmpty)
    assert(s == b, s"$name: the single search and the batch of one differ")
  }

  test("IVF and IVF-PQ at the cut boundary: a single search equals its batch of one") {
    val l = layouts
    val cases = for (q <- Seq(qa, qb); w <- Seq(None, where); overfetch <- Seq(1, k, 1000))
      yield (q, w, overfetch, false, Seq.empty[String])
    val presented = for (w <- Seq(None, where); (dist, include) <- Seq((true, Nil),
           (false, Seq("documents", "metadatas", "distances"))))
      yield (qa, w, k, dist, include)
    for ((q, w, overfetch, dist, include) <- cases ++ presented) {
      val tag = s"overfetch=$overfetch where=$w includeDistance=$dist include=$include"
      assertBatchOfOne(s"ivf $tag",
        IndexStore.searchTopKIvfVec(spark, l("ivf"), q, k, overfetch = overfetch,
          where = w, includeDistance = dist, include = include),
        IndexStore.searchTopKIvfBatchVec(spark, l("ivf"), Seq(7L -> q), k,
          overfetch = overfetch, where = w))
      assertBatchOfOne(s"ivfpq $tag",
        IndexStore.searchTopKIvfPqVec(spark, l("pq"), q, k, overfetch = overfetch,
          where = w, includeDistance = dist, include = include),
        IndexStore.searchTopKIvfPqBatchVec(spark, l("pq"), Seq(7L -> q), k,
          overfetch = overfetch, where = w))
    }
  }

  test("IVF and IVF-PQ explain pages rank exactly the search's page") {
    val l = layouts
    def page(df: DataFrame): Seq[Row] = df.select("rank", "chunk_id").collect().toSeq
    for (q <- Seq(qa, qb); w <- Seq(None, where); overfetch <- Seq(1, k, 1000)) {
      val tag = s"overfetch=$overfetch where=$w"
      val ivf = page(IndexStore.searchTopKIvfVec(spark, l("ivf"), q, k,
        overfetch = overfetch, where = w))
      assert(ivf.nonEmpty)
      assert(page(IndexStore.explainSearchIvfVec(spark, l("ivf"), q, k,
        overfetch = overfetch, where = w)) == ivf, s"ivf $tag")
      assert(page(IndexStore.explainSearchIvfPqVec(spark, l("pq"), q, k,
        overfetch = overfetch, where = w)) ==
        page(IndexStore.searchTopKIvfPqVec(spark, l("pq"), q, k,
          overfetch = overfetch, where = w)), s"ivfpq $tag")
    }
  }
}
