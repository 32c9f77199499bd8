package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Embed
import graft.sources.{IndexStore, LexicalStore}

/** Differential checks of the shared search pipeline (probe ->
  * candidates -> pre-rank -> rerank-and-present): a family whose
  * approximation is switched off (every cell probed, an overfetch cut
  * wider than the corpus) must return exactly the exact search's page,
  * a batch must return each query's single-search page, and every text
  * form must equal `Embed.embed` followed by its vector form. The
  * lexical pipeline (postings -> BM25 -> rank) is held to the same
  * equalities: a segmented layout scores like one build of its union,
  * a batch like its single queries, and no read verb ever returns a
  * tombstoned document. */
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

  // ---- lexical layouts -------------------------------------------------

  private def lexDocs(ds: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    ds.toDF("doc_id", "text")
  }

  private def corpus(n: Int, seed: Long): Seq[(Long, String)] =
    texts(n, seed).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("searchTopKSegmented over appended segments equals searchTopKLexical over one build") {
    for (nSegs <- Seq(2, 3); analyzer <- Seq("raw", "english")) {
      val seed = 20L + nSegs
      val docs = corpus(nDocs, seed)
      // seeded cut points: segments of unequal, non-empty sizes
      val cuts = Gen.pick(nSegs - 1, 1 until nDocs)(Gen.Parameters.default, Seed(seed))
        .get.toSeq.sorted
      val bounds = (0 +: cuts) :+ nDocs
      val (seg, one) = (s"$root/seg-$nSegs-$analyzer", s"$root/one-$nSegs-$analyzer")
      for (Seq(lo, hi) <- bounds.sliding(2))
        LexicalStore.appendLexicalSegment(spark, lexDocs(docs.slice(lo, hi)), seg,
          analyzer = analyzer)
      LexicalStore.build(spark, lexDocs(docs), one, analyzer = analyzer)
      for (q <- queries) {
        val terms = q.split(' ').toSeq
        val got = rows(LexicalStore.searchTopKSegmented(spark, seg, terms, k = 12)
          .select("doc_id", "lex_rank", "lex_micros"))
        val want = rows(LexicalStore.searchTopKLexical(spark, one, terms, k = 12))
        assert(want.nonEmpty)
        assert(got == want, s"$nSegs segments, $analyzer, '$q'")
      }
    }
  }

  test("searchTopKLexicalBatch equals per-query searchTopKLexical on a tombstoned layout") {
    import spark.implicits._
    val docs = corpus(nDocs, 40L)
    val path = s"$root/lex-batch"
    LexicalStore.build(spark, lexDocs(docs), path, analyzer = "folded")
    val ids = docs.map(_._1)
    LexicalStore.deleteLexical(spark, path,
      Gen.pick(8, ids)(Gen.Parameters.default, Seed(41L)).get.toSeq)
    val allow = ids.filter(_ % 3 != 0).toDF("doc_id")
    val batch = queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }
    val filters = Seq("where" -> (Some(col("doc_id") % 2 === 0), None),
      "allow" -> (None, Some(allow)))
    for ((name, (w, a)) <- filters) {
      val got = rows(LexicalStore.searchTopKLexicalBatch(spark, path, batch, k = 6,
        where = w, allow = a))
      for ((qid, q) <- batch) {
        val single = rows(LexicalStore.searchTopKLexical(spark, path, q.split(' ').toSeq,
          k = 6, where = w, allow = a)).sortBy(_.getInt(1))
        val mine = got.filter(_.getLong(0) == qid).map(r => Row(r.toSeq.tail: _*))
          .sortBy(_.getInt(1))
        assert(single.nonEmpty)
        assert(mine == single, s"query $qid '$q' ($name)")
      }
    }
  }

  test("no lexical read verb returns a document deleted with deleteLexical") {
    import spark.implicits._
    // three strong matches for every query below; the first two are deleted
    val targets = Seq(900L -> "alpha beta gamma alpha beta gamma",
      901L -> "alpha beta alpha beta alpha beta",
      902L -> "alpha beta gamma delta alpha beta")
    val gone = Seq(900L, 901L)
    val docs = corpus(nDocs, 50L) ++ targets
    val forward = lexDocs(docs)
    // every deleted document carries a facet value of its own
    val facets = docs.map { case (id, _) =>
      (id, if (gone.contains(id)) s"gone$id" else s"f${id % 4}")
    }.toDF("doc_id", "facet")
    val l = Seq("scoring", "scoring2", "positional", "segmented")
      .map(n => n -> s"$root/deleted-$n").toMap
    LexicalStore.build(spark, forward, l("scoring"), analyzer = "folded")
    LexicalStore.build(spark, forward, l("scoring2"))
    LexicalStore.buildPositional(spark, forward, l("positional"), analyzer = "folded")
    val (first, second) = docs.partition { case (id, _) => id % 2 == 0 }
    for (seg <- Seq(first, second))
      LexicalStore.appendLexicalSegment(spark, lexDocs(seg), l("segmented"))
    val q = Seq("alpha", "beta")
    val k = 10
    def ids(df: DataFrame): Set[Any] = df.select("doc_id").collect().map(_.get(0)).toSet
    val verbs: Seq[(String, () => Set[Any])] = Seq(
      "searchTopKLexical" -> (() => ids(LexicalStore.searchTopKLexical(spark, l("scoring"), q, k))),
      "searchTopKLexicalBatch" -> (() => ids(LexicalStore.searchTopKLexicalBatch(spark,
        l("scoring"), Seq(0L -> "alpha beta", 1L -> "gamma alpha"), k))),
      "searchAfter" -> (() => ids(LexicalStore.searchAfter(spark, l("scoring"), q, k,
        Long.MaxValue, -1L))),
      "facetCounts" -> (() => LexicalStore.facetCounts(spark, l("scoring"), q, facets)
        .collect().map(_.get(0)).toSet),
      "searchTopKFields" -> (() => ids(LexicalStore.searchTopKFields(spark,
        Seq(l("scoring") -> 1000000L, l("scoring2") -> 2000000L), q, k))),
      "searchTopKPrf" -> (() => ids(LexicalStore.searchTopKPrf(spark, l("scoring"),
        forward, q, k))),
      "searchBoolean" -> (() => ids(LexicalStore.searchBoolean(spark, l("scoring"),
        must = Seq("alpha"), should = Seq("beta"), k = k))),
      "searchPrefix" -> (() => ids(LexicalStore.searchPrefix(spark, l("scoring"), "alph", k))),
      "searchFuzzy" -> (() => ids(LexicalStore.searchFuzzy(spark, l("scoring"), "alpah", k = k))),
      "searchPhrase" -> (() => ids(LexicalStore.searchPhrase(spark, l("positional"), q, k))),
      "searchNear" -> (() => ids(LexicalStore.searchNear(spark, l("positional"),
        "alpha", "beta", slop = 2, k = k))),
      "searchSpanNear" -> (() => ids(LexicalStore.searchSpanNear(spark, l("positional"),
        Seq("alpha", "beta", "gamma"), slop = 3, k = k))),
      "snippetBest" -> (() => ids(LexicalStore.snippetBest(spark, l("positional"), q,
        docs.map(_._1).toDF("doc_id"), w = 3))),
      "moreLikeThis" -> (() => ids(LexicalStore.moreLikeThis(spark, l("scoring"), forward,
        902L, k = k))),
      "searchQueryString" -> (() => ids(LexicalStore.searchQueryString(spark,
        "alpha \"alpha beta\"", Map("text" -> l("scoring")), "text",
        positional = Map("text" -> l("positional")), k = k))),
      "searchTopKSegmented" -> (() => ids(LexicalStore.searchTopKSegmented(spark,
        l("segmented"), q, k))))
    val marks: Set[Any] = gone.toSet ++ gone.map(id => s"gone$id")
    // before the delete every verb surfaces a target, so the check below bites
    for ((name, run) <- verbs) assert(run().exists(marks), s"$name before the delete")
    for (p <- l.values) LexicalStore.deleteLexical(spark, p, gone)
    for ((name, run) <- verbs) {
      val after = run()
      assert(after.nonEmpty, s"$name after the delete")
      assert(!after.exists(marks), s"$name returned a deleted document: ${after.filter(marks)}")
    }
  }
}
