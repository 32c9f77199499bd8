package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Embed
import graft.sources.{IndexStore, LexicalStore, QueryParser}

/** Differential checks of the shared search pipeline (probe ->
  * candidates -> pre-rank -> rerank-and-present): a family whose
  * approximation is switched off (every cell probed, an overfetch cut
  * wider than the corpus) must return exactly the exact search's page,
  * a batch must return each query's single-search page, and every text
  * form must equal `Embed.embed` followed by its vector form. The
  * lexical pipeline (postings -> BM25 -> rank) is held to the same
  * equalities: every read verb on appended segments answers like one
  * build of their union (deletes included),
  * a batch like its single queries, and no read verb ever returns a
  * tombstoned document. */
class SearchPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

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

  /** A frame's rows as sorted strings: equality up to row order (every
    * ranked verb carries its rank column, so order is still compared). */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("lexical read verbs on segments equal one build") {
    import spark.implicits._
    val seed = 22L
    val docs = corpus(nDocs, seed)
    val forward = lexDocs(docs)
    val facets = docs.map { case (id, _) => (id, s"f${id % 4}") }.toDF("doc_id", "facet")
    val batch = queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }
    val qs = "+alpha beta^2 -pivot (gamma OR sheet) ra* alpah~2"
    val parsed = QueryParser.parse(qs)
    val gone = Gen.pick(8, docs.map(_._1))(Gen.Parameters.default, Seed(seed + 1)).get.toSeq
    for (analyzer <- Seq("raw", "english")) {
      val one = s"$root/one-$analyzer"
      LexicalStore.build(spark, forward, one, analyzer = analyzer)
      // 1, 2 and 3 appended segments of seeded, unequal, non-empty sizes
      val segs = Seq(1, 2, 3).map { n =>
        val cuts = Gen.pick(n - 1, 1 until nDocs)(Gen.Parameters.default, Seed(seed + n))
          .get.toSeq.sorted
        val p = s"$root/seg-$n-$analyzer"
        for (Seq(lo, hi) <- ((0 +: cuts) :+ nDocs).sliding(2))
          LexicalStore.appendLexicalSegment(spark, lexDocs(docs.slice(lo, hi)), p,
            analyzer = analyzer)
        n -> p
      }
      val verbs: Seq[(String, String => DataFrame)] = queries.take(2).flatMap { q =>
        val terms = q.split(' ').toSeq
        // a cursor and a page taken from the one build, shared by every layout
        val first = LexicalStore.searchTopKLexical(spark, one, terms, k = 12).collect()
        val cands = first.map(_.getLong(0)).toSeq.toDF("doc_id")
        Seq(
          s"searchTopKLexical '$q'" -> ((p: String) =>
            LexicalStore.searchTopKLexical(spark, p, terms, k = 12)),
          s"searchTopKSegmented '$q'" -> ((p: String) =>
            LexicalStore.searchTopKSegmented(spark, p, terms, k = 12)
              .select("doc_id", "lex_rank", "lex_micros")),
          s"searchAfter '$q'" -> ((p: String) => LexicalStore.searchAfter(spark, p, terms, 6,
            first(2).getLong(2), first(2).get(0))),
          s"facetCounts '$q'" -> ((p: String) => LexicalStore.facetCounts(spark, p, terms, facets)),
          s"explainScore '$q'" -> ((p: String) => LexicalStore.explainScore(spark, p, terms, cands)),
          s"searchTopKPrf '$q'" -> ((p: String) =>
            LexicalStore.searchTopKPrf(spark, p, forward, terms, k = 8)))
      } ++ Seq(
        "searchTopKLexicalBatch" -> ((p: String) =>
          LexicalStore.searchTopKLexicalBatch(spark, p, batch, k = 6)),
        "moreLikeThis" -> ((p: String) => LexicalStore.moreLikeThis(spark, p, forward, 3L, k = 8))
      ) ++ Seq(0, 1, 2).map(msm => s"searchBoolean msm=$msm" -> ((p: String) =>
        LexicalStore.searchBoolean(spark, p, must = Seq("alpha"),
          should = Seq("beta", "gamma", "sheet", "range", "column"), mustNot = Seq("pivot"),
          k = 12, minShouldMatch = msm))) ++ Seq(
        "searchQueryString" -> ((p: String) =>
          LexicalStore.searchQueryString(spark, qs, Map("text" -> p), "text", k = 12)),
        "explainParsed" -> ((p: String) => LexicalStore.explainParsed(spark, parsed,
          Map("text" -> p), "text", docs.map(_._1).toDF("doc_id"))),
        "searchPrefix" -> ((p: String) => LexicalStore.searchPrefix(spark, p, "ra", k = 12)),
        "searchWildcard" -> ((p: String) => LexicalStore.searchWildcard(spark, p, "lt", k = 12)),
        "searchFuzzy" -> ((p: String) => LexicalStore.searchFuzzy(spark, p, "alpah", k = 12)),
        "suggestTerms" -> ((p: String) => LexicalStore.suggestTerms(spark, p, "alpah")))
      for (deleted <- Seq(false, true)) {
        if (deleted) for (p <- one +: segs.map(_._2)) LexicalStore.deleteLexical(spark, p, gone)
        for ((name, verb) <- verbs) {
          val want = canon(verb(one))
          assert(want.nonEmpty, s"$name returned nothing")
          for ((n, p) <- segs)
            assert(canon(verb(p)) == want, s"$name: $n segments, $analyzer, deletes=$deleted")
        }
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

  // ---- the boolean clause core ------------------------------------------

  /** A generated query clause: occur ('+', ' ', '-'), atom, boost. */
  private sealed trait QAtom
  private case class QTerm(w: String) extends QAtom
  private case class QPrefix(p: String) extends QAtom
  private case class QPhrase(a: String, b: String, slop: Int) extends QAtom
  private case class QGroup(inner: Seq[(Char, QAtom)]) extends QAtom
  private case class QClause(occur: Char, atom: QAtom, boost: Int)

  private def render(c: QClause): String = {
    def atom(a: QAtom): String = a match {
      case QTerm(w) => w
      case QPrefix(p) => s"$p*"
      case QPhrase(x, y, 0) => s"\"$x $y\""
      case QPhrase(x, y, s) => s"\"$x $y\"~$s"
      case QGroup(in) => in.map { case (o, a) => s"${o.toString.trim}${atom(a)}" }
        .mkString("(", " ", ")")
    }
    s"${c.occur.toString.trim}${atom(c.atom)}" + (if (c.boost > 1) s"^${c.boost}" else "")
  }

  private val queryGen: Gen[Seq[QClause]] = {
    val word = Gen.oneOf(vocab)
    val occur = Gen.frequency(2 -> '+', 4 -> ' ', 1 -> '-')
    val atom: Gen[QAtom] = Gen.frequency(
      5 -> word.map(QTerm(_)),
      1 -> word.map(w => QPrefix(w.take(2))),
      2 -> (for (a <- word; b <- word; s <- Gen.oneOf(0, 1)) yield QPhrase(a, b, s)))
    // a group needs a non-negative inner clause, a query a non-negative clause
    def scoring[A](xs: List[A], occ: A => Char, fix: A => A) =
      if (xs.forall(occ(_) == '-')) fix(xs.head) :: xs.tail else xs
    val group = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.zip(occur, atom)))
      .map(in => QGroup(scoring[(Char, QAtom)](in, _._1, x => (' ', x._2))))
    val clause = for (o <- occur; a <- Gen.frequency(4 -> atom, 1 -> group);
                      b <- Gen.oneOf(1, 1, 2, 3)) yield QClause(o, a, b)
    Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, clause))
      .map(cs => scoring[QClause](cs, _.occur, _.copy(occur = ' ')))
  }

  test("the clause core: parsed and boolean pages equal a model over explainScore rows") {
    import spark.implicits._
    val k = 8
    // the exact split every boost applies
    def wm(w: Long, m: Long) = w * (m / 1000000L) + (w * (m % 1000000L)) / 1000000L
    def rule(flags: Seq[(Char, Boolean)], msm: Int): Boolean = {
      val musts = flags.filter(_._1 == '+').map(_._2)
      val need = if (musts.isEmpty) math.max(msm, 1) else msm
      musts.forall(identity) && flags.count(f => f._1 == ' ' && f._2) >= need &&
        !flags.exists(f => f._1 == '-' && f._2)
    }
    for (analyzer <- Seq("raw", "english")) {
      val docs = corpus(nDocs, 70L)
      val (lex, pos) = (s"$root/core-$analyzer", s"$root/core-pos-$analyzer")
      LexicalStore.build(spark, lexDocs(docs), lex, analyzer = analyzer)
      LexicalStore.buildPositional(spark, lexDocs(docs), pos, analyzer = analyzer)
      val gone = Gen.pick(8, docs.map(_._1)).pureApply(Gen.Parameters.default, Seed(71L)).toSet
      for (p <- Seq(lex, pos)) LexicalStore.deleteLexical(spark, p, gone.toSeq)
      def fold(ws: String*): Set[String] = LexicalStore.foldQueryTerms(ws, analyzer).toSet
      // (doc, term) -> micros over every term, from the scorer's own rows
      val micros: Map[Long, Map[String, Long]] = LexicalStore.explainScore(spark, lex, vocab,
          docs.map(_._1).toDF("doc_id")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"), r.getAs[Long]("micros")))
        .groupBy(_._1).map { case (d, rs) => d -> rs.map(r => r._2 -> r._3).toMap }
      val live = docs.map(_._1).filterNot(gone)
      val indexed = docs.flatMap(_._2.split(' ')).flatMap(fold(_)).toSet
      val positions = docs.map { case (d, t) => d -> t.split(' ').toSeq.flatMap(fold(_)) }.toMap
      def rows(d: Long, terms: Set[String]) = micros.getOrElse(d, Map.empty).filter(r => terms(r._1))
      def page(score: Long => Option[Long]): Seq[(Long, Long)] =
        live.flatMap(d => score(d).map(d -> _)).sortBy { case (d, s) => (-s, d) }.take(k)
      // per atom: (matched, present, subtotal) of a doc
      def atom(a: QAtom): Long => (Boolean, Boolean, Long) = a match {
        case QGroup(in) =>
          val inner = in.map { case (o, x) => o -> atom(x) }
          d => {
            val r = inner.map { case (o, f) => o -> f(d) }
            val m = rule(r.map { case (o, x) => o -> x._1 }, 0)
            val scoring = r.filter(_._1 != '-').map(_._2)
            (m, m && scoring.exists(_._2), scoring.filter(_._2).map(_._3).sum)
          }
        case _ =>
          val (terms, matches): (Set[String], Long => Boolean) = a match {
            case QTerm(w) => (fold(w), d => rows(d, fold(w)).nonEmpty)
            case QPrefix(p) =>
              val ex = indexed.filter(_.startsWith(p))
              (ex, d => rows(d, ex).nonEmpty)
            case QPhrase(x, y, slop) =>
              val Seq(fx, fy) = Seq(x, y).map(w => fold(w).head)
              (fold(x, y), d => {
                val ps = positions(d)
                ps.indices.filter(ps(_) == fx).exists(i =>
                  ps.indices.find(j => j > i && ps(j) == fy).exists(_ - i - 1 <= slop))
              })
            case _: QGroup => sys.error("unreachable")
          }
          d => {
            val rs = rows(d, terms)
            val m = matches(d)
            (m, m && rs.nonEmpty, rs.values.sum)
          }
      }
      var ranked = 0
      for (i <- 0 until 12) {
        val q = queryGen.pureApply(Gen.Parameters.default, Seed(700L + i))
        val text = q.map(render).mkString(" ")
        val clauses = q.map(c => (c, atom(c.atom)))
        val want = page { d =>
          val r = clauses.map { case (c, f) => c -> f(d) }
          val scoring = r.filter(_._1.occur != '-')
          if (!rule(r.map { case (c, x) => c.occur -> x._1 }, 0) || !scoring.exists(_._2._2)) None
          else Some(scoring.filter(_._2._2).map { case (c, x) => wm(c.boost * 1000000L, x._3) }.sum)
        }
        val parsed = QueryParser.parse(text)
        val got = LexicalStore.searchParsed(spark, parsed, Map("body" -> lex), "body",
          positional = Map("body" -> pos), k = k)
        assert(got.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
          want.zipWithIndex.map { case ((d, s), r) => (d, r + 1, s) }, s"$analyzer: '$text'")
        // the explanation of the page sums to its scores, per doc
        val sums = LexicalStore.explainParsed(spark, parsed, Map("body" -> lex), "body",
            got.select("doc_id"), Map("body" -> pos))
          .collect().groupBy(_.getLong(3)).map { case (d, rs) => d -> rs.map(_.getLong(4)).sum }
        assert(sums == want.toMap, s"$analyzer: explainParsed of '$text'")
        ranked += want.size
      }
      for (i <- 0 until 8; msm <- 0 to 2) {
        val ws = Gen.pick(5, vocab).pureApply(Gen.Parameters.default, Seed(800L + i)).toSeq
        // a must term also named should scores once and counts for msm
        val (must, should, not) = (ws.take(i % 3), ws.slice(2, 4) ++ ws.take(i % 2), ws.drop(4))
        val (mustT, shouldT, notT) = (fold(must: _*), fold(should: _*), fold(not: _*))
        if (msm <= shouldT.size && (mustT ++ shouldT).nonEmpty) {
          val want = page { d =>
            val has = rows(d, mustT ++ shouldT ++ notT).keySet
            val flags = mustT.toSeq.map(t => '+' -> has(t)) ++ shouldT.toSeq.map(t => ' ' -> has(t)) ++
              notT.toSeq.map(t => '-' -> has(t))
            if (!rule(flags, msm)) None else Some(rows(d, mustT ++ shouldT).values.sum)
          }
          val got = LexicalStore.searchBoolean(spark, lex, must, should, not, k, msm)
          val tag = s"$analyzer: must=$must should=$should not=$not msm=$msm"
          assert(got.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
            want.zipWithIndex.map { case ((d, s), r) => (d, r + 1, s) }, tag)
          val sums = LexicalStore.explainBoolean(spark, lex, got.select("doc_id"), must, should,
              not, msm)
            .collect().groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(5)).sum }
          assert(sums == want.toMap, s"explainBoolean, $tag")
          ranked += want.size
        }
      }
      assert(ranked > 20 * k, s"$analyzer: only $ranked documents ranked over every query")
    }
  }
}
