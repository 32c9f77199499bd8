package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LexicalStore, QueryParser}
import graft.sources.QueryParser._

/** Pins for the Lucene-QueryParser subset: grammar (every atom form,
  * field prefixes, boosts, slop, occurs), operator precedence
  * (AND/OR/NOT vs +/-), loud rejections for everything outside the
  * documented subset, and the executor's routing equivalences — a
  * parsed query must score exactly like the hand-assembled verb
  * calls it abbreviates.
  */
class QueryParserSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  // ---- grammar --------------------------------------------------------

  test("atoms: term, phrase(+slop), prefix, wildcard, fuzzy; field; boost") {
    val p = QueryParser.parse(
      """+alpha -beta title:gamma^3 "a b c"~2 pre* w?ld fuzz~1""")
    assert(p.clauses.size == 7)
    assert(p.clauses(0) == Clause(Must, None, TermAtom("alpha"), 1000000L))
    assert(p.clauses(1) == Clause(MustNot, None, TermAtom("beta"), 1000000L))
    assert(p.clauses(2) ==
      Clause(Should, Some("title"), TermAtom("gamma"), 3000000L))
    assert(p.clauses(3) ==
      Clause(Should, None, PhraseAtom(Seq("a", "b", "c"), 2), 1000000L))
    assert(p.clauses(4) == Clause(Should, None, PrefixAtom("pre"), 1000000L))
    assert(p.clauses(5) == Clause(Should, None, WildcardAtom("w?ld"), 1000000L))
    assert(p.clauses(6) == Clause(Should, None, FuzzyAtom("fuzz", 1), 1000000L))
    // bare ~ defaults to distance 2 (checked via a 1-clause parse so
    // the all-negative rule doesn't interfere)
    assert(QueryParser.parse("plain~").clauses.head.atom == FuzzyAtom("plain", 2))
    // phrase with field + boost after the closing quote
    val pb = QueryParser.parse("""t:"x y"~1^4""").clauses.head
    assert(pb == Clause(Should, Some("t"), PhraseAtom(Seq("x", "y"), 1), 4000000L))
    // a one-word phrase degrades to a term (Lucene: "a" == a)
    assert(QueryParser.parse("\"solo\"").clauses.head.atom == TermAtom("solo"))
    // a leading-star pattern is a wildcard, not a prefix
    assert(QueryParser.parse("*tail").clauses.head.atom == WildcardAtom("*tail"))
    assert(QueryParser.parse("mid*dle").clauses.head.atom == WildcardAtom("mid*dle"))
  }

  test("operators: AND promotes both neighbors, NOT negates, OR is default") {
    val p = QueryParser.parse("a AND b OR c AND NOT d e")
    // a AND b -> both must; c stays should but is AND'd with NOT d ->
    // c promoted, d must_not; e should
    assert(p.clauses.map(_.occur) == Seq(Must, Must, Must, MustNot, Should))
    assert(p.clauses.map(_.atom) ==
      Seq(TermAtom("a"), TermAtom("b"), TermAtom("c"), TermAtom("d"),
        TermAtom("e")))
    // an already-negated neighbor keeps its polarity under AND
    val q = QueryParser.parse("x AND -y")
    assert(q.clauses.map(_.occur) == Seq(Must, MustNot))
    // lowercase and/or/not are plain terms (Lucene's convention)
    val r = QueryParser.parse("x and y")
    assert(r.clauses.map(_.atom) ==
      Seq(TermAtom("x"), TermAtom("and"), TermAtom("y")))
  }

  test("rejections: everything outside the subset fails loudly by name") {
    def bad(q: String, msgPart: String): Unit = {
      val e = intercept[IllegalArgumentException](QueryParser.parse(q))
      assert(e.getMessage.toLowerCase.contains(msgPart.toLowerCase),
        s"'$q' -> ${e.getMessage}")
    }
    bad("a^0", "positive integer")
    bad("a^1.5", "positive integer")
    bad("\"a b", "unbalanced quote")
    bad("a~3", "1 or 2")
    bad("a~x", "1 or 2")
    bad("fu*zzy~1", "cannot combine")
    bad(":a", "bad field name")
    bad("f:", "no atom")
    bad("a:b:c", "multiple ':'")
    bad("++a", "doubled")
    bad("\"a b\"^2~1", "positive integer")
    bad("\"a b\"x", "follow a phrase")
    bad("*", "matches everything")
    bad("AND a", "clause on both sides")
    bad("a AND", "clause on both sides")
    bad("a NOT", "dangling NOT")
    bad("NOT NOT a", "followed by a clause")
    bad("NOT +a", "cannot combine")
    bad("-a -b", "all-negative")
    bad("", "empty query")
    // overflow headroom: the split computes w*(m div 1e6) with clause
    // subtotals bounded by 16 expansion terms x ~2.2e16 micros, so
    // the boost factor caps at 16
    bad("a^17", "cap of 16")
    assert(QueryParser.parse("a^16").clauses.head.boostMicros == 16000000L)
    // a 20-digit boost gets the NAMED rejection (length-guarded before
    // toInt — r19 advisor note), never a bare NumberFormatException
    bad("a^99999999999999999999", "cap of 16")
    // ...and an oversized slop likewise (length-guarded before toInt)
    bad("\"a b\"~99999", "4 digits")
    // a colon inside a quoted phrase is CONTENT, not a second field
    // separator (r19 advisor note) — parses, no misleading rejection
    assert(QueryParser.parse("t:\"a:b\"").clauses.head ==
      Clause(Should, Some("t"), TermAtom("a:b"), 1000000L))
  }

  // ---- grouping parens (one level) -------------------------------------

  test("groups: occur promotion, field distribution, group boost") {
    // (a OR b) AND c: the group is ONE clause; AND promotes it and c
    val p = QueryParser.parse("(a OR b) AND c")
    assert(p.clauses.map(_.occur) == Seq(Must, Must))
    val GroupAtom(inner) = p.clauses.head.atom: @unchecked
    assert(inner == Seq(Clause(Should, None, TermAtom("a"), 1000000L),
      Clause(Should, None, TermAtom("b"), 1000000L)))
    // -(x y): a MUST_NOT group; NOT (x y) spells the same thing
    val n = QueryParser.parse("z -(x y)").clauses(1)
    assert(n.occur == MustNot && n.atom.isInstanceOf[GroupAtom])
    assert(QueryParser.parse("z NOT (x y)").clauses(1) == n)
    // field:(x y)^3 distributes the field over the inner clauses and
    // boosts the GROUP subtotal
    val f = QueryParser.parse("f:(x +y)^3").clauses.head
    assert(f.field == Some("f") && f.boostMicros == 3000000L)
    val GroupAtom(fi) = f.atom: @unchecked
    assert(fi == Seq(Clause(Should, Some("f"), TermAtom("x"), 1000000L),
      Clause(Must, Some("f"), TermAtom("y"), 1000000L)))
    // inner AND/NOT combine by the same occur rules
    val g = QueryParser.parse("(a AND b NOT c)").clauses.head
    val GroupAtom(gi) = g.atom: @unchecked
    assert(gi.map(_.occur) == Seq(Must, Must, MustNot))
    // a group admits phrase / range / dictionary atoms
    val h = QueryParser.parse("(\"a b\"~1 [c TO d] e*)").clauses.head
    val GroupAtom(hi) = h.atom: @unchecked
    assert(hi.map(_.atom) == Seq(PhraseAtom(Seq("a", "b"), 1),
      RangeAtom("c", "d", inclLo = true, inclHi = true), PrefixAtom("e")))
  }

  test("group rejections: nesting, inner boosts, field-in-field-group, " +
      "empty/all-negative groups, unbalanced parens") {
    def bad(q: String, msgPart: String): Unit = {
      val e = intercept[IllegalArgumentException](QueryParser.parse(q))
      assert(e.getMessage.toLowerCase.contains(msgPart.toLowerCase),
        s"'$q' -> ${e.getMessage}")
    }
    bad("((a b))", "nested groups")
    bad("x (a (b c))", "nested groups")
    bad("()", "empty group")
    bad("(-a -b)", "all-negative")
    bad("f:(g:x)", "field-scoped group")
    bad("(a^2 b)", "boost the group")
    bad("(a b", "unbalanced")
    bad("a) b", "unbalanced")
    bad("(a b)x", "follow a group")
    bad("(a b)^0", "positive integer")
  }

  // ---- term ranges ------------------------------------------------------

  test("ranges: inclusive/exclusive/mixed brackets; rejections") {
    assert(QueryParser.parse("[a TO b]").clauses.head.atom ==
      RangeAtom("a", "b", inclLo = true, inclHi = true))
    assert(QueryParser.parse("{a TO b}").clauses.head.atom ==
      RangeAtom("a", "b", inclLo = false, inclHi = false))
    assert(QueryParser.parse("f:[a TO b}^2").clauses.head ==
      Clause(Should, Some("f"),
        RangeAtom("a", "b", inclLo = true, inclHi = false), 2000000L))
    def bad(q: String, msgPart: String): Unit = {
      val e = intercept[IllegalArgumentException](QueryParser.parse(q))
      assert(e.getMessage.toLowerCase.contains(msgPart.toLowerCase),
        s"'$q' -> ${e.getMessage}")
    }
    bad("[a TO *]", "open-ended")
    bad("[* TO b]", "open-ended")
    // a ':' inside a bound is bound content, fielded or not (the
    // extra-colon scan skips range bodies like it skips groups)
    assert(QueryParser.parse("f:[v1:2 TO v1:9]").clauses.head ==
      Clause(Should, Some("f"),
        RangeAtom("v1:2", "v1:9", inclLo = true, inclHi = true), 1000000L))
    bad("[a b]", "[lo TO hi]")
    bad("[a to b]", "[lo TO hi]")
    bad("[a TO b", "unbalanced")
    bad("a] b", "unbalanced")
    bad("[a* TO b]", "plain terms")
  }

  test("plainText: scoring clauses' surface forms, syntax stripped") {
    val p = QueryParser.parse(
      "+alpha t:beta^2 \"c d\" pre* w?ld fuzz~1 [lo TO hi] (x -y) -drop")
    assert(QueryParser.plainText(p) ==
      "alpha beta c d pre wld fuzz lo hi x")
  }

  test("every clause's postings read is bucket-pruned to its own terms") {
    buildStores()
    // the parsed path issues ONE bucket-pruned read per scoring layout
    // over the union of the query's terms, plus the phrase clause's
    // positional slot reads (one per phrase term, the phrase stage
    // searchPhrase shares), all inside the one ranked plan — no
    // checkpoint, and no clause or gate branch re-reads a layout.
    // Groups and ranges included: a group's inner clauses and a
    // range's dictionary expansions route through the same shared
    // bucket-pruned reads
    val res = LexicalStore.searchQueryString(spark,
      "+alpha title:gamma^2 \"alpha beta\" -banned " +
        "(delta OR epsilon) [banned TO delta]",
      fields = Map("body" -> bodyP, "title" -> titleP),
      defaultField = "body", positional = Map("body" -> posP))
    res.collect()
    // postings scans only — the `_stats`/`_vocab`/`_tombstones`
    // sidecars are metadata-sized and legitimately unpartitioned
    val scans = PlanScans.leafScans(res.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists { p =>
        p.toString.contains("test_qp_") && !p.toString.contains("/_")
      })
    def reads(layout: String) = scans.count(
      _.relation.location.rootPaths.exists(_.toString.endsWith(layout)))
    assert(reads(bodyP) == 1 && reads(titleP) == 1,
      s"one read per scoring layout: ${scans.map(_.relation.location.rootPaths)}")
    assert(reads(posP) == 2, s"one positional read per phrase term: " +
      scans.map(_.relation.location.rootPaths))
    // every layout read carries a bucket partition filter — the
    // shared read is pruned to the union of the query's terms
    // (the searchTopKLexical discipline, now one read per layout)
    scans.foreach { sc =>
      assert(sc.partitionFilters.exists(
          _.references.exists(_.name == "bucket")),
        s"unpruned layout read in parsed-query path: $sc")
    }
  }

  // ---- executor routing equivalences ----------------------------------

  private val bodyP = s"${Sessions.workDir}/test_qp_body"
  private val titleP = s"${Sessions.workDir}/test_qp_title"
  private val posP = s"${Sessions.workDir}/test_qp_pos"

  private def buildStores(): Unit = {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta alpha slowpoke"),
      (3L, "beta gamma delta epsilon"),
      (4L, "alpha gamma banned epsilon"),
      (5L, "gamma delta beta alpha")).toDF("doc_id", "text")
    val titles = Seq(
      (1L, "alpha"), (2L, "gamma"), (3L, "gamma"), (4L, "delta"),
      (5L, "alpha")).toDF("doc_id", "text")
    LexicalStore.buildOnce(spark, docs, bodyP)
    LexicalStore.buildOnce(spark, titles, titleP)
    LexicalStore.buildPositionalOnce(spark, docs, posP)
  }

  private def run(q: String, k: Int = 10): Seq[(Long, Int, Long)] =
    LexicalStore.searchQueryString(spark, q,
      fields = Map("body" -> bodyP, "title" -> titleP),
      defaultField = "body", positional = Map("body" -> posP), k = k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  test("pure-OR query scores exactly like searchTopKLexical") {
    buildStores()
    val want = LexicalStore.searchTopKLexical(spark, bodyP,
        Seq("alpha", "gamma"), 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(run("alpha gamma") == want)
  }

  test("+/-/should query scores exactly like searchBoolean") {
    buildStores()
    val want = LexicalStore.searchBoolean(spark, bodyP,
        must = Seq("alpha", "beta"), should = Seq("gamma"),
        mustNot = Seq("banned"), k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(run("+alpha +beta gamma -banned") == want)
    // AND spelling routes identically
    assert(run("alpha AND beta gamma NOT banned") == want)
  }

  test("phrase clause gates on adjacency; slop loosens it in order") {
    buildStores()
    // "alpha beta": docs 1 and 2 adjacent; doc 5 has beta BEFORE
    // alpha (order matters even at slop); doc 4 lacks beta
    val exact = run("\"alpha beta\"")
    assert(exact.map(_._1).toSet == Set(1L, 2L), exact.toString)
    // gamma..alpha within gap 1 IN ORDER: doc 4 (gamma banned alpha?
    // no - gamma..epsilon) -> check doc 5 "gamma delta beta alpha":
    // gap gamma->alpha = 2; slop 2 admits it, slop 1 does not
    assert(run("\"gamma alpha\"~2").map(_._1).toSet == Set(5L))
    // slop 1 matches nothing: the should-only query has an empty
    // candidate union and returns an empty page, not an error
    assert(run("\"gamma alpha\"~1").isEmpty)
  }

  test("boost floors at the clause subtotal; field routes to its layout") {
    buildStores()
    // title:alpha^3 over the title layout: docs 1 and 5 have title
    // alpha; boost triples the subtotal via the split
    val got = run("title:alpha^3").map(t => t._1 -> t._3).toMap
    val base = run("title:alpha").map(t => t._1 -> t._3).toMap
    assert(got.keySet == Set(1L, 5L) && base.keySet == Set(1L, 5L))
    got.foreach { case (d, m) =>
      val s = base(d)
      assert(m == 3000000L * (s / 1000000L)
          + (3000000L * (s % 1000000L)) / 1000000L,
        s"doc $d: $m vs base $s")
    }
  }

  test("executor rejections: unknown field, phrase without positional, " +
      "unknown default field") {
    buildStores()
    val e1 = intercept[RuntimeException](run("nosuch:alpha"))
    assert(e1.getMessage.contains("unknown field"), e1.getMessage)
    val e2 = intercept[RuntimeException] {
      LexicalStore.searchQueryString(spark, "\"alpha beta\"",
        fields = Map("body" -> bodyP), defaultField = "body")
    }
    assert(e2.getMessage.contains("positional layout"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      LexicalStore.searchQueryString(spark, "alpha",
        fields = Map("body" -> bodyP), defaultField = "nope")
    }
    assert(e3.getMessage.contains("defaultField"), e3.getMessage)
  }

  test("phrase clauses degrade under analyzed layouts: a stopword-" +
      "reduced phrase becomes a term clause, an all-stopword one drops") {
    import spark.implicits._
    val docs = Seq(
      (1L, "merge the stream"), (2L, "stream only here"),
      (3L, "nothing relevant")).toDF("doc_id", "text")
    val bp = s"${Sessions.workDir}/test_qp_eng_body"
    val pp = s"${Sessions.workDir}/test_qp_eng_pos"
    LexicalStore.build(spark, docs, bp,
      analyzer = LexicalStore.AnalyzerEnglish)
    LexicalStore.buildPositional(spark, docs, pp,
      analyzer = LexicalStore.AnalyzerEnglish)
    def eng(q: String) = LexicalStore.searchQueryString(spark, q,
      fields = Map("body" -> bp), defaultField = "body",
      positional = Map("body" -> pp))
      .collect().map(_.getLong(0)).toSet
    // "the merge" folds to one token -> a TERM clause (Lucene's
    // stopword-reduced PhraseQuery degrade), matching both merge docs
    assert(eng("\"the merge\"") == Set(1L))
    // an all-stopword phrase DROPS; the surviving should clause serves
    assert(eng("\"the of\" stream") == Set(1L, 2L))
    // MIXED analyzers (positional 'english', scoring 'folded'): the
    // degrade scores ONLY the surviving word, translated to the
    // scoring chain — a positionally-consumed stopword must never
    // re-enter the clause's match set through the scoring fold
    val mixedScore = s"${Sessions.workDir}/test_qp_mixed_body"
    LexicalStore.build(spark,
      Seq((1L, "merge the stream"), (2L, "the thing here"),
        (3L, "stream only")).toDF("doc_id", "text"),
      mixedScore) // default folded analyzer
    val mixed = LexicalStore.searchQueryString(spark, "\"the merge\"",
      fields = Map("body" -> mixedScore), defaultField = "body",
      positional = Map("body" -> pp)) // pp is the ENGLISH positional
      .collect().map(_.getLong(0)).toSet
    assert(mixed == Set(1L), s"stopword re-admitted: $mixed")
    // ...but a query where EVERY clause folds away fails loudly
    val e = intercept[IllegalArgumentException] {
      LexicalStore.searchQueryString(spark, "\"the of\"",
        fields = Map("body" -> bp), defaultField = "body",
        positional = Map("body" -> pp))
    }
    assert(e.getMessage.contains("folded away"), e.getMessage)
  }

  test("segmented layouts score parsed queries like one build") {
    import spark.implicits._
    val sp = s"${Sessions.workDir}/test_qp_seg"
    val one = s"${sp}_one"
    val fs = new org.apache.hadoop.fs.Path(sp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(sp), true)
    val segs = Seq(Seq((1L, "alpha beta")),
      Seq((2L, "alpha gamma alpha"), (3L, "beta gamma delta")))
    for (seg <- segs) LexicalStore.appendLexicalSegment(spark, seg.toDF("doc_id", "text"), sp)
    LexicalStore.build(spark, segs.flatten.toDF("doc_id", "text"), one)
    val q = QueryParser.parse("+alpha beta^2 -delta (gamma OR bet*) alpah~2")
    def parsed(p: String) = {
      val fields = Map("body" -> p)
      val page = LexicalStore.searchParsed(spark, q, fields, "body")
      Seq(page, LexicalStore.explainParsed(spark, q, fields, "body", page.select(col("doc_id"))))
        .map(_.collect().toSeq)
    }
    val want = parsed(one)
    assert(want.head.nonEmpty)
    assert(parsed(sp) == want)
  }

  test("no-must query requires at least one should match (msm=1)") {
    buildStores()
    // epsilon-only docs (3, 4) match nothing of the should set below
    val got = run("alpha delta -banned")
    // candidates = docs with alpha OR delta, minus banned (doc 4):
    // 1, 2, 3, 5
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L, 5L), got.toString)
  }

  // ---- groups: executor equivalences -----------------------------------

  test("degenerate groups score byte-identically to their flat forms") {
    buildStores()
    // a should-group of should clauses == the flat should clauses
    // (same candidate union, same Σ)
    assert(run("(alpha beta) gamma") == run("alpha beta gamma"))
    // a must_not group == the flat exclusions
    assert(run("alpha -(banned slowpoke)") == run("alpha -banned -slowpoke"))
    // a field group == the flat field clauses
    assert(run("title:(alpha delta)") == run("title:alpha title:delta"))
  }

  test("(a OR b) AND c -d scores exactly like the equivalent searchBoolean") {
    buildStores()
    // group match = alpha∪epsilon, AND-promoted with gamma, minus
    // banned — the same candidates AND the same Σ as must=gamma,
    // should={alpha,epsilon} with minShouldMatch=1
    val want = LexicalStore.searchBoolean(spark, bodyP,
        must = Seq("gamma"), should = Seq("alpha", "epsilon"),
        mustNot = Seq("banned"), k = 10, minShouldMatch = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(run("(alpha OR epsilon) AND gamma -banned") == want)
  }

  test("a group with inner musts gates inside the group only") {
    buildStores()
    // (+alpha +beta): match = alpha∩beta = {1,2,5}; epsilon adds docs
    // {3,4} to the outer should-union
    val got = run("(+alpha +beta) epsilon").map(t => t._1 -> t._3).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L), got.toString)
    // doc 3 (no alpha) scores ONLY its epsilon subtotal
    val eps = LexicalStore.searchTopKLexical(spark, bodyP, Seq("epsilon"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(3L) == eps(3L))
    // doc 1 (no epsilon) scores ONLY its group subtotal = alpha+beta
    val ab = LexicalStore.searchTopKLexical(spark, bodyP,
        Seq("alpha", "beta"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) == ab(1L))
  }

  test("group boost floors at the GROUP subtotal via the split") {
    buildStores()
    val base = run("(alpha beta)").map(t => t._1 -> t._3).toMap
    val got = run("(alpha beta)^3").map(t => t._1 -> t._3).toMap
    assert(got.keySet == base.keySet && base.nonEmpty)
    got.foreach { case (d, m) =>
      val s = base(d)
      assert(m == 3000000L * (s / 1000000L)
          + (3000000L * (s % 1000000L)) / 1000000L,
        s"doc $d: $m vs base $s")
    }
  }

  test("headroom product boost × innerClauses × maxExpansions is enforced") {
    buildStores()
    // 16 × 1 × 16 = 256 passes (the parser cap at default expansions)
    assert(run("alpha^16 beta").nonEmpty)
    // 16 × 1 × 32 = 512 exceeds the product — loud, by name
    val e = intercept[IllegalArgumentException] {
      LexicalStore.searchQueryString(spark, "alpha^16 beta",
        fields = Map("body" -> bodyP), defaultField = "body",
        maxExpansions = 32)
    }
    assert(e.getMessage.contains("headroom product"), e.getMessage)
    // a boosted group prices its inner scoring clauses too:
    // 16 × 2 × 16 = 512
    val e2 = intercept[IllegalArgumentException](run("(alpha beta)^16"))
    assert(e2.getMessage.contains("headroom product"), e2.getMessage)
  }

  // ---- term range verb ---------------------------------------------------

  test("searchTermRange: bounds, bracket mix, df-ranked cap, parser route") {
    buildStores()
    def terms(ts: String*) = LexicalStore.searchTopKLexical(spark, bodyP,
        ts.toIndexedSeq, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    def range(lo: String, hi: String, il: Boolean, ih: Boolean,
              max: Int = 16) =
      LexicalStore.searchTermRange(spark, bodyP, lo, hi, il, ih, 10, max)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // dictionary: alpha banned beta delta epsilon gamma slowpoke
    assert(range("banned", "delta", il = true, ih = true) ==
      terms("banned", "beta", "delta"))
    assert(range("banned", "delta", il = false, ih = false) ==
      terms("beta"))
    assert(range("banned", "delta", il = true, ih = false) ==
      terms("banned", "beta"))
    // df-ranked cap: df(beta)=4, df(delta)=3, df(banned)=1 → top-2
    assert(range("banned", "delta", il = true, ih = true, max = 2) ==
      terms("beta", "delta"))
    // the parsed form routes through the same expansion
    assert(run("[banned TO delta]") ==
      range("banned", "delta", il = true, ih = true))
    assert(run("{banned TO delta}") ==
      range("banned", "delta", il = false, ih = false))
    // loud empties, by name
    val e1 = intercept[IllegalArgumentException](
      range("delta", "banned", il = true, ih = true))
    assert(e1.getMessage.contains("sorts after"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      range("zeta", "zzz", il = true, ih = true))
    assert(e2.getMessage.contains("no indexed term in range"), e2.getMessage)
  }

  // ---- parsed hybrid -------------------------------------------------------

  test("searchParsedHybrid: the lexical arm IS searchParsed's page, the " +
      "dense arm IS the IVF probe of plainText, fused by rrfFuse") {
    import spark.implicits._
    buildStores()
    val ivfP = s"${Sessions.workDir}/test_qp_docivf"
    val rows = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta alpha slowpoke"),
      (3L, "beta gamma delta epsilon"),
      (4L, "alpha gamma banned epsilon"),
      (5L, "gamma delta beta alpha")).toDF("doc_id", "chunk")
      .select(col("doc_id").as("chunk_id"), col("doc_id"), lit("t").as("source"),
        col("chunk"), (col("doc_id") + 2).as("sheet_row"),
        graft.functions.Embed.embedCol(col("chunk")).as("embedding"))
      .withColumn("sq8_code",
        graft.functions.vecIndexExprs.sq8Code(col("embedding")))
      .withColumn("sq8_factor",
        graft.functions.vecIndexExprs.sq8Factor(col("embedding")))
      .localCheckpoint()
    graft.sources.IndexStore.buildIvfFromRows(spark, rows, ivfP, nCells = 2)
    val q = "+alpha gamma -banned"
    val fused = graft.operators.Hybrid.searchParsedHybrid(spark, q,
        Map("body" -> bodyP), "body", ivfP, k = 10, kLex = 10, kVec = 3,
        probes = 2, overfetch = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val parsed = QueryParser.parse(q)
    val lex = LexicalStore.searchParsed(spark, parsed,
        Map("body" -> bodyP), "body", k = 10)
      .select(col("doc_id"), col("parsed_rank").as("lex_rank"))
    val vec = graft.sources.IndexStore.searchTopKIvfVec(spark, ivfP,
        graft.functions.Embed.embed(QueryParser.plainText(parsed),
          graft.functions.Embed.DefaultDim), 3, 2, 8)
      .select(col("chunk_id").as("doc_id"), col("rank").as("vec_rank"))
    val want = LexicalStore.rrfFuse(lex, vec, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(fused == want && fused.nonEmpty)
  }

  // ---- explainParsed -----------------------------------------------------

  test("explainParsed is sum-exact per doc and labels clauses correctly") {
    buildStores()
    val q = "+alpha title:gamma^2 \"alpha beta\" -banned " +
      "[banned TO delta] (delta OR epsilon)"
    val parsed = QueryParser.parse(q)
    val fields = Map("body" -> bodyP, "title" -> titleP)
    val page = LexicalStore.searchParsed(spark, parsed, fields, "body",
      Map("body" -> posP), k = 10)
    val want = page.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(want.nonEmpty)
    val rows = LexicalStore.explainParsed(spark, parsed, fields, "body",
        page.select(col("doc_id")), Map("body" -> posP))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    // SUM-EXACT: per-doc Σ wm == parsed_micros to the last digit
    val sums = rows.groupBy(_._4).view.mapValues(_.map(_._5).sum).toMap
    assert(sums == want, s"sums $sums vs page $want")
    // the must_not clause (ordinal 3) is admission, never a score row
    assert(!rows.exists(_._1 == 3))
    // labels: clause ordinals are parse-order; fields route
    assert(rows.filter(_._1 == 1).forall(r => r._2 == "should" && r._3 == "title"))
    assert(rows.filter(_._1 == 0).forall(r => r._2 == "must" && r._3 == "body"))
    // every scored row's doc passed the gates (page spine only)
    assert(rows.map(_._4).toSet.subsetOf(want.keySet))
  }
}
