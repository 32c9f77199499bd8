package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LexicalStore
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Pins for the persisted lexical (inverted) index + hybrid fusion:
  * driver/plan bucket parity, partition pruning to the query terms'
  * buckets, deterministic integer scoring, self-retrieval, and RRF
  * fusion semantics.
  */
class LexicalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val d = "/root/testdata/sf0.001"

  private def leafScans(p: SparkPlan): Seq[FileSourceScanExec] =
    PlanScans.leafScans(p)
  private val path = s"${Sessions.workDir}/test_lex_index"

  private def built(): Unit =
    LexicalStore.buildOnce(spark, Tables.documents(spark, d), path)

  private def deleteDir(p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
  }

  test("driver-side bucketOf matches the plan-side bucket expression") {
    import spark.implicits._
    val terms = Seq("grouped", "aggregation", "x", "", "partitioned-batches",
      "ünïcode", "a b")
    val planSide = terms.toDF("term")
      .select(col("term"),
        pmod(xxhash64(col("term")), lit(LexicalStore.NumBuckets)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    terms.foreach { t =>
      assert(LexicalStore.bucketOf(t) == planSide(t),
        s"bucket mismatch for '$t'")
    }
  }

  test("search prunes the postings read to the query terms' buckets") {
    built()
    // terms that actually occur in the fixture: the first two distinct
    // tokens of doc 0 (an absent term's scan folds to EmptyRelation,
    // which would vacuously pass)
    val terms = Tables.documents(spark, d).filter(col("doc_id") === 0)
      .select(col("text")).head().getString(0)
      .split(" ").filter(_.nonEmpty).distinct.take(2).toSeq
    val maxDirs = terms.map(LexicalStore.bucketOf).distinct.size
    val df = LexicalStore.searchTopKLexical(spark, path, terms, k = 5)
    df.collect()
    val scans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(p =>
        p.toString.contains("test_lex_index") && !p.toString.contains("_stats")))
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
        s"postings scan must carry a bucket partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= maxDirs,
        s"query with $maxDirs distinct buckets read $read of " +
          s"${LexicalStore.NumBuckets} directories: $f")
      // row-group pushdown: the term equality list reaches the reader
      assert(f.dataFilters.exists(_.references.exists(_.name == "term")),
        s"term IN-list must reach the postings scan: $f")
    }
  }

  test("lexical search is deterministic and the query doc ranks high") {
    built()
    val qtext = Tables.documents(spark, d).filter(col("doc_id") === 0)
      .select(col("text")).head().getString(0)
    val terms = qtext.split(" ").filter(_.nonEmpty).toSeq
    val run = () => LexicalStore.searchTopKLexical(spark, path, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val a = run()
    // BM25 does NOT guarantee self-retrieval at rank 1 — length
    // normalization can put a denser-matching doc above the query doc
    // (observed: rank 3 at sf0.001) — but the doc matching every
    // query term must surface in the top-10
    assert(a.exists(_._1 == 0L),
      s"querying doc 0's own terms must surface doc 0 in the top-10: $a")
    assert(a == run(), "identical query must produce identical micros/ranks")
    assert(a.map(_._3) == a.map(_._3).sorted.reverse,
      "micros must be non-increasing with rank")
  }

  test("a where= predicate filters candidates beneath the rank") {
    built()
    val qtext = Tables.documents(spark, d).filter(col("doc_id") === 0)
      .select(col("text")).head().getString(0)
    val terms = qtext.split(" ").filter(_.nonEmpty).toSeq
    val got = LexicalStore.searchTopKLexical(spark, path, terms, k = 10,
        where = Some(col("doc_id") >= 1))
      .collect().map(_.getLong(0)).toSeq
    assert(!got.contains(0L), s"doc 0 must be filtered out: $got")
    assert(got.nonEmpty)
  }

  test("batch lexical search equals the single-query path, per query") {
    built()
    val texts = Tables.documents(spark, d).filter(col("doc_id") < 3)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    val batch = LexicalStore.searchTopKLexicalBatch(spark, path, texts, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSeq.sorted
    val singles = texts.flatMap { case (qid, text) =>
      LexicalStore.searchTopKLexical(spark, path,
          text.split(" ").filter(_.nonEmpty).toSeq, k = 5)
        .collect().map(r => (qid, r.getLong(0), r.getInt(1), r.getLong(2)))
    }.sorted
    assert(batch == singles, s"batch and sequential diverge:\n$batch\n$singles")
  }

  test("rrfFuse: both-list docs outrank single-list docs at equal depth") {
    import spark.implicits._
    // doc 1 is rank 1 on both sides; docs 2/3 are rank 2 on one side
    val lex = Seq((1L, 1), (2L, 2)).toDF("doc_id", "lex_rank")
    val vec = Seq((1L, 1), (3L, 2)).toDF("doc_id", "vec_rank")
    val rows = LexicalStore.rrfFuse(lex, vec, k = 10).collect()
    assert(rows.head.getLong(1) == 1L)
    val micros = rows.map(r => r.getLong(1) -> r.getLong(4)).toMap
    // 1: 2*floor(1e9/61); 2 and 3: floor(1e9/62) each, doc_id tie-break
    assert(micros(1L) == 2L * (1000000000L / 61L))
    assert(micros(2L) == 1000000000L / 62L)
    assert(micros(2L) == micros(3L))
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    // a doc absent from one list carries a NULL rank there
    val doc3 = rows.find(_.getLong(1) == 3L).get
    assert(doc3.isNullAt(2) && !doc3.isNullAt(3))
  }

  test("explainRrf: per-arm decomposition is sum-exact against the " +
      "fused score, NULL arms explain as 0, bad arms fail by name") {
    import spark.implicits._
    val lex = Seq((1L, 1), (2L, 2)).toDF("doc_id", "lex_rank")
    val vec = Seq((1L, 1), (3L, 2)).toDF("doc_id", "vec_rank")
    val fused = LexicalStore.rrfFuse(lex, vec, k = 10)
    val ex = LexicalStore.explainRrf(fused, Seq("lex", "vec")).collect()
    // 2 arms x 3 page docs; contributions re-derive from rank via the
    // fusion's own rrfPart expression
    assert(ex.length == 6, ex.mkString(","))
    val byDoc = ex.groupBy(_.getLong(0))
      .map { case (doc, rs) => doc -> rs.map(_.getAs[Long]("rrf_contrib")).sum }
    val want = fused.collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(byDoc == want, s"sum $byDoc != fused $want")
    // doc 3 missed the lex arm: NULL rank, contribution exactly 0
    val d3lex = ex.find(r => r.getLong(0) == 3L && r.getString(1) == "lex").get
    assert(d3lex.isNullAt(2) && d3lex.getAs[Long]("rrf_contrib") == 0L)
    // the 3-arm tri-hybrid shape decomposes the same way
    val tri = fused.withColumn("li_rank",
      when(col("doc_id") === 1L, lit(4)).otherwise(lit(null)))
      .withColumn("rrf_micros",
        col("rrf_micros") + LexicalStore.rrfPart(col("li_rank")))
    val ex3 = LexicalStore.explainRrf(tri, Seq("lex", "vec", "li")).collect()
    val byDoc3 = ex3.groupBy(_.getLong(0))
      .map { case (doc, rs) => doc -> rs.map(_.getAs[Long]("rrf_contrib")).sum }
    val want3 = tri.select(col("doc_id"), col("rrf_micros")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc3 == want3, s"sum $byDoc3 != fused $want3")
    // an arm the frame doesn't carry fails loudly, by name
    val e = intercept[IllegalArgumentException] {
      LexicalStore.explainRrf(fused, Seq("lex", "li"))
    }
    assert(e.getMessage.contains("li_rank"), e.getMessage)
  }

  private val maintPath = s"${Sessions.workDir}/test_lex_maint"

  private def terms0: Seq[String] =
    Tables.documents(spark, d).filter(col("doc_id") === 0)
      .select(col("text")).head().getString(0)
      .split(" ").filter(_.nonEmpty).toSeq

  private def top(k: Int = 50): Map[Long, Long] =
    LexicalStore.searchTopKLexical(spark, maintPath, terms0, k)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

  test("tombstone delete hides ids immediately but keeps survivor scores (stale df)") {
    val docs = Tables.documents(spark, d)
    LexicalStore.build(spark, docs, maintPath)
    // deep enough to cover every candidate, so any doc surfacing
    // post-delete has a pre-delete score to compare against
    val before = top(1000000)
    val doomed = docs.filter(pmod(col("doc_id"), lit(3)) === 0).select(col("doc_id"))
    LexicalStore.deleteLexical(spark, maintPath, doomed)
    val after = top()
    assert(after.keys.forall(_ % 3 != 0), "deleted ids must stop surfacing")
    // Lucene semantics: df/stats are build-time until compaction, so a
    // surviving doc's score is bit-identical before and after the delete
    after.foreach { case (id, micros) => assert(before(id) == micros) }
    // replayed takedown (at-least-once queue) changes nothing
    LexicalStore.deleteLexical(spark, maintPath, doomed)
    assert(top() == after)
  }

  test("compact equals a fresh build over the survivors; upsert over the merged corpus") {
    val docs = Tables.documents(spark, d)
    LexicalStore.build(spark, docs, maintPath)
    LexicalStore.deleteLexical(spark, maintPath,
      docs.filter(pmod(col("doc_id"), lit(3)) === 0).select(col("doc_id")))
    LexicalStore.compactLexical(spark, maintPath)
    val survivors = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val freshPath = s"${Sessions.workDir}/test_lex_fresh"
    LexicalStore.build(spark, survivors, freshPath)
    val compacted = top()
    val fresh = LexicalStore.searchTopKLexical(spark, freshPath, terms0, 50)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(compacted == fresh, "compaction must equal a from-scratch build")
    // upsert: re-text doc_id%5==1 (including previously deleted ids —
    // an upserted tombstoned id is live again with its new text)
    val upserts = docs.filter(pmod(col("doc_id"), lit(5)) === 1)
      .select(col("doc_id"), concat(col("text"), lit(" "), col("lang")).as("text"))
    LexicalStore.upsertLexical(spark, maintPath, upserts)
    val merged = survivors.filter(pmod(col("doc_id"), lit(5)) =!= 1)
      .select(col("doc_id"), col("text"))
      .union(upserts)
    LexicalStore.build(spark, merged, freshPath)
    val upserted = top()
    val freshUp = LexicalStore.searchTopKLexical(spark, freshPath, terms0, 50)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(upserted == freshUp, "upsert must equal a build over the merged corpus")
    // a fresh build at the path starts with nothing deleted
    LexicalStore.deleteLexical(spark, maintPath, docs.limit(5).select(col("doc_id")))
    LexicalStore.build(spark, docs, maintPath)
    val rebuilt = top()
    assert(rebuilt.keys.exists(_ < 5), "rebuild must clear tombstones")
  }

  test("ranker agreement profile: bounded counts, exact ratios, monotone RBO") {
    val rows = SparkEntry.queries("q193_ranker_agreement")(spark, d)
      .collect()
    assert(rows.length == 20, "one row per depth 1..20")
    var prev = -1L
    rows.foreach { r =>
      val (dd, nl, nv, ov) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nl <= dd && nv <= dd, "a depth-d prefix holds at most d docs")
      assert(ov <= math.min(nl, nv), "overlap is bounded by both prefixes")
      assert(r.getLong(4) == ov * 1000000L / dd, "agreement = overlap/d micros")
      assert(r.getLong(5) >= prev, "truncated RBO accumulates monotonically")
      prev = r.getLong(5)
    }
    assert(prev <= 1000000L, "truncated RBO mass cannot exceed 1")
  }

  test("PRF expansion recalls a doc sharing NO query term, and never " +
      "expands with a query term") {
    import spark.implicits._
    // seed docs (0,1) match the query and carry the topic word "salmon";
    // doc 5 shares ONLY the topic vocabulary — invisible to plain BM25,
    // exactly what expansion exists to recall. Filler docs keep
    // "salmon" rare (high idf => it wins the mining rank).
    val docs = (Seq(
      (0L, "stream window salmon river"),
      (1L, "stream window salmon bend"),
      (5L, "salmon salmon ladder")) ++
      (10L to 29L).map(i => (i, s"filler$i pad$i pad$i noise")))
      .toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_prf"
    LexicalStore.build(spark, docs, p)
    val q = Seq("stream", "window")
    val plain = LexicalStore.searchTopKLexical(spark, p, q, 10)
      .select("doc_id").as[Long].collect().toSet
    val prf = LexicalStore.searchTopKPrf(spark, p, docs, q, k = 10,
      fbDocs = 2, fbTerms = 3)
    val prfIds = prf.select("doc_id").as[Long].collect().toSet
    assert(!plain.contains(5L), "plain BM25 cannot see doc 5")
    assert(prfIds.contains(5L), "expansion must recall doc 5")
    assert(plain.subsetOf(prfIds), "original-term matches still rank")
    // determinism: two runs, same rows
    val again = LexicalStore.searchTopKPrf(spark, p, docs, q, k = 10,
      fbDocs = 2, fbTerms = 3)
    assert(prf.collect().toSeq == again.collect().toSeq)
  }

  test("PRF with nothing to expand degenerates to the plain ranking, " +
      "scores EXACTLY equal") {
    import spark.implicits._
    // feedback docs contain only query terms => empty candidate set;
    // the 1e6-weighted split w*(m div 1e6)+(w*(m mod 1e6)) div 1e6
    // must reproduce m exactly, not approximately
    val docs = Seq(
      (0L, "stream window stream"),
      (1L, "window stream"),
      (2L, "stream"),
      (3L, "window window window")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_prf_empty"
    LexicalStore.build(spark, docs, p)
    val q = Seq("stream", "window")
    val plain = LexicalStore.searchTopKLexical(spark, p, q, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val prf = LexicalStore.searchTopKPrf(spark, p, docs, q, k = 4,
      fbDocs = 2, fbTerms = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(prf.toSeq == plain.toSeq)
  }

  test("phrase search: adjacency only — scattered, reversed and " +
      "overlapping-run cases") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b"),        // "a b" twice, adjacent
      (2L, "a c b a z b"),      // both words, never adjacent
      (3L, "b a b a"),          // "a b" once (pos 1-2); "b a" twice
      (4L, "x x x y"),          // overlapping run: "x x" counts 2
      (5L, "c z q")             // neither word
    ).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_pos"
    LexicalStore.buildPositional(spark, docs, p)
    def run(phrase: String*) =
      LexicalStore.searchPhrase(spark, p, phrase, k = 10)
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(run("a", "b") == Map(1L -> 2, 3L -> 1),
      "adjacent occurrences only; scattered doc 2 must not match")
    // reversed phrase: doc 1 has "a b" twice but "b a" never; docs 3
    // (b@0 a@1, b@2 a@3) and 2 (b@2 a@3) match — order matters
    assert(run("b", "a") == Map(3L -> 2, 2L -> 1),
      "phrase order matters: reversed is a different phrase")
    assert(run("x", "x") == Map(4L -> 2),
      "a repeated-word phrase counts overlapping runs")
    // three-term phrase: only doc 1 has "a b c"
    assert(run("a", "b", "c") == Map(1L -> 1))
    // ranking: higher phrase_tf first, then doc_id
    val ranked = LexicalStore.searchPhrase(spark, p, Seq("a", "b"), k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(ranked == Seq((1L, 1), (3L, 2)))
  }

  test("NEAR search: any order, slop-bounded, min over every occurrence pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a z z b"),      // min |0-3| = 3
      (2L, "b a"),          // reversed adjacency: min 1
      (3L, "a z z z z b a"),// occurrences a@{0,6} b@5: min |6-5| = 1
      (4L, "a z z z z b"),  // min 5 > slop 3: filtered out
      (5L, "a a a")         // no b: never joins
    ).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_near"
    LexicalStore.buildPositional(spark, docs, p)
    val got = LexicalStore.searchNear(spark, p, "a", "b", slop = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    // rank by (min_dist asc, doc_id): docs 2 and 3 at dist 1, doc 1 at 3
    assert(got == Seq((2L, 1, 1), (3L, 2, 1), (1L, 3, 3)), got.toString)
    intercept[IllegalArgumentException] {
      LexicalStore.searchNear(spark, p, "a", "a", slop = 3)
    }
  }

  test("boolean search: must gates, mustNot excludes, should only scores") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),       // must pair + should: top
      (2L, "alpha beta"),             // must pair only
      (3L, "alpha gamma gamma"),      // missing beta: gated out
      (4L, "alpha beta gamma toxic"), // both musts but banned
      (5L, "gamma gamma gamma")       // should-only doc: gated out
    ).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_bool"
    LexicalStore.build(spark, docs, p)
    val got = LexicalStore.searchBoolean(spark, p,
        must = Seq("alpha", "beta"), should = Seq("gamma"),
        mustNot = Seq("toxic"), k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got.map(_._1) == Seq(1L, 2L), got.toString)
    // should-only query: no gate, every gamma doc scores
    val shouldOnly = LexicalStore.searchBoolean(spark, p,
        must = Seq.empty, should = Seq("gamma"), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(shouldOnly == Set(1L, 3L, 4L, 5L))
    intercept[IllegalArgumentException] {
      LexicalStore.searchBoolean(spark, p, must = Seq("alpha"),
        mustNot = Seq("alpha"))
    }
  }

  test("prefix search: dictionary expansion honors the df-ranked cap " +
      "and equals the expanded-term search") {
    import spark.implicits._
    val docs = Seq(
      (1L, "star star star alpha"),
      (2L, "stone star beta"),
      (3L, "steel stone gamma"),
      (4L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_prefix"
    LexicalStore.build(spark, docs, p)
    // dfs: star 2, stone 2, steel 1 => cap 2 keeps (star, stone) —
    // df DESC then term ASC
    val capped = LexicalStore.searchPrefix(spark, p, "st", k = 10,
        maxExpansions = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val manual = LexicalStore.searchTopKLexical(spark, p,
        Seq("star", "stone"), k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(capped == manual, s"$capped vs $manual")
    assert(!capped.map(_._1).contains(4L), "no st-term doc can surface")
    // uncapped expansion reaches steel => doc 3 gains its contribution
    val full = LexicalStore.searchPrefix(spark, p, "st", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val doc3Capped = capped.find(_._1 == 3L).get._3
    assert(full(3L) > doc3Capped,
      "steel must add score once inside the expansion")
    intercept[IllegalArgumentException] {
      LexicalStore.searchPrefix(spark, p, "zz")
    }
  }

  test("snippetBest: densest window wins, ties go earliest, " +
      "partial-term docs still fragment") {
    import spark.implicits._
    val docs = Seq(
      // "red" at 0 alone; {red, blue, green} packed at 10..12 — the
      // 3-term window must beat the earlier 1-term one
      (1L, "red z z z z z z z z z red blue green z"),
      // only "blue" present, twice: 1-term window at the FIRST hit
      (2L, "z blue z z blue"),
      (3L, "z z z")
    ).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_snip"
    LexicalStore.buildPositional(spark, docs, p)
    val cands = Seq(1L, 2L, 3L).toDF("doc_id")
    val got = LexicalStore.snippetBest(spark, p,
        Seq("red", "blue", "green"), cands, w = 4)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2))))
      .toMap
    // doc 3 has no query term: no fragment row at all
    assert(got == Map(1L -> ((10, 3)), 2L -> ((1, 1))), got.toString)
    // a 1-token window degenerates to the first occurrence
    val w1 = LexicalStore.snippetBest(spark, p,
        Seq("red", "blue", "green"), cands, w = 1)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2))))
      .toMap
    assert(w1(1L) == ((0, 1)))
  }

  test("positional verbs honor tombstones; a rebuild clears them") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),
      (2L, "a b d"),
      (3L, "a z b")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_pos_tomb"
    LexicalStore.buildPositional(spark, docs, p)
    LexicalStore.deleteLexical(spark, p, Seq(1L))
    def phraseIds() = LexicalStore.searchPhrase(spark, p, Seq("a", "b"))
      .collect().map(_.getLong(0)).toSet
    assert(phraseIds() == Set(2L), "tombstoned doc 1 must stop surfacing")
    assert(LexicalStore.searchNear(spark, p, "a", "b", slop = 2)
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(LexicalStore.snippetBest(spark, p, Seq("a", "b"),
        Seq(1L, 2L).toDF("doc_id"), w = 3)
      .collect().map(_.getLong(0)).toSet == Set(2L))
    // rebuild = new corpus version: the sidecar must not survive it
    LexicalStore.buildPositional(spark, docs, p)
    assert(phraseIds() == Set(1L, 2L))
  }

  test("suggestTerms: distance then attestation then term; exact hit at 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "stream stream stream steam"),
      (2L, "steam scream z"),
      (3L, "stream x y")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_sugg"
    LexicalStore.build(spark, docs, p)
    val got = LexicalStore.suggestTerms(spark, p, "streem", maxDist = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    // dist 1: stream; dist 2: steam (df 2) beats scream (df 1) on
    // attestation; z/x/y beyond maxDist
    assert(got == Seq((1, "stream", 1), (2, "steam", 2), (3, "scream", 2)),
      got.toString)
    // a correctly spelled word reports itself at distance 0, rank 1
    val exact = LexicalStore.suggestTerms(spark, p, "stream", maxDist = 1)
      .collect().head
    assert(exact.getString(1) == "stream" && exact.getInt(2) == 0)
  }

  test("colbert upsert equals a fresh build over the replaced corpus") {
    // the q151 convention applied to the token-vector layout: after
    // upsertColbert (re-texted docs + a brand-new doc), searchColbert
    // must equal a from-scratch build over the corpus-with-
    // replacements. Exhaustive probes (= kCells) make the candidate
    // set complete on both layouts, so the comparison is over exact
    // MaxSim scores — the upserted layout quantizes the new vectors
    // through its STORED centroids while the fresh build retrains, and
    // the ranking still may not move (cells affect only pruning).
    import java.nio.file.{Paths => JPaths}
    import operators.Hybrid
    import spark.implicits._
    val docs = Tables.documents(spark, d).filter(col("doc_id") < 30)
      .select(col("doc_id"), col("text"))
    val upPath = s"${Sessions.workDir}/test_colbert_up"
    graft.sources.VersionedStore.deleteTree(JPaths.get(upPath))
    Hybrid.buildColbert(spark, docs, upPath, maxToks = 16, kCells = 8)
    val retexted = docs.filter(col("doc_id").isin(3L, 7L))
      .select(col("doc_id"),
        concat(lit("replacement body about windowed aggregation "),
          col("text")).as("text"))
    val brandNew = Seq((900L,
      "a brand new document about windowed aggregation over sorted batches"))
      .toDF("doc_id", "text")
    Hybrid.upsertColbert(spark, retexted.unionByName(brandNew), upPath,
      maxToks = 16)
    val freshPath = s"${Sessions.workDir}/test_colbert_up_fresh"
    graft.sources.VersionedStore.deleteTree(JPaths.get(freshPath))
    Hybrid.buildColbert(spark,
      docs.filter(!col("doc_id").isin(3L, 7L))
        .unionByName(retexted).unionByName(brandNew),
      freshPath, maxToks = 16, kCells = 8)
    Seq("windowed aggregation over sorted batches",
        "replacement body about windowed aggregation",
        "grouped partitioned batches").foreach { q =>
      def top(p: String) = Hybrid.searchColbert(spark, p, q,
          probes = 8, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(top(upPath) == top(freshPath),
        s"upserted search must equal the fresh-build search for '$q'")
    }
  }

  test("segment append leaves existing segment files byte-untouched") {
    import org.apache.hadoop.fs.Path
    val segPath = s"${Sessions.workDir}/test_lex_segments"
    val p = new Path(segPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = Tables.documents(spark, d)
    LexicalStore.appendLexicalSegment(spark,
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), segPath)
    // the layout is bucket-major: segment s's postings live under
    // every bucket=b/seg=s directory
    def files(seg: Int): Map[String, (Long, Long)] = {
      val it = fs.listFiles(p, true)
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getParent.getName == s"seg=$seg" &&
            f.getPath.getParent.getParent.getName.startsWith("bucket="))
          b += f.getPath.toString -> ((f.getLen, f.getModificationTime))
      }
      b.result()
    }
    val before = files(0)
    assert(before.nonEmpty)
    LexicalStore.appendLexicalSegment(spark,
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), segPath)
    assert(files(0) == before,
      "append must not touch existing segment files")
    assert(files(1).nonEmpty)
    // merged-stats scoring equals a from-scratch denormalized build
    val freshPath = s"${Sessions.workDir}/test_lex_seg_fresh"
    LexicalStore.build(spark, docs, freshPath)
    val qt = terms0
    val seg = LexicalStore.searchTopKSegmented(spark, segPath, qt, 50)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    val fresh = LexicalStore.searchTopKLexical(spark, freshPath, qt, 50)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(seg == fresh, "segment-merged scores must equal the rebuild's")
    // segmented search still prunes on the bucket partition column
    val narrow = LexicalStore.searchTopKSegmented(spark, segPath, qt.take(2), 5)
    narrow.collect()
    val scans = leafScans(narrow.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(rp =>
        rp.toString.contains("test_lex_segments") && !rp.toString.contains("_segstats")))
    assert(scans.nonEmpty)
    assert(scans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == "bucket"))),
      "segmented postings scan must carry a bucket partition filter")
    // forceMerge: one segment left, scores identical
    LexicalStore.compactSegments(spark, segPath)
    assert(files(1).isEmpty && files(0).nonEmpty)
    val merged = LexicalStore.searchTopKSegmented(spark, segPath, qt, 50)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(merged == fresh, "forceMerge must not move scores")
  }

  test("colbert index: probing returns full-gather-exact scores and prunes partitions") {
    import operators.Hybrid
    val path = s"${Sessions.workDir}/test_colbert_index"
    Hybrid.buildColbert(spark, Tables.documents(spark, d), path,
      maxToks = 16, kCells = 8)
    val query = "stream window partition merge"
    // a candidate's MaxSim is computed from its FULL token rows, so a
    // doc surfaced under narrow probing scores identically to the
    // all-cells (brute-force candidate set) ranking
    val full = Hybrid.searchColbert(spark, path, query, probes = 8, k = 1000000)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val narrow = Hybrid.searchColbert(spark, path, query, probes = 2, k = 10)
      .collect()
    assert(narrow.nonEmpty)
    narrow.foreach { r =>
      assert(full(r.getLong(1)) == r.getLong(2),
        s"doc ${r.getLong(1)} scored differently under narrow probing")
    }
    // the candidate-generation scan must prune to the probed cells
    val res = Hybrid.searchColbert(spark, path, query, probes = 2, k = 10)
    res.collect()
    val scans = leafScans(res.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(p =>
        p.toString.contains("test_colbert_index") && !p.toString.contains("_centroids")))
    assert(scans.nonEmpty)
    // 4 query tokens x 2 probes = at most 8 of the 8 cells COULD be
    // probed; assert at least one scan carries the cell filter and
    // reads fewer than all partitions (distinct probed < kCells here)
    val prunedScan = scans.filter(
      _.partitionFilters.exists(_.references.exists(_.name == "cell")))
    assert(prunedScan.nonEmpty,
      s"candidate scan must carry a cell partition filter:\n${scans.mkString("\n")}")
    // incremental append through the stored centroids: full-probe
    // results are centroid-independent, so incremental == rebuilt
    val docs = Tables.documents(spark, d)
    val incPath = s"${Sessions.workDir}/test_colbert_inc"
    Hybrid.buildColbert(spark,
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), incPath,
      maxToks = 16, kCells = 8)
    Hybrid.appendColbert(spark,
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), incPath, maxToks = 16)
    val inc = Hybrid.searchColbert(spark, incPath, query, probes = 8, k = 20)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val reb = Hybrid.searchColbert(spark, path, query, probes = 8, k = 20)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(inc == reb, "append-then-search must equal rebuild-then-search at full probe")
  }

  test("explainColbert: per-(doc, query-token) argmax rows are sum-exact " +
      "against searchColbert and name the winning token position") {
    import operators.Hybrid
    val path = s"${Sessions.workDir}/test_colbert_index"
    Hybrid.buildColbert(spark, Tables.documents(spark, d), path,
      maxToks = 16, kCells = 8)
    val query = "stream window partition merge"
    val page = Hybrid.searchColbert(spark, path, query, probes = 2, k = 10)
      .localCheckpoint()
    val want = page.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    import spark.implicits._
    val ex = Hybrid.explainColbert(spark, path, query,
      page.select(col("doc_id"))).collect()
    // one row per (page doc, query token)
    assert(ex.length == want.size * 4, s"${ex.length} rows for ${want.size} docs")
    // sum-exact: per-doc Σ max_micros == the rank path's li_micros
    val sums = ex.groupBy(_.getLong(0))
      .map { case (doc, rs) => doc -> rs.map(_.getAs[Long]("max_micros")).sum }
    assert(sums == want, s"explain sums $sums != rank $want")
    // the named winning position is real: re-scoring THAT token of
    // that doc against that query token reproduces max_micros exactly
    val r0 = ex.head
    val qtok = query.split(" ")(r0.getLong(1).toInt)
    val qvec = graft.functions.Embed.embed(qtok,
      graft.functions.Embed.DefaultDim).toSeq
    val got = spark.read.parquet(path)
      .filter(col("doc_id") === r0.getLong(0) && col("tpos") === r0.getInt(2))
      .crossJoin(broadcast(Seq(Tuple1(qvec)).toDF("qvec")))
      .select(floor(graft.functions.VectorOps.vecCosine(col("tokvec"),
        col("qvec")) * lit(1000000d)).cast("long"))
      .head().getLong(0)
    assert(got == r0.getAs[Long]("max_micros"), s"$got != $r0")
  }

  test("colbert takedown: tombstone equals fresh-build-without-doc exactly; " +
      "compact reclaims rows touching only the doomed doc's cells") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import scala.jdk.CollectionConverters._
    import operators.Hybrid
    val docs = Tables.documents(spark, d).filter(col("doc_id") < 40)
    val tdPath = s"${Sessions.workDir}/test_colbert_td"
    graft.sources.VersionedStore.deleteTree(JPaths.get(tdPath))
    Hybrid.buildColbert(spark, docs, tdPath, maxToks = 16, kCells = 8)
    val query = "window aggregation over sorted batches"
    def top(p: String) = Hybrid.searchColbert(spark, p, query, probes = 8, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val before = top(tdPath)
    val doomed = before.head._2
    import spark.implicits._
    Hybrid.deleteColbert(spark, tdPath, Seq(doomed).toDF("doc_id"))
    // tombstoned search == fresh build over the survivors, EXACTLY:
    // MaxSim carries no corpus statistics, so unlike BM25 there is no
    // stale-stats caveat
    val freshPath = s"${Sessions.workDir}/test_colbert_td_fresh"
    graft.sources.VersionedStore.deleteTree(JPaths.get(freshPath))
    Hybrid.buildColbert(spark,
      docs.filter(col("doc_id") =!= doomed), freshPath,
      maxToks = 16, kCells = 8)
    assert(top(tdPath) == top(freshPath),
      "tombstoned search must equal the fresh-build-without-doc search")
    // compact: physically removes the doc's rows, rewrites ONLY its
    // cells, clears the sidecar, changes no result
    val tombstonedTop = top(tdPath)
    val cellsBefore = spark.read.parquet(tdPath)
      .filter(col("doc_id") === doomed)
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val untouched = spark.read.parquet(tdPath)
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet -- cellsBefore
    def cellFiles(c: Long) = {
      val dir = JPaths.get(s"$tdPath/cell=$c")
      scala.util.Using.resource(JFiles.list(dir))(
        _.iterator().asScala.map(p =>
          p.getFileName.toString ->
            JFiles.getLastModifiedTime(p).toMillis).toSet)
    }
    val quietBefore = untouched.map(c => c -> cellFiles(c)).toMap
    Hybrid.compactColbert(spark, tdPath)
    assert(spark.read.parquet(tdPath)
      .filter(col("doc_id") === doomed).count() == 0,
      "compaction must physically remove the doomed rows")
    assert(!JFiles.exists(JPaths.get(s"$tdPath/_tombstones")),
      "compaction must clear the tombstone sidecar")
    untouched.foreach { c =>
      assert(cellFiles(c) == quietBefore(c),
        s"quiet cell $c must keep its exact files")
    }
    assert(top(tdPath) == tombstonedTop,
      "the physical rewrite must not move a single score")
    // upsert = replace-by-identity: re-texting a doc replaces its
    // token vectors (no duplicates), and upserting it again with the
    // ORIGINAL text restores the fresh-build ranking exactly
    val victim = tombstonedTop.head._2
    val revised = docs.filter(col("doc_id") === victim)
      .select(col("doc_id"), lit("entirely unrelated replacement text").as("text"))
    Hybrid.upsertColbert(spark, revised, tdPath, maxToks = 16)
    assert(spark.read.parquet(tdPath)
      .filter(col("doc_id") === victim).count() <= 16,
      "upsert must replace, not duplicate, the doc's token vectors")
    assert(top(tdPath).head._2 != victim,
      "the re-texted doc must stop matching the query")
    Hybrid.upsertColbert(spark,
      docs.filter(col("doc_id") === victim), tdPath, maxToks = 16)
    assert(top(tdPath) == tombstonedTop,
      "re-upserting the original text must restore the exact ranking")
    // an upsert must NOT expunge unrelated pending tombstones: delete
    // doc A, upsert doc B -> A stays hidden (sidecar intact) and A's
    // rows stay on disk awaiting the off-peak compact
    val pendingId = tombstonedTop.head._2
    val otherId = tombstonedTop(1)._2
    Hybrid.deleteColbert(spark, tdPath, Seq(pendingId).toDF("doc_id"))
    Hybrid.upsertColbert(spark,
      docs.filter(col("doc_id") === otherId), tdPath, maxToks = 16)
    assert(!top(tdPath).exists(_._2 == pendingId),
      "the pending tombstone must survive an unrelated upsert")
    assert(spark.read.parquet(tdPath)
      .filter(col("doc_id") === pendingId).count() > 0,
      "an unrelated upsert must not physically reclaim pending tombstones")
    // and upserting the tombstoned id itself revives it
    Hybrid.upsertColbert(spark,
      docs.filter(col("doc_id") === pendingId), tdPath, maxToks = 16)
    assert(top(tdPath).exists(_._2 == pendingId),
      "upserting a tombstoned id must make it live again")
    assert(!JFiles.exists(JPaths.get(s"$tdPath/_tombstones")),
      "reviving the only tombstoned id empties and removes the sidecar")
  }

  // ---- r16: analyzer normalization -----------------------------------

  test("folded analyzer: case and punctuation fold identically at " +
      "index and query time") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The QUICK brown fox."),   // uppercase + trailing punct
      (2L, "a quick, brown fix"),     // comma glued to 'quick'
      (3L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val folded = s"${Sessions.workDir}/test_lex_folded"
    val raw = s"${Sessions.workDir}/test_lex_rawcase"
    LexicalStore.build(spark, docs, folded,
      analyzer = LexicalStore.AnalyzerFolded)
    LexicalStore.build(spark, docs, raw)
    // the r15 verdict's exact scenario: "The Quick" against a layout
    // whose corpus spells it differently in case and punctuation
    val hits = LexicalStore.searchTopKLexical(spark, folded,
        Seq("Quick!", "BROWN"), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2L),
      s"folded layout must match across case and punctuation: $hits")
    // the raw layout keeps the engine's original exact-token contract
    val rawHits = LexicalStore.searchTopKLexical(spark, raw,
        Seq("Quick!", "BROWN"), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(rawHits.isEmpty,
      s"raw layout must stay exact-token (got $rawHits)")
    // the analyzer rides the layout, not the call: sidecar-read
    assert(LexicalStore.analyzerOf(spark, folded)
      == LexicalStore.AnalyzerFolded)
    assert(LexicalStore.analyzerOf(spark, raw) == LexicalStore.AnalyzerRaw)
  }

  test("foldQueryTerms: multi-token expansion keeps order, empty folds drop") {
    assert(LexicalStore.foldQueryTerms(
        Seq("Don't", "STOP!"), LexicalStore.AnalyzerFolded)
      == Seq("don", "t", "stop"))
    assert(LexicalStore.foldQueryTerms(
        Seq("...", "ok"), LexicalStore.AnalyzerFolded) == Seq("ok"))
    assert(LexicalStore.foldQueryTerms(
        Seq("MiXeD", "..."), LexicalStore.AnalyzerRaw)
      == Seq("MiXeD", "..."), "raw is the identity")
  }

  test("folded analyzer flows through phrase, prefix, suggest and upsert") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Stream PROCESSING, at scale."),
      (2L, "stream processing basics"),
      (3L, "batch processing stream")   // words present, not adjacent
    ).toDF("doc_id", "text")
    val pos = s"${Sessions.workDir}/test_lex_folded_pos"
    LexicalStore.buildPositional(spark, docs, pos,
      analyzer = LexicalStore.AnalyzerFolded)
    val phrased = LexicalStore.searchPhrase(spark, pos,
        Seq("STREAM", "Processing?"), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(phrased == Set(1L, 2L),
      s"folded phrase must match 'Stream PROCESSING,' ($phrased)")
    val scoring = s"${Sessions.workDir}/test_lex_folded_score"
    LexicalStore.build(spark, docs, scoring,
      analyzer = LexicalStore.AnalyzerFolded)
    // dictionary terms are folded, so a mixed-case prefix expands
    val pref = LexicalStore.searchPrefix(spark, scoring, "PROC", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(pref == Set(1L, 2L, 3L), pref.toString)
    val sugg = LexicalStore.suggestTerms(spark, scoring, "Streem,",
        maxDist = 2, k = 3).collect().map(_.getString(1)).toSeq
    assert(sugg.contains("stream"), sugg.toString)
    // an upsert folds its new text under the layout's stored analyzer
    LexicalStore.upsertLexical(spark, scoring,
      Seq((4L, "STREAM! Stream; stream")).toDF("doc_id", "text"))
    val after = LexicalStore.searchTopKLexical(spark, scoring,
        Seq("stream"), k = 10).collect().map(_.getLong(0)).toSet
    assert(after.contains(4L),
      "upserted uppercase text must index folded")
  }

  test("segment appends must not mix analyzers") {
    import spark.implicits._
    val p = s"${Sessions.workDir}/test_lex_seg_mixana"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    LexicalStore.appendLexicalSegment(spark,
      Seq((1L, "a b")).toDF("doc_id", "text"), p,
      analyzer = LexicalStore.AnalyzerFolded)
    intercept[IllegalArgumentException] {
      LexicalStore.appendLexicalSegment(spark,
        Seq((2L, "c d")).toDF("doc_id", "text"), p)
    }
  }

  // ---- r16: rarest-first conjunction ordering -------------------------

  test("slotOrderByDf: ascending df, phrase position breaks ties") {
    assert(LexicalStore.slotOrderByDf(
        Seq("of", "the", "zyzzyva"),
        Map("of" -> 900L, "the" -> 1000L, "zyzzyva" -> 2L))
      == Seq(2, 0, 1))
    assert(LexicalStore.slotOrderByDf(
        Seq("a", "b", "a"), Map("a" -> 5L, "b" -> 5L))
      == Seq(0, 1, 2), "ties keep phrase order")
    assert(LexicalStore.slotOrderByDf(
        Seq("seen", "unseen"), Map("seen" -> 3L))
      == Seq(1, 0), "an unindexed term is rarest (df 0) and goes first")
  }

  test("phrase search intersects rarest term first (plan pin)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    // 'common1 common2' everywhere; 'needle' once — the r15 verdict's
    // scale-killer shape: phrase order (common, common, rare) must NOT
    // become join order
    val docs = (1L to 200L).map(i => (i, "common1 common2 filler")) :+
      (201L, "common1 common2 needle")
    val p = s"${Sessions.workDir}/test_lex_rarest"
    LexicalStore.buildPositional(spark, docs.toDF("doc_id", "text"), p)
    val df = LexicalStore.searchPhrase(spark, p,
      Seq("common1", "common2", "needle"), k = 10)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(201L))
    val joins = df.queryExecution.optimizedPlan.collect { case j: LJoin => j }
    assert(joins.size == 2, s"expected a two-join chain, got $joins")
    val innermost = joins.filter(j =>
      j.children.forall(_.collect { case x: LJoin => x }.isEmpty))
    assert(innermost.size == 1)
    val leftFilters = innermost.head.left.collect {
      case f: LFilter => f.condition.toString }
    assert(leftFilters.exists(_.contains("needle")),
      "the FIRST intersection must be anchored on the rarest term " +
        s"(df 1), not the phrase-order head; filters were $leftFilters")
  }

  // ---- r16: positional maintenance ------------------------------------

  test("positional compact and upsert equal a fresh build over the " +
      "replaced corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"), (2L, "a b d"), (3L, "z a b"),
      (4L, "a z b"), (5L, "b a q")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_pos_maint"
    val fresh = s"${Sessions.workDir}/test_lex_pos_fresh"
    def phrase(path: String) =
      LexicalStore.searchPhrase(spark, path, Seq("a", "b"), k = 10)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    // compact = expungeDeletes: physical removal, tombstones cleared
    LexicalStore.buildPositional(spark, docs, p)
    LexicalStore.deleteLexical(spark, p, Seq(1L, 3L))
    LexicalStore.compactPositional(spark, p)
    assert(spark.read.parquet(p).filter(col("doc_id").isin(1L, 3L)).count() == 0,
      "compacted layout must physically drop tombstoned rows")
    assert(!new java.io.File(s"$p/_tombstones").exists())
    LexicalStore.buildPositional(spark,
      docs.filter(!col("doc_id").isin(1L, 3L)), fresh)
    assert(phrase(p) == phrase(fresh),
      "compact must equal a fresh build over the survivors")
    // upsert = compact-with-adds: replaced ids re-text, new ids insert,
    // a tombstoned id that reappears is live again
    LexicalStore.buildPositional(spark, docs, p)
    LexicalStore.deleteLexical(spark, p, Seq(2L, 4L))
    LexicalStore.upsertPositional(spark, p,
      Seq((4L, "a b a b"), (6L, "q a b")).toDF("doc_id", "text"))
    val replaced = docs.filter(!col("doc_id").isin(2L, 4L))
      .union(Seq((4L, "a b a b"), (6L, "q a b")).toDF("doc_id", "text"))
    LexicalStore.buildPositional(spark, replaced, fresh)
    assert(phrase(p) == phrase(fresh),
      "upsert must equal a fresh build over the replaced corpus")
  }

  // ---- r16: segmented term dictionary ---------------------------------

  test("segmented prefix/suggest equal the single-layout dictionary; " +
      "compactSegments keeps them working") {
    import spark.implicits._
    val docs = Seq(
      (1L, "star star stone alpha"), (2L, "stone star beta"),
      (3L, "steel stone gamma"), (4L, "alpha beta gamma"),
      (5L, "star steel stick"), (6L, "stick stone star")
    ).toDF("doc_id", "text")
    val segP = s"${Sessions.workDir}/test_lex_seg_dict"
    val oneP = s"${Sessions.workDir}/test_lex_seg_dict_one"
    val fs = new org.apache.hadoop.fs.Path(segP)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(segP), true)
    LexicalStore.appendLexicalSegment(spark,
      docs.filter(col("doc_id") <= 3), segP)
    LexicalStore.appendLexicalSegment(spark,
      docs.filter(col("doc_id") > 3), segP)
    LexicalStore.build(spark, docs, oneP)
    def prefixSeg() = LexicalStore.searchPrefix(spark, segP, "st", k = 10,
        maxExpansions = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("lex_rank"), r.getAs[Long]("lex_micros"))).toSeq
    val one = LexicalStore.searchPrefix(spark, oneP, "st", k = 10,
        maxExpansions = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("lex_rank"), r.getAs[Long]("lex_micros"))).toSeq
    assert(prefixSeg() == one,
      "merged per-segment dictionaries must expand and score exactly " +
        "like the single layout's _vocab")
    def suggSeg() = LexicalStore.suggestTerms(spark, segP, "stonee",
        maxDist = 2, k = 5)
      .collect().map(r => (r.getString(1), r.getInt(2), r.getLong(3))).toSeq
    val suggOne = LexicalStore.suggestTerms(spark, oneP, "stonee",
        maxDist = 2, k = 5)
      .collect().map(r => (r.getString(1), r.getInt(2), r.getLong(3))).toSeq
    assert(suggSeg() == suggOne,
      "summed per-segment dfs must equal the global dictionary's")
    // the forceMerge rewrites the dictionary with the merged layout
    LexicalStore.compactSegments(spark, segP)
    assert(prefixSeg() == one && suggSeg() == suggOne,
      "dictionary verbs must survive compactSegments")
  }

  // ---- r16: fuzzy / msm / wildcard / more-like-this --------------------

  test("fuzzy search: similarity-weighted expansion — exact beats " +
      "1-edit beats 2-edit at equal attestation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "stream x y"),    // exact: weight 1e6
      (2L, "steam x y"),     // 2 edits from 'streem'... 1? steam->streem = 2 ops? s-t-e-a-m vs s-t-r-e-e-m: dist 2
      (3L, "scream x y"),    // dist 2
      (4L, "unrelated x y")
    ).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_fuzzy"
    LexicalStore.build(spark, docs, p)
    val got = LexicalStore.searchFuzzy(spark, p, "streem",
        maxDist = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // 'stream' is dist 1 (insert r? streem->stream = 1 substitution?)
    // — whatever the exact distances, the ORDER must be: the closest
    // term's doc first, and the no-candidate doc absent
    assert(got.map(_._1).head == 1L, got.toString)
    assert(!got.map(_._1).contains(4L), "no fuzzy candidate, no hit")
    // weights strictly order scores where dfs and tfs are equal
    val byDoc = got.map(g => g._1 -> g._3).toMap
    assert(byDoc(1L) > byDoc(2L) && byDoc(1L) > byDoc(3L),
      s"closer expansion must outscore farther ones: $byDoc")
    intercept[IllegalArgumentException] {
      LexicalStore.searchFuzzy(spark, p, "qqqqqqq", maxDist = 1)
    }
  }

  test("minimum_should_match gates candidates by distinct should-term count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),  // 3 of 3
      (2L, "alpha beta x"),      // 2 of 3
      (3L, "alpha x y"),         // 1 of 3: gated at msm 2
      (4L, "alpha alpha alpha"), // 1 distinct (repeats don't count)
      (5L, "x y z")
    ).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_msm"
    LexicalStore.build(spark, docs, p)
    def ids(msm: Int) = LexicalStore.searchBoolean(spark, p,
        must = Seq.empty, should = Seq("alpha", "beta", "gamma"),
        k = 10, minShouldMatch = msm)
      .collect().map(_.getLong(0)).toSet
    assert(ids(0) == Set(1L, 2L, 3L, 4L), "msm 0 is the pure OR")
    assert(ids(2) == Set(1L, 2L), ids(2).toString)
    assert(ids(3) == Set(1L), "msm = |should| is the AND")
    intercept[IllegalArgumentException] {
      LexicalStore.searchBoolean(spark, p, must = Seq.empty,
        should = Seq("alpha"), minShouldMatch = 2)
    }
  }

  test("wildcard search: infix contains over the dictionary, df-capped, " +
      "segmented layout routes to the merged scorer") {
    import spark.implicits._
    val docs = Seq(
      (1L, "windmill x"), (2L, "window x"), (3L, "rewind x"),
      (4L, "nothing here")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_wild"
    LexicalStore.build(spark, docs, p)
    val got = LexicalStore.searchWildcard(spark, p, "ind", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L), got.toString)
    // leading-wildcard shape: 'mill' only matches via the infix scan
    assert(LexicalStore.searchWildcard(spark, p, "mill", k = 10)
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // segmented: same result via merged dictionaries + segmented scorer
    val segP = s"${Sessions.workDir}/test_lex_wild_seg"
    val fs = new org.apache.hadoop.fs.Path(segP)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(segP), true)
    LexicalStore.appendLexicalSegment(spark,
      docs.filter(col("doc_id") <= 2), segP)
    LexicalStore.appendLexicalSegment(spark,
      docs.filter(col("doc_id") > 2), segP)
    // one rank path for any segment count: the page equals the build's
    assert(LexicalStore.searchWildcard(spark, segP, "ind", k = 10).collect().toSeq ==
      LexicalStore.searchWildcard(spark, p, "ind", k = 10).collect().toSeq)
    intercept[IllegalArgumentException] {
      LexicalStore.searchWildcard(spark, p, "zzz")
    }
  }

  test("more-like-this selects rare-but-frequent terms, capped") {
    import spark.implicits._
    // 'rare' appears only in docs 1 and 2; 'common' everywhere — the
    // selection value must pick 'rare' over 'common' for doc 1, so
    // doc 2 (shares only 'rare') outranks doc 3 (shares only 'common')
    val docs = Seq(
      (1L, "rare common"),
      (2L, "rare other words"),
      (3L, "common other words"),
      (4L, "common common common"),
      (5L, "common z")
    ).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_mlt"
    LexicalStore.build(spark, docs, p)
    val got = LexicalStore.moreLikeThis(spark, p, docs, 1L,
        maxTerms = 1, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L),
      s"maxTerms=1 must select 'rare' (rarest in corpus): $got")
    // uncapped: both terms query, common docs surface too
    val full = LexicalStore.moreLikeThis(spark, p, docs, 1L,
        maxTerms = 8, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(full == Set(1L, 2L, 3L, 4L, 5L), full.toString)
  }

  // ---- r16: review-fix regression pins ----------------------------------

  test("a rebuild with a different analyzer invalidates OTHER sessions' " +
      "analyzer memos for the path") {
    import spark.implicits._
    val docs = Seq((1L, "The Word.")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_ana_xsession"
    LexicalStore.build(spark, docs, p) // raw
    // session A memoizes 'raw' for the path
    assert(LexicalStore.analyzerOf(spark, p) == LexicalStore.AnalyzerRaw)
    // session B (same JVM, different sessionKey) rebuilds it folded —
    // the memo keys on the SESSION PASSED to build, so the frame can
    // be session A's
    val sessionB = spark.newSession()
    LexicalStore.build(sessionB, docs, p,
      analyzer = LexicalStore.AnalyzerFolded)
    // session A must see the NEW analyzer, not its stale memo
    assert(LexicalStore.analyzerOf(spark, p) == LexicalStore.AnalyzerFolded,
      "stale per-session analyzer memo after an in-place rebuild")
    assert(LexicalStore.searchTopKLexical(spark, p, Seq("WORD!"), 5)
      .collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("facetCounts: duplicate (doc_id, facet) metadata rows count once; " +
      "multi-valued facets count per value") {
    import spark.implicits._
    val docs = Seq((1L, "hit a"), (2L, "hit b"), (3L, "miss c"))
      .toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_facet_dup"
    LexicalStore.build(spark, docs, p)
    val facets = Seq(
      (1L, "web"), (1L, "web"),       // duplicate pair: one count
      (1L, "news"),                   // second value: counts there too
      (2L, "web"), (3L, "web")        // doc 3 doesn't match
    ).toDF("doc_id", "source")
    val got = LexicalStore.facetCounts(spark, p, Seq("hit"),
        facets, "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("web" -> 2L, "news" -> 1L), got.toString)
  }

  test("multi-field search: a field whose analyzer folds the query away " +
      "contributes zero instead of failing") {
    import spark.implicits._
    val docs = Seq((1L, "... ..."), (2L, "plain text")).toDF("doc_id", "text")
    val foldedP = s"${Sessions.workDir}/test_lex_mf_folded"
    val rawP = s"${Sessions.workDir}/test_lex_mf_raw"
    LexicalStore.build(spark, docs, foldedP,
      analyzer = LexicalStore.AnalyzerFolded)
    LexicalStore.build(spark, docs, rawP)
    // '...' folds to nothing in the folded field but is a raw token
    val got = LexicalStore.searchTopKFields(spark,
        Seq(foldedP -> 2000000L, rawP -> 1000000L), Seq("..."), k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L), got.toString)
    intercept[IllegalArgumentException] {
      LexicalStore.searchTopKFields(spark,
        Seq(foldedP -> 1000000L), Seq("..."))
    }
  }

  test("searchFuzzy on appended segments equals one build of the union") {
    import spark.implicits._
    val p = s"${Sessions.workDir}/test_lex_fuzzy_seg"
    val one = s"${p}_one"
    deleteDir(p)
    val segs = Seq(Seq((1L, "stream things")), Seq((2L, "steam streams stream")))
    for (seg <- segs) LexicalStore.appendLexicalSegment(spark, seg.toDF("doc_id", "text"), p)
    LexicalStore.build(spark, segs.flatten.toDF("doc_id", "text"), one)
    def fuzzy(path: String) = {
      LexicalStore.buildSymSpell(spark, path)
      val page = LexicalStore.searchFuzzy(spark, path, "streem")
      Seq(page, LexicalStore.searchFuzzyIndexed(spark, path, "streem"),
          LexicalStore.explainFuzzy(spark, path, "streem", page.select(col("doc_id"))))
        .map(_.collect().toSeq)
    }
    val want = fuzzy(one)
    assert(want.head.nonEmpty)
    assert(fuzzy(p) == want)
  }

  // ---- r16: symspell deletion index ---------------------------------------

  test("symspell index: indexed suggestions equal the dictionary scan, " +
      "including short-term matches that need the empty variant") {
    import spark.implicits._
    val docs = Seq(
      (1L, "stream stream steam a q"),
      (2L, "scream b steam z"),
      (3L, "stream x y w")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_symspell"
    LexicalStore.build(spark, docs, p)
    LexicalStore.buildSymSpell(spark, p, maxDist = 2)
    def pair(term: String, maxDist: Int, k: Int) = (
      LexicalStore.suggestTerms(spark, p, term, maxDist, k)
        .collect().map(_.toSeq).toSeq,
      LexicalStore.suggestTermsIndexed(spark, p, term, maxDist, k)
        .collect().map(_.toSeq).toSeq)
    val (scan, indexed) = pair("streem", 2, 5)
    assert(scan.nonEmpty && scan == indexed, s"$scan vs $indexed")
    // a built-for-2 index serves maxDist-1 queries exactly too
    val (scan1, indexed1) = pair("streem", 1, 5)
    assert(scan1 == indexed1)
    // the 1-char case: 'a' matches 'b' at dist 1 ONLY via the ''
    // deletion variant — the collision SymSpell's correctness needs
    val (scanA, indexedA) = pair("a", 1, 5)
    assert(scanA.map(_(1)).contains("b"), scanA.toString)
    assert(scanA == indexedA, s"$scanA vs $indexedA")
    // querying beyond the built distance fails loudly
    intercept[IllegalArgumentException] {
      LexicalStore.suggestTermsIndexed(spark, p, "streem", maxDist = 3)
    }
    // no index -> loud, named error
    intercept[IllegalArgumentException] {
      LexicalStore.suggestTermsIndexed(spark,
        s"${Sessions.workDir}/test_lex_prefix", "streem")
    }
  }

  test("symspell-indexed fuzzy equals the scan-rewrite fuzzy") {
    val p = s"${Sessions.workDir}/test_lex_symspell"
    val scan = LexicalStore.searchFuzzy(spark, p, "streem",
        maxDist = 2, k = 10).collect().map(_.toSeq).toSeq
    val indexed = LexicalStore.searchFuzzyIndexed(spark, p, "streem",
        maxDist = 2, k = 10).collect().map(_.toSeq).toSeq
    assert(scan.nonEmpty && scan == indexed, s"$scan vs $indexed")
  }

  test("symspell query prunes the variant read to the probe's buckets") {
    val p = s"${Sessions.workDir}/test_lex_symspell"
    // short probe: 'qq' has <= 1 + 2 + 1 variants -> few buckets
    val df = LexicalStore.suggestTermsIndexed(spark, p, "qq", maxDist = 2)
    df.collect()
    val scans = PlanScans.leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("_symspell")))
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "vbucket")),
        s"variant scan must carry a vbucket partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= 4,
        s"a 2-char probe's <=4 variants must open <=4 dirs, read $read: $f")
    }
  }

  // ---- r16: pagination + facets -----------------------------------------

  test("searchAfter: pages stitch into the full ranking with no tear " +
      "or overlap, including score ties") {
    import spark.implicits._
    // deliberate score ties: identical texts score identically, so the
    // cursor MUST use the doc_id tiebreak to avoid losing/duping rows
    val docs = Seq(
      (1L, "hit hit filler"), (2L, "hit hit filler"), (3L, "hit hit filler"),
      (4L, "hit filler x"), (5L, "hit filler x"), (6L, "hit filler x"),
      (7L, "none of these")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_pages"
    LexicalStore.build(spark, docs, p)
    val all = LexicalStore.searchTopKLexical(spark, p, Seq("hit"), 6)
      .orderBy(col("lex_rank"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val page1 = all.take(2)
    val after1 = LexicalStore.searchAfter(spark, p, Seq("hit"), 2,
        page1.last._2, page1.last._1)
      .orderBy(col("page_rank"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val after2 = LexicalStore.searchAfter(spark, p, Seq("hit"), 2,
        after1.last._2, after1.last._1)
      .orderBy(col("page_rank"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(page1 ++ after1 ++ after2 == all,
      s"pages must stitch exactly: ${page1 ++ after1 ++ after2} vs $all")
  }

  test("facetCounts: counts the whole match set per facet value") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hit x", "web"), (2L, "hit y", "web"), (3L, "hit z", "book"),
      (4L, "miss a", "web")).toDF("doc_id", "text", "source")
    val p = s"${Sessions.workDir}/test_lex_facets"
    LexicalStore.build(spark, docs, p)
    val got = LexicalStore.facetCounts(spark, p, Seq("hit"),
        docs.select(col("doc_id"), col("source")), "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("web" -> 2L, "book" -> 1L), got.toString)
  }

  // ---- r16: ordered sloppy span search ---------------------------------

  test("span near: ordered, slop-bounded, greedy-min gap") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),            // exact phrase: gap 0
      (2L, "a x b y c"),        // one extra token per link: gap 2
      (3L, "c b a"),            // all terms, wrong order: no match
      (4L, "a x x b x x c"),    // gap 4 > slop 2: filtered
      (5L, "a b"),              // missing c: never joins
      (6L, "b a b z c"),        // a@1 -> b@2 -> c@4: gap 1
      (7L, "a c b c")           // a@0 -> b@2 -> c@3: gap 1
    ).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_span"
    LexicalStore.buildPositional(spark, docs, p)
    val got = LexicalStore.searchSpanNear(spark, p, Seq("a", "b", "c"),
        slop = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, 1, 0), (6L, 2, 1), (7L, 3, 1), (2L, 4, 2)),
      got.toString)
    // slop 0 degenerates to the exact adjacent chain
    assert(LexicalStore.searchSpanNear(spark, p, Seq("a", "b", "c"), slop = 0)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // two-term ordered: "b ... a" docs only
    assert(LexicalStore.searchSpanNear(spark, p, Seq("b", "a"), slop = 1)
      .collect().map(_.getLong(0)).toSet == Set(3L, 6L),
      "order matters: b-before-a only")
    // repeated word spans need two distinct increasing offsets
    val rep = Seq((10L, "w w"), (11L, "w z w"), (12L, "w"))
      .toDF("doc_id", "text")
    val p2 = s"${Sessions.workDir}/test_lex_span_rep"
    LexicalStore.buildPositional(spark, rep, p2)
    val reps = LexicalStore.searchSpanNear(spark, p2, Seq("w", "w"), slop = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(reps == Map(10L -> 0, 11L -> 1), reps.toString)
  }

  // ---- r17: symspell staleness (the r16 verdict's one defect) -----------

  test("postings rewrites invalidate _symspell: indexed verbs fail " +
      "loudly after upsert/compact and equal the scan again after rebuild") {
    import spark.implicits._
    val docs = Seq(
      (1L, "stream stream steam alpha"),
      (2L, "scream beta steam gamma"),
      (3L, "stream delta epsilon zeta")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_sym_stale"
    LexicalStore.build(spark, docs, p)
    LexicalStore.buildSymSpell(spark, p, maxDist = 2)
    // sanity: indexed path live and scan-identical before the rewrite
    assert(LexicalStore.suggestTermsIndexed(spark, p, "streem", 2, 5)
      .collect().nonEmpty)
    // upsert changes the vocabulary -> the deletion index is stale ->
    // BOTH indexed verbs must fail with the named message, not serve
    // the old dictionary and not die on an obscure missing path
    LexicalStore.upsertLexical(spark, p,
      Seq((4L, "streame theta")).toDF("doc_id", "text"))
    val e1 = intercept[IllegalArgumentException] {
      LexicalStore.suggestTermsIndexed(spark, p, "streem", 2, 5).collect()
    }
    assert(e1.getMessage.contains("buildSymSpell first"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      LexicalStore.searchFuzzyIndexed(spark, p, "streem", 2, 5).collect()
    }
    assert(e2.getMessage.contains("buildSymSpell first"), e2.getMessage)
    // rebuild -> byte-identical to the dictionary scan again, and the
    // new term is visible (it wasn't in the pre-upsert dictionary)
    LexicalStore.buildSymSpell(spark, p, maxDist = 2)
    val scan = LexicalStore.suggestTerms(spark, p, "streem", 2, 5)
      .collect().map(_.toSeq).toSeq
    val indexed = LexicalStore.suggestTermsIndexed(spark, p, "streem", 2, 5)
      .collect().map(_.toSeq).toSeq
    assert(scan == indexed, s"$scan vs $indexed")
    assert(indexed.map(_(1)).contains("streame"),
      s"post-upsert vocabulary must serve: $indexed")
    // compact (tombstone-driven rewrite) invalidates again
    LexicalStore.deleteLexical(spark, p, Seq(4L))
    LexicalStore.compactLexical(spark, p)
    val e3 = intercept[IllegalArgumentException] {
      LexicalStore.suggestTermsIndexed(spark, p, "streem", 2, 5).collect()
    }
    assert(e3.getMessage.contains("buildSymSpell first"), e3.getMessage)
  }

  test("segment append and merge invalidate _symspell the same way") {
    import spark.implicits._
    val p = s"${Sessions.workDir}/test_lex_sym_seg_stale"
    val fsPath = new org.apache.hadoop.fs.Path(p)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(fsPath)) fs.delete(fsPath, true)
    LexicalStore.appendLexicalSegment(spark,
      Seq((1L, "stream steam alpha")).toDF("doc_id", "text"), p)
    LexicalStore.buildSymSpell(spark, p, maxDist = 2)
    assert(LexicalStore.suggestTermsIndexed(spark, p, "streem", 2, 5)
      .collect().nonEmpty)
    // an append GROWS the dictionary -> stale index unreachable
    LexicalStore.appendLexicalSegment(spark,
      Seq((2L, "scream streame beta")).toDF("doc_id", "text"), p)
    val e1 = intercept[IllegalArgumentException] {
      LexicalStore.suggestTermsIndexed(spark, p, "streem", 2, 5).collect()
    }
    assert(e1.getMessage.contains("buildSymSpell first"), e1.getMessage)
    // rebuild serves the merged dictionary; the forceMerge then
    // invalidates once more
    LexicalStore.buildSymSpell(spark, p, maxDist = 2)
    val indexed = LexicalStore.suggestTermsIndexed(spark, p, "streem", 2, 5)
      .collect().map(_.toSeq).toSeq
    assert(indexed.map(_(1)).contains("streame"), indexed.toString)
    LexicalStore.compactSegments(spark, p)
    val e2 = intercept[IllegalArgumentException] {
      LexicalStore.suggestTermsIndexed(spark, p, "streem", 2, 5).collect()
    }
    assert(e2.getMessage.contains("buildSymSpell first"), e2.getMessage)
  }

  // ---- r17: general glob wildcard ----------------------------------------

  test("searchGlob: ? and * anywhere, case-folded, loud on bad input") {
    import spark.implicits._
    val docs = Seq(
      (1L, "window windows wind"), (2L, "widow window x"),
      (3L, "sandbox y z")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_glob"
    LexicalStore.build(spark, docs, p)
    // mid-pattern ? plus tail *: w?ndow* serves window/windows, not
    // widow — neither prefix nor infix-contains could express this
    val g1 = LexicalStore.searchGlob(spark, p, "w?ndow*", 10)
      .collect().map(_.getLong(0)).toSet
    assert(g1 == Set(1L, 2L), g1.toString)
    // leading wildcard (the form Lucene warns about) still serves
    val g2 = LexicalStore.searchGlob(spark, p, "*box", 10)
      .collect().map(_.getLong(0)).toSet
    assert(g2 == Set(3L), g2.toString)
    // the pattern lowercases like every query text
    assert(LexicalStore.searchGlob(spark, p, "W?NDOW*", 10)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // bad characters, all-wildcard, and no-match all fail loudly
    intercept[IllegalArgumentException] {
      LexicalStore.searchGlob(spark, p, "a b*")
    }
    intercept[IllegalArgumentException] {
      LexicalStore.searchGlob(spark, p, "*?")
    }
    intercept[IllegalArgumentException] {
      LexicalStore.searchGlob(spark, p, "zz*qq")
    }
  }

  // ---- r18: regexp search -------------------------------------------------

  test("searchRegexp: alternation/class/star over the dictionary, " +
      "leading-wildcard form, and loud guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "window windows wind"), (2L, "widow window x"),
      (3L, "sandbox y z")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_regexp"
    LexicalStore.build(spark, docs, p)
    // alternation + class + star: wid|wind matches widow-family AND
    // wind-family terms — inexpressible as prefix/infix/glob
    val r1 = LexicalStore.searchRegexp(spark, p, "(wido|windo)[a-z]*", 10)
      .collect().map(_.getLong(0)).toSet
    assert(r1 == Set(1L, 2L), r1.toString)
    // leading-wildcard-equivalent .*box walks the dictionary like
    // glob's *box (no engine can prune it; the walk is vocab-sized)
    val r2 = LexicalStore.searchRegexp(spark, p, ".*box", 10)
      .collect().map(_.getLong(0)).toSet
    assert(r2 == Set(3L), r2.toString)
    // the pattern lowercases through the analyzers' own Lower tree
    assert(LexicalStore.searchRegexp(spark, p, "WIND(OW)?S?", 10)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // outside-grammar characters are REJECTED, not escaped: braces,
    // backslashes and anchors are where regex dialects diverge
    intercept[IllegalArgumentException] {
      LexicalStore.searchRegexp(spark, p, "a{2}")
    }
    intercept[IllegalArgumentException] {
      LexicalStore.searchRegexp(spark, p, """a\d""")
    }
    // an ill-formed pattern fails at driver-side compile, by name
    val bad = intercept[IllegalArgumentException] {
      LexicalStore.searchRegexp(spark, p, "a(b")
    }
    assert(bad.getMessage.contains("invalid regexp"), bad.getMessage)
    // no dictionary match fails loudly like the sibling verbs
    intercept[IllegalArgumentException] {
      LexicalStore.searchRegexp(spark, p, "zz+q")
    }
    // stacked quantifiers pass the character grammar but are
    // POSSESSIVE to java.util.regex while RE2/POSIX rejects them —
    // the reject-don't-translate rule applies to them too
    val poss = intercept[IllegalArgumentException] {
      LexicalStore.searchRegexp(spark, p, "win*+")
    }
    assert(poss.getMessage.contains("stacked quantifiers"), poss.getMessage)
    intercept[IllegalArgumentException] {
      LexicalStore.searchRegexp(spark, p, "a++b")
    }
    intercept[IllegalArgumentException] {
      LexicalStore.searchRegexp(spark, p, "wi?*nd")
    }
    // ...but quantifier characters INSIDE a class are literals in
    // both dialects — portable, and must pass the adjacency guard
    // (no fixture term contains a literal '*', so expansion comes up
    // empty: the no-match failure, NOT the grammar failure)
    val inClass = intercept[IllegalArgumentException] {
      LexicalStore.searchRegexp(spark, p, "x[*+]y")
    }
    assert(inClass.getMessage.contains("no indexed term"), inClass.getMessage)
  }

  test("searchRegexp subsumes searchGlob: the glob translation " +
      "scores byte-identically") {
    import spark.implicits._
    val docs = Seq(
      (1L, "window windows wind"), (2L, "widow window x"),
      (3L, "sandbox y z")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_glob_vs_regexp"
    LexicalStore.build(spark, docs, p)
    // the glob grammar is a sub-grammar of the regexp one (* -> .*,
    // ? -> .); the two verbs share the dictionary walk, cap and
    // scorer, so the translated pattern must reproduce the glob's
    // pages byte-for-byte — a cross-verb contract no oracle gates
    for (pat <- Seq("w?ndow*", "*box", "W?NDOW*", "wi*")) {
      val g = LexicalStore.searchGlob(spark, p, pat, 10).collect().toSeq
      val rx = pat.toLowerCase.flatMap {
        case '*' => ".*"
        case '?' => "."
        case c => c.toString
      }
      val r = LexicalStore.searchRegexp(spark, p, rx, 10).collect().toSeq
      assert(g == r, s"'$pat' -> '$rx': glob $g != regexp $r")
    }
  }

  test("buildBm25F composes with the english analyzer: per-field " +
      "inflections fold to shared stems") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Streaming guide", "the windows were merging quickly"),
      (2L, "Unrelated title", "streams and windows everywhere"),
      (3L, "Plain other", "nothing relevant here"))
      .toDF("doc_id", "title", "body")
    val p = s"${Sessions.workDir}/test_lex_bm25f_english"
    LexicalStore.buildBm25F(spark, docs, p,
      Seq("title" -> 3L, "body" -> 1L),
      analyzer = LexicalStore.AnalyzerEnglish)
    // 'STREAMED?' stems to 'stream' and must hit doc 1 (title, ^3)
    // above doc 2 (body only) — both fields folded under one chain
    val hits = LexicalStore.searchTopKLexical(spark, p,
        Seq("The", "STREAMED?"), 10)
      .collect().map(_.getLong(0))
    assert(hits.toSeq == Seq(1L, 2L), hits.mkString(","))
    // combined tf carries the field weight through the stem: doc 1 =
    // 3·tf_title(stream)+1·tf_body = 3; df(stream) = 2 docs
    val ex = LexicalStore.explainScore(spark, p, Seq("streams"),
        Seq(1L, 2L).toDF("doc_id")).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("tf"), r.getAs[Long]("df")))
      .toMap
    assert(ex(1L) == ((3L, 2L)) && ex(2L) == ((1L, 2L)), ex.toString)
  }

  // ---- r17: multi-token did-you-mean -------------------------------------

  test("suggestPhrase: per-slot symspell candidates, joint " +
      "corpus-support rank with dist and phrase tiebreaks") {
    import spark.implicits._
    val docs = Seq(
      (1L, "stream alpha key"), (2L, "stream beta key"),
      (3L, "stream gamma kei"), (4L, "steam delta key"))
      .toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_phrase_sugg"
    LexicalStore.build(spark, docs, p)
    LexicalStore.buildSymSpell(spark, p, maxDist = 2)
    val got = LexicalStore.suggestPhrase(spark, p, Seq("streem", "kee"),
        maxDist = 2, perSlot = 2, k = 3)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSeq
    // dfs: stream 3, steam 1, key 3, kei 1 -> combos ranked by total
    // df DESC; the (stream kei, steam key) df tie breaks by distance
    assert(got == Seq(
      (1, "stream key", 2, 6L),
      (2, "stream kei", 2, 4L),
      (3, "steam key", 3, 4L)), got.toString)
    // a position with no candidate fails by name
    val e = intercept[IllegalArgumentException] {
      LexicalStore.suggestPhrase(spark, p, Seq("streem", "zzzzzzzz"))
        .collect()
    }
    assert(e.getMessage.contains("zzzzzzzz"), e.getMessage)
    // single-token input routes to the single-term verb
    intercept[IllegalArgumentException] {
      LexicalStore.suggestPhrase(spark, p, Seq("streem"))
    }
    // phrase-length guard: the combo enumeration is perSlot^|tokens|
    // driver tuples — a pathological 9-token phrase fails loudly
    // BEFORE any candidate read, like every sibling's input guards
    val e9 = intercept[IllegalArgumentException] {
      LexicalStore.suggestPhrase(spark, p,
        (1 to 9).map(i => s"tok$i"))
    }
    assert(e9.getMessage.contains("at most 8 tokens"), e9.getMessage)
    // ...and the exponent's BASE is capped too: 8 tokens with
    // perSlot=50 would enumerate ~4e13 tuples despite the token guard
    val eBig = intercept[IllegalArgumentException] {
      LexicalStore.suggestPhrase(spark, p,
        (1 to 8).map(i => s"tok$i"), perSlot = 50)
    }
    assert(eBig.getMessage.contains("65536"), eBig.getMessage)
    // the verb rides the symspell staleness gate like its siblings
    LexicalStore.upsertLexical(spark, p,
      Seq((5L, "fresh words")).toDF("doc_id", "text"))
    val e2 = intercept[IllegalArgumentException] {
      LexicalStore.suggestPhrase(spark, p, Seq("streem", "kee")).collect()
    }
    assert(e2.getMessage.contains("buildSymSpell first"), e2.getMessage)
  }

  // ---- r17: english analyzer (stopwords + porter stemming) --------------

  test("english analyzer: stem+stopword fold-through on search, " +
      "suggest, prefix and phrase") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Running quickly, the data streams merge!"),
      (2L, "runs of data stream merging"),
      (3L, "He ran the quality of data checks"),
      (4L, "nothing relevant here")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_english"
    LexicalStore.build(spark, docs, p,
      analyzer = LexicalStore.AnalyzerEnglish)
    // inflected, mixed-case, stopword-laden query matches OTHER
    // inflections: 'STREAMED?' (absent from the corpus in any form)
    // stems to 'stream' and hits streams/stream docs
    val hits = LexicalStore.searchTopKLexical(spark, p,
        Seq("The", "STREAMED?", "merges"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2L), hits.toString)
    // the dictionary holds stems; a probe folds through the same
    // chain, so an inflected probe exact-matches at distance 0
    val sugg = LexicalStore.suggestTerms(spark, p, "streaming",
      maxDist = 1, k = 1).collect()
    assert(sugg.head.getString(1) == "stream" && sugg.head.getInt(2) == 0,
      sugg.mkString(","))
    // prefix expansion walks the stemmed dictionary
    val pre = LexicalStore.searchPrefix(spark, p, "merg", 10)
      .collect().map(_.getLong(0)).toSet
    assert(pre == Set(1L, 2L), pre.toString)
    // positional: offsets are dense over the post-stopword sequence,
    // so "quality of data" phrase-matches via the stop-phrase rule
    val pp = s"${Sessions.workDir}/test_lex_english_pos"
    LexicalStore.buildPositional(spark, docs, pp,
      analyzer = LexicalStore.AnalyzerEnglish)
    val ph = LexicalStore.searchPhrase(spark, pp,
        Seq("quality", "of", "Data"), 10)
      .collect().map(_.getLong(0)).toSeq
    assert(ph == Seq(3L), ph.toString)
    // a pure-stopword query folds to nothing -> loud
    intercept[IllegalArgumentException] {
      LexicalStore.searchTopKLexical(spark, p, Seq("the", "of"), 5).collect()
    }
    // upsert re-tokenizes under the layout's english rule (sidecar)
    LexicalStore.upsertLexical(spark, p,
      Seq((5L, "The streams were MERGING")).toDF("doc_id", "text"))
    val hits2 = LexicalStore.searchTopKLexical(spark, p,
        Seq("streamed"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(hits2.contains(5L), hits2.toString)
  }

  // ---- r18: relevance explain is sum-exact -------------------------------

  test("explainScore: per-doc sum of micros equals the rank path's " +
      "lex_micros exactly, on both layout families") {
    import spark.implicits._
    val docs = Seq(
      (1L, "stream stream window merge"),
      (2L, "stream window window partition"),
      (3L, "merge partition stream window stream"),
      (4L, "window alone"),
      (5L, "nothing matching here")).toDF("doc_id", "text")
    val terms = Seq("stream", "window", "merge")
    // denormalized layout
    val p = s"${Sessions.workDir}/test_lex_explain"
    LexicalStore.build(spark, docs, p)
    val page = LexicalStore.searchTopKLexical(spark, p, terms, 3)
    val want = page.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ex = LexicalStore.explainScore(spark, p, terms,
      page.select(col("doc_id")))
    val got = ex.groupBy(col("doc_id")).agg(sum(col("micros")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"explain sums $got != rank path $want")
    // explain rows cover ONLY the candidate page
    assert(ex.select(col("doc_id")).distinct().count() == want.size)
    // every factor column is the posting's own value (spot-check a
    // known row: doc 1 has tf(stream)=2)
    val r1 = ex.filter(col("doc_id") === 1 && col("term") === "stream")
      .collect()
    assert(r1.length == 1 && r1.head.getAs[Long]("tf") == 2L, r1.mkString)
    // segmented layout over the same corpus: merged-stats scorer and
    // its explain share the contribution frame; scores equal the
    // denormalized build's (the q157 merge-equivalence), so the
    // explain sums must too
    val ps = s"${Sessions.workDir}/test_lex_explain_seg"
    deleteDir(ps) // appends accumulate — a rerun must start fresh
    LexicalStore.appendLexicalSegment(spark,
      docs.filter(col("doc_id") <= 2), ps)
    LexicalStore.appendLexicalSegment(spark,
      docs.filter(col("doc_id") > 2), ps)
    val segPage = LexicalStore.searchTopKSegmented(spark, ps, terms, 3)
    val segWant = segPage.collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    val exSeg = LexicalStore.explainScore(spark, ps, terms,
      segPage.select(col("doc_id")))
    val gotSeg = exSeg.groupBy(col("doc_id")).agg(sum(col("micros")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSeg == segWant, s"segmented explain $gotSeg != $segWant")
    assert(gotSeg == want, "segment merge drifted from the single build")
    // the segmented frame's df is the MERGED global df: 'stream'
    // appears in docs 1,2 (seg 0) and 3 (seg 1) -> df 3 on every row
    val dfs = exSeg.filter(col("term") === "stream")
      .select(col("df")).distinct().collect().map(_.getLong(0)).toSeq
    assert(dfs == Seq(3L), dfs.toString)
    // english layout: the explain folds the query exactly once
    val pe = s"${Sessions.workDir}/test_lex_explain_eng"
    LexicalStore.build(spark, docs, pe,
      analyzer = LexicalStore.AnalyzerEnglish)
    val ePage = LexicalStore.searchTopKLexical(spark, pe,
      Seq("The", "Streaming", "windows;"), 3)
    val eWant = ePage.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val eGot = LexicalStore.explainScore(spark, pe,
        Seq("The", "Streaming", "windows;"), ePage.select(col("doc_id")))
      .groupBy(col("doc_id")).agg(sum(col("micros")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(eGot == eWant, s"english explain $eGot != $eWant")
  }

  test("explainScoreFields recombines exactly to searchTopKFields' " +
      "field_micros") {
    import spark.implicits._
    val title = Seq(
      (1L, "stream processing"), (2L, "window functions"),
      (3L, "stream window internals")).toDF("doc_id", "text")
    val body = Seq(
      (1L, "a body about windows and merges"),
      (2L, "stream stream stream details"),
      (3L, "unrelated body text")).toDF("doc_id", "text")
    val pt = s"${Sessions.workDir}/test_lex_fields_title"
    val pb = s"${Sessions.workDir}/test_lex_fields_body"
    LexicalStore.build(spark, title, pt)
    LexicalStore.build(spark, body, pb)
    val fields = Seq((pt, 2L), (pb, 1L))
    val q = Seq("stream", "window")
    val fused = LexicalStore.searchTopKFields(spark, fields, q, 3)
    val want = fused.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ex = LexicalStore.explainScoreFields(spark, fields, q,
      fused.select(col("doc_id"))).collect()
    // driver-side recombination: per (field, doc) subtotal S, the
    // scorer's own overflow-safe weight split, then sum over fields
    val wm = ex.groupBy(r => (r.getAs[Int]("field"), r.getAs[Long]("doc_id")))
      .toSeq.map { case ((_, doc), rows) =>
        val w = rows.head.getAs[Long]("weight")
        val s = rows.map(_.getAs[Long]("micros")).sum
        (doc, w * (s / 1000000L) + (w * (s % 1000000L)) / 1000000L)
      }
    val got = wm.groupBy(_._1).map { case (doc, xs) => doc -> xs.map(_._2).sum }
    assert(got == want, s"recombined $got != field scorer $want")
  }

  test("buildBm25F: weighted tf combine before saturation, df counts " +
      "a doc once across fields, every verb serves the layout") {
    import spark.implicits._
    // identical bodies; only the title differs — the field boost is
    // the ONLY signal separating docs 1 and 2
    val docs = Seq(
      (1L, "alpha news", "alpha beta gamma delta"),
      (2L, "other news", "alpha beta gamma delta"),
      (3L, "plain here", "beta gamma delta epsilon"))
      .toDF("doc_id", "title", "body")
    val p = s"${Sessions.workDir}/test_lex_bm25f"
    LexicalStore.buildBm25F(spark, docs, p,
      Seq("title" -> 3L, "body" -> 1L))
    val hits = LexicalStore.searchTopKLexical(spark, p, Seq("alpha"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // title hit outranks body-only hit; doc 3 has no alpha at all
    assert(hits.map(_._1).toSeq == Seq(1L, 2L), hits.mkString(","))
    assert(hits(0)._2 > hits(1)._2, hits.mkString(","))
    // the layout is the standard denormalized one: explain serves it,
    // and its rows pin the combined quantities — df(alpha)=2 (doc 1
    // counted ONCE though alpha sits in both fields), doc 1's
    // tf=3·1+1·1=4, len=3·2+1·4=10
    val ex = LexicalStore.explainScore(spark, p, Seq("alpha"),
      Seq(1L, 2L).toDF("doc_id")).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("tf"), r.getAs[Long]("df"),
        r.getAs[Long]("len"))).toMap
    assert(ex(1L) == ((4L, 2L, 10L)), ex.toString)
    assert(ex(2L) == ((1L, 2L, 10L)), ex.toString)
    // dictionary verbs walk the combined vocabulary
    val pre = LexicalStore.searchPrefix(spark, p, "alph", 10)
      .collect().map(_.getLong(0)).toSeq
    assert(pre == Seq(1L, 2L), pre.toString)
    // weights gate
    intercept[IllegalArgumentException] {
      LexicalStore.buildBm25F(spark, docs, p, Seq("title" -> 0L))
    }
  }

  test("BM25F maintenance: plain upsert is guarded off, upsertBm25F " +
      "equals a fresh combined build, compact keeps the descriptor") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha news", "alpha beta gamma delta"),
      (2L, "other news", "alpha beta gamma delta"),
      (3L, "plain here", "beta gamma delta epsilon"))
      .toDF("doc_id", "title", "body")
    val p = s"${Sessions.workDir}/test_lex_bm25f_maint"
    def dump(path: String) = LexicalStore.searchTopKLexical(
        spark, path, Seq("alpha", "epsilon"), 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    LexicalStore.buildBm25F(spark, docs, p, Seq("title" -> 3L, "body" -> 1L))
    assert(LexicalStore.fieldsOf(spark, p)
      .contains(Seq("title" -> 3L, "body" -> 1L)))
    // the silent-corruption path fails loudly, by name
    val e = intercept[IllegalArgumentException] {
      LexicalStore.upsertLexical(spark, p,
        Seq((2L, "alpha alpha")).toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("upsertBm25F"), e.getMessage)
    // upsertBm25F on a plain layout fails loudly the other way
    val plain = s"${Sessions.workDir}/test_lex_bm25f_maint_plain"
    LexicalStore.build(spark,
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), plain)
    val e2 = intercept[RuntimeException] {
      LexicalStore.upsertBm25F(spark, plain, docs)
    }
    assert(e2.getMessage.contains("upsertLexical"), e2.getMessage)
    // a batch missing a stored field column fails naming the column
    val e3 = intercept[IllegalArgumentException] {
      LexicalStore.upsertBm25F(spark, p,
        Seq((2L, "alpha alpha")).toDF("doc_id", "body"))
    }
    assert(e3.getMessage.contains("title"), e3.getMessage)
    // delete -> upsert: revised doc 2 + new doc 4 through the stored
    // transform; result is byte-for-value a fresh buildBm25F over the
    // merged corpus (doc 3 tombstoned and not re-upserted: gone)
    LexicalStore.deleteLexical(spark, p, Seq(3L))
    LexicalStore.upsertBm25F(spark, p, Seq(
        (2L, "epsilon news", "epsilon beta"),
        (4L, "fresh title", "alpha epsilon"))
      .toDF("doc_id", "title", "body"))
    val merged = Seq(
      (1L, "alpha news", "alpha beta gamma delta"),
      (2L, "epsilon news", "epsilon beta"),
      (4L, "fresh title", "alpha epsilon"))
      .toDF("doc_id", "title", "body")
    val ref = s"${Sessions.workDir}/test_lex_bm25f_maint_ref"
    LexicalStore.buildBm25F(spark, merged, ref,
      Seq("title" -> 3L, "body" -> 1L))
    assert(dump(p) == dump(ref), s"${dump(p)} != ${dump(ref)}")
    assert(LexicalStore.fieldsOf(spark, p)
      .contains(Seq("title" -> 3L, "body" -> 1L)))
    // compact preserves the descriptor (survivor rows are already
    // combined — compaction legitimately serves the layout)
    LexicalStore.deleteLexical(spark, p, Seq(4L))
    LexicalStore.compactLexical(spark, p)
    assert(LexicalStore.fieldsOf(spark, p)
      .contains(Seq("title" -> 3L, "body" -> 1L)))
    intercept[IllegalArgumentException] {
      LexicalStore.upsertLexical(spark, p,
        Seq((2L, "alpha")).toDF("doc_id", "text"))
    }
    // a plain full rebuild redefines the layout: descriptor cleared,
    // plain upsert accepted again
    LexicalStore.build(spark,
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), p)
    assert(LexicalStore.fieldsOf(spark, p).isEmpty)
    LexicalStore.upsertLexical(spark, p,
      Seq((2L, "beta gamma")).toDF("doc_id", "text"))
    assert(LexicalStore.fieldsOf(spark, p).isEmpty)
  }

  test("explainBoolean: gated decomposition sums exactly to " +
      "searchBoolean, gates admit but never score") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),       // must-pass, has should term
      (2L, "alpha beta"),             // must-pass, no should term
      (3L, "alpha beta gamma banned"),// excluded
      (4L, "alpha gamma")             // fails must (no beta)
    ).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_explain_bool"
    LexicalStore.build(spark, docs, p)
    val page = LexicalStore.searchBoolean(spark, p,
      must = Seq("alpha", "beta"), should = Seq("gamma"),
      mustNot = Seq("banned"), k = 10)
    val want = page.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(want.keySet == Set(1L, 2L), want.toString)
    val ex = LexicalStore.explainBoolean(spark, p,
      page.select(col("doc_id")),
      must = Seq("alpha", "beta"), should = Seq("gamma"),
      mustNot = Seq("banned"))
    val got = ex.groupBy(col("doc_id")).agg(sum(col("micros")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"explain sums $got != boolean scorer $want")
    // only SCORED clauses appear: doc 1 rows are alpha/beta/gamma,
    // doc 2 alpha/beta; the exclusion term never shows as a row
    val terms = ex.collect().groupBy(_.getLong(0))
      .map { case (d2, rs) => d2 -> rs.map(_.getString(1)).sorted.toSeq }
    assert(terms == Map(
      1L -> Seq("alpha", "beta", "gamma"),
      2L -> Seq("alpha", "beta")), terms.toString)
    // gated-out docs (excluded 3, sub-must 4) have NO rows even when
    // the caller passes them as candidates — no-match explains empty
    val forced = LexicalStore.explainBoolean(spark, p,
      Seq(3L, 4L).toDF("doc_id"),
      must = Seq("alpha", "beta"), should = Seq("gamma"),
      mustNot = Seq("banned"))
    assert(forced.count() == 0, forced.collect().mkString(","))
  }

  test("explain reads prune the postings scan to the query terms' " +
      "buckets, like the rank path") {
    import spark.implicits._
    built()
    val terms = Tables.documents(spark, d).filter(col("doc_id") === 0)
      .select(col("text")).head().getString(0)
      .split(" ").filter(_.nonEmpty).distinct.take(2).toSeq
    val maxDirs = terms.map(LexicalStore.bucketOf).distinct.size
    val ex = LexicalStore.explainScore(spark, path, terms,
      Seq(0L, 1L).toDF("doc_id"))
    ex.collect()
    val scans = leafScans(ex.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(p =>
        p.toString.contains("test_lex_index") && !p.toString.contains("_stats")))
    assert(scans.nonEmpty, ex.queryExecution.executedPlan.toString)
    scans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
        s"explain scan must carry a bucket partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= maxDirs,
        s"explain with $maxDirs distinct buckets read $read directories: $f")
      assert(f.dataFilters.exists(_.references.exists(_.name == "term")),
        s"term IN-list must reach the explain scan: $f")
    }
  }

  test("explainFuzzy: per-row weighted split sums exactly to " +
      "searchFuzzy's fuzzy_micros") {
    import spark.implicits._
    val docs = Seq(
      (1L, "stream stream steam"), (2L, "steam strem x"),
      (3L, "other words here")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_explain_fuzzy"
    LexicalStore.build(spark, docs, p)
    val page = LexicalStore.searchFuzzy(spark, p, "streem",
      maxDist = 2, k = 3, maxExpansions = 4)
    val want = page.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ex = LexicalStore.explainFuzzy(spark, p, "streem",
      page.select(col("doc_id")), maxDist = 2, maxExpansions = 4)
    val got = ex.groupBy(col("doc_id"))
      .agg(sum(col("weighted_micros")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"explain sums $got != fuzzy scorer $want")
    // the integer similarity ladder surfaces per row: 1-edit
    // candidates (stream, strem) at 2/3, the 2-edit (steam) at 1/3
    val w = ex.select(col("term"), col("weight")).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w("stream") == 666666L && w("strem") == 666666L &&
      w("steam") == 333333L, w.toString)
    // rows only for page docs; doc 3 matches nothing
    assert(!got.contains(3L) && got.keySet == want.keySet)
  }

  test("explainPrf: the re-run Rocchio rewrite sums exactly to " +
      "searchTopKPrf, weights carry provenance") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta shared topic"),
      (2L, "alpha shared deep topic"),
      (3L, "shared topic words only"),
      (4L, "unrelated filler entirely")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_explain_prf"
    LexicalStore.build(spark, docs, p)
    val page = LexicalStore.searchTopKPrf(spark, p, docs,
      Seq("alpha"), k = 4, fbDocs = 1, fbTerms = 2)
    val want = page.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // expansion recalls doc 3, which shares no query term
    assert(want.contains(3L), want.toString)
    val ex = LexicalStore.explainPrf(spark, p, docs, Seq("alpha"),
      page.select(col("doc_id")), fbDocs = 1, fbTerms = 2)
    val rows = ex.collect()
    val got = rows.groupBy(_.getLong(0))
      .map { case (doc, rs) =>
        doc -> rs.map(_.getAs[Long]("weighted_micros")).sum }
    assert(got == want, s"explain sums $got != prf scorer $want")
    // the weight column IS the provenance: originals at 1e6,
    // expansions at PrfExpandMicros — and doc 3's rows are ALL
    // expansion rows
    val w3 = rows.filter(_.getLong(0) == 3L).map(_.getAs[Long]("weight"))
    assert(w3.nonEmpty && w3.forall(_ == LexicalStore.PrfExpandMicros),
      w3.mkString(","))
    assert(rows.filter(r => r.getString(1) == "alpha")
      .forall(_.getAs[Long]("weight") == 1000000L))
  }

  // ---- r18: pre-analyzed terms must not fold twice ----------------------

  test("english layout: dictionary expansions and mined terms are " +
      "not re-analyzed (Porter is not idempotent)") {
    import spark.implicits._
    // 'agreed' indexes as stem 'agre', and stem("agre") == "agr" — a
    // verb that re-folds its own dictionary expansion queries 'agr'
    // and silently matches nothing. 'thens' indexes as stem 'then',
    // which IS a stopword as a query token — a re-fold drops it.
    val docs = Seq(
      (1L, "agreed agreed terms agreed upon"),
      (2L, "thens upon thens again"),
      (3L, "unrelated content entirely")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_english_noreanalyze"
    LexicalStore.build(spark, docs, p,
      analyzer = LexicalStore.AnalyzerEnglish)
    // prefix: the probe only lowercases (multi-term queries bypass
    // the analysis chain), expands dictionary stem 'agre', and the
    // expansion scores WITHOUT a second fold
    val pre = LexicalStore.searchPrefix(spark, p, "agre", 10)
      .collect().map(_.getLong(0)).toSet
    assert(pre == Set(1L), pre.toString)
    // glob reaches the scorer through the same pre-analyzed route
    val gl = LexicalStore.searchGlob(spark, p, "agre*", 10)
      .collect().map(_.getLong(0)).toSet
    assert(gl == Set(1L), gl.toString)
    // a stem that collides with a stopword must survive expansion
    val wc = LexicalStore.searchWildcard(spark, p, "then", 10)
      .collect().map(_.getLong(0)).toSet
    assert(wc == Set(2L), wc.toString)
    // a stopword-shaped PREFIX is legitimate on a stemmed dictionary
    // (Lucene's PrefixQuery bypasses analysis): 'the' expands 'then'
    val sp = LexicalStore.searchPrefix(spark, p, "The", 10)
      .collect().map(_.getLong(0)).toSet
    assert(sp == Set(2L), sp.toString)
    // moreLikeThis mines stems from the forward text and must pass
    // them to the scorer pre-analyzed
    val mlt = LexicalStore.moreLikeThis(spark, p, docs, 1L,
      maxTerms = 4, k = 10).collect().map(_.getLong(0))
    assert(mlt.nonEmpty && mlt.head == 1L, mlt.mkString(","))
    // fuzzy is a rewritten multi-term query and takes the same
    // bypass: the probe 'agre' (a dictionary stem) matches at
    // distance 0 at FULL weight — re-stemming it to 'agr' would
    // demote the exact hit to a 1-edit cousin
    val fz = LexicalStore.explainFuzzy(spark, p, "agre",
      Seq(1L).toDF("doc_id"), maxDist = 1, maxExpansions = 4)
      .filter(col("term") === "agre").collect()
    assert(fz.length == 1 && fz.head.getAs[Long]("weight") == 1000000L,
      fz.mkString(","))
    // a stopword-shaped fuzzy probe is legal under the bypass
    val fz2 = LexicalStore.searchFuzzy(spark, p, "The",
        maxDist = 1, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(fz2 == Set(2L), fz2.toString) // 'then' sits 1 edit away
    // PRF folds the user query once ('thens' -> 'then'); its seed
    // search must not re-drop the folded stem as a stopword. Doc 2
    // seeds, and the mined expansion stem 'upon' (shared with doc 1)
    // proves the feedback docs were actually found and mined
    val prf = LexicalStore.searchTopKPrf(spark, p, docs,
      Seq("thens"), k = 5).collect().map(_.getLong(0))
    assert(prf.head == 2L && prf.toSet == Set(1L, 2L), prf.mkString(","))
    // the segmented rank path routes pre-analyzed expansions too
    val ps = s"${Sessions.workDir}/test_lex_english_noreanalyze_seg"
    deleteDir(ps) // appends accumulate — a rerun must start fresh
    LexicalStore.appendLexicalSegment(spark, docs.filter(col("doc_id") <= 2),
      ps, analyzer = LexicalStore.AnalyzerEnglish)
    LexicalStore.appendLexicalSegment(spark, docs.filter(col("doc_id") === 3),
      ps, analyzer = LexicalStore.AnalyzerEnglish)
    val seg = LexicalStore.searchPrefix(spark, ps, "agre", 10)
      .collect().map(r => r.getLong(r.fieldIndex("doc_id"))).toSet
    assert(seg == Set(1L), seg.toString)
  }

  // ---- r18: segmented tombstones -----------------------------------------

  test("segmented layout: deletes mask immediately, docFreq counts " +
      "them until merge, compact expunges, re-append is loud") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha gamma"),
      (3L, "beta gamma"), (4L, "alpha delta")).toDF("doc_id", "text")
    val p = s"${Sessions.workDir}/test_lex_seg_tombstones"
    deleteDir(p)
    LexicalStore.appendLexicalSegment(spark, docs.filter(col("doc_id") <= 2), p)
    LexicalStore.appendLexicalSegment(spark, docs.filter(col("doc_id") > 2), p)
    LexicalStore.deleteLexical(spark, p, Seq(1L))
    // the deleted doc stops surfacing immediately — search AND explain
    val hits = LexicalStore.searchTopKSegmented(spark, p, Seq("alpha"), 10)
      .collect().map(r => r.getLong(r.fieldIndex("doc_id"))).toSet
    assert(hits == Set(2L, 4L), hits.toString)
    val ex = LexicalStore.explainScore(spark, p, Seq("alpha"),
      Seq(1L, 2L, 4L).toDF("doc_id")).collect()
    assert(ex.map(_.getLong(0)).toSet == Set(2L, 4L), ex.mkString(","))
    // docFreq counts the deleted doc until segments merge (Lucene's
    // semantics, the layout's settled `_vocab` convention): alpha's
    // merged df is still 3 on every surviving row
    assert(ex.map(_.getAs[Long]("df")).toSet == Set(3L), ex.mkString(","))
    // appending FRESH ids while tombstones exist is fine...
    LexicalStore.appendLexicalSegment(spark,
      Seq((5L, "alpha fresh")).toDF("doc_id", "text"), p)
    // ...but re-appending a tombstoned id would resurrect its dead
    // rows in the old segment — loud compact-first failure
    val e = intercept[IllegalArgumentException] {
      LexicalStore.appendLexicalSegment(spark,
        Seq((1L, "alpha reborn")).toDF("doc_id", "text"), p)
    }
    assert(e.getMessage.contains("compactSegments"), e.getMessage)
    // the merge expunges: rows physically gone, stats stop counting
    // the deleted doc, tombstones cleared
    LexicalStore.compactSegments(spark, p)
    val ex2 = LexicalStore.explainScore(spark, p, Seq("alpha"),
      Seq(1L, 2L, 4L, 5L).toDF("doc_id")).collect()
    assert(ex2.map(_.getLong(0)).toSet == Set(2L, 4L, 5L), ex2.mkString(","))
    assert(ex2.map(_.getAs[Long]("df")).toSet == Set(3L), // 2,4,5 remain
      ex2.mkString(","))
    assert(spark.read.parquet(p).filter(col("doc_id") === 1).count() == 0)
    // cleared tombstones: the id is appendable again after the merge
    LexicalStore.appendLexicalSegment(spark,
      Seq((1L, "alpha reborn")).toDF("doc_id", "text"), p)
    val hits2 = LexicalStore.searchTopKSegmented(spark, p, Seq("reborn"), 10)
      .collect().map(r => r.getLong(r.fieldIndex("doc_id"))).toSeq
    assert(hits2 == Seq(1L), hits2.toString)
  }

  // ---- r18: analyzer composition — snippets & MLT on english ------------

  test("english layout: snippets render over stemmed dense positions " +
      "and more-like-this crosses inflections") {
    import spark.implicits._
    val docs = Seq(
      // doc 1: after stop-drop (the/of/and) + stem, the dense token
      // sequence is [stream, merg, window, detail] — the 3-token
      // window covering stream+merg+window starts at offset 0
      (1L, "The streaming of merges and windowing details"),
      (2L, "streams merged quickly window checks"),
      (3L, "partitions alone here")).toDF("doc_id", "text")
    val pp = s"${Sessions.workDir}/test_lex_eng_snippets"
    LexicalStore.buildPositional(spark, docs, pp,
      analyzer = LexicalStore.AnalyzerEnglish)
    // inflected, mixed-case, stopword-laden query folds to stems
    // [stream, merg, window]; candidates are both matching docs
    val cands = Seq(1L, 2L, 3L).toDF("doc_id")
    val sn = LexicalStore.snippetBest(spark, pp,
        Seq("The", "Streamed", "merging", "Windows"), cands, w = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // doc 1: stems sit at dense offsets 0,1,2 (stopwords dropped
    // INSIDE the lambda) -> the 3-token window from 0 covers all 3
    assert(sn(1L) == (0, 3), sn.toString)
    // doc 2: [stream, merg, quickli, window, check] -> no 3-window
    // covers all three; the earliest best window [stream, merg] wins
    assert(sn(2L) == (0, 2), sn.toString)
    // doc 3 matches no query stem -> filtered out, not 0-scored
    assert(!sn.contains(3L), sn.toString)

    // more-like-this on the scoring english layout: doc 2's mined
    // stems (stream/merg/window...) retrieve doc 1, which shares NO
    // surface token with doc 2 — only stems
    val ps = s"${Sessions.workDir}/test_lex_eng_mlt"
    LexicalStore.build(spark, docs, ps,
      analyzer = LexicalStore.AnalyzerEnglish)
    val mlt = LexicalStore.moreLikeThis(spark, ps, docs, 2L,
      maxTerms = 4, k = 3).collect().map(_.getLong(0))
    assert(mlt.head == 2L && mlt.contains(1L), mlt.mkString(","))
  }

  test("a corrupted _analyzer sidecar fails loudly, not as silent fold") {
    import spark.implicits._
    val p = s"${Sessions.workDir}/test_lex_bad_analyzer"
    LexicalStore.build(spark,
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), p)
    // hand-corrupt the sidecar value (requireAnalyzer guards builds,
    // so only external mutation can produce this state)
    Seq("porter2-en").toDF("analyzer").coalesce(1)
      .write.mode("overwrite").parquet(s"$p/_analyzer")
    // drop the memo the build populated so the read hits the sidecar
    // (a fresh session would): renameCollection's path — use a fresh
    // session key by clearing via the package-private hook
    graft.sources.LexicalStore.dropBuildMemos(p)
    val e = intercept[IllegalArgumentException] {
      LexicalStore.searchTopKLexical(spark, p, Seq("alpha"), 5).collect()
    }
    assert(e.getMessage.contains("unknown analyzer"), e.getMessage)
  }
}
