package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{IndexStore, LexicalStore, Relations}

/** Differential checks of the maintenance cores: every delete, upsert,
  * update and compact verb, on every mutable layout, must leave the
  * layout equal to a from-scratch build over the expected corpus, and
  * (on the partitioned vector layouts) leave every partition directory
  * it did not touch with an identical (name, length) listing. Batches
  * are seeded scalacheck draws over a model corpus. */
class MaintenanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "sheet", "range",
    "column", "formula", "pivot", "chart", "macro", "filter", "index", "vector")
  private val nCells = 4

  /** Seeded text: 3 to 220 vocabulary words, so some documents span
    * several chunks (a shorter revision must drop its stale tail). */
  private def text(seed: Long): String =
    Gen.choose(3, 220).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
      .map(_.mkString(" "))(Gen.Parameters.default, Seed(seed)).get

  /** `k` distinct draws from `from`. */
  private def pick(from: Seq[Long], k: Int, seed: Long): Seq[Long] =
    Gen.pick(math.min(k, from.size), from)(Gen.Parameters.default, Seed(seed))
      .get.toSeq.sorted

  private type Corpus = Map[Long, String]

  private def docsOf(c: Corpus): DataFrame = {
    import spark.implicits._
    c.toSeq.sortBy(_._1).map { case (id, t) =>
      (id, t, s"sheet${id % 3}", s"title ${t.split(' ').take(3).mkString(" ")}")
    }.toDF("doc_id", "text", "source", "title")
  }

  private lazy val root = Files.createTempDirectory("maintenance-spec")
  private var dirs = 0
  private def fresh(name: String): String = {
    dirs += 1; root.resolve(s"$name-$dirs").toString
  }

  /** partition directory -> its (file name, length) listing. */
  private def partitionListings(path: String): Map[String, Set[(String, Long)]] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else Files.list(p).iterator().asScala.toSeq
      .filter(d => Files.isDirectory(d) && d.getFileName.toString.contains("="))
      .map(d => d.getFileName.toString -> Files.list(d).iterator().asScala
        .map(f => (f.getFileName.toString, Files.size(f))).toSet)
      .toMap
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  // ---- partitioned vector layouts --------------------------------------

  /** One vector layout family: its partition column, its build, its
    * verbs, and a search that is exact once the approximation is off. */
  private case class VectorFamily(
      name: String, partCol: String,
      build: (DataFrame, String) => Unit,
      deleteSeq: (String, Seq[String]) => Unit,
      deleteDf: (String, DataFrame) => Unit,
      deleteWhere: (String, Column) => Unit,
      upsert: (DataFrame, String) => Unit,
      update: Option[(DataFrame, String) => Unit],
      search: (String, String) => DataFrame)

  private val exactK = 12
  private val vectorFamilies = Seq(
    VectorFamily("source", "source", IndexStore.build(spark, _, _),
      IndexStore.deleteIds(spark, _, _: Seq[String]), IndexStore.deleteIds(spark, _, _: DataFrame),
      IndexStore.deleteWhere(spark, _, _), IndexStore.upsertDocs(spark, _, _),
      Some(IndexStore.updateDocs(spark, _, _)),
      (p, q) => IndexStore.searchTopK(spark, p, q, k = exactK, includeDistance = true)),
    VectorFamily("ivf", "cell", IndexStore.buildIvf(spark, _, _, nCells = nCells),
      IndexStore.deleteIdsIvf(spark, _, _: Seq[String]), IndexStore.deleteIdsIvf(spark, _, _: DataFrame),
      IndexStore.deleteWhereIvf(spark, _, _), IndexStore.upsertIvf(spark, _, _),
      Some(IndexStore.updateIvf(spark, _, _)),
      (p, q) => IndexStore.searchTopKIvf(spark, p, q, k = exactK, probes = nCells,
        overfetch = 10000, includeDistance = true)),
    VectorFamily("ivfpq-raw", "cell", IndexStore.buildIvfPq(spark, _, _, nCells = nCells),
      IndexStore.deleteIdsIvf(spark, _, _: Seq[String]), IndexStore.deleteIdsIvf(spark, _, _: DataFrame),
      IndexStore.deleteWhereIvf(spark, _, _), IndexStore.upsertIvf(spark, _, _),
      Some(IndexStore.updateIvf(spark, _, _)),
      (p, q) => IndexStore.searchTopKIvfPq(spark, p, q, k = exactK, probes = nCells,
        overfetch = 10000, includeDistance = true)),
    VectorFamily("ivfpq-residual", "cell",
      IndexStore.buildIvfPq(spark, _, _, nCells = nCells, residual = true),
      IndexStore.deleteIdsIvf(spark, _, _: Seq[String]), IndexStore.deleteIdsIvf(spark, _, _: DataFrame),
      IndexStore.deleteWhereIvf(spark, _, _), IndexStore.upsertIvf(spark, _, _),
      Some(IndexStore.updateIvf(spark, _, _)),
      (p, q) => IndexStore.searchTopKIvfPq(spark, p, q, k = exactK, probes = nCells,
        overfetch = 10000, includeDistance = true)),
    // a touched shard's rebuilt graph equals a fresh build's over the
    // same rows, so even the approximate traversal must agree
    VectorFamily("hnsw", "shard", IndexStore.buildHnsw(spark, _, _, numShards = 3),
      IndexStore.deleteIdsHnsw(spark, _, _: Seq[String]), IndexStore.deleteIdsHnsw(spark, _, _: DataFrame),
      IndexStore.deleteWhereHnsw(spark, _, _), IndexStore.upsertHnsw(spark, _, _),
      Some(IndexStore.updateHnsw(spark, _, _)),
      (p, q) => IndexStore.searchTopKHnsw(spark, p, q, k = exactK, includeDistance = true)),
    VectorFamily("bucketed", "bucket", IndexStore.buildBucketed(spark, _, _),
      IndexStore.deleteIdsBucketed(spark, _, _: Seq[String]),
      IndexStore.deleteIdsBucketed(spark, _, _: DataFrame),
      IndexStore.deleteWhereBucketed(spark, _, _), IndexStore.upsertBucketed(spark, _, _),
      None,
      (p, q) => IndexStore.searchTopKAnnPartitioned(spark, p, q, k = exactK,
        multiprobe = true, includeDistance = true)))

  private val queries = Seq(1L, 2L, 3L).map(s => text(9000L + s).split(' ').take(4).mkString(" "))

  /** The maintained layout equals a from-scratch build over `expected`:
    * same per-source inventory, same chunk rows, same search pages. */
  private def assertMatchesScratch(f: VectorFamily, path: String, expected: Corpus,
                                   step: String): Unit = {
    val scratch = fresh(s"${f.name}-scratch")
    f.build(docsOf(expected), scratch)
    val (got, want) = (Relations.parquet(spark, path), Relations.parquet(spark, scratch))
    assert(rows(IndexStore.inventoryBySource(got)) == rows(IndexStore.inventoryBySource(want)),
      s"${f.name} $step: inventory")
    def chunks(df: DataFrame) =
      rows(df.select("chunk_id", "doc_id", "source", "chunk").orderBy("chunk_id"))
    assert(chunks(got) == chunks(want), s"${f.name} $step: chunk rows")
    for (q <- queries)
      assert(rows(f.search(path, q)) == rows(f.search(scratch, q)), s"${f.name} $step: '$q'")
  }

  private def chunkIdsOf(path: String, ids: Seq[Long]): Seq[String] =
    Relations.parquet(spark, path).filter(col("doc_id").isin(ids: _*))
      .select("chunk_id").distinct().collect().map(_.getString(0)).toSeq.sorted

  private def partsHolding(path: String, partCol: String, ids: Seq[Long]): Set[String] =
    if (partitionListings(path).isEmpty) Set.empty
    else Relations.parquet(spark, path).filter(col("doc_id").isin(ids: _*))
      .select(partCol).distinct().collect().map(r => s"$partCol=${r.get(0)}").toSet

  /** Run `mutate`, then check the scratch equality and that every
    * partition directory outside the ones holding `affected` documents
    * (before or after) kept its listing. */
  private def step(f: VectorFamily, path: String, label: String, affected: Seq[Long],
                   expected: Corpus)(mutate: => Unit): Unit = {
    val before = partitionListings(path)
    val touchedBefore = partsHolding(path, f.partCol, affected)
    mutate
    val touched = touchedBefore ++ partsHolding(path, f.partCol, affected)
    val after = partitionListings(path)
    for ((dir, listing) <- before if !touched(dir))
      assert(after.get(dir).contains(listing), s"${f.name} $label rewrote untouched $dir")
    if (expected.nonEmpty) assertMatchesScratch(f, path, expected, label)
    else assert(after.isEmpty, s"${f.name} $label: an emptied layout keeps no partition")
  }

  for ((f, fi) <- vectorFamilies.zipWithIndex)
    test(s"${f.name}: every delete, upsert and update verb equals a from-scratch build") {
      val seed = 100L * fi
      var corpus: Corpus = (0L until 30L).map(i => i -> text(seed + i)).toMap
      val path = fresh(f.name)
      f.build(docsOf(corpus), path)
      def live = corpus.keys.toSeq.sorted
      def revise(ids: Seq[Long], s: Long): Corpus = ids.map(i => i -> text(s + i)).toMap

      val a = pick(live, 3, seed + 1)
      corpus --= a
      step(f, path, "delete Seq", a, corpus)(f.deleteSeq(path, chunkIdsOf(path, a)))

      val b = pick(live, 3, seed + 2)
      corpus --= b
      step(f, path, "delete DataFrame", b, corpus) {
        import spark.implicits._
        f.deleteDf(path, chunkIdsOf(path, b).toDF("chunk_id"))
      }

      val c = pick(live, 2, seed + 3)
      corpus --= c
      step(f, path, "delete where", c, corpus)(f.deleteWhere(path, col("doc_id").isin(c: _*)))

      step(f, path, "delete nothing", Nil, corpus) {
        f.deleteSeq(path, Nil)
        f.deleteWhere(path, col("doc_id") < 0)
      }

      // revisions of live documents (longer and shorter) plus new ones
      val up = revise(pick(live, 4, seed + 4) ++ Seq(100L, 101L), seed + 5000)
      corpus ++= up
      step(f, path, "upsert", up.keys.toSeq, corpus)(f.upsert(docsOf(up), path))

      f.update.foreach { update =>
        val revised = revise(pick(live, 3, seed + 6), seed + 6000)
        // an unknown identity is skipped, never inserted
        val batch = revised ++ revise(Seq(200L), seed + 6000)
        corpus ++= revised
        step(f, path, "update", batch.keys.toSeq, corpus)(update(docsOf(batch), path))
      }

      val everything = live
      corpus = Map.empty
      step(f, path, "delete everything", everything, corpus)(f.deleteWhere(path, lit(true)))

      // enough chunks for a from-scratch PQ build to train its books
      val reborn = revise((1L to 18L) :+ 300L, seed + 7000)
      corpus ++= reborn
      step(f, path, "upsert into an emptied layout", reborn.keys.toSeq, corpus)(
        f.upsert(docsOf(reborn), path))
    }

  test("ivf: compactIvf after appends rewrites only crowded cells, rows unchanged") {
    val f = vectorFamilies.find(_.name == "ivf").get
    var corpus: Corpus = (0L until 30L).map(i => i -> text(700L + i)).toMap
    val path = fresh("ivf-compact")
    f.build(docsOf(corpus), path)
    for (batch <- Seq(Seq(40L, 41L, 42L), Seq(43L, 44L))) {
      val adds = batch.map(i => i -> text(700L + i)).toMap
      corpus ++= adds
      IndexStore.appendIvf(spark, docsOf(adds), path)
    }
    val before = partitionListings(path)
    val crowded = before.filter(_._2.count(_._1.endsWith(".parquet")) > 1).keySet
    assert(crowded.nonEmpty)
    IndexStore.compactIvf(spark, path, maxFilesPerCell = 1)
    val after = partitionListings(path)
    for ((dir, listing) <- before if !crowded(dir)) assert(after(dir) == listing, dir)
    for (dir <- crowded) assert(after(dir).count(_._1.endsWith(".parquet")) == 1, dir)
    assertMatchesScratch(f, path, corpus, "compactIvf")
  }

  // ---- tombstoned lexical layouts --------------------------------------

  /** One lexical layout family: build, upsert, compact, and the rows
    * (and, for a scoring layout, the search) compared with a rebuild. */
  private case class LexicalFamily(name: String, build: (DataFrame, String) => Unit,
                                   upsert: (DataFrame, String) => Unit,
                                   compact: String => Unit,
                                   cols: Seq[String], scored: Boolean)

  private val lexicalFamilies = Seq(
    LexicalFamily("scoring", (d, p) => LexicalStore.build(spark, d, p, analyzer = "folded"),
      (d, p) => LexicalStore.upsertLexical(spark, p, d), LexicalStore.compactLexical(spark, _),
      Seq("doc_id", "term", "tf", "df", "len"), scored = true),
    LexicalFamily("bm25f",
      (d, p) => LexicalStore.buildBm25F(spark, d, p, Seq("title" -> 2L, "text" -> 1L)),
      (d, p) => LexicalStore.upsertBm25F(spark, p, d), LexicalStore.compactLexical(spark, _),
      Seq("doc_id", "term", "tf", "df", "len"), scored = true),
    LexicalFamily("positional", LexicalStore.buildPositional(spark, _, _),
      (d, p) => LexicalStore.upsertPositional(spark, p, d), LexicalStore.compactPositional(spark, _),
      Seq("doc_id", "term", "positions"), scored = false))

  private def lexRows(f: LexicalFamily, path: String): Seq[Row] =
    rows(spark.read.parquet(path).select(f.cols.map(col): _*)
      .orderBy(f.cols.filter(_ != "positions").map(col): _*))

  private def assertLexicalMatchesScratch(f: LexicalFamily, path: String, expected: Corpus,
                                          step: String): Unit = {
    val scratch = fresh(s"lex-${f.name}-scratch")
    f.build(docsOf(expected), scratch)
    assert(lexRows(f, path) == lexRows(f, scratch), s"${f.name} $step: rows")
    if (f.scored) for (q <- queries) {
      val terms = q.split(' ').toSeq
      assert(rows(LexicalStore.searchTopKLexical(spark, path, terms, k = 50)) ==
        rows(LexicalStore.searchTopKLexical(spark, scratch, terms, k = 50)),
        s"${f.name} $step: '$q'")
    }
  }

  for ((f, fi) <- lexicalFamilies.zipWithIndex)
    test(s"lexical ${f.name}: delete, compact and upsert equal a from-scratch build") {
      val seed = 5000L + 100L * fi
      var corpus: Corpus = (0L until 30L).map(i => i -> text(seed + i)).toMap
      val path = fresh(s"lex-${f.name}")
      f.build(docsOf(corpus), path)
      def live = corpus.keys.toSeq.sorted

      val a = pick(live, 3, seed + 1)
      corpus --= a
      LexicalStore.deleteLexical(spark, path, a)
      if (f.scored) {
        val hits = queries.flatMap(q => rows(LexicalStore.searchTopKLexical(spark, path,
          q.split(' ').toSeq, k = 50)).map(_.getLong(0)))
        assert(hits.nonEmpty && hits.forall(corpus.contains), s"${f.name}: tombstoned ids hidden")
      }
      f.compact(path)
      assertLexicalMatchesScratch(f, path, corpus, "delete Seq + compact")

      // tombstoned ids (one of them revived by the batch), revisions, new ids
      val b = pick(live, 2, seed + 2)
      LexicalStore.deleteLexical(spark, path, {
        import spark.implicits._
        b.toDF("doc_id")
      })
      corpus --= b
      val up = (Seq(b.head) ++ pick(live, 3, seed + 3) ++ Seq(100L))
        .map(i => i -> text(seed + 5000 + i)).toMap
      corpus ++= up
      f.upsert(docsOf(up), path)
      assertLexicalMatchesScratch(f, path, corpus, "delete DataFrame + upsert")

      f.upsert(docsOf(Map.empty), path)
      assertLexicalMatchesScratch(f, path, corpus, "empty upsert")
      f.compact(path)
      assertLexicalMatchesScratch(f, path, corpus, "compact without tombstones")

      // compacted down to no rows, then upserted into
      LexicalStore.deleteLexical(spark, path, live)
      f.compact(path)
      corpus = (Seq(1L, 2L, 300L)).map(i => i -> text(seed + 7000 + i)).toMap
      f.upsert(docsOf(corpus), path)
      assertLexicalMatchesScratch(f, path, corpus, "upsert into an emptied layout")
    }

  test("lexical scoring: an upsert into a segmented layout keeps every segment's documents") {
    val f = lexicalFamilies.find(_.name == "scoring").get
    val segs = Seq((0L until 10L), (10L until 20L)).map(_.map(i => i -> text(6000L + i)).toMap)
    val path = fresh("lex-segmented")
    for (seg <- segs) LexicalStore.appendLexicalSegment(spark, docsOf(seg), path, analyzer = "folded")
    val up = Seq(3L, 15L, 100L).map(i => i -> text(6500L + i)).toMap
    f.upsert(docsOf(up), path)
    assertLexicalMatchesScratch(f, path, segs.reduce(_ ++ _) ++ up, "upsert into segments")
  }

  /** relative path -> size of every file under `path`. */
  private def allFiles(path: String): Map[String, Long] =
    Files.walk(Paths.get(path)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => Paths.get(path).relativize(f).toString -> Files.size(f)).toMap

  test("appendLexicalSegment onto a built layout: one build of the union, or refused unwritten") {
    val (a, b) = ((0L until 12L), (12L until 20L))
    val (corpusA, corpusB) = (a.map(i => i -> text(7000L + i)).toMap, b.map(i => i -> text(7000L + i)).toMap)
    val (path, scratch) = (fresh("append-built"), fresh("append-built-scratch"))
    LexicalStore.build(spark, docsOf(corpusA), path, analyzer = "english")
    LexicalStore.appendLexicalSegment(spark, docsOf(corpusB), path, analyzer = "english")
    LexicalStore.build(spark, docsOf(corpusA ++ corpusB), scratch, analyzer = "english")
    for (q <- queries) {
      val terms = q.split(' ').toSeq
      val want = rows(LexicalStore.searchTopKLexical(spark, scratch, terms, k = 50))
      assert(want.nonEmpty)
      assert(rows(LexicalStore.searchTopKLexical(spark, path, terms, k = 50)) == want, q)
      assert(rows(LexicalStore.explainScore(spark, path, terms, docsOf(corpusA ++ corpusB))) ==
        rows(LexicalStore.explainScore(spark, scratch, terms, docsOf(corpusA ++ corpusB))), q)
    }
    // an analyzer mismatch is refused by name, before any write
    val before = allFiles(path)
    val mismatch = intercept[IllegalArgumentException](
      LexicalStore.appendLexicalSegment(spark, docsOf(Map(30L -> "alpha")), path))
    assert(mismatch.getMessage.contains("'english'") && mismatch.getMessage.contains("'raw'"),
      mismatch.getMessage)
    assert(allFiles(path) == before)
    // so is a plain append onto a BM25F layout
    val bm = fresh("append-bm25f")
    LexicalStore.buildBm25F(spark, docsOf(corpusA), bm, Seq("title" -> 2L, "text" -> 1L))
    val bmBefore = allFiles(bm)
    val bm25f = intercept[IllegalArgumentException](
      LexicalStore.appendLexicalSegment(spark, docsOf(corpusB), bm))
    assert(bm25f.getMessage.contains("BM25F"), bm25f.getMessage)
    assert(allFiles(bm) == bmBefore)
  }

  test("maintenance guards: wrong family, lexical layouts, BM25F pair") {
    import spark.implicits._
    val corpus: Corpus = (0L until 12L).map(i => i -> text(900L + i)).toMap
    val (src, ivf, lex, bm) = (fresh("g-src"), fresh("g-ivf"), fresh("g-lex"), fresh("g-bm"))
    IndexStore.build(spark, docsOf(corpus), src)
    IndexStore.buildIvf(spark, docsOf(corpus), ivf, nCells = 2)
    LexicalStore.build(spark, docsOf(corpus), lex)
    LexicalStore.buildBm25F(spark, docsOf(corpus), bm, Seq("title" -> 2L, "text" -> 1L))
    val untouched = partitionListings(src)
    intercept[IllegalArgumentException](IndexStore.deleteIdsIvf(spark, src, Seq("sheet0_0_0")))
    intercept[IllegalArgumentException](IndexStore.upsertDocs(spark, docsOf(corpus), ivf))
    intercept[IllegalArgumentException](IndexStore.deleteIdsBucketed(spark, lex, Seq("x")))
    intercept[IllegalArgumentException](IndexStore.deleteWhereBucketed(spark, lex, lit(true)))
    intercept[IllegalArgumentException](LexicalStore.upsertLexical(spark, bm, docsOf(corpus)))
    intercept[RuntimeException](LexicalStore.upsertBm25F(spark, lex, docsOf(corpus)))
    assert(partitionListings(src) == untouched)
    // a missing layout is a no-op delete, not a wrong-verb error
    IndexStore.deleteIds(spark, fresh("missing"), Seq("x"))
    IndexStore.deleteIds(spark, fresh("missing"), Seq("x").toDF("chunk_id"))
  }

  test("maintenance guards hold on emptied layouts: the sidecars name the family") {
    val corpus: Corpus = (0L until 12L).map(i => i -> text(950L + i)).toMap
    val (src, ivf, hnsw, lex) = (fresh("e-src"), fresh("e-ivf"), fresh("e-hnsw"), fresh("e-lex"))
    IndexStore.build(spark, docsOf(corpus), src)
    IndexStore.buildIvf(spark, docsOf(corpus), ivf, nCells = 2)
    IndexStore.buildHnsw(spark, docsOf(corpus), hnsw, numShards = 2)
    LexicalStore.build(spark, docsOf(corpus), lex)
    IndexStore.deleteWhere(spark, src, lit(true))
    IndexStore.deleteWhereIvf(spark, ivf, lit(true))
    IndexStore.deleteWhereHnsw(spark, hnsw, lit(true))
    LexicalStore.deleteLexical(spark, lex, corpus.keys.toSeq)
    LexicalStore.compactLexical(spark, lex)
    def listing(p: String) = Files.list(Paths.get(p)).iterator().asScala
      .map(_.getFileName.toString).toSet
    val before = Seq(src, ivf, hnsw, lex).map(p => p -> listing(p)).toMap
    assert(Seq(src, ivf, hnsw, lex).forall(partitionListings(_).isEmpty))
    intercept[IllegalArgumentException](IndexStore.upsertDocs(spark, docsOf(corpus), ivf))
    intercept[IllegalArgumentException](IndexStore.upsertDocs(spark, docsOf(corpus), hnsw))
    intercept[IllegalArgumentException](IndexStore.upsertBucketed(spark, docsOf(corpus), ivf))
    intercept[IllegalArgumentException](IndexStore.upsertDocs(spark, docsOf(corpus), lex))
    intercept[IllegalArgumentException](IndexStore.upsertBucketed(spark, docsOf(corpus), lex))
    // an emptied vector layout counts 0 and skips updates (no identity is present)
    for (p <- Seq(src, ivf, hnsw)) assert(IndexStore.count(spark, p) == 0L, s"count of $p")
    IndexStore.updateDocs(spark, docsOf(corpus), src)
    IndexStore.updateIvf(spark, docsOf(corpus), ivf)
    IndexStore.updateHnsw(spark, docsOf(corpus), hnsw)
    for ((p, names) <- before) assert(listing(p) == names, s"$p was written to")
    // ...and its reads fail by name instead of inferring a schema from no file
    val reads: Seq[(String, () => Any)] = Seq(
      src -> (() => IndexStore.searchTopK(spark, src, "alpha")),
      ivf -> (() => IndexStore.searchTopKIvf(spark, ivf, "alpha")),
      hnsw -> (() => IndexStore.searchTopKHnsw(spark, hnsw, "alpha"))) ++
      Seq(src, ivf, hnsw).map(p => p -> (() => IndexStore.get(spark, p)))
    for ((p, read) <- reads) {
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains(p) && e.getMessage.contains("holds no rows"), e.getMessage)
    }
    // a scoring layout compacted to nothing: `_segstats` holds one
    // segment of (0, 0), a search fails by name, and a second compact
    // only clears tombstones
    val stats = spark.read.parquet(s"$lex/_segstats").head()
    assert(stats.getAs[Long]("n_docs") == 0L)
    assert(!stats.isNullAt(stats.fieldIndex("sum_len")) && stats.getAs[Long]("sum_len") == 0L)
    val noDocs = intercept[IllegalArgumentException](
      LexicalStore.searchTopKLexical(spark, lex, Seq("alpha")))
    assert(noDocs.getMessage.contains(lex) && noDocs.getMessage.contains("no documents"))
    LexicalStore.deleteLexical(spark, lex, {
      import spark.implicits._
      Seq(1L).toDF("doc_id")
    })
    assert(listing(lex).contains("_tombstones"))
    LexicalStore.compactLexical(spark, lex)
    assert(listing(lex) == before(lex))
    // deleting ids from it is a no-op: there is no row left to mask
    LexicalStore.deleteLexical(spark, lex, Seq(1L))
    assert(listing(lex) == before(lex))
    // so does a segmented layout merged down to nothing
    val seg = fresh("e-seg")
    LexicalStore.appendLexicalSegment(spark, docsOf(corpus.filter(_._1 < 6L)), seg)
    LexicalStore.appendLexicalSegment(spark, docsOf(corpus.filter(_._1 >= 6L)), seg)
    LexicalStore.deleteLexical(spark, seg, corpus.keys.toSeq)
    LexicalStore.compactSegments(spark, seg)
    val noSegDocs = intercept[IllegalArgumentException](
      LexicalStore.searchTopKSegmented(spark, seg, Seq("alpha")))
    assert(noSegDocs.getMessage.contains(seg) && noSegDocs.getMessage.contains("no documents"))
    // the matching family still inserts
    IndexStore.upsertDocs(spark, docsOf(corpus), src)
    assert(partitionListings(src).nonEmpty)
  }
}
