package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Dedup, VectorSearch}

/** The public parameterized operators must work on arbitrary frames
  * with arbitrary column names and non-default parameters — not just
  * the fixture instantiations the driver verifies.
  */
class PublicApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("minhashPairs finds a planted near-dup under custom column names and bands") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (100L, base),
      (200L, base + " extra"), // near-dup of 100
      (300L, "completely different content about spark query planning and shuffles"))
      .toDF("item_id", "body")
    val pairs = Dedup.minhashPairs(docs, "item_id", "body",
        nHashes = 32, shingleK = 2, nBands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 200L)), pairs.toString)
  }

  test("assignSplit honors custom thresholds") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("id")
    val frac = ids
      .withColumn("split", Corpus.assignSplit(col("id"), trainUpTo = 128, validUpTo = 192))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) / 2000.0).toMap
    // 128/256 = 50% train, 64/256 = 25% valid, 25% test (±ε)
    assert(math.abs(frac("train") - 0.5) < 0.05, frac.toString)
    assert(math.abs(frac("valid") - 0.25) < 0.05, frac.toString)
    assert(math.abs(frac("test") - 0.25) < 0.05, frac.toString)
  }

  test("ngramTopK builds trigrams and survives docs shorter than n") {
    import spark.implicits._
    val docs = Seq(
      ("g1", "a b c d"), ("g1", "a b c"), ("g1", "x"), ("g1", ""))
      .toDF("grp", "body")
    val top = Corpus.ngramTopK(docs, "body", "grp", n = 3, k = 2)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getLong(3)))
    assert(top.head == (1, "a b c", 2L), top.toSeq.toString)
  }

  test("farthestFirstSeeds picks one seed per cluster on separable data") {
    import spark.implicits._
    def vec(axis: Int, i: Int): Array[Float] =
      Array.tabulate(8)(j => (if (j == axis) 10f else 0f) + ((i * 13 + j) % 3) * 0.01f)
    // three tight clusters around axes 0, 1, 2
    val corpus = (0 until 30).map(i => (i.toLong, vec(i % 3, i))).toDF("id", "v")
    val seeds = graft.operators.VectorSearch
      .farthestFirstSeeds(corpus, "id", "v", k = 3, startId = 0L)
      .collect().map(_.getAs[Long]("cent_id"))
    assert(seeds.length == 3)
    // one representative per cluster: the axis of each seed id differs
    assert(seeds.map(_ % 3).toSet.size == 3, seeds.toSeq.toString)
  }

  test("clusterLabels/survivors resolve transitive near-dup chains") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc")
    // chain 1-2-3 (1 and 3 never directly paired), pair 5-6, isolated 4 and 7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = Dedup.clusterLabels(ids, "doc", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L), labels.toString)
    val surv = Dedup.survivors(ids, "doc", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 4L, 5L, 7L), surv.toString)
  }

  test("knnCosine / annLsh / annIvf agree on an easy separable corpus") {
    import spark.implicits._
    // 40 vectors in 2 tight clusters around e1 and e2 (dim 8)
    def vec(axis: Int, i: Int): Array[Float] =
      Array.tabulate(8)(j => (if (j == axis) 10f else 0f) + ((i * 31 + j * 7) % 5) * 0.01f)
    val corpus = ((0 until 20).map(i => (i.toLong, vec(0, i))) ++
      (20 until 40).map(i => (i.toLong, vec(1, i))))
      .toDF("id", "v")
    val queries = Seq((0L, vec(0, 99)), (1L, vec(1, 77)))
      .toDF("query_id", "qvec")
    def ids(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = ids(VectorSearch.knnCosine(corpus, "id", "v", queries, 5))
    // query 0's neighbors all come from cluster 0, query 1's from cluster 1
    assert(exact(0L).forall(_ < 20) && exact(1L).forall(_ >= 20))
    val lsh = ids(VectorSearch.annLsh(corpus, "id", "v", queries, k = 5,
      dim = 8, nBits = 2, nTables = 8))
    assert(lsh(0L).subsetOf(exact(0L)) || lsh(0L).forall(_ < 20))
    val seeds = corpus.filter(col("id").isin(0L, 20L))
      .select(col("id").as("cent_id"), col("v").as("cvec"))
    val ivf = ids(VectorSearch.annIvf(corpus, "id", "v", queries, k = 5,
      seeds = seeds, lloydIters = 1, probes = 1))
    // with one probe on a separable corpus, IVF = exact
    assert(ivf == exact, s"$ivf vs $exact")
    // SQ8 compressed-domain rerank recovers the exact top-k too
    val sq8 = ids(VectorSearch.knnSq8(corpus, "id", "v", queries, k = 5,
      overfetch = 10))
    assert(sq8 == exact, s"$sq8 vs $exact")
  }

  test("repetitionSignals flags a repetitive doc and clears a diverse one") {
    import spark.implicits._
    val docs = Seq(
      (1L, "buy now " * 50),                                  // loop spam
      (2L, (1 to 100).map(i => s"unique$i").mkString(" ")),   // all distinct
      (3L, ""))                                               // no tokens
      .toDF("id", "body")
    val sig = Corpus.repetitionSignals(docs, "id", "body")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (dr1, ts1, db1) = sig(1L)
    val (dr2, ts2, db2) = sig(2L)
    assert(dr1 < 0.05 && ts1 >= 0.5 && db1 > 0.9, s"spam doc: $dr1 $ts1 $db1")
    assert(dr2 == 1.0 && ts2 == 0.01 && db2 == 0.0, s"diverse doc: $dr2 $ts2 $db2")
    assert(sig(3L) == ((0.0, 0.0, 0.0))) // empty doc: zeroed signals
  }

  test("decontaminate drops verbatim leakage but keeps clean docs") {
    import spark.implicits._
    val bench = Seq((100L, "the exact benchmark question about spark shuffles here"))
      .toDF("bid", "btext")
    val train = Seq(
      (1L, "the exact benchmark question about spark shuffles here copied verbatim"),
      (2L, "a completely unrelated training document with different words entirely"))
      .toDF("id", "body")
    val kept = Corpus.decontaminate(train, "id", "body", bench, "btext",
        shingleK = 3, minShared = 3)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), kept.toString)
  }

  test("LSH multiprobe candidates are a superset of single-probe candidates") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("id", "v")
    val queries = Seq((0L, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("query_id", "qvec")
    def cands(mp: Boolean) = VectorSearch
      .annLsh(corpus, "id", "v", queries, k = 200, dim = 16,
        nBits = 8, nTables = 4, multiprobe = mp)
      .select("id").collect().map(_.getLong(0)).toSet
    val single = cands(false)
    val multi = cands(true)
    assert(single.subsetOf(multi), s"${single -- multi} missing under multiprobe")
    assert(multi.size > single.size, "multiprobe should widen the candidate set")
    // driver-side probe expansion matches: base + nBits flips per key
    val keys = graft.functions.Lsh.queryBuckets(Array.fill(16)(0.5f), 16, 8, 4)
    val probes = graft.functions.Lsh.expandProbes(keys, 8)
    assert(probes.length == keys.length * 9)
    assert(keys.forall(probes.contains))
    // flipped keys keep their table id (high 32 bits)
    assert(probes.map(_ >>> 32).toSet == keys.map(_ >>> 32).toSet)
  }

  test("where= is exact filtered top-k on every search path that claims it") {
    import spark.implicits._
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_where_idx"
    val docs = (0L until 60L).map(i =>
        (i, s"synthetic document number $i about topic ${i % 7}", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    IndexStore.build(spark, docs, path)
    val q = "synthetic document about topic"
    val pred = col("doc_id") % 3 === 1
    // exact path: filtered top-k == top-k of the filtered corpus
    val filtered = IndexStore.searchTopK(spark, path, q, k = 5,
      where = Some(pred)).collect()
    assert(filtered.length == 5)
    assert(filtered.forall(_.getAs[Long]("doc_id") % 3 == 1),
      "every returned row must satisfy the predicate")
    // the independent baseline: a search over a PHYSICALLY
    // pre-filtered copy of the corpus must return the same ranking
    // (post-filtering the unfiltered top-k would not — it loses rows)
    val prePath = s"${Sessions.workDir}/test_where_idx_pre"
    IndexStore.build(spark, docs.filter(pred), prePath)
    val pre = IndexStore.searchTopK(spark, prePath, q, k = 5).collect()
    assert(filtered.map(_.getAs[String]("chunk_id")).toSeq ==
      pre.map(_.getAs[String]("chunk_id")).toSeq,
      "where= must equal searching a pre-filtered corpus")
    // graph path: returned rows satisfy the predicate; k survivors
    // found thanks to the widened traversal
    IndexStore.buildHnsw(spark, docs, path + "_h")
    val hnsw = IndexStore.searchTopKHnsw(spark, path + "_h", q, k = 5,
      where = Some(pred)).collect()
    assert(hnsw.forall(_.getAs[Long]("doc_id") % 3 == 1))
    assert(hnsw.length == 5, s"widened traversal must find k survivors, got ${hnsw.length}")
    // LSH-overlap and SQ8 paths: per-row signatures are independent of
    // the rest of the corpus, so where= must ALSO equal searching the
    // pre-filtered copy (candidate generation sees only survivors)
    val lshF = IndexStore.searchTopKAnn(spark, path, q, k = 5,
      where = Some(pred)).collect().map(_.getAs[String]("chunk_id")).toSeq
    val lshPre = IndexStore.searchTopKAnn(spark, prePath, q, k = 5)
      .collect().map(_.getAs[String]("chunk_id")).toSeq
    assert(lshF == lshPre, "LSH where= must equal the pre-filtered corpus search")
    val sq8F = IndexStore.searchTopKSq8(spark, path, q, k = 5,
      where = Some(pred)).collect().map(_.getAs[String]("chunk_id")).toSeq
    val sq8Pre = IndexStore.searchTopKSq8(spark, prePath, q, k = 5)
      .collect().map(_.getAs[String]("chunk_id")).toSeq
    assert(sq8F == sq8Pre, "SQ8 where= must equal the pre-filtered corpus search")
    // bucket-partitioned layout: same equivalence, plus the bucket
    // prune still applies before the metadata filter
    val bPath = path + "_b"
    val bPrePath = path + "_bpre"
    IndexStore.buildBucketed(spark, docs, bPath)
    IndexStore.buildBucketed(spark, docs.filter(pred), bPrePath)
    val bF = IndexStore.searchTopKAnnPartitioned(spark, bPath, q, k = 5,
      where = Some(pred)).collect().map(_.getAs[String]("chunk_id")).toSeq
    val bPre = IndexStore.searchTopKAnnPartitioned(spark, bPrePath, q, k = 5)
      .collect().map(_.getAs[String]("chunk_id")).toSeq
    assert(bF == bPre, "bucketed where= must equal the pre-filtered corpus search")
  }

  test("filtered graph search API: naive vs widened overfetch (q105's 9-search form)") {
    // the per-search API shape the q105 meter contrasts (its gated
    // query computes the same meter as ONE distributed plan): a
    // filter-blind traversal post-filtered naively loses survivors
    // that 4x widening recovers, and widening can never hurt recall
    import spark.implicits._
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_q105_api_idx"
    val docs = (0L until 60L).map(i =>
        (i, s"synthetic document number $i about topic ${i % 7}", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    IndexStore.buildHnsw(spark, docs, path)
    val q = "synthetic document about topic"
    val pred = col("doc_id") % 4 === 0
    def ids(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.getAs[String]("chunk_id")).toSeq
    val exact = ids(IndexStore.searchTopK(spark, path, q, k = 5, where = Some(pred)))
    val naive = ids(IndexStore.searchTopKHnsw(spark, path, q, k = 5,
      where = Some(pred), whereOverfetch = 1))
    val widened = ids(IndexStore.searchTopKHnsw(spark, path, q, k = 5,
      where = Some(pred)))
    assert(exact.length == 5)
    assert(naive.length <= widened.length,
      s"widening must not lose survivors: $naive vs $widened")
    assert(naive.toSet.intersect(exact.toSet).size <=
      widened.toSet.intersect(exact.toSet).size,
      "widened recall must be >= naive recall")
    // both are post-filter exact-reranked, so both satisfy the predicate
    assert((naive ++ widened).forall(id => id.split("_")(1).toLong % 4 == 0))
  }

  test("collection get/count/peek: query-less retrieval with stable paging") {
    import spark.implicits._
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_get_idx"
    val docs = (0L until 30L).map(i =>
        (i, s"plain document body number $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    IndexStore.build(spark, docs, path)
    assert(IndexStore.count(spark, path) == 30)
    // paging is deterministic and disjoint: two pages tile the id order
    val p1 = IndexStore.get(spark, path, limit = 10)
      .collect().map(_.getString(0)).toSeq
    val p2 = IndexStore.get(spark, path, limit = 10, offset = 10)
      .collect().map(_.getString(0)).toSeq
    val allIds = spark.read.parquet(path).select("chunk_id")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(p1 == allIds.take(10) && p2 == allIds.slice(10, 20))
    // by ids (order normalized to chunk_id, as chroma does)
    val byId = IndexStore.get(spark, path, ids = Seq("src1_4_0", "src0_3_0"))
      .collect().map(_.getString(0)).toSeq
    assert(byId == Seq("src0_3_0", "src1_4_0"))
    // where + where_document compose; vectors are never read
    val got = IndexStore.get(spark, path,
      where = Some(col("doc_id") % 2 === 0 && col("chunk").contains("number 1")))
    val gotRows = got.collect()
    assert(gotRows.map(_.getAs[Long]("doc_id")).toSet == Set(10L, 12L, 14L, 16L, 18L))
    // chunk_id string order, as chroma's get pages by id
    assert(gotRows.map(_.getString(0)).toSeq == gotRows.map(_.getString(0)).sorted.toSeq)
    assert(!got.queryExecution.executedPlan.toString.contains("embedding"),
      "a get must never scan the embedding column")
    assert(IndexStore.peek(spark, path, 3).collect().map(_.getString(0)).toSeq ==
      allIds.take(3))
  }

  test("query/get include= toggles mirror the chroma 0.4.6 projection contract") {
    import spark.implicits._
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_include_idx"
    val docs = (0L until 20L).map(i =>
        (i, s"include toggle document number $i", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    IndexStore.build(spark, docs, path)
    val q = "include toggle document number 7"
    // default (empty include): the legacy presentation, no embedding
    val legacy = IndexStore.searchTopK(spark, path, q, k = 3)
    assert(legacy.columns.toSeq ==
      Seq("rank", "chunk_id", "doc_id", "source", "chunk", "link"))
    // documents leg only: ids + chunk
    assert(IndexStore.searchTopK(spark, path, q, k = 3,
        include = Seq("documents")).columns.toSeq ==
      Seq("rank", "chunk_id", "chunk"))
    // metadatas + distances: ids + doc_id/source/link + distance
    val md = IndexStore.searchTopK(spark, path, q, k = 3,
      include = Seq("metadatas", "distances"))
    assert(md.columns.toSeq ==
      Seq("rank", "chunk_id", "doc_id", "source", "link", "distance"))
    // the distances leg is the includeDistance column under a new name
    val viaFlag = IndexStore.searchTopK(spark, path, q, k = 3,
        includeDistance = true)
      .select("chunk_id", "distance").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    md.select("chunk_id", "distance").collect().foreach { r =>
      assert(viaFlag(r.getString(0)) == r.getDouble(1))
    }
    // embeddings leg returns the STORED vector of each hit
    val emb = IndexStore.searchTopK(spark, path, q, k = 1,
      include = Seq("embeddings"))
    assert(emb.columns.toSeq == Seq("rank", "chunk_id", "embedding"))
    val hit = emb.collect().head
    val stored = spark.read.parquet(path)
      .filter(col("chunk_id") === hit.getString(1))
      .select("embedding").collect().head.getSeq[Float](0)
    assert(hit.getSeq[Float](2) == stored)
    // the ANN path shares the presentation
    assert(IndexStore.searchTopKAnn(spark, path, q, k = 3,
        include = Seq("documents", "distances")).columns.toSeq ==
      Seq("rank", "chunk_id", "chunk", "distance"))
    // a nonempty include is the WHOLE projection contract: it ignores
    // the legacy includeDistance flag rather than appending an
    // unrequested leg
    assert(IndexStore.searchTopK(spark, path, q, k = 3,
        includeDistance = true, include = Seq("documents")).columns.toSeq ==
      Seq("rank", "chunk_id", "chunk"))
    // unknown token fails loudly
    intercept[IllegalArgumentException] {
      IndexStore.searchTopK(spark, path, q, include = Seq("uris"))
    }
    // get: embeddings toggle reads vectors, default does not, and a
    // get has no distances leg
    val g = IndexStore.get(spark, path, limit = 2,
      include = Seq("documents", "embeddings"))
    assert(g.columns.toSeq == Seq("chunk_id", "chunk", "embedding"))
    assert(g.collect().forall(!_.isNullAt(2)))
    assert(IndexStore.get(spark, path, limit = 2,
      include = Seq("metadatas")).columns.toSeq ==
      Seq("chunk_id", "doc_id", "source"))
    intercept[IllegalArgumentException] {
      IndexStore.get(spark, path, include = Seq("distances"))
    }
  }

  test("describeCollection names the layout family, sidecars and shape") {
    import spark.implicits._
    import graft.sources.IndexStore
    val docs = (0L until 30L).map(i =>
        (i, s"describe verb document number $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val srcPath = s"${Sessions.workDir}/test_describe_src"
    IndexStore.build(spark, docs, srcPath)
    val src = IndexStore.describeCollection(spark, srcPath).collect().head
    assert(src.getAs[String]("family") == "source-partitioned")
    assert(src.getAs[String]("partition_col") == "source")
    assert(src.getAs[Long]("n_partitions") == 3L)
    assert(src.getAs[Long]("dim") == 64L)
    assert(src.getAs[Long]("n_rows") == 30L)
    assert(src.getAs[Boolean]("has_centroids") == false)
    val ivfPath = s"${Sessions.workDir}/test_describe_ivf"
    IndexStore.buildIvf(spark, docs, ivfPath, nCells = 4)
    val ivf = IndexStore.describeCollection(spark, ivfPath).collect().head
    assert(ivf.getAs[String]("family") == "ivf-sq")
    assert(ivf.getAs[Boolean]("has_centroids"))
    assert(ivf.getAs[String]("space") == "cosine")
    assert(ivf.getAs[Long]("n_partitions") == 4L,
      "partition count must come from the directory listing")
    // the token-vector layout routes to the colbert verbs, never ivf
    val cbPath = s"${Sessions.workDir}/test_describe_cb"
    graft.sources.VersionedStore.deleteTree(java.nio.file.Paths.get(cbPath))
    graft.operators.Hybrid.buildColbert(spark, docs, cbPath,
      maxToks = 8, kCells = 4)
    val cb = IndexStore.describeCollection(spark, cbPath).collect().head
    assert(cb.getAs[String]("family") == "colbert-token-ivf")
    assert(cb.getAs[Long]("dim") == 64L)
    // lexical postings ALSO partition by bucket= — the term column
    // must disambiguate them from the LSH row family, and a vector
    // maintenance verb aimed at the postings must fail loudly on the
    // column probe (not corrupt or silently no-op)
    val lexPath = s"${Sessions.workDir}/test_describe_lex"
    graft.sources.VersionedStore.deleteTree(java.nio.file.Paths.get(lexPath))
    graft.sources.LexicalStore.build(spark, docs, lexPath)
    val lex = IndexStore.describeCollection(spark, lexPath).collect().head
    assert(lex.getAs[String]("family") == "lexical-postings")
    assert(lex.getAs[String]("partition_col") == "bucket")
    assert(lex.getAs[String]("space") == "bm25")
    assert(lex.getAs[Long]("dim") == 0L)
    val wrongVerb = intercept[IllegalArgumentException] {
      IndexStore.deleteIdsBucketed(spark, lexPath, Seq("0"))
    }
    assert(wrongVerb.getMessage.contains("lexical-postings"))
    assert(wrongVerb.getMessage.contains("LexicalStore"))
    // the POSITIONAL postings also carry bucket= AND term — the
    // positions column must separate them from the scoring family
    // (their verbs differ: phrase/NEAR/snippets, no tf/df to score)
    val posIdx = s"${Sessions.workDir}/test_describe_pos"
    graft.sources.VersionedStore.deleteTree(java.nio.file.Paths.get(posIdx))
    graft.sources.LexicalStore.buildPositional(spark, docs, posIdx)
    val pos = IndexStore.describeCollection(spark, posIdx).collect().head
    assert(pos.getAs[String]("family") == "lexical-positional")
    assert(pos.getAs[String]("partition_col") == "bucket")
    assert(pos.getAs[String]("space") == "positional")
    assert(pos.getAs[Long]("dim") == 0L)
    intercept[IllegalArgumentException] {
      IndexStore.describeCollection(spark, s"${Sessions.workDir}/no_such_coll")
    }
  }

  test("describeStore reports manifest metadata through the whole lifecycle") {
    import spark.implicits._
    import graft.sources.VersionedStore._
    val path = s"${Sessions.workDir}/test_describe_store"
    deleteTree(java.nio.file.Paths.get(path))
    val docs = (0L until 40L).map(i => (i, s"src${i % 4}", i * 10))
      .toDF("doc_id", "source", "n_chars")
    create(spark, docs.filter(col("doc_id") < 20), path)
    writeZoneMap(spark, path, "seg=0", Seq("doc_id"))
    append(spark, docs.filter(col("doc_id") >= 20), path)
    writeZoneMap(spark, path, "seg=1", Seq("doc_id"))
    refreshSummary(spark, path, "source", "n_chars")
    val d1 = describeStore(spark, path, "t").collect().head
    assert(d1.getAs[Int]("current_version") == 2)
    assert(d1.getAs[Int]("oldest_version") == 1)
    assert(d1.getAs[Int]("n_versions") == 2)
    assert(d1.getAs[Int]("n_segs_current") == 2)
    assert(d1.getAs[Int]("n_segs_live") == 2)
    assert(d1.getAs[Int]("n_segs_disk") == 2)
    assert(d1.getAs[Int]("zm_segs") == 2)
    assert(d1.getAs[String]("zm_cols") == "doc_id")
    assert(d1.getAs[Long]("zm_min") == 0L && d1.getAs[Long]("zm_max") == 39L)
    assert(d1.getAs[Int]("n_absorbed") == 2)
    // delete rewrites only the touched segment; history stays live
    deleteWhere(spark, path, col("doc_id") >= 30)
    val d2 = describeStore(spark, path, "t").collect().head
    assert(d2.getAs[Int]("current_version") == 3)
    assert(d2.getAs[Int]("n_segs_current") == 2,
      "kept seg=0 by reference + one survivor segment")
    assert(d2.getAs[Int]("n_segs_live") == 3)
    assert(d2.getAs[Int]("n_segs_disk") == 3)
    // the survivor segment has no stats: coverage drops, span
    // follows only the covered segment
    assert(d2.getAs[Int]("zm_segs") == 1)
    assert(d2.getAs[Long]("zm_max") == 19L)
    // compact + vacuum: horizon advances to the only retained version
    compact(spark, path)
    vacuum(path, retainLast = 1)
    val d3 = describeStore(spark, path, "t").collect().head
    assert(d3.getAs[Int]("current_version") == 4)
    assert(d3.getAs[Int]("oldest_version") == 4)
    assert(d3.getAs[Int]("n_versions") == 1)
    assert(d3.getAs[Int]("n_segs_current") == 1)
    assert(d3.getAs[Int]("n_segs_live") == 1)
    assert(d3.getAs[Int]("n_segs_disk") == 1)
    intercept[IllegalArgumentException] {
      describeStore(spark, s"${Sessions.workDir}/no_such_store", "t")
    }
    // a later-sorted column covered by EVERY zone-mapped segment must
    // not be masked by an earlier-sorted partially-covered one
    val p2 = s"${Sessions.workDir}/test_describe_store_span"
    deleteTree(java.nio.file.Paths.get(p2))
    val docs2 = (0L until 20L).map(i => (i, i * 2, i * 10))
      .toDF("doc_id", "a_rank", "n_chars")
    create(spark, docs2.filter(col("doc_id") < 10), p2)
    writeZoneMap(spark, p2, "seg=0", Seq("doc_id"))
    append(spark, docs2.filter(col("doc_id") >= 10), p2)
    writeZoneMap(spark, p2, "seg=1", Seq("a_rank", "doc_id"))
    val sp = describeStore(spark, p2, "t").collect().head
    assert(sp.getAs[String]("zm_cols") == "a_rank,doc_id")
    assert(sp.getAs[Long]("zm_min") == 0L && sp.getAs[Long]("zm_max") == 19L,
      "the span must come from doc_id, the column every segment covers")
  }

  test("searchTopKHnswBatch where= matches the single-query filtered search") {
    import spark.implicits._
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_hnsw_batch_where_idx"
    val docs = (0L until 60L).map(i =>
        (i, s"graph batch document number $i about topic ${i % 6}", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    IndexStore.buildHnsw(spark, docs, path)
    val qs = Seq(0L -> "graph batch document", 1L -> "topic five")
    val where = Some(col("doc_id") % 3 === 0)
    val batch = IndexStore.searchTopKHnswBatch(spark, path, qs, k = 4,
      where = where).collect()
    assert(batch.nonEmpty)
    assert(batch.forall(_.getAs[Long]("doc_id") % 3 == 0),
      "every batch result must satisfy the predicate")
    qs.foreach { case (qid, text) =>
      val single = IndexStore.searchTopKHnsw(spark, path, text, k = 4,
        where = where).collect()
      val batchRows = batch.filter(_.getAs[Long]("query_id") == qid)
      assert(batchRows.map(_.getAs[String]("chunk_id")).toSeq ==
        single.map(_.getAs[String]("chunk_id")).toSeq,
        s"query $qid: filtered batch ranking must equal the single-query path")
    }
  }

  test("renameCollection moves a layout atomically and releases its pins") {
    import spark.implicits._
    import graft.sources.IndexStore
    val base = java.nio.file.Files.createTempDirectory("graft_rename").toString
    val docs = (0L until 20L).map(i =>
        (i, s"renameable document number $i", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    // source layout: rename then read/search at the new name
    IndexStore.build(spark, docs, s"$base/old")
    IndexStore.renameCollection(spark, s"$base/old", s"$base/new")
    assert(!new java.io.File(s"$base/old").exists())
    assert(IndexStore.count(spark, s"$base/new") == 20)
    assert(IndexStore.searchTopK(spark, s"$base/new",
      "renameable document", k = 3).count() == 3)
    // HNSW layout: the session pin on the old path must be released,
    // and the _meta sidecar must serve the search at the new name
    IndexStore.buildHnsw(spark, docs, s"$base/hold")
    IndexStore.searchTopKHnsw(spark, s"$base/hold", "renameable", k = 3).collect()
    val pinned = IndexStore.hnswPinnedCount
    IndexStore.renameCollection(spark, s"$base/hold", s"$base/hnew")
    assert(IndexStore.hnswPinnedCount == pinned - 1,
      "the old path's pin must be evicted by the rename")
    assert(IndexStore.searchTopKHnsw(spark, s"$base/hnew", "renameable", k = 3)
      .count() == 3)
    // destination collisions refuse instead of clobbering
    intercept[IllegalArgumentException] {
      IndexStore.renameCollection(spark, s"$base/new", s"$base/hnew")
    }
  }

  test("deleteCollection removes the layout and frees the name; listCollections sees it") {
    import spark.implicits._
    import graft.sources.IndexStore
    val base = java.nio.file.Files.createTempDirectory("graft_delcol").toString
    val docs = (0L until 12L).map(i =>
        (i, s"deletable document number $i", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    IndexStore.build(spark, docs, s"$base/keep")
    IndexStore.build(spark, docs, s"$base/drop")
    assert(IndexStore.listCollections(spark, base) == Seq("drop", "keep"))
    IndexStore.deleteCollection(spark, s"$base/drop")
    assert(IndexStore.listCollections(spark, base) == Seq("keep"))
    assert(!new java.io.File(s"$base/drop").exists())
    // the freed name really rebuilds (memos dropped), and a lexical
    // layout's build-once memo frees too
    val lexPath = s"$base/lex"
    graft.sources.LexicalStore.buildOnce(spark, docs, lexPath)
    IndexStore.deleteCollection(spark, lexPath)
    assert(!new java.io.File(lexPath).exists())
    graft.sources.LexicalStore.buildOnce(spark, docs, lexPath)
    assert(new java.io.File(lexPath).exists(),
      "a deleted lexical collection's name must rebuild, not no-op on a stale memo")
    // deleting a missing collection refuses loudly
    intercept[IllegalArgumentException] {
      IndexStore.deleteCollection(spark, s"$base/ghost")
    }
    // a missing root lists as empty, hidden dirs are invisible
    assert(IndexStore.listCollections(spark, s"$base/nowhere").isEmpty)
  }

  test("searchTopKIvfBatch where= filters every query like the single path") {
    import spark.implicits._
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_ivf_batch_where_idx"
    val docs = (0L until 40L).map(i =>
        (i, s"filtered batch document number $i about topic ${i % 5}", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    IndexStore.buildIvf(spark, docs, path, nCells = 4, lloydIters = 1)
    val qs = Seq(0L -> "filtered batch document", 1L -> "topic three")
    val where = Some(col("doc_id") % 2 === 1)
    val batch = IndexStore.searchTopKIvfBatch(spark, path, qs, k = 4,
      probes = 2, overfetch = 16, where = where).collect()
    assert(batch.nonEmpty)
    assert(batch.forall(_.getAs[Long]("doc_id") % 2 == 1),
      "every batch result must satisfy the predicate")
    qs.foreach { case (qid, text) =>
      val single = IndexStore.searchTopKIvf(spark, path, text, k = 4,
        probes = 2, overfetch = 16, where = where).collect()
      val batchRows = batch.filter(_.getAs[Long]("query_id") == qid)
      assert(batchRows.map(_.getAs[String]("chunk_id")).toSeq ==
        single.map(_.getAs[String]("chunk_id")).toSeq,
        s"query $qid: filtered batch ranking must equal the single-query path")
    }
  }

  test("searchTopKIvfBatch reproduces each query's single-query ranking") {
    import spark.implicits._
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_ivf_batch_idx"
    val docs = (0L until 40L).map(i =>
        (i, s"synthetic document number $i about topic ${i % 5}", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    IndexStore.buildIvf(spark, docs, path, nCells = 4, lloydIters = 1)
    val qs = Seq(0L -> "synthetic document about topic", 1L -> "number forty two")
    val batch = IndexStore.searchTopKIvfBatch(spark, path, qs, k = 4,
      probes = 2, overfetch = 16).collect()
    qs.foreach { case (qid, text) =>
      val single = IndexStore.searchTopKIvf(spark, path, text, k = 4,
        probes = 2, overfetch = 16).collect()
      val batchRows = batch.filter(_.getAs[Long]("query_id") == qid)
      assert(batchRows.map(_.getAs[String]("chunk_id")).toSeq ==
        single.map(_.getAs[String]("chunk_id")).toSeq,
        s"query $qid: batch ranking must equal the single-query path")
      assert(batchRows.map(_.getAs[Int]("rank")).toSeq == (1 to batchRows.length))
    }
  }

  test("query_embeddings forms equal their query_texts counterparts") {
    import spark.implicits._
    import graft.sources.IndexStore
    import graft.functions.Embed
    // reuse the IVF batch fixture layout; build the graph beside it
    val path = s"${Sessions.workDir}/test_ivf_batch_idx"
    val hPath = s"${Sessions.workDir}/test_vecform_hnsw"
    val docs = (0L until 40L).map(i =>
        (i, s"synthetic document number $i about topic ${i % 5}", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    IndexStore.buildIvf(spark, docs, path, nCells = 4, lloydIters = 1)
    IndexStore.buildHnsw(spark, docs, hPath)
    val qs = Seq(0L -> "synthetic document about topic", 1L -> "number forty two")
    val qVecs = qs.map { case (qid, t) =>
      (qid, Embed.embed(t, Embed.DefaultDim)) }
    def ids(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[String]("chunk_id"))).sortBy(r => (r._1, r._2)).toSeq
    // single-query paths: every text form must equal its vec form on
    // the same vector (the layout serves both; exact/SQ8/IVF share
    // the IVF layout's columns, LSH probes need the source layout)
    val sPath = s"${Sessions.workDir}/test_vecform_src"
    IndexStore.build(spark, docs, sPath)
    val bPath = s"${Sessions.workDir}/test_vecform_bucketed"
    IndexStore.buildBucketed(spark, docs, bPath)
    def topIds(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.getAs[String]("chunk_id")).toSeq
    val (qText, qVec) = (qs.head._2, qVecs.head._2)
    assert(topIds(IndexStore.searchTopK(spark, sPath, qText, k = 4)) ==
      topIds(IndexStore.searchTopKVec(spark, sPath, qVec, k = 4)),
      "searchTopKVec must equal searchTopK")
    assert(topIds(IndexStore.searchTopKAnn(spark, sPath, qText, k = 4)) ==
      topIds(IndexStore.searchTopKAnnVec(spark, sPath, qVec, k = 4)),
      "searchTopKAnnVec must equal searchTopKAnn")
    assert(topIds(IndexStore.searchTopKSq8(spark, sPath, qText, k = 4)) ==
      topIds(IndexStore.searchTopKSq8Vec(spark, sPath, qVec, k = 4)),
      "searchTopKSq8Vec must equal searchTopKSq8")
    assert(topIds(IndexStore.searchTopKIvf(spark, path, qText, k = 4,
        probes = 2, overfetch = 16)) ==
      topIds(IndexStore.searchTopKIvfVec(spark, path, qVec, k = 4,
        probes = 2, overfetch = 16)),
      "searchTopKIvfVec must equal searchTopKIvf")
    assert(topIds(IndexStore.searchTopKHnsw(spark, hPath, qText, k = 4)) ==
      topIds(IndexStore.searchTopKHnswVec(spark, hPath, qVec, k = 4)),
      "searchTopKHnswVec must equal searchTopKHnsw")
    assert(topIds(IndexStore.searchTopKAnnPartitioned(spark, bPath, qText, k = 4)) ==
      topIds(IndexStore.searchTopKAnnPartitionedVec(spark, bPath, qVec, k = 4)),
      "searchTopKAnnPartitionedVec must equal the text form")
    // a wrong-dim vector fails loudly on the dim-validating layouts
    intercept[IllegalArgumentException] {
      IndexStore.searchTopKIvfVec(spark, path, qVec.take(8), k = 4)
    }
    intercept[IllegalArgumentException] {
      IndexStore.searchTopKHnswVec(spark, hPath, qVec.take(8), k = 4)
    }
    // IVF batch
    assert(
      ids(IndexStore.searchTopKIvfBatch(spark, path, qs, k = 4,
        probes = 2, overfetch = 16).collect()) ==
      ids(IndexStore.searchTopKIvfBatchVec(spark, path, qVecs, k = 4,
        probes = 2, overfetch = 16).collect()),
      "searchTopKIvfBatchVec must equal the text form")
    // HNSW batch
    assert(
      ids(IndexStore.searchTopKHnswBatch(spark, hPath, qs, k = 4).collect()) ==
      ids(IndexStore.searchTopKHnswBatchVec(spark, hPath, qVecs, k = 4).collect()),
      "searchTopKHnswBatchVec must equal the text form")
  }

  test("collection metadata: roundtrip, legacy default, and space validation") {
    import spark.implicits._
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_collmeta"
    val docs = (0L until 10L).map(i => (i, s"metadata doc $i", "s0"))
      .toDF("doc_id", "text", "source")
    IndexStore.build(spark, docs, path,
      metadata = Map("hnsw:space" -> "l2", "owner" -> "spec"))
    assert(IndexStore.collectionMetadata(spark, path) ==
      Map("hnsw:space" -> "l2", "owner" -> "spec"))
    assert(IndexStore.collectionSpace(spark, path) == "l2")
    // a layout persisted without the sidecar is a default-space
    // collection (chroma's default), not an error
    val legacy = path + "_legacy"
    IndexStore.build(spark, docs, legacy)
    assert(IndexStore.collectionMetadata(spark, legacy).isEmpty)
    assert(IndexStore.collectionSpace(spark, legacy) == "cosine")
    // an unknown space is rejected at write time
    intercept[IllegalArgumentException] {
      IndexStore.writeCollectionMetadata(spark, legacy,
        Map("hnsw:space" -> "euclidean^2"))
    }
    // modify replaces; modify-to-empty clears back to default space
    IndexStore.modifyCollectionMetadata(spark, path, Map("owner" -> "other"))
    assert(IndexStore.collectionMetadata(spark, path) == Map("owner" -> "other"))
    assert(IndexStore.collectionSpace(spark, path) == "cosine",
      "replacing metadata without hnsw:space must reset the space default")
    IndexStore.modifyCollectionMetadata(spark, path, Map.empty)
    assert(IndexStore.collectionMetadata(spark, path).isEmpty)
    // clearing an already-clear collection is a no-op, not an error
    IndexStore.modifyCollectionMetadata(spark, path, Map.empty)
  }

  test("collection metadata: a rewrite that keeps the old mtime is still served") {
    import graft.sources.IndexStore
    val path = java.nio.file.Files.createTempDirectory("collmeta-mtime").toString
    IndexStore.writeCollectionMetadata(spark, path, Map("hnsw:space" -> "l2"))
    val dir = new org.apache.hadoop.fs.Path(s"$path/_collmeta")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtime = fs.getFileStatus(dir).getModificationTime
    assert(IndexStore.collectionSpace(spark, path) == "l2")
    // two writes inside one mtime tick look like this: the directory's
    // modification time is all a time-keyed memo would see
    IndexStore.modifyCollectionMetadata(spark, path, Map("hnsw:space" -> "ip"))
    fs.setTimes(dir, mtime, -1)
    assert(fs.getFileStatus(dir).getModificationTime == mtime)
    assert(IndexStore.collectionMetadata(spark, path) == Map("hnsw:space" -> "ip"))
    assert(IndexStore.collectionSpace(spark, path) == "ip")
  }

  test("space family edges: tiny corpora, k overshoot, filter kills all") {
    import spark.implicits._
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_space_edges"
    val docs = (0L until 3L).map(i => (i, s"tiny corpus doc $i", "s0"))
      .toDF("doc_id", "text", "source")
    IndexStore.build(spark, docs, path,
      metadata = Map("hnsw:space" -> "ip"))
    // k far beyond the corpus: every chunk returned once, ranks dense
    val all = IndexStore.searchTopKVec(spark, path,
      graft.functions.Embed.embed("tiny corpus", graft.functions.Embed.DefaultDim),
      k = 100, includeDistance = true).collect()
    assert(all.nonEmpty && all.map(_.getAs[Int]("rank")).toSeq ==
      (1 to all.length), "ranks must stay dense when k > corpus")
    // a predicate with zero survivors returns an empty frame, not an error
    assert(IndexStore.searchTopK(spark, path, "tiny corpus", k = 5,
      where = Some(col("doc_id") > 1000)).count() == 0)
  }

  test("hnsw:space metadata switches the exact search path's rank metric") {
    import spark.implicits._
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_space_idx"
    // a previous run's _collmeta sidecar survives the dynamic
    // partition overwrite — start from a clean layout so the
    // "no sidecar = default space" leg actually sees no sidecar
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val docs = (0L until 40L).map(i =>
        (i, s"space contract document number $i about topic ${i % 5}", s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    // non-unit embeddings: rescale each chunk's unit vector by
    // (1 + doc_id % 4) so cosine / ip / l2 genuinely disagree (on
    // the unit vectors embed() produces, all three spaces are
    // rank-identical and this pin could not bite). The sq8/lsh
    // columns go stale — only the exact path is pinned here.
    val rows = IndexStore.indexRows(docs)
      .withColumn("embedding", transform(col("embedding"),
        x => (x.cast("double")
          * (lit(1.0) + (col("doc_id") % 4).cast("double"))).cast("float")))
    IndexStore.buildFromRows(spark, rows, path)
    val q = "space contract document about topic"
    val qvec = graft.functions.Embed.embed(q, graft.functions.Embed.DefaultDim)
    // independent expected orders, computed driver-side from the layout
    val data = spark.read.parquet(path).select("chunk_id", "embedding")
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1).toArray)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))
    def l2sq(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0) { (s, i) =>
        val d = a(i).toDouble - b(i).toDouble; s + d * d
      }
    def expect(sim: Array[Float] => Double): Seq[String] =
      data.sortBy { case (id, v) => (-sim(v), id) }.take(5).map(_._1).toSeq
    val expCos = expect(v => dot(v, qvec) / (norm(v) * norm(qvec)))
    val expIp  = expect(v => dot(v, qvec))
    val expL2  = expect(v => -l2sq(v, qvec))
    assert(expCos != expL2 && expCos != expIp,
      "fixture must make the spaces disagree or the pin is vacuous")
    def got(): Seq[String] = IndexStore.searchTopK(spark, path, q, k = 5)
      .collect().map(_.getAs[String]("chunk_id")).toSeq
    // no sidecar yet: default space
    assert(got() == expCos, "default (no metadata) must rank by cosine")
    IndexStore.writeCollectionMetadata(spark, path, Map("hnsw:space" -> "ip"))
    assert(got() == expIp, "hnsw:space=ip must rank by dot product")
    IndexStore.writeCollectionMetadata(spark, path, Map("hnsw:space" -> "l2"))
    assert(got() == expL2, "hnsw:space=l2 must rank by squared L2")
    // includeDistance: the chroma-convention distance column, in the
    // collection's space — bit-equal to the independent fold
    val byId = data.toMap
    val dl2 = IndexStore.searchTopK(spark, path, q, k = 5,
        includeDistance = true).collect()
    dl2.foreach { r =>
      assert(r.getAs[Double]("distance") ==
        l2sq(byId(r.getAs[String]("chunk_id")), qvec),
        "l2 distance must be the squared L2")
    }
    IndexStore.writeCollectionMetadata(spark, path, Map("hnsw:space" -> "cosine"))
    val dcos = IndexStore.searchTopK(spark, path, q, k = 5,
        includeDistance = true).collect()
    dcos.foreach { r =>
      val v = byId(r.getAs[String]("chunk_id"))
      assert(r.getAs[Double]("distance") ==
        1.0 - dot(v, qvec) / (norm(v) * norm(qvec)),
        "cosine distance must be 1 - cos")
    }
  }

  test("getOrCreateCollection: creates once, then gets without rebuilding") {
    import spark.implicits._
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_get_or_create"
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val docs = (0L until 8L).map(i => (i, s"goc doc $i", "s0"))
      .toDF("doc_id", "text", "source")
    var builds = 0
    def create(): Unit = { builds += 1; IndexStore.build(spark, docs, path) }
    val md1 = IndexStore.getOrCreateCollection(spark, path,
      Map("hnsw:space" -> "ip"))(create())
    assert(builds == 1 && md1 == Map("hnsw:space" -> "ip"))
    val mtime = fs.getFileStatus(hp).getModificationTime
    // the get leg: no rebuild, requested metadata ignored (chroma
    // semantics), stored metadata returned
    val md2 = IndexStore.getOrCreateCollection(spark, path,
      Map("hnsw:space" -> "l2"))(create())
    assert(builds == 1, "existing collection must not rebuild")
    assert(md2 == Map("hnsw:space" -> "ip"), "get leg must keep stored metadata")
    assert(fs.getFileStatus(hp).getModificationTime == mtime)
    // a create block that writes nothing is a loud failure, not a
    // silently-registered empty collection
    intercept[IllegalArgumentException] {
      IndexStore.getOrCreateCollection(spark, path + "_none")(())
    }
  }

  test("simhashDroppedBuckets surfaces what the bucketCap guard drops") {
    import spark.implicits._
    // 300 identical docs => every band bucket holds 300 > cap
    val docs = ((0 until 300).map(i => (i.toLong, "same text in every doc body")) ++
      Seq((900L, "something completely different here entirely")))
      .toDF("doc_id", "text")
    val dropped = Dedup.simhashDroppedBuckets(docs, "doc_id", "text", bucketCap = 256)
      .collect()
    assert(dropped.length == 4, dropped.mkString(",")) // all 4 bands degenerate
    assert(dropped.forall(_.getAs[Long]("bucket_size") == 300L))
    // and with the cap the pair query stays non-quadratic (0 pairs here)
    assert(Dedup.simhashPairs(docs, "doc_id", "text", bucketCap = 256).count() == 0)
    // audit view is empty when no bucket exceeds the cap
    assert(Dedup.simhashDroppedBuckets(docs, "doc_id", "text", bucketCap = 300)
      .count() == 0)
  }
}
