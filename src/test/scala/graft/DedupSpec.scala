package graft

import graft.functions.Hashes
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Recall/precision checks for the dedup kernels on planted
  * near-duplicates (complements the driver's rows-only gate on the
  * q50/q51/q53/q54 pipeline queries).
  */
class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val rnd = new Random(123)
  private def doc(n: Int): String =
    (1 to n).map(_ => s"w${rnd.nextInt(500)}").mkString(" ")

  /** base docs + planted near-dups (small token edits) + exact dups.
    * lazy val: the generator is stateful, the corpus must be stable.
    * 300-token docs: simhash bit margins scale with sqrt(len), so a
    * 2-token edit flips few bits only when docs are long relative to
    * the edit. */
  private lazy val corpus: Seq[(Long, String)] = {
    val bases = (0 until 40).map(i => (i.toLong, doc(300)))
    val nearDups = bases.take(10).map { case (i, t) =>
      val toks = t.split(" ").toVector
      val mutated = toks.updated(5, "XX").updated(30, "YY").mkString(" ")
      (100L + i, mutated)
    }
    val exactDups = bases.slice(10, 15).map { case (i, t) => (200L + i, t) }
    bases ++ nearDups ++ exactDups
  }

  test("minhash LSH banding recovers planted near- and exact dups") {
    val pairs = for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      ba = Hashes.minhashBands(Hashes.minhash(ta, 64, 3), 16)
      bb = Hashes.minhashBands(Hashes.minhash(tb, 64, 3), 16)
      if ba.toSet.intersect(bb.toSet).nonEmpty
    } yield (ia, ib)
    val planted = (0 until 10).map(i => (i.toLong, 100L + i)).toSet ++
      (10 until 15).map(i => (i.toLong, 200L + i)).toSet
    val found = pairs.toSet
    // every planted pair has high jaccard => banding must catch it
    planted.foreach { p =>
      assert(found.contains(p), s"LSH missed planted dup $p")
    }
    // and LSH should not return a quadratic blowup of false candidates
    assert(found.size < corpus.size * 4)
  }

  test("simhash hamming separates near-dups from random docs") {
    corpus.take(10).foreach { case (i, t) =>
      val dup = corpus.find(_._1 == 100L + i).get._2
      val dh = Hashes.hamming64(Hashes.simhash64(t), Hashes.simhash64(dup))
      val rh = Hashes.hamming64(Hashes.simhash64(t),
        Hashes.simhash64(corpus((i + 20).toInt)._2))
      assert(dh < rh, s"near-dup $i not closer: $dh vs $rh")
      assert(dh <= 10, s"near-dup $i hamming $dh too large")
    }
  }

  test("exact jaccard on hashed shingles equals string-shingle jaccard") {
    corpus.take(8).combinations(2).foreach { case Seq((_, a), (_, b)) =>
      val viaStrings = Hashes.jaccardShingles(a, b, 3)
      val ha = Hashes.shingleHashes(a, 3).toSet
      val hb = Hashes.shingleHashes(b, 3).toSet
      val viaHashes =
        if (ha.isEmpty && hb.isEmpty) 1.0
        else ha.intersect(hb).size.toDouble / ha.union(hb).size
      assert(math.abs(viaStrings - viaHashes) < 1e-12)
    }
  }

  test("exact dedup is idempotent (dedup of dedup = dedup)") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    def dedup(in: org.apache.spark.sql.DataFrame) =
      in.groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
    val once = dedup(df)
    val twice = dedup(once.join(df, "doc_id").select("doc_id", "text"))
    assert(once.count() == twice.count())
    assert(once.select("doc_id").except(twice.select("doc_id")).count() == 0)
  }

  test("pipeline q50 finds the planted dups end-to-end") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    // mirror of the q50 shape on the planted corpus
    val banded = df.withColumn("band",
      explode(Hashes.minhashBandsUdf(64, 3, 16)(col("text"))))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.text").as("ta"), col("b.text").as("tb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("j", Hashes.jaccardUdf(3)(col("ta"), col("tb")))
      .filter(col("j") >= 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (10 until 15).foreach { i =>
      assert(cand.contains((i.toLong, 200L + i)), s"missed exact dup $i")
    }
    (0 until 10).foreach { i =>
      assert(cand.contains((i.toLong, 100L + i)), s"missed near dup $i")
    }
  }

  test("duplicatedSpans finds the copied passage, merges overlapping " +
      "windows, and ignores intra-doc repetition") {
    import spark.implicits._
    val passage = (1 to 20).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      // doc 1 and 2 share a verbatim 20-token passage at different offsets
      (1L, "a1 a2 a3 " + passage + " a4 a5"),
      (2L, "b1 b2 b3 b4 b5 b6 b7 " + passage),
      // doc 3 repeats ITSELF (same 8-gram twice) but copies nobody
      (3L, ("s1 s2 s3 s4 s5 s6 s7 s8 " * 2) + "t1 t2 t3 t4"),
      // doc 4 shares nothing
      (4L, (1 to 30).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = operators.Dedup.duplicatedSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1L, 2L), "only the cross-doc copiers report")
    // doc 1: windows at token offsets 3..15 (13 windows) merge into ONE
    // span covering exactly the 20 copied tokens
    assert(out(1L) == ((1L, 20L, 25L)), s"got ${out(1L)}")
    assert(out(2L)._1 == 1L && out(2L)._2 == 20L)
  }

  private def md5hex(t: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("scrubSpans cuts the non-first occurrence, leaves the keeper doc " +
      "unreported, and ignores intra-doc-only repetition") {
    import spark.implicits._
    val passage = (1 to 20).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, "a1 a2 a3 " + passage + " a4 a5"),
      (2L, "b1 b2 b3 b4 b5 b6 b7 " + passage),
      (3L, ("s1 s2 s3 s4 s5 s6 s7 s8 " * 2) + "t1 t2 t3 t4"),
      (4L, (1 to 30).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = operators.Dedup.scrubSpans(docs, "doc_id", "text", k = 8)
      .collect()
    // doc 1 holds every gram's (min doc_id, min pos) keeper => untouched
    // and therefore ABSENT; docs 3 (self-repeat, one distinct doc) and 4
    // (unique) are not this operator's business
    assert(out.map(_.getLong(0)).toSeq == Seq(2L))
    val r = out.head
    assert(r.getLong(1) == 27L && r.getLong(2) == 20L && r.getLong(3) == 7L)
    assert(r.getString(4) == md5hex("b1 b2 b3 b4 b5 b6 b7"))
  }

  test("scrubSpans: keeper tokens are immune inside their own doc, a " +
      "doc reduced to nothing hashes the empty string") {
    import spark.implicits._
    val passage = (1 to 20).map(i => s"p$i").mkString(" ")
    val exact = (1 to 20).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      // passage twice in doc 5 (keeper at pos 0, removable at pos 21)
      // plus once in doc 6 => cross-doc, df = 2
      (5L, passage + " m1 " + passage),
      (6L, "c1 c2 " + passage),
      // docs 7/8 are verbatim-identical: 8 keeps nothing
      (7L, exact),
      (8L, exact)
    ).toDF("doc_id", "text")
    val out = operators.Dedup.scrubSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out.keySet == Set(5L, 6L, 8L))
    // doc 5: its SECOND passage copy (tokens 21..40) is cut; the keeper
    // occurrence (tokens 0..19) survives untouched
    assert(out(5L) == ((41L, 20L, 21L, md5hex(passage + " m1"))))
    assert(out(6L) == ((22L, 20L, 2L, md5hex("c1 c2"))))
    // doc 8: every token sat under a removable window => empty rebuild
    assert(out(8L) == ((20L, 20L, 0L, md5hex(""))))
  }

  test("admitAgainstBandStore drops collisions, admits novelty, and a " +
      "replayed batch is a verdict no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.explode
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bandstore").toString
    val store = s"$dir/bands"
    val baseDoc = doc(200)
    // seed the store with doc 1's bands
    Seq((1L, baseDoc)).toDF("doc_id", "text")
      .select(col("doc_id"), explode(
        graft.functions.hashExprs.minhashBands(col("text"), 64, 3, 16))
        .as("band"))
      .write.parquet(store)
    // batch: 10 = near-dup of stored 1; 11/12 = exact dups of each
    // other (intra-batch); 13 = novel
    val nearDup = baseDoc.split(" ").toVector.updated(3, "ZZ").mkString(" ")
    val intra = doc(200)
    val batch = Seq((10L, nearDup), (11L, intra), (12L, intra),
      (13L, doc(200))).toDF("doc_id", "text")
    val admitted = operators.Dedup
      .admitAgainstBandStore(batch, store)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(admitted == Set(11L, 13L),
      s"near-dup of store and larger-id intra dup must drop: $admitted")
    // replay the SAME batch: same verdicts (the admitted docs' own
    // stored bands never evict them), store's distinct ids unchanged
    val replays = operators.Dedup
      .admitAgainstBandStore(batch, store)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(replays == Set(11L, 13L), s"replay changed verdicts: $replays")
    val ids = spark.read.parquet(store)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(ids == Set(1L, 11L, 13L))
    // compaction removes the replay's duplicate rows without moving
    // any admission verdict
    val before = spark.read.parquet(store).count()
    val distinctBefore = spark.read.parquet(store).distinct().count()
    assert(before > distinctBefore, "replay must have appended dups")
    operators.Dedup.compactBandStore(spark, store)
    assert(spark.read.parquet(store).count() == distinctBefore)
    val again = operators.Dedup
      .admitAgainstBandStore(batch, store)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(again == Set(11L, 13L))
  }

  test("canonical survivors keep the best-quality cluster member, min-id the smallest") {
    import spark.implicits._
    // cluster {1,2,3} via a transitive chain, doc 9 isolated; quality
    // favors 2 (ties on quality broken by id: 4 vs 5 both quality 7)
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 30L), (9L, 5L),
      (4L, 7L), (5L, 7L)).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val canonical = operators.Dedup
      .canonicalSurvivors(docs, "doc_id", "quality", pairs)
      .as[Long].collect().toSet
    assert(canonical == Set(2L, 9L, 4L),
      s"keep-best must pick 2 (quality 50) and tie-break 4 over 5: $canonical")
    val naive = operators.Dedup
      .survivors(docs.select(col("doc_id")), "doc_id", pairs)
      .as[Long].collect().toSet
    assert(naive == Set(1L, 9L, 4L), s"min-id keeps 1: $naive")
  }

  test("fuzzyBestMatch: corrupted names link to their origin; exact match scores 1e6") {
    import spark.implicits._
    val clean = Seq((1L, "spark streaming"), (2L, "parquet files"),
      (3L, "shuffle service")).toDF("id", "name")
    val dirty = Seq((10L, "sprk strmng"), (11L, "parquet files"))
      .toDF("id", "name")
    val got = operators.Dedup
      .fuzzyBestMatch(dirty, "id", "name", clean, "id", "name")
      .orderBy("dirty_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t => t._1 -> t._2).toSeq == Seq(10L -> 1L, 11L -> 2L),
      s"each dirty row links to its origin: ${got.toSeq}")
    // identical strings: identical trigram sets -> Jaccard exactly 1e6
    assert(got(1)._3 == 1000000L)
    assert(got(0)._3 > 0L && got(0)._3 < 1000000L,
      "vowel-stripped variant is a partial, not exact, match")
  }

  test("shingle pair family: a corpus-wide hot shingle never enters the " +
      "pair join (candidate input is df-bounded)") {
    import spark.implicits._
    // 60 docs that all open with the SAME 3-word boilerplate (exactly
    // one shared trigram shingle) and continue with unique words — the
    // mega-boilerplate shape that makes an uncapped posting self-join
    // emit N^2/2 rows for one key
    val n = 60
    val docs = (0 until n).map { i =>
      (i.toLong, "common boiler plate " +
        (1 to 8).map(j => s"u${i}x$j").mkString(" "))
    }.toDF("doc_id", "text").withColumn("source", lit("s"))
    val posting = docs.select(col("doc_id"), col("source"),
      explode(graft.functions.hashExprs.shingleHashes(col("text"), 3)).as("h"))
    // capped: the df-60 boilerplate shingle is excluded -> no candidates
    assert(operators.Dedup.shingleCandidatePairs(posting, maxDf = 8).count() == 0,
      "hot shingle must not generate candidates under the cap")
    // uncapped: the same join materializes the full quadratic fan-out
    assert(operators.Dedup.shingleCandidatePairs(posting, maxDf = 1000).count()
      == n.toLong * (n - 1) / 2)
    // the audit view names exactly the dropped gram, with its df
    val stops = operators.Dedup.shingleStopGrams(
      docs, "doc_id", "text", "source", 3, maxDf = 8).collect()
    assert(stops.length == 1 && stops.head.getLong(2) == n.toLong,
      s"audit must surface the one boilerplate shingle: ${stops.toSeq}")
    // and the end-to-end operators stay silent instead of blowing up
    assert(operators.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", "source", maxDf = 8).count() == 0)
    assert(operators.Dedup.containmentPairs(
      docs, "doc_id", "text", "source", maxDf = 8).count() == 0)
  }

  test("two-phase ngramJaccardPairs matches pairwise string-shingle jaccard " +
      "on the planted corpus") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text").withColumn("source", lit("s"))
    val got = operators.Dedup
      .ngramJaccardPairs(df, "doc_id", "text", "source")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val expected = (for {
      Seq((ia, ta), (ib, tb)) <- corpus.sortBy(_._1).combinations(2)
      j = Hashes.jaccardShingles(ta, tb, 3) if j >= 0.2
    } yield (ia, ib) -> j).toMap
    assert(got.keySet == expected.keySet,
      s"pair sets differ: extra=${got.keySet -- expected.keySet} " +
        s"missing=${expected.keySet -- got.keySet}")
    expected.foreach { case (p, j) =>
      assert(math.abs(got(p) - j) < 5e-5, s"$p: ${got(p)} vs $j")
    }
  }

  test("winnow stop-fp filter drops corpus-wide boilerplate fingerprints " +
      "via the broadcast anti-join (no hot-key window)") {
    import spark.implicits._
    // 30 docs: one long shared boilerplate prefix + a short unique tail
    val boiler = (1 to 20).map(i => s"boil$i").mkString(" ")
    val docs = (0 until 30).map { i =>
      (i.toLong, boiler + s" tail${i}a tail${i}b")
    }.toDF("doc_id", "text")
    // cap in force: every shared fp comes from the df-30 boilerplate,
    // so nothing survives to pair up
    assert(operators.Dedup
      .winnowOverlapPairs(docs, "doc_id", "text", maxDf = 4).count() == 0,
      "boilerplate-only overlap must vanish under the stop-fp cap")
    // cap lifted: the same corpus pairs up on the shared prefix
    assert(operators.Dedup
      .winnowOverlapPairs(docs, "doc_id", "text", maxDf = 100).count() > 0,
      "without the cap the shared prefix must dominate the overlap")
  }

  test("fuzzyBestMatch: a dirty row sharing no non-stopword trigram gets no match row") {
    import spark.implicits._
    val clean = Seq((1L, "aaaa"), (2L, "aaab")).toDF("id", "name")
    val dirty = Seq((10L, "zzzz")).toDF("id", "name")
    // no shared trigram at all -> no candidate -> no row (callers treat
    // absence as "unlinked", the record-linkage convention)
    assert(operators.Dedup
      .fuzzyBestMatch(dirty, "id", "name", clean, "id", "name")
      .count() == 0)
  }
}
