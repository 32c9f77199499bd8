package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level behavior of the corpus-preparation operators beyond the
  * oracle gate: the split must be a pure function of doc_id (stable
  * run-to-run and independent of partitioning), redaction must handle
  * edge shapes, and TF-IDF must prefer rare terms.
  */
class CorpusSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val d = "/root/testdata/sf0.001"

  test("dsir scoring ranks target-like documents first, integer-exactly") {
    import spark.implicits._
    // target docs speak "alpha beta"; off-target docs speak "gamma
    // delta"; the probe docs mix the dialects in different ratios —
    // importance order must follow target-gram share
    val docs = (
      (0L until 8L).map(i => (i, "alpha beta alpha beta alpha beta", true)) ++
      (8L until 16L).map(i => (i, "gamma delta gamma delta gamma delta", false)) ++
      Seq((100L, "alpha beta alpha beta gamma delta", false),
          (101L, "alpha beta gamma delta gamma delta", false),
          (102L, "gamma delta gamma delta gamma delta", false))
    ).toDF("doc_id", "text", "is_tgt")
    val scored = operators.Corpus.dsirScores(docs, "text", col("is_tgt"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(scored(100L)._3 > scored(101L)._3,
      "more target grams must mean a higher length-normalized score")
    assert(scored(101L)._3 > scored(102L)._3)
    // probe docs share the pure-target docs' length: 6 words ->
    // 6 unigrams + 5 bigrams = 11 gram occurrences
    assert(scored(100L)._1 == 11L)
    // a single-word doc produces exactly one gram (no phantom bigram)
    val one = operators.Corpus.dsirScores(
      Seq((0L, "alpha", true), (1L, "solo", false)).toDF("doc_id", "text", "t"),
      "text", col("t")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(0L) == 1L && one(1L) == 1L)
    // consecutive separators never mint empty or phantom grams: the
    // compacted word list pairs across the gap
    val gap = operators.Corpus.dsirGrams(
      Seq((0L, "a  b")).toDF("doc_id", "text"), "text", "doc_id")
      .select("gram").collect().map(_.getString(0)).sorted.toSeq
    assert(gap == Seq("a", "a b", "b"), s"got $gap")
    // deterministic run-to-run
    val again = operators.Corpus.dsirScores(docs, "text", col("is_tgt"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == scored)
  }

  test("temperatureTargets: exact isqrt at boundaries, budget-exact fill, upweighting") {
    import spark.implicits._
    // groups sized at perfect squares and one-off-boundaries: the
    // corrected floor(sqrt) must be exact at n = k^2 and k^2 - 1
    val sizes = Map("a" -> 100L, "b" -> 99L, "c" -> 121L, "d" -> 1L)
    val docs = sizes.toSeq.flatMap { case (g, n) =>
      (0L until n).map(i => (g, i)) }.toDF("lang", "doc_id")
    val budget = 160L
    val rows = operators.Corpus.temperatureTargets(docs, "lang", budget)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows("a")._2 == 10L && rows("b")._2 == 9L &&
      rows("c")._2 == 11L && rows("d")._2 == 1L,
      s"isqrt weights wrong: $rows")
    // targets sum EXACTLY to the budget (largest-remainder fill)
    assert(rows.values.map(_._4).sum == budget)
    // alpha=1/2 upweights the low-resource group: d is 1/321 of the
    // corpus but gets 1/31 of the weight mass
    assert(rows("d")._3 > 1000000L * 1 / 321,
      "low-resource share must exceed its proportional share")
    // and never hands a group more than proportional-to-weight + 1
    rows.values.foreach { case (_, w, _, t) =>
      assert((t - budget * w / 31).abs <= 1L)
    }
  }

  test("ngramDiversity counts occurrences, types and micros ratios exactly") {
    import spark.implicits._
    val docs = Seq((0L, "a a b", "s"), (1L, "c", "s"), (2L, "", "s"))
      .toDF("doc_id", "text", "source")
    val got = operators.Corpus.ngramDiversity(docs, "text", "source")
      .collect().map(r => r.getInt(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // unigrams: a a b c -> 4 occurrences, 3 types, ttr 750000
    assert(got(1) == ((4L, 3L, 750000L)), s"got ${got(1)}")
    // bigrams: "a a", "a b" -> 2 occurrences, 2 types (the single-word
    // and empty docs mint none)
    assert(got(2) == ((2L, 2L, 1000000L)))
    // trigrams: "a a b" only
    assert(got(3) == ((1L, 1L, 1000000L)))
  }

  test("split assignment is identical run-to-run and sums to the corpus") {
    val a = SparkEntry.queries("q58_split_sample")(spark, d).collect()
    val b = SparkEntry.queries("q58_split_sample")(spark, d).collect()
    assert(a.toSeq == b.toSeq)
    val total = a.map(_.getAs[Long]("n_docs")).sum
    val corpus = Tables.documents(spark, d).count()
    assert(total == corpus, s"every doc gets exactly one split: $total != $corpus")
    // the 80/10/10 target is approximate but must be in the ballpark
    val byFrac = a.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum.toDouble / total).toMap
    assert(byFrac("train") > 0.70 && byFrac("train") < 0.90, byFrac.toString)
  }

  test("PII redaction removes every email/phone and preserves other text") {
    import spark.implicits._
    val df = Seq(
      (0L, "mail a.b-c_d@ex-ample.co.uk now"),
      (1L, "call +1-555-0100 or 555-123-4567 today"),
      (2L, "no pii here at all"),
      (3L, "x@y.io and 1234-5678-901 mixed")).toDF("doc_id", "contact")
    val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val PhonePat = "\\+?[0-9][0-9-]{6,}[0-9]"
    val out = df.select(col("doc_id"),
        regexp_replace(regexp_replace(col("contact"), EmailPat, "<EMAIL>"),
          PhonePat, "<PHONE>").as("red"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0) == "mail <EMAIL> now")
    assert(out(1) == "call <PHONE> or <PHONE> today")
    assert(out(2) == "no pii here at all")
    assert(out(3) == "<EMAIL> and <PHONE> mixed")
  }

  test("redaction is idempotent and md5 buckets stay in range") {
    import spark.implicits._
    val texts = Seq("a@b.co", "+1-555-0100", "x <EMAIL> y", "plain", "a@b.co 555-123-4567")
      .toDF("t")
    val once = texts.select(operators.Corpus.redactPii(col("t")).as("r1"))
    val twice = once.select(col("r1"), operators.Corpus.redactPii(col("r1")).as("r2"))
    assert(twice.filter(col("r1") =!= col("r2")).count() == 0,
      "redact(redact(x)) must equal redact(x)")
    val buckets = (0L until 5000L).toDF("id")
      .select(operators.Corpus.md5Bucket(col("id")).as("b"))
      .agg(min("b"), max("b")).head
    assert(buckets.getInt(0) >= 0 && buckets.getInt(1) <= 255, buckets.toString)
  }

  test("prepare: quality gate drops junk, dedup keeps one of each clone pair, splits assigned") {
    import spark.implicits._
    val good = "a sensible document with enough words to pass the quality gate easily"
    val docs = Seq(
      (1L, good + " one"),
      (2L, good + " one extra"),           // near-dup of 1 -> dropped
      (3L, good + " totally different content about query planning and shuffles here"),
      (4L, "short"),                        // under minTokens -> dropped
      (5L, "1 2 3 4 5 6 7 8 9 10 11 12"))  // digit-heavy -> dropped
      .toDF("doc_id", "text")
    val out = operators.Corpus.prepare(docs, "doc_id", "text")
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), kept.toString)
    assert(out.filter(col("split").isin("train", "valid", "test")).count() == 2)
  }

  test("sequence packing: budget boundaries, contiguous doc ranges, token totals conserved") {
    import spark.implicits._
    val docs = Seq(
      (0L, ("a " * 100).trim, "en"), (1L, ("b " * 300).trim, "en"),
      (2L, ("c " * 200).trim, "en"), (3L, ("d " * 700).trim, "en"), // alone > budget
      (4L, ("e " * 50).trim, "en"), (5L, ("f " * 10).trim, "de"))
      .toDF("doc_id", "text", "lang")
    val packed = operators.Corpus.packSequences(docs, "doc_id", "text", "lang", 512)
      .orderBy("lang", "seq_id").collect()
    // expected prefix sums (en): 100, 400, 600, 1300, 1350 =>
    // starts 0,100,400,600,1300 => seqs 0,0,0,1,2
    val en = packed.filter(_.getString(0) == "en")
    assert(en.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 3L, 600L), (1L, 1L, 700L), (2L, 1L, 50L)))
    // doc ranges are contiguous and non-overlapping within a group
    en.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(5) < b.getLong(4)) // last_doc(seq) < first_doc(next)
    }
    // tokens conserved per group
    assert(en.map(_.getLong(3)).sum == 1350L)
    assert(packed.filter(_.getString(0) == "de").map(_.getLong(3)).sum == 10L)
  }

  test("mixture sampling: rate 1 keeps all, rate 0 keeps none, default applies, stable") {
    import spark.implicits._
    val docs = (0L until 300L).map(i =>
      (i, "text", if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("doc_id", "text", "k")
    def run() = operators.Corpus.sampleAtRates(docs, "doc_id", "k",
      Map("a" -> 1.0, "b" -> 0.0), defaultRate = 0.5)
      .groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = run()
    assert(counts.getOrElse("a", 0L) == 100L, s"rate 1.0 keeps every row: $counts")
    assert(!counts.contains("b"), s"rate 0.0 keeps nothing: $counts")
    val c = counts.getOrElse("c", 0L)
    assert(c > 30L && c < 70L, s"default 0.5 keeps about half of 100: $c")
    assert(run() == counts, "sample must be identical run-to-run")
  }

  test("sampling composes with split assignment: every split keeps ~rate fraction") {
    import spark.implicits._
    // regression: an unsalted bucket16 refines the split bucket
    // (bucket == bucket16 >> 8), so rate 0.5 would keep ONLY train
    // rows — valid and test would vanish from the sample entirely
    val docs = (0L until 3000L).toDF("doc_id").withColumn("k", lit("x"))
      .withColumn("split", operators.Corpus.assignSplit(col("doc_id")))
    val total = docs.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = operators.Corpus
      .sampleAtRates(docs, "doc_id", "k", Map.empty, defaultRate = 0.5)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- Seq("train", "valid", "test")) {
      val frac = kept.getOrElse(s, 0L).toDouble / total(s)
      assert(frac > 0.35 && frac < 0.65,
        s"split $s must retain ~half under a 0.5 sample, got $frac " +
          s"(${kept.getOrElse(s, 0L)}/${total(s)})")
    }
  }

  test("sequence packing matches an imperative reference over seeded random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (budget <- Seq(7, 64, 512)) {
      val tokens = (0L until 200L).map(i => i -> (1 + rnd.nextInt(3 * budget)))
      val docs = tokens.map { case (id, n) => (id, ("w " * n).trim, "g") }
        .toDF("doc_id", "text", "grp")
      // imperative fold: each doc joins the sequence its first token
      // lands in over the concatenated stream
      var cum = 0L
      val expected = tokens.map { case (id, n) =>
        val seq = cum / budget; cum += n; (seq, id, n.toLong)
      }.groupBy(_._1).map { case (seq, rows) =>
        seq -> (rows.size.toLong, rows.map(_._3).sum,
          rows.map(_._2).min, rows.map(_._2).max)
      }
      // shardBits=3 splits the 200 ids across 25 shards, exercising
      // the two-pass offset path; default (12) keeps them in one —
      // both must equal the imperative single-stream reference
      for (shardBits <- Seq(3, 12)) {
        val got = operators.Corpus
          .packSequences(docs, "doc_id", "text", "grp", budget, shardBits)
          .collect().map(r => r.getLong(1) ->
            (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
        assert(got == expected, s"budget=$budget shardBits=$shardBits")
      }
    }
  }

  test("n-gram top-k: bucket pre-prune returns exactly the unpruned result") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // heavy-tailed gram distribution with many count ties so the
    // (n desc, gram asc) tie-break is exercised across buckets
    val docs = (0 until 300).map { i =>
      val ws = Seq.fill(12)("w" + rnd.nextInt(40))
      (i.toLong, ws.mkString(" "), "g" + (i % 3))
    }.toDF("doc_id", "text", "lang")
    def run(buckets: Int) =
      operators.Corpus.ngramTopK(docs, "text", "lang", pruneBuckets = buckets)
        .orderBy("lang", "rank").collect().toSeq
    assert(run(64) == run(1), "pre-pruned top-k must be identical to the exact one")
  }

  test("TF-IDF ranks a term unique to the doc above corpus-wide boilerplate") {
    import spark.implicits._
    val docs = (0 until 20).map(i =>
      (i.toLong, if (i == 7) "common common unique7" else "common common filler" + i))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("corpus_tmp")
    // inline re-derivation of the q56 shape on a controlled corpus
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val top = tf.filter(col("doc_id") === 7)
      .join(df_, "term")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .orderBy(col("score").desc, col("term"))
      .select("term").as[String].collect()
    assert(top.head == "unique7",
      s"doc-unique term must outrank the everywhere-term: ${top.toSeq}")
  }

  test("bpeMerges learns frequency-ordered merges and the greedy " +
      "left-to-right rule for self-pairs") {
    import spark.implicits._
    // "aaaa" x2 -> pair (a,a) appears 3 times per instance = weight 6;
    // "ab" x3 -> (a,b) weight 3
    val docs = Seq("aaaa aaaa ab ab ab").toDF("text")
    val m = operators.Corpus.bpeMerges(docs, "text", nMerges = 3)
      .orderBy("step")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    // step 1: (a,a) wins at 6; greedy merge of "aaaa" takes positions
    // 1 and 3 (never the overlapping middle) -> "aa"+"aa", so step 3
    // sees (aa,aa) at weight 2, not an overlap artifact
    assert(m == Seq((1, "a", "a", 6L), (2, "a", "b", 3L),
      (3, "aa", "aa", 2L)), s"got $m")
  }

  test("the driver-side and distributed BPE merge loops are " +
      "bit-identical on a real corpus slice") {
    val docs = Tables.documents(spark, d).limit(40)
      .select("text").localCheckpoint()
    def run(thr: Long) = {
      val (m, sy) = operators.Corpus.bpeTrain(docs, "text", nMerges = 4,
        driverThreshold = thr)
      (m.orderBy("step").collect().toSeq.map(_.toSeq),
        sy.orderBy("word", "p").collect().toSeq.map(_.toSeq))
    }
    val (mDriver, syDriver) = run(Long.MaxValue)
    val (mDist, syDist) = run(0L)
    assert(mDriver == mDist, s"merge paths diverged:\n$mDriver\n$mDist")
    assert(syDriver == syDist, "segmentation paths diverged")
    // straddle the exact routing boundary: a dictionary of n distinct
    // words takes the driver loop at threshold n (<=) and the
    // distributed loop at n-1 — same tables either side
    val n = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).select("w").distinct().count()
    val (mAt, syAt) = run(n)
    val (mBelow, syBelow) = run(n - 1)
    assert(mAt == mDriver && syAt == syDriver,
      "threshold == dictionary size must still take the driver loop")
    assert(mBelow == mDriver && syBelow == syDriver,
      "threshold == dictionary size - 1 must distribute, identically")
  }

  test("BPE training stops gracefully when the dictionary is fully merged") {
    import spark.implicits._
    val docs = Seq("ab ab").toDF("text")
    Seq(Long.MaxValue, 0L).foreach { thr =>
      val (m, sy) = operators.Corpus.bpeTrain(docs, "text", nMerges = 5,
        driverThreshold = thr)
      val rows = m.orderBy("step").collect()
      assert(rows.length == 1 && rows(0).getString(1) == "a" &&
        rows(0).getString(2) == "b", s"thr=$thr: ${rows.toSeq}")
      assert(sy.count() == 1, "the word is one merged symbol")
    }
  }

  test("bloom membership is one-sided: every true member flags; bitmap is deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val members = (1L to 400L).map(_ * 2654435761L).toDF("h")
    val w1 = operators.Corpus.bloomBitmap(members)
    val w2 = operators.Corpus.bloomBitmap(members)
    assert(w1.toSeq == w2.toSeq, "bitmap must be deterministic")
    val flagged = operators.Corpus.bloomFlag(members, "h", w1)
    assert(flagged.filter(!col("bloom_hit")).isEmpty,
      "a Bloom filter must never miss a true member")
    // non-members may false-positive but never all of them at this
    // occupancy (400*3 of 65536 bits)
    val others = (1L to 400L).map(i => i * 7046029254386353L + 13L).toDF("h")
    val fp = operators.Corpus.bloomFlag(others, "h", w1)
      .filter(col("bloom_hit")).count()
    assert(fp < 400, s"all $fp non-members flagged: geometry saturated")
  }

  test("lmLikelihood: hand-computed add-one bigram probabilities in micros") {
    import spark.implicits._
    // corpus: vocab {a,b,c,x} (V=4); bigram counts: "a b"x3, "b a"x1,
    // "b c"x1; left-context counts: a->3, b->2
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = operators.Corpus.lmLikelihood(docs, "text", "doc_id")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // p("a b") = (3+1)*1e6 div (3+4) = 571428
    // p("b a") = (1+1)*1e6 div (2+4) = 333333
    // p("b c") = (1+1)*1e6 div (2+4) = 333333
    val d1 = (1L, 3L, 571428L + 333333L + 571428L, (571428L + 333333L + 571428L) / 3)
    val d2 = (2L, 2L, 571428L + 333333L, (571428L + 333333L) / 2)
    assert(got.toSeq == Seq(d1, d2), "single-token doc 3 has no bigrams and no row")
  }

  test("lmLikelihood: repeated boilerplate scores above one-off noise") {
    import spark.implicits._
    // ten identical fluent docs + one gibberish doc: the LM assigns the
    // gibberish document's unseen-ish bigrams far lower probability
    val docs = ((1L to 10L).map(i => (i, "the quick brown fox jumps")) :+
      (11L, "zq xv qj vk wz")).toDF("doc_id", "text")
    val scores = operators.Corpus.lmLikelihood(docs, "text", "doc_id")
      .select("doc_id", "avg_p_micros").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // (10+1)e6/(10+10) = 550000 vs (1+1)e6/(1+10) = 181818: ~3x apart
    assert(scores(1L) > 2 * scores(11L),
      s"boilerplate ${scores(1L)} should dominate noise ${scores(11L)}")
  }

  test("mixturePlan: exact epoch arithmetic, deterministic fractional " +
      "pass, and a sub-1.0 rate plans zero epochs") {
    import spark.implicits._
    val docs = ((0L until 10L).map(i => ("up", i, 100L)) ++
      (100L until 110L).map(i => ("down", i, 100L)))
      .toDF("src", "doc_id", "nt")
    // up: target 2.5x avail -> 2 full epochs + a 0.5 fractional pass;
    // down: target 0.3x avail -> 0 epochs, pure downsample
    val plan = operators.Corpus
      .mixturePlan(docs, "src", "doc_id", "nt",
        Map("up" -> 2500L, "down" -> 300L))
      .collect().map(r => r.getString(0) -> r).toMap
    val up = plan("up")
    assert(up.getAs[Long]("avail_tokens") == 1000L)
    assert(up.getAs[Long]("rate_micros") == 2500000L)
    assert(up.getAs[Long]("full_epochs") == 2L)
    assert(up.getAs[Long]("achieved_tokens") ==
      2000L + up.getAs[Long]("sampled_tokens"),
      "achieved = full epochs + the fractional pass, exactly")
    val down = plan("down")
    assert(down.getAs[Long]("full_epochs") == 0L)
    assert(down.getAs[Long]("rate_micros") == 300000L)
    assert(down.getAs[Long]("achieved_tokens") ==
      down.getAs[Long]("sampled_tokens"))
    // the fractional pass is a pure function of the ids: re-planning
    // yields the identical sampled set
    val again = operators.Corpus
      .mixturePlan(docs, "src", "doc_id", "nt",
        Map("up" -> 2500L, "down" -> 300L))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("sampled_tokens")).toMap
    assert(again("up") == up.getAs[Long]("sampled_tokens"))
    assert(again("down") == down.getAs[Long]("sampled_tokens"))
  }
}
