package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Tables}

/** Corpus-preparation operators a large-scale training-data pipeline
  * needs beyond dedup (SURVEY.md §2 extensions): vocabulary building,
  * TF-IDF term ranking, PII redaction, deterministic train/valid/test
  * splitting + stratified sampling, and word n-gram statistics.
  *
  * Each is a PUBLIC parameterized operator over any DataFrame; the
  * q5x entries below are the fixture-bound instantiations the driver
  * verifies against DuckDB (declarative built-ins only, no UDFs).
  *
  * Scale shape: everything is explode -> partial hash-agg (map-side
  * combine shrinks token streams before any shuffle) or a scan-side
  * scalar expression; the only joins are against vocabulary-sized
  * aggregates. Nothing is quadratic, nothing collects to the driver.
  */
object Corpus {

  /** Whitespace tokens of `textCol` with the id/extra columns kept. */
  def tokens(df: DataFrame, textCol: String, keep: String*): DataFrame =
    df.select(keep.map(col) :+ explode(split(col(textCol), " ")).as("term"): _*)
      .filter(length(col("term")) > 0)

  // ---- vocabulary (global top-k tokens) ----------------------------

  /** Top-`k` corpus vocabulary with counts and deterministic ranks.
    * At 100 TB: explode + partial agg, then TakeOrderedAndProject —
    * the full term dictionary never sits on one node. */
  def vocabulary(df: DataFrame, textCol: String, k: Int = 50): DataFrame =
    tokens(df, textCol)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(col("n").desc, col("term"))))
      .select(col("rank"), col("term"), col("n"))

  private def q55(s: SparkSession, d: String): DataFrame =
    vocabulary(Tables.documents(s, d), "text")

  private val q55Sql = """
    SELECT row_number() OVER (ORDER BY n DESC, term) AS rank, term, n
    FROM (
      SELECT term, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      WHERE length(term) > 0
      GROUP BY term)
    ORDER BY n DESC, term LIMIT 50"""

  // ---- per-domain document caps -------------------------------------

  /** Per-domain document cap — the web-curation step (RefinedWeb/
    * FineWeb style) that stops a handful of boilerplate-heavy domains
    * from dominating the training mix: keep the best `cap` documents
    * per domain by `(orderKey desc, idCol)`. Scale shape: the naive
    * per-domain rank window puts a whole domain in one task — and
    * real crawls have million-document domains — so the window input
    * is first pruned to the top-`cap` of each of `pruneBuckets` hash
    * buckets of the domain's documents (the [[ngramTopK]] two-level
    * discipline: a document lives in exactly one bucket, so every
    * final top-`cap` member survives its bucket cut; ties break on
    * the same total order both levels). Bounds any task's window
    * input at `pruneBuckets * cap` rows regardless of domain size. */
  def domainCap(df: DataFrame, domainCol: String, idCol: String,
                orderKey: Column, cap: Int = 5,
                pruneBuckets: Int = 16): DataFrame = {
    val ranked = df.select(col(domainCol), col(idCol), orderKey.as("okey"))
    val pruned =
      if (pruneBuckets <= 1) ranked
      else {
        val lw = Window.partitionBy(col(domainCol), col("bkt"))
          .orderBy(col("okey").desc, col(idCol))
        ranked
          .withColumn("bkt", pmod(xxhash64(col(idCol)), lit(pruneBuckets.toLong)))
          .withColumn("lr", row_number().over(lw))
          .filter(col("lr") <= cap)
          .drop("bkt", "lr")
      }
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col("okey").desc, col(idCol))
    pruned
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= cap)
  }

  /** q147: the cap applied to the documents table — domains are the
    * `source` column, quality is the integer token count (the q43
    * feature family's n_tokens — integer, so rank order is
    * engine-exact by construction). */
  private def q147(s: SparkSession, d: String): DataFrame = {
    val nTokens =
      graft.functions.TextAnalysis.qualityCols(col("text")).toMap.apply("n_tokens")
    domainCap(Tables.documents(s, d), "source", "doc_id",
        nTokens.cast("long"), cap = 5)
      .select(col("source"), col("rank"), col("doc_id"),
        col("okey").as("n_tokens"))
      .orderBy("source", "rank")
  }

  private val q147Sql = """
    SELECT source, rank, doc_id, n_tokens FROM (
      SELECT source, doc_id, n_tokens,
             row_number() OVER (PARTITION BY source
               ORDER BY n_tokens DESC, doc_id) AS rank
      FROM (SELECT source, doc_id,
              CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
                AS n_tokens
            FROM documents))
    WHERE rank <= 5 ORDER BY source, rank"""

  // ---- count-min sketch (approximate heavy hitters) -----------------

  // Fixture-sized geometry: width 8 is DELIBERATELY tight against the
  // fixture's 31-term vocabulary so the q145 meter shows real
  // collision overestimates (at 64+ the sketch is exact here and the
  // meter degenerates to the identity). Production sizing is
  // width ≈ e/ε — millions of buckets for corpus-scale dictionaries,
  // still kilobytes×depth of state.
  private val CmsDepth = 4
  private val CmsWidth = 8

  /** The per-row (row, bucket) pairs of a count-min sketch: `depth`
    * seeded xxhash64 rows × `width` buckets, built scan-side. */
  private def cmsBuckets(depth: Int, width: Int): Column =
    explode(array((0 until depth).map(j =>
      struct(lit(j).as("j"),
        pmod(xxhash64(lit(j), col("term")), lit(width.toLong)).as("b"))): _*))

  /** Count-min sketch counters over a corpus's token stream (Cormode
    * & Muthukrishnan 2005): `depth` seeded hash rows × `width`
    * buckets, counter(j,b) = number of token instances hashing to b
    * in row j. ONE pass, no term dictionary: the groupBy key space is
    * depth×width (map-side combine collapses each partition to ≤ 4096
    * rows), so at 100 TB the full shuffle moves kilobytes per
    * partition where the exact vocabulary count moves the dictionary.
    * Counters are mergeable by addition — the streaming/segment form
    * is the same frame unioned and re-aggregated. */
  def cmsCounters(df: DataFrame, textCol: String,
                  depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame =
    tokens(df, textCol)
      .select(cmsBuckets(depth, width).as("jb"))
      .select(col("jb.j").as("j"), col("jb.b").as("b"))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))

  /** Point estimates from the counters for the `term` column of
    * `terms`: est(term) = min over hash rows of its bucket's counter
    * — never an underestimate, overestimates only on collisions. The
    * counters frame is sketch-sized, so the join broadcasts. */
  def cmsEstimate(counters: DataFrame, terms: DataFrame,
                  depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame = {
    val keep = terms.columns.map(col).toIndexedSeq
    terms.select(keep :+ cmsBuckets(depth, width).as("jb"): _*)
      .select(keep :+ col("jb.j").as("j") :+ col("jb.b").as("b"): _*)
      .join(broadcast(counters), Seq("j", "b"))
      .groupBy(keep: _*)
      .agg(min(col("c")).as("cms_n"))
  }

  /** q145: the heavy-hitters meter — the exact top-20 vocabulary
    * (q55's plan) audited against its count-min estimates on the
    * same corpus. The invariant the oracle re-derives row by row:
    * cms_n >= true_n always, equal wherever the term's buckets are
    * collision-free in at least one hash row. Oracle: the hash kernel
    * runs in Spark once (dumped distinct (term, j, b) — the minhash-
    * signature idiom); DuckDB re-derives counters, top-20, and the
    * min-estimates from it. */
  private def q145(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val top = vocabulary(docs, "text", 20).withColumnRenamed("n", "true_n")
    cmsEstimate(cmsCounters(docs, "text"), top)
      .select(col("rank"), col("term"), col("true_n"), col("cms_n"))
      .orderBy("rank")
  }

  /** Dump each distinct token's count-min bucket row — the scan-side
    * hash kernel output the q145 oracle re-derives everything from. */
  def materializeCmsAux(s: SparkSession, d: String, auxDir: String): Unit =
    tokens(Tables.documents(s, d), "text").distinct()
      .select(col("term"), cmsBuckets(CmsDepth, CmsWidth).as("jb"))
      .select(col("term"), col("jb.j").as("j"), col("jb.b").as("b"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$auxDir/q145_token_buckets.parquet")

  private val q145Sql = s"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    cnt AS (SELECT term, COUNT(*) AS n FROM toks
            WHERE length(term) > 0 GROUP BY term),
    tb AS (SELECT term, j, b FROM
      read_parquet('${graft.SparkEntry.AuxToken}/q145_token_buckets.parquet/*.parquet')),
    counters AS (
      SELECT tb.j, tb.b, CAST(SUM(cnt.n) AS BIGINT) AS c
      FROM cnt JOIN tb USING (term) GROUP BY tb.j, tb.b),
    top AS (
      SELECT term, n AS true_n,
             row_number() OVER (ORDER BY n DESC, term) AS rank
      FROM cnt ORDER BY n DESC, term LIMIT 20)
    SELECT t.rank, t.term, t.true_n, MIN(c.c) AS cms_n
    FROM top t JOIN tb USING (term) JOIN counters c USING (j, b)
    GROUP BY 1, 2, 3 ORDER BY rank"""

  // ---- TF-IDF term ranking -----------------------------------------

  /** Per-document top-`k` terms by tf/df score; document frequencies
    * are computed over the FULL corpus even when `docFilter` trims the
    * reported side. The score is one IEEE double division —
    * bit-identical across engines, unlike ln()-based idf. The df
    * table is vocabulary-sized, so the join back to term frequencies
    * broadcasts; at 100 TB it would be a shuffle join on term. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, docFilter: Column = lit(true)): DataFrame = {
    val tf = tokens(df.withColumnRenamed(idCol, "doc_id"), textCol, "doc_id")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.filter(docFilter)
      .join(dfreq, "term")
      .withColumn("score", col("tf").cast(DoubleType) / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  private def q56(s: SparkSession, d: String): DataFrame =
    tfidfTopTerms(Tables.documents(s, d), "doc_id", "text",
        docFilter = col("doc_id") < 50)
      .orderBy("doc_id", "rank")

  private val q56Sql = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE length(term) > 0 GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    )
    SELECT doc_id, rank, term, tf, df, score FROM (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE) / df.df AS score,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS rank
      FROM tf JOIN df ON tf.term = df.term
      WHERE tf.doc_id < 50)
    WHERE rank <= 3 ORDER BY doc_id, rank"""

  // ---- PII redaction ------------------------------------------------

  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePat = "\\+?[0-9][0-9-]{6,}[0-9]"

  /** Redacted copy of a string column (emails then phones), as a
    * scan-side Column — compose into any projection. */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailPat, "<EMAIL>"), PhonePat, "<PHONE>")

  /** Redaction report: match counts + redacted text per row. */
  def redactionReport(df: DataFrame, textCol: String, keep: String*): DataFrame =
    df.select(
      keep.map(col) ++ Seq(
        regexp_count(col(textCol), lit(EmailPat)).as("n_emails"),
        regexp_count(col(textCol), lit(PhonePat)).as("n_phones"),
        redactPii(col(textCol)).as("redacted")): _*)

  /** q57: [[redactionReport]] over a deterministic synthetic contact
    * field (the fixture text contains no organic PII; building the
    * field identically on both sides keeps the redaction kernel —
    * the part a pipeline actually ships — oracle-checked). */
  private def q57(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 100)
    val contact = concat(
      lit("user"), col("doc_id"), lit("@corp"), pmod(col("doc_id"), lit(7)),
      lit(".com call +1-555-"), lpad(pmod(col("doc_id") * 37, lit(10000)).cast(StringType), 4, "0"),
      lit(" note "), substring(col("text"), 1, 40))
    redactionReport(docs.select(col("doc_id"), contact.as("contact")), "contact", "doc_id")
      .orderBy("doc_id")
  }

  private val q57Sql = s"""
    SELECT doc_id,
           len(regexp_extract_all(contact, '$EmailPat')) AS n_emails,
           len(regexp_extract_all(contact, '$PhonePat')) AS n_phones,
           regexp_replace(regexp_replace(contact, '$EmailPat', '<EMAIL>', 'g'),
                          '$PhonePat', '<PHONE>', 'g') AS redacted
    FROM (
      SELECT doc_id,
             'user' || doc_id || '@corp' || (doc_id % 7) || '.com call +1-555-'
               || lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0')
               || ' note ' || substr(text, 1, 40) AS contact
      FROM documents WHERE doc_id < 100)
    ORDER BY doc_id"""

  // ---- deterministic split + stratified sample ----------------------

  private def hexDigit(c: Column): Column =
    instr(lit("0123456789abcdef"), c) - 1

  /** 0..255 bucket from a PORTABLE deterministic hash: the first two
    * hex digits of md5(id) (identical in any engine; Spark's hash()
    * is murmur3, DuckDB's is not — md5 is the common ground). */
  def md5Bucket(idCol: Column): Column = {
    val h = md5(idCol.cast(StringType))
    hexDigit(substring(h, 1, 1)) * 16 + hexDigit(substring(h, 2, 1))
  }

  /** Train/valid/test assignment reproducible run-to-run and
    * engine-to-engine — the property a training pipeline actually
    * needs. Fractions are in 256ths via bucket thresholds. */
  def assignSplit(idCol: Column, trainUpTo: Int = 205, validUpTo: Int = 230): Column = {
    val b = md5Bucket(idCol)
    when(b < trainUpTo, "train").when(b < validUpTo, "valid").otherwise("test")
  }

  // ---- adaptive quality cutoffs + leakage-safe split ----------------

  /** Per-group rank-based lower-quartile cutoff: the value at
    * ascending position ceil(n/4) of (quality, id) order — a PURE
    * RANK statistic over integers, no interpolation, so every engine
    * derives the identical cutoff (the reason this is not
    * percentile_cont). One shuffle on the group key serves the rank,
    * the count, and the keep test. */
  def adaptiveQualityGate(df: DataFrame, groupCol: String,
                          qualityCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(qualityCol), col(idCol))
    val ranked = df
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
    val cut = ranked.filter(col("rk") === expr("(n + 3) div 4"))
      .select(col(groupCol), col(qualityCol).as("cutoff"))
    df.join(cut, groupCol)
  }

  /** q155: per-source ADAPTIVE quality gating — a fixed global token
    * cutoff over-prunes terse-by-nature sources and under-prunes
    * verbose ones, so each source cuts its own bottom quartile by
    * token count. Reports per source: size, the derived cutoff, and
    * the kept count. */
  private def q155(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("nt", size(split(col("text"), " ")).cast(LongType))
    adaptiveQualityGate(docs, "source", "nt", "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("cutoff")).as("cutoff"),
        sum(when(col("nt") >= col("cutoff"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  private val q155Sql = """
    WITH q AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents),
    r AS (
      SELECT source, nt,
             row_number() OVER (PARTITION BY source ORDER BY nt, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM q),
    cut AS (SELECT source, nt AS cutoff FROM r WHERE rk = (n + 3) // 4)
    SELECT q.source, COUNT(*) AS n_docs,
           CAST(MIN(cutoff) AS BIGINT) AS cutoff,
           CAST(SUM(CASE WHEN nt >= cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM q JOIN cut USING (source)
    GROUP BY q.source ORDER BY q.source"""

  /** q156: LEAKAGE-SAFE train/valid/test split — the q58 splitter
    * assigns per DOCUMENT, so two near-duplicates can straddle
    * train/test and leak evaluation text into training. Here the
    * split hashes the near-dup CLUSTER label (q50's MinHash pairs →
    * distributed label propagation), so every member of a cluster
    * lands in the same split by construction; isolated docs hash
    * their own id (label = id), degenerating to q58 exactly where no
    * near-dup structure exists. The oracle re-derives pairs from the
    * dumped signatures, the closure as a RECURSIVE CTE, and the
    * md5-bucket split of the label. */
  private def q156(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text")
    Dedup.clusterLabels(docs.select(col("doc_id")), "doc_id", pairs)
      .select(col("id").as("doc_id"), col("label"),
        assignSplit(col("label")).as("split"))
      .orderBy(col("doc_id"))
  }

  private val q156Sql = s"""
    WITH RECURSIVE sigs AS (
      SELECT doc_id, mb, sg FROM
      read_parquet('${graft.SparkEntry.AuxToken}/dedup_sigs.parquet/*.parquet')),
    banded AS (SELECT doc_id, unnest(mb) AS band FROM sigs),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT id_a, id_b
      FROM cand
      JOIN sigs sa ON sa.doc_id = cand.id_a
      JOIN sigs sb ON sb.doc_id = cand.id_b
      WHERE (len(sa.sg) = 0 AND len(sb.sg) = 0)
         OR (len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg)) > 0
             AND CAST(len(list_intersect(sa.sg, sb.sg)) AS DOUBLE)
                 / (len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg)))
                 >= 0.35)),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    r(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.id),
    labels AS (SELECT id AS doc_id, MIN(label) AS label FROM r GROUP BY id),
    b AS (
      SELECT doc_id, label,
             (strpos('0123456789abcdef', substr(md5(CAST(label AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(CAST(label AS VARCHAR)), 2, 1)) - 1) AS bucket
      FROM labels)
    SELECT doc_id, label,
           CASE WHEN bucket < 205 THEN 'train'
                WHEN bucket < 230 THEN 'valid' ELSE 'test' END AS split
    FROM b ORDER BY doc_id"""

  /** q58: split + ~10% stratified sample counts per language. One
    * narrow scan + one tiny agg shuffle. */
  private def q58(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("split", assignSplit(col("doc_id")))
      .withColumn("sampled", (md5Bucket(col("doc_id")) < 26).cast(IntegerType))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("sampled")).cast(LongType).as("n_sampled"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("lang", "split")

  private val q58Sql = """
    WITH b AS (
      SELECT lang, doc_id,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
      FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 205 THEN 'train'
                WHEN bucket < 230 THEN 'valid' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN bucket < 26 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM b GROUP BY 1, 2 ORDER BY lang, split"""

  // ---- word n-gram statistics ---------------------------------------

  /** Top-`k` word `n`-grams per group (higher-order array functions
    * build the grams — no UDF, stays in codegen). Explode + partial
    * agg + a TWO-LEVEL top-k: the final per-group `row_number`
    * window runs in one partition per group, so its input is first
    * pruned to the top-k of each of `pruneBuckets` hash buckets of
    * the gram dictionary (a gram lives wholly in one bucket, so
    * every global top-k member survives its bucket's top-k; ties
    * break on the total order (count desc, gram asc) both levels,
    * keeping the result identical). Bounds the single-partition
    * window input at `pruneBuckets * k` rows per group regardless of
    * dictionary size — the 100 TB shape. `pruneBuckets <= 1` skips
    * the pre-prune. */
  def ngramTopK(df: DataFrame, textCol: String, groupCol: String,
                n: Int = 2, k: Int = 10, pruneBuckets: Int = 64): DataFrame = {
    val toks = split(col(textCol), " ")
    // guard: sequence(1, 0) DESCENDS in Spark, so a doc with fewer
    // than n tokens must yield an empty gram list, not indices <= 0
    val grams = when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast(ArrayType(StringType)))
    val counted = df.select(col(groupCol), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(groupCol), explode(grams).as("bigram"))
      .groupBy(col(groupCol), col("bigram")).agg(count(lit(1)).as("n"))
    val pruned =
      if (pruneBuckets <= 1) counted
      else {
        val lw = Window.partitionBy(col(groupCol), col("bkt"))
          .orderBy(col("n").desc, col("bigram"))
        counted
          .withColumn("bkt", pmod(xxhash64(col("bigram")), lit(pruneBuckets.toLong)))
          .withColumn("lr", row_number().over(lw))
          .filter(col("lr") <= k)
          .drop("bkt", "lr")
      }
    val w = Window.partitionBy(col(groupCol)).orderBy(col("n").desc, col("bigram"))
    pruned
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col("bigram"), col("n"))
  }

  private def q59(s: SparkSession, d: String): DataFrame =
    ngramTopK(Tables.documents(s, d), "text", "lang")
      .orderBy("lang", "rank")

  private val q59Sql = """
    WITH grams AS (
      SELECT lang, unnest(list_transform(generate_series(1, len(l) - 1),
                          i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM (SELECT lang, string_split(text, ' ') AS l FROM documents)
    )
    SELECT lang, rank, bigram, n FROM (
      SELECT lang, bigram, COUNT(*) AS n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY COUNT(*) DESC, bigram) AS rank
      FROM grams GROUP BY lang, bigram)
    WHERE rank <= 10 ORDER BY lang, rank"""

  // ---- rare-n-gram document quality ---------------------------------

  /** Per-document rare-bigram rate: the CCNet/Gopher-family quality
    * heuristic that needs no trained LM — a document whose word
    * bigrams are mostly singletons against the corpus's own bigram
    * counts is boilerplate, mojibake, or OCR noise. Two-pass shape
    * that scales: pass 1 builds the corpus bigram counts (explode +
    * partial agg on the gram key — the dictionary is vocab²-bounded,
    * never corpus-row-bounded); pass 2 joins each document's grams
    * back to the counts ON THE GRAM KEY and aggregates per doc. Both
    * shuffles are on keys with bounded cardinality, and the rate is
    * an integer permille, so every engine derives identical rows. */
  def rareNgramRate(df: DataFrame, textCol: String, idCol: String,
                    rareBelow: Long = 3L): DataFrame = {
    // grams via posexplode + lead window, NOT a transform() lambda:
    // higher-order functions don't participate in whole-stage codegen,
    // and the interpreted per-element lambda measured 3.4 s for the
    // sf0.1 gram stream where this fully-codegen'd shape (one doc-key
    // shuffle + lead) costs ~0.6 s.
    val toksDf = df.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    // materialized once (the signatures discipline): the per-doc
    // count, the df aggregate and the common-set join all read it
    val docGrams = toksDf
      .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
      .filter(col("nxt").isNotNull)
      .select(col(idCol), concat_ws(" ", col("tok"), col("nxt")).as("bigram"))
      .localCheckpoint()
    // rare = total minus COMMON: only the (Zipf-head, far smaller)
    // common-gram set joins back, with partial aggregation on both
    // sides — a per-bigram count WINDOW would sort-and-buffer every
    // occurrence of a hot gram ("of the") in one task before the
    // comparison could run (the q54 stop-fp lesson)
    val common = docGrams.groupBy(col("bigram"))
      .agg(count(lit(1)).as("corpus_n"))
      .filter(col("corpus_n") >= rareBelow).select(col("bigram"))
    val perDoc = docGrams.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"))
    val nCommon = docGrams.join(common, "bigram")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_common"))
    perDoc.join(nCommon, Seq(idCol), "left")
      .na.fill(0L, Seq("n_common"))
      .withColumn("n_rare", col("n_bigrams") - col("n_common"))
      .withColumn("rare_permille",
        expr("n_rare * 1000 div n_bigrams"))
      .select(col(idCol), col("n_bigrams"), col("n_rare"), col("rare_permille"))
  }

  private def q144(s: SparkSession, d: String): DataFrame =
    rareNgramRate(Tables.documents(s, d), "text", "doc_id")
      .orderBy("doc_id")

  private val q144Sql = """
    WITH grams AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 1),
                            i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
    lm AS (SELECT bigram, COUNT(*) AS corpus_n FROM grams GROUP BY bigram)
    SELECT g.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN lm.corpus_n < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           CAST(SUM(CASE WHEN lm.corpus_n < 3 THEN 1 ELSE 0 END) * 1000
             // COUNT(*) AS BIGINT) AS rare_permille
    FROM grams g JOIN lm USING (bigram)
    GROUP BY g.doc_id ORDER BY g.doc_id"""

  // ---- bigram-LM likelihood quality ---------------------------------

  /** Per-document bigram language-model likelihood — the trained-LM
    * step of the CCNet/KenLM perplexity filter (q144's rare-bigram
    * rate is its model-free sibling): fit an add-one-smoothed bigram
    * model on the corpus itself, then score each document by its mean
    * per-bigram conditional probability
    * `p(w2|w1) = (c(w1 w2)+1) / (c(w1 .)+V)`. A low mean probability
    * marks boilerplate, mojibake, and OCR noise the same way high
    * perplexity does, but every probability here is ONE integer
    * division quantized to micros — no ln(), so Spark and the oracle
    * derive bit-identical rows (the repo-wide float discipline,
    * cf. tfidfTopTerms).
    *
    * Scale shape: the model IS two vocabulary-bounded aggregates
    * (bigram counts, left-context counts) joined back to the gram
    * stream on their own keys — classic two-pass count-then-join, no
    * window over a skewed common-token partition, nothing
    * corpus-row-sized on one node. V (distinct-token count) is a
    * one-row broadcast. At 100 TB the two dictionary joins shuffle on
    * bounded-cardinality keys and everything else is scan + partial
    * agg. */
  def lmLikelihood(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toksDf = df.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val grams = toksDf
      .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
      .filter(col("nxt").isNotNull)
      .select(col(idCol), col("tok").as("w1"),
        concat_ws(" ", col("tok"), col("nxt")).as("bigram"))
    val c12 = grams.groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    val c1 = grams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = toksDf.agg(countDistinct(col("tok")).as("v"))
    grams
      .join(c12, "bigram")
      .join(c1, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("p_micros", expr("(c12 + 1) * 1000000 div (c1 + v)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p_micros")).as("sum_p_micros"))
      .withColumn("avg_p_micros", expr("sum_p_micros div n_bigrams"))
  }

  private def q159(s: SparkSession, d: String): DataFrame =
    lmLikelihood(Tables.documents(s, d), "text", "doc_id")
      .orderBy("doc_id")

  private val q159Sql = """
    WITH lists AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i]))
               AS w1,
             unnest(list_transform(generate_series(1, len(l) - 1),
                                   i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM lists),
    c12 AS (SELECT bigram, COUNT(*) AS c12 FROM grams GROUP BY bigram),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM grams GROUP BY w1),
    vocab AS (SELECT COUNT(DISTINCT t) AS v
              FROM (SELECT unnest(l) AS t FROM lists)),
    scored AS (
      SELECT g.doc_id,
             CAST((c12.c12 + 1) * 1000000 // (c1.c1 + vocab.v) AS BIGINT)
               AS p_micros
      FROM grams g JOIN c12 USING (bigram) JOIN c1 USING (w1)
      CROSS JOIN vocab)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(p_micros) AS BIGINT) AS sum_p_micros,
           CAST(SUM(p_micros) // COUNT(*) AS BIGINT) AS avg_p_micros
    FROM scored GROUP BY doc_id ORDER BY doc_id"""

  // ---- composed preparation pipeline --------------------------------

  /** Heuristic quality gate over a text column: token count bounds
    * and punctuation/digit-ratio caps (the q43 features as a filter).
    * Scan-side only — composes into any projection pipeline. */
  def qualityFilter(df: DataFrame, textCol: String,
                    minTokens: Int = 5, maxTokens: Int = 100000,
                    maxPunctRatio: Double = 0.2,
                    maxDigitRatio: Double = 0.3): DataFrame = {
    val q = graft.functions.TextAnalysis.qualityCols(col(textCol)).toMap
    df.filter(q("n_tokens").between(minTokens, maxTokens) &&
      q("punct_ratio") <= maxPunctRatio &&
      q("digit_ratio") <= maxDigitRatio)
  }

  /** The composed corpus-preparation flow a training pipeline runs:
    * quality gate -> MinHash near-dup detection -> survivor
    * selection (transitive clusters collapse to their minimum id) ->
    * deterministic split assignment. Returns the surviving rows with
    * a `split` column. Each stage is the public operator above, so
    * thresholds/parameters tune independently; at 100 TB the stages
    * are narrow scans plus the dedup shuffle on band keys. */
  def prepare(docs: DataFrame, idCol: String, textCol: String,
              minTokens: Int = 5, dedupThreshold: Double = 0.5): DataFrame = {
    val clean = qualityFilter(docs, textCol, minTokens = minTokens)
    val pairs = Dedup.minhashPairs(clean, idCol, textCol, threshold = dedupThreshold)
    val keep = Dedup.survivors(clean.select(col(idCol)), idCol, pairs)
      .withColumnRenamed("id", idCol)
    clean.join(keep, idCol)
      .withColumn("split", assignSplit(col(idCol)))
  }

  // ---- repetition signals (Gopher-style quality filters) ------------

  /** Per-document repetition signals — the classic corpus-quality
    * filters (cf. Gopher/MassiveText): token count, distinct-token
    * ratio, top-token share, and duplicate-bigram fraction. Highly
    * repetitive documents (boilerplate, keyword stuffing, generation
    * loops) score low distinct ratios / high duplicate fractions and
    * get dropped before training. All-declarative: explode -> partial
    * hash-agg per (doc, term) -> per-doc agg -> left join back (docs
    * with no tokens keep zeroed signals). */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val toks = base
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tokAgg = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
    val tk = split(col("text"), " ")
    val grams = when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1),
        i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))))
      .otherwise(array().cast(ArrayType(StringType)))
    val gramAgg = base.select(col("doc_id"), explode(grams).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), count(lit(1)).as("n_distinct_bigrams"))
    base.select(col("doc_id"))
      .join(tokAgg, Seq("doc_id"), "left")
      .join(gramAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("n_distinct").cast("double") / col("n_tokens"), lit(0.0)), 4)
          .as("distinct_ratio"),
        round(coalesce(col("top_c").cast("double") / col("n_tokens"), lit(0.0)), 4)
          .as("top_token_share"),
        round(coalesce(lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"),
          lit(0.0)), 4).as("dup_bigram_frac"))
  }

  private def q95(s: SparkSession, d: String): DataFrame =
    repetitionSignals(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  private val q95Sql = """
    WITH toks AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      WHERE len(t) > 0),
    tc AS (SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    ta AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                  COUNT(*) AS n_distinct, MAX(c) AS top_c
           FROM tc GROUP BY 1),
    grams AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 1),
                            i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
    gc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
    ga AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                  COUNT(*) AS n_distinct_bigrams
           FROM gc GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(ta.n_tokens, 0) AS n_tokens,
           round(COALESCE(CAST(ta.n_distinct AS DOUBLE) / ta.n_tokens, 0.0), 4)
             AS distinct_ratio,
           round(COALESCE(CAST(ta.top_c AS DOUBLE) / ta.n_tokens, 0.0), 4)
             AS top_token_share,
           round(COALESCE(1.0 - CAST(ga.n_distinct_bigrams AS DOUBLE) / ga.n_bigrams, 0.0), 4)
             AS dup_bigram_frac
    FROM documents d
    LEFT JOIN ta ON ta.doc_id = d.doc_id
    LEFT JOIN ga ON ga.doc_id = d.doc_id
    ORDER BY d.doc_id"""

  // ---- benchmark decontamination ------------------------------------

  /** Drop training documents that share at least `minShared` distinct
    * word-`shingleK`-shingles with a benchmark/eval set — the
    * standard contamination guard before training (minShared tunes
    * the tolerance to incidental phrase overlap vs verbatim leakage).
    * Posting-list join on 64-bit shingle hashes: the benchmark side
    * is tiny and broadcasts; the corpus side is a narrow scan +
    * per-doc distinct count + anti-join. Nothing quadratic. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, bTextCol: String,
                    shingleK: Int = 3, minShared: Int = 1): DataFrame = {
    import graft.functions.hashExprs
    val posting = docs.select(col(idCol),
      explode(hashExprs.shingleHashes(col(textCol), shingleK)).as("h"))
    val benchH = benchmark
      .select(explode(hashExprs.shingleHashes(col(bTextCol), shingleK)).as("h"))
      .distinct()
    val contaminated = posting.join(broadcast(benchH), "h")
      .groupBy(col(idCol)).agg(countDistinct(col("h")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col(idCol))
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  // ---- q154: Bloom-filter decontamination ---------------------------

  /** Bloom geometry. 64 Ki bits × 3 hashes sits deliberately UNDER
    * textbook sizing for the sf0.1 test split's ~17k distinct
    * shingles (~16% FP rate there, fractions of a percent at the
    * smaller fixtures — the CmsWidth=8 rationale: the meter must show
    * real false positives without saturating to all-flagged at any
    * gate SF). Production sizing is the textbook m ≈ -n·ln(p)/ln(2)²
    * — a few GB of bitmap covers billions of benchmark shingles at
    * p=1e-3, and that bitmap broadcasts where the exact
    * distinct-shingle set (8 bytes × n) cannot. */
  private val BloomBits = 65536
  private val BloomHashes = 3

  /** Bloom position `j` of a 64-bit shingle-hash column: seeded
    * xxhash64 mod `m` — the [[cmsBuckets]] idiom on the membership
    * side (CMS counts, Bloom remembers). */
  private def bloomPos(h: Column, j: Int, m: Int): Column =
    pmod(xxhash64(lit(j), h), lit(m.toLong))

  /** Build the `m`-bit Bloom bitmap of a distinct shingle-hash frame
    * as driver words (index metadata, m/64 longs): the position frame
    * aggregates to ≤ m distinct rows before it ever reaches the
    * driver, whatever the benchmark's size. */
  def bloomBitmap(benchH: DataFrame, k: Int = BloomHashes,
                  m: Int = BloomBits): Array[Long] = {
    val s = benchH.sparkSession
    import s.implicits._
    val poss = benchH.select(explode(array(
        (0 until k).map(j => bloomPos(col("h"), j, m)): _*)).as("pos"))
      .distinct().as[Long].collect()
    val words = new Array[Long](m / 64)
    poss.foreach(p => words((p >> 6).toInt) |= 1L << (p & 63))
    words
  }

  /** Add `bloom_hit`: does every Bloom position of `hCol` land on a
    * set bit of the broadcast bitmap literal — the scan-side
    * might-contain test (one-sided: never misses a true member). */
  def bloomFlag(df: DataFrame, hCol: String, words: Array[Long],
                k: Int = BloomHashes, m: Int = BloomBits): DataFrame = {
    val hit = (0 until k).map { j =>
      expr(s"(element_at(_bw, CAST(pmod(xxhash64($j, $hCol), $m) div 64 AS INT) + 1)" +
        s" & shiftleft(CAST(1 AS BIGINT)," +
        s" CAST(pmod(xxhash64($j, $hCol), $m) % 64 AS INT))) != 0")
    }.reduce(_ && _)
    df.withColumn("_bw", typedLit(words.toSeq))
      .withColumn("bloom_hit", hit).drop("_bw")
  }

  /** q154: [[decontaminate]]'s scale path, metered against its exact
    * self. q96 broadcasts the benchmark's full distinct-shingle set;
    * at a real benchmark-suite size that broadcast is GBs where a
    * Bloom bitmap is MBs — the standard trade: the bitmap can only
    * FALSELY FLAG (drop a clean doc or trigger an exact re-check),
    * never miss contamination. This meter runs BOTH paths on the q96
    * split (train vs test, same shingle kernel) and reports, per
    * train doc the Bloom gate would even look at: distinct shingles,
    * exact overlaps, Bloom-flagged overlaps (≥ exact always — the
    * one-sided-error invariant the oracle re-derives row by row), and
    * both ≥5 drop verdicts. Oracle: the position kernel runs in Spark
    * once (dumped distinct (h, j, pos) — the q145 idiom); DuckDB
    * re-derives the set-bit set, per-shingle membership, and both
    * counts from it plus the dedup_sigs shingle arrays. */
  private def q154(s: SparkSession, d: String): DataFrame = {
    import graft.functions.hashExprs
    val docs = Tables.documents(s, d)
    val train = docs.filter(md5Bucket(col("doc_id")) < 205)
    val test = docs.filter(md5Bucket(col("doc_id")) >= 230)
    val testH = test.select(
      explode(hashExprs.shingleHashes(col("text"), 3)).as("h")).distinct()
    val words = bloomBitmap(testH)
    val trainH = train.select(col("doc_id"),
      explode(hashExprs.shingleHashes(col("text"), 3)).as("h")).distinct()
    bloomFlag(trainH, "h", words)
      .join(broadcast(testH.withColumn("ex", lit(1L))), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("ex").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom"))
      .withColumn("exact_drop", (col("n_exact") >= 5).cast("int"))
      .withColumn("bloom_drop", (col("n_bloom") >= 5).cast("int"))
      .filter(col("n_bloom") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_exact"),
        col("n_bloom"), col("exact_drop"), col("bloom_drop"))
      .orderBy(col("doc_id"))
  }

  /** Dump each distinct shingle hash's Bloom positions — the
    * scan-side kernel output the q154 oracle re-derives membership
    * from. */
  def materializeBloomAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import graft.functions.hashExprs
    Tables.documents(s, d)
      .select(explode(hashExprs.shingleHashes(col("text"), 3)).as("h"))
      .distinct()
      .select(col("h"), explode(array((0 until BloomHashes).map(j =>
        struct(lit(j).as("j"), bloomPos(col("h"), j, BloomBits).as("pos"))): _*))
        .as("jp"))
      .select(col("h"), col("jp.j").as("j"), col("jp.pos").as("pos"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$auxDir/q154_bloom_pos.parquet")
  }

  private val q154Sql = s"""
    WITH b AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
      FROM documents),
    sigs AS (SELECT doc_id, sg
             FROM read_parquet('${graft.SparkEntry.AuxToken}/dedup_sigs.parquet/*.parquet')),
    hp AS (SELECT h, j, pos FROM
      read_parquet('${graft.SparkEntry.AuxToken}/q154_bloom_pos.parquet/*.parquet')),
    test_h AS (
      SELECT DISTINCT h FROM (
        SELECT unnest(s.sg) AS h
        FROM sigs s JOIN b ON b.doc_id = s.doc_id WHERE b.bucket >= 230)),
    setbits AS (SELECT DISTINCT pos FROM hp JOIN test_h USING (h)),
    flagged_h AS (
      SELECT hp.h FROM hp LEFT JOIN setbits s USING (pos)
      GROUP BY hp.h
      HAVING SUM(CASE WHEN s.pos IS NULL THEN 1 ELSE 0 END) = 0),
    train_sh AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT s.doc_id, unnest(s.sg) AS h
        FROM sigs s JOIN b ON b.doc_id = s.doc_id WHERE b.bucket < 205)),
    agg AS (
      SELECT t.doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN th.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact,
             CAST(SUM(CASE WHEN fh.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom
      FROM train_sh t
      LEFT JOIN test_h th USING (h)
      LEFT JOIN flagged_h fh USING (h)
      GROUP BY t.doc_id)
    SELECT doc_id, n_shingles, n_exact, n_bloom,
           CAST(n_exact >= 5 AS INT) AS exact_drop,
           CAST(n_bloom >= 5 AS INT) AS bloom_drop
    FROM agg WHERE n_bloom > 0 ORDER BY doc_id"""

  /** q96: decontaminate the md5-bucket train split against the test
    * split (q58's splitter thresholds), dropping train docs sharing
    * >= 5 distinct shingles with any test doc (the fixture's docs are
    * template-generated, so single-shingle overlap is ubiquitous —
    * the threshold separates verbatim leakage from incidental phrase
    * reuse). Oracle re-derives from the materialized shingle-hash
    * signatures (same kernel, same k as dedup_sigs.sg). */
  private def q96(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val train = docs.filter(md5Bucket(col("doc_id")) < 205)
    val test = docs.filter(md5Bucket(col("doc_id")) >= 230)
    decontaminate(train, "doc_id", "text", test, "text", minShared = 5)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  private val q96Sql = s"""
    WITH b AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
      FROM documents),
    sigs AS (SELECT doc_id, sg
             FROM read_parquet('${graft.SparkEntry.AuxToken}/dedup_sigs.parquet/*.parquet')),
    test_h AS (
      SELECT DISTINCT h FROM (
        SELECT unnest(s.sg) AS h
        FROM sigs s JOIN b ON b.doc_id = s.doc_id WHERE b.bucket >= 230)),
    train AS (SELECT s.doc_id, s.sg
              FROM sigs s JOIN b ON b.doc_id = s.doc_id WHERE b.bucket < 205),
    contaminated AS (
      SELECT doc_id FROM (
        SELECT t.doc_id, COUNT(DISTINCT t.h) AS n_shared FROM (
          SELECT doc_id, unnest(sg) AS h FROM train) t
        JOIN test_h USING (h)
        GROUP BY t.doc_id)
      WHERE n_shared >= 5)
    SELECT doc_id FROM train
    WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ORDER BY doc_id"""

  /** q97: the COMPOSED preparation pipeline ([[prepare]]) end-to-end —
    * quality gate -> MinHash near-dup detection at threshold 0.5 ->
    * transitive survivor selection -> deterministic split — emitted
    * as (doc_id, split) for every surviving document. The oracle
    * re-derives the entire flow in DuckDB: the quality thresholds via
    * the q43 feature mirrors, banding + hash-set Jaccard from the
    * materialized signatures, connected components as a RECURSIVE CTE
    * min-label closure (exact — the Spark side's label propagation
    * converges on these shallow clusters), and the md5-bucket split. */
  private def q97(s: SparkSession, d: String): DataFrame =
    prepare(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")

  private val q97Sql = s"""
    WITH RECURSIVE q AS (
      SELECT doc_id FROM documents
      WHERE len(regexp_split_to_array(trim(text), ' +')) BETWEEN 5 AND 100000
        AND CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text) <= 0.2
        AND CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text) <= 0.3),
    sigs AS (
      SELECT s.doc_id, s.mb, s.sg
      FROM read_parquet('${graft.SparkEntry.AuxToken}/dedup_sigs.parquet/*.parquet') s
      JOIN q ON q.doc_id = s.doc_id),
    banded AS (SELECT doc_id, unnest(mb) AS band FROM sigs),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT id_a, id_b
      FROM cand
      JOIN sigs sa ON sa.doc_id = cand.id_a
      JOIN sigs sb ON sb.doc_id = cand.id_b
      WHERE (len(sa.sg) = 0 AND len(sb.sg) = 0)
         OR (len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg)) > 0
             AND CAST(len(list_intersect(sa.sg, sb.sg)) AS DOUBLE)
                 / (len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg))) >= 0.5)),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    r(id, label) AS (
      SELECT doc_id, doc_id FROM q
      UNION
      SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.id),
    labels AS (SELECT id, MIN(label) AS label FROM r GROUP BY id),
    surv AS (SELECT id AS doc_id FROM labels WHERE id = label),
    b AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
      FROM surv)
    SELECT doc_id,
           CASE WHEN bucket < 205 THEN 'train'
                WHEN bucket < 230 THEN 'valid' ELSE 'test' END AS split
    FROM b ORDER BY doc_id"""

  /** 0..65535 bucket from a portable salted md5 hash — the
    * finer-grained variant of [[md5Bucket]] for sampling-rate
    * thresholds (rate resolution 1/65536 instead of 1/256). The
    * `salt` decorrelates this bucket from any other hash of the same
    * id: an unsalted bucket16 would be a strict refinement of
    * [[md5Bucket]] (bucket == bucket16 >> 8), so e.g. sampling at
    * rate ≤ 0.8 on split-assigned rows would keep ONLY train-split
    * rows. Distinct purposes must use distinct salts. */
  def md5Bucket16(idCol: Column, salt: String = ""): Column = {
    val h = md5(concat(lit(salt), idCol.cast(StringType)))
    (0 until 4).map(i => hexDigit(substring(h, i + 1, 1)) * (1 << (4 * (3 - i))))
      .reduce(_ + _)
  }

  /** Salt for [[sampleAtRates]]' acceptance hash, decorrelating it
    * from [[assignSplit]]/[[md5Bucket]] (which hash the bare id). */
  val SampleSalt = "sample:"

  /** PUBLIC: deterministic mixture sampling — the data-mixing step
    * that reweights sources before training (keep group k's rows at
    * rate(k)). Acceptance is a pure function of the id (salted
    * bucket16 < rate * 65536), so the sample is reproducible
    * run-to-run and engine-to-engine, and needs no shuffle: one
    * scan-side filter, rates resolved as a broadcast-free when-chain.
    *
    * The acceptance hash is salted with [[SampleSalt]], making it
    * independent of [[assignSplit]]'s bucket: sampling split-assigned
    * rows preserves the train/valid/test proportions within the
    * sample (pinned by q101 and CorpusSpec) instead of silently
    * keeping only train rows as a shared unsalted hash would. */
  def sampleAtRates(docs: DataFrame, idCol: String, keyCol: String,
                    rates: Map[String, Double],
                    defaultRate: Double): DataFrame = {
    val thr = rates.toSeq.sortBy(_._1).foldLeft(
      lit(math.round(defaultRate * 65536).toInt): Column) {
      case (acc, (k, r)) =>
        when(col(keyCol) === k, lit(math.round(r * 65536).toInt)).otherwise(acc)
    }
    docs.filter(md5Bucket16(col(idCol), SampleSalt) < thr)
  }

  /** Salt for [[mixturePlan]]'s fractional-epoch acceptance hash —
    * the distinct-purposes-distinct-salts rule ([[md5Bucket16]]). */
  val EpochSalt = "epoch:"

  /** Token-budget mixture PLANNING — the step that PRODUCES the rates
    * [[sampleAtRates]] consumes (the LLaMA/Gopher-recipe arithmetic):
    * given per-key token targets, compute each key's sampling rate
    * against its available tokens; a rate over 1.0 means UPSAMPLING —
    * `full_epochs` whole passes over the key's data plus a
    * deterministic fractional epoch (salted 16-bit md5 acceptance, so
    * the fractional pass is the same documents every run and engine).
    * The report prices the plan exactly: available vs target vs
    * achieved tokens per key, with the achieved/target ratio in
    * micros. All arithmetic is integer (the ×1e6 products ride
    * DECIMAL(38,0) so 100-trillion-token budgets cannot overflow the
    * BIGINT product); everything is key-cardinality-bounded after one
    * partial-agg shuffle plus one scan-side acceptance filter.
    *
    * Planned keys are the INTERSECTION of the data's keys and
    * `targets`: a target for a key with no data has nothing to
    * sample, and a key without a target is unplanned (rate 0) — both
    * drop from the report rather than emitting divide-by-zero rows;
    * reconcile key sets upstream if absence should be loud. Targets
    * must be positive (exclude a key by omitting it, not by
    * budgeting it zero), and a key whose tokens sum to zero drops
    * with the same no-divide rationale. */
  def mixturePlan(docs: DataFrame, keyCol: String, idCol: String,
                  tokensCol: String, targets: Map[String, Long]): DataFrame = {
    require(targets.values.forall(_ > 0),
      s"targets must be positive (omit a key to exclude it): " +
        targets.filter(_._2 <= 0).keys.mkString(", "))
    val s = docs.sparkSession
    import s.implicits._
    val avail = docs.groupBy(col(keyCol).as("key"))
      .agg(sum(col(tokensCol)).cast("long").as("avail_tokens"))
      .filter(col("avail_tokens") > 0)
    val tgt = targets.toSeq.sortBy(_._1).toDF("key", "target_tokens")
    val planned = avail.join(broadcast(tgt), Seq("key"))
      .withColumn("rate_micros", expr(
        "CAST(CAST(target_tokens AS DECIMAL(38,0)) * 1000000 div avail_tokens AS BIGINT)"))
      .withColumn("full_epochs", expr("rate_micros div 1000000"))
      .withColumn("frac_micros", expr("rate_micros % 1000000"))
    val accepted = docs
      .select(col(keyCol).as("key"), col(tokensCol).cast("long").as("nt"),
        md5Bucket16(col(idCol), EpochSalt).as("b"))
      .join(broadcast(planned.select(col("key"), col("frac_micros"))), Seq("key"))
      // cross-multiplied integer compare: bucket/65536 < frac/1e6
      .filter(col("b") * lit(1000000L) < col("frac_micros") * lit(65536L))
      .groupBy(col("key")).agg(sum(col("nt")).as("sampled_tokens"))
    planned.join(accepted, Seq("key"), "left")
      .na.fill(0L, Seq("sampled_tokens"))
      .withColumn("achieved_tokens",
        expr("full_epochs * avail_tokens + sampled_tokens"))
      .withColumn("achieved_vs_target_micros", expr(
        "CAST(CAST(achieved_tokens AS DECIMAL(38,0)) * 1000000 div target_tokens AS BIGINT)"))
      .select(col("key"), col("avail_tokens"), col("target_tokens"),
        col("rate_micros"), col("full_epochs"), col("sampled_tokens"),
        col("achieved_tokens"), col("achieved_vs_target_micros"))
  }

  /** q182: [[mixturePlan]] with deterministically skewed targets —
    * source i (1-based in name order) gets weight i of a full-corpus
    * token budget, so the heaviest-weighted sources plan MULTIPLE
    * epochs (upsampling) while the lightest downsample; the achieved
    * totals land within one document of target by construction.
    * Targets are a k-sized driver map (domain mixing is
    * vocabulary-bounded); the oracle re-derives weights, targets,
    * rates, the salted fractional-epoch membership, and the achieved
    * accounting from the raw table. */
  private def q182(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("nt", size(split(col("text"), " ")).cast(LongType))
    val availRows = docs.groupBy(col("source"))
      .agg(sum(col("nt")).as("avail")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val total = availRows.map(_._2).sum
    val k = availRows.length
    val denom = k.toLong * (k + 1) / 2
    // BigInt product: total * (i+1) overflows Long once total exceeds
    // ~Long.Max/k (a 100 TB corpus is ~2e13 tokens — close enough to
    // matter at large k); the quotient always fits (≤ total). The
    // 1-token floor keeps the weight-1 target positive on a corpus
    // smaller than denom tokens, where integer division would round
    // it to 0 and trip mixturePlan's positive-target require with a
    // misleading message for a derived target. Both mirror the SQL
    // (HUGEINT product, GREATEST(1, ...)).
    val targets = availRows.zipWithIndex.map { case ((src, _), i) =>
      src -> math.max(1L, (BigInt(total) * (i + 1) / denom).toLong)
    }.toMap
    mixturePlan(docs, "source", "doc_id", "nt", targets)
      .withColumnRenamed("key", "source")
      .orderBy("source")
  }

  private val q182Sql = s"""
    WITH d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents),
    avail AS (
      SELECT source, CAST(SUM(nt) AS BIGINT) AS avail_tokens
      FROM d GROUP BY source),
    sized AS (
      SELECT source, avail_tokens,
             row_number() OVER (ORDER BY source) AS i,
             COUNT(*) OVER () AS k,
             CAST((SELECT SUM(nt) FROM d) AS BIGINT) AS total
      FROM avail),
    planned AS (
      -- HUGEINT product + GREATEST(1,...) floor: mirrors the gate's
      -- BigInt target arithmetic and its 1-token minimum
      SELECT source, avail_tokens,
             GREATEST(1, CAST(CAST(total AS HUGEINT) * i
               // (k * (k + 1) // 2) AS BIGINT)) AS target_tokens,
             CAST(GREATEST(1, CAST(CAST(total AS HUGEINT) * i
                 // (k * (k + 1) // 2) AS BIGINT)) * CAST(1000000 AS HUGEINT)
               // avail_tokens AS BIGINT) AS rate_micros
      FROM sized),
    p2 AS (
      SELECT source, avail_tokens, target_tokens, rate_micros,
             rate_micros // 1000000 AS full_epochs,
             rate_micros % 1000000 AS frac_micros
      FROM planned),
    bucketed AS (
      SELECT source, nt,
             (strpos('0123456789abcdef', substr(md5('${EpochSalt}' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5('${EpochSalt}' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5('${EpochSalt}' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5('${EpochSalt}' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS b
      FROM d),
    accepted AS (
      SELECT b2.source, CAST(SUM(b2.nt) AS BIGINT) AS sampled_tokens
      FROM bucketed b2 JOIN p2 USING (source)
      WHERE b2.b * 1000000 < p2.frac_micros * 65536
      GROUP BY b2.source)
    SELECT p2.source, p2.avail_tokens, p2.target_tokens, p2.rate_micros,
           p2.full_epochs,
           COALESCE(a.sampled_tokens, 0) AS sampled_tokens,
           CAST(p2.full_epochs * p2.avail_tokens
             + COALESCE(a.sampled_tokens, 0) AS BIGINT) AS achieved_tokens,
           CAST(CAST(p2.full_epochs * p2.avail_tokens
               + COALESCE(a.sampled_tokens, 0) AS HUGEINT) * 1000000
             // p2.target_tokens AS BIGINT) AS achieved_vs_target_micros
    FROM p2 LEFT JOIN accepted a USING (source)
    ORDER BY p2.source"""

  private val Q100Rates = Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25)
  private val Q100Default = 0.1

  /** q100: [[sampleAtRates]] over the documents fixture — upweight
    * en, downsample the rest, report realized rates per lang. */
  private def q100(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val kept = sampleAtRates(docs, "doc_id", "lang", Q100Rates, Q100Default)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(length(col("text"))).as("kept_chars"))
    docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_chars"), lit(0L)).as("kept_chars"),
        round(coalesce(col("n_kept"), lit(0L)) / col("n_total"), 4).as("kept_frac"))
      .orderBy("lang")
  }

  private val q100Sql = s"""
    WITH b AS (
      SELECT lang, doc_id, length(text) AS n_chars_t,
             (strpos('0123456789abcdef', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
      FROM documents),
    thr AS (
      SELECT lang, doc_id, n_chars_t, bucket,
             CASE lang WHEN 'en' THEN 65536 WHEN 'de' THEN 32768
                       WHEN 'fr' THEN 16384 ELSE 6554 END AS threshold
      FROM b),
    kept AS (
      SELECT lang, COUNT(*) AS n_kept,
             CAST(SUM(n_chars_t) AS BIGINT) AS kept_chars
      FROM thr WHERE bucket < threshold GROUP BY lang),
    total AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang)
    SELECT t.lang, t.n_total,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.kept_chars, 0) AS kept_chars,
           round(CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / t.n_total, 4) AS kept_frac
    FROM total t LEFT JOIN kept k USING (lang)
    ORDER BY lang"""

  /** q101: the [[sampleAtRates]] ∘ [[assignSplit]] composition gate —
    * a uniform rate-0.5 sample of split-assigned docs must retain
    * ~half of EVERY split (train/valid/test), which only holds when
    * the sampling hash is salt-decorrelated from the split hash. */
  private def q101(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .withColumn("split", assignSplit(col("doc_id")))
    val kept = sampleAtRates(base, "doc_id", "lang", Map.empty, 0.5)
      .groupBy(col("split")).agg(count(lit(1)).as("n_kept"))
    base.groupBy(col("split")).agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("split"), "left")
      .select(col("split"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(coalesce(col("n_kept"), lit(0L)) / col("n_total"), 4).as("kept_frac"))
      .orderBy("split")
  }

  private val q101Sql = """
    WITH b AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket,
             (strpos('0123456789abcdef', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket16
      FROM documents),
    s AS (
      SELECT CASE WHEN bucket < 205 THEN 'train'
                  WHEN bucket < 230 THEN 'valid' ELSE 'test' END AS split,
             CASE WHEN bucket16 < 32768 THEN 1 ELSE 0 END AS kept
      FROM b)
    SELECT split, COUNT(*) AS n_total,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           round(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 4) AS kept_frac
    FROM s GROUP BY split ORDER BY split"""

  /** PUBLIC: pack documents into fixed token-budget training
    * sequences — the standard pretraining-data step (concatenate the
    * token stream in a deterministic order, cut at exact `budget`
    * boundaries; each document belongs to the sequence where its
    * first token lands, so sequence assignment is a closed-form
    * prefix-sum, not an iterative scan). Packing runs independently
    * per `partCol` group in ascending numeric `idCol` order. Returns
    * one row per (group, seq_id) with occupancy stats.
    *
    * Scale shape: a SKEW-SAFE two-pass distributed prefix sum. A
    * naive `Window.partitionBy(group).orderBy(id)` funnels each
    * group through ONE task's sort — a 90%-English corpus would push
    * ~90% of 100 TB through a single partition. Instead: (1) shard
    * each group by the id's high bits (`shard = id >> shardBits`,
    * monotone in id, so shard-major + in-shard order == global id
    * order) and aggregate per-(group, shard) token totals — one tiny
    * row per shard; (2) a window over THOSE rows yields each shard's
    * starting offset; (3) join the offsets back on (group, shard) —
    * the join's hash partitioning is exactly what the in-shard
    * prefix-sum window needs, so Spark reuses one exchange and every
    * shard's sort runs in parallel with bounded input. `cum` is
    * bit-identical to the single-window form, followed by the same
    * map-side-combined agg on (group, seq_id). */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    partCol: String, budget: Int,
                    shardBits: Int = 12): DataFrame = {
    import graft.functions.TextAnalysis
    val tok = docs.select(col(partCol), col(idCol),
        TextAnalysis.tokenCount(col(textCol)).as("n_tok"))
      // arithmetic shift: exact for the full long range (a double
      // division would lose id precision past 2^53) and monotone
      .withColumn("shard", shiftright(col(idCol).cast(LongType), shardBits))
    val offsets = tok.groupBy(col(partCol), col("shard"))
      .agg(sum(col("n_tok")).as("shard_tok"))
      .withColumn("offset", coalesce(
        sum(col("shard_tok")).over(
          Window.partitionBy(col(partCol)).orderBy(col("shard"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(partCol), col("shard"), col("offset"))
    val w = Window.partitionBy(col(partCol), col("shard")).orderBy(col(idCol))
    tok.join(offsets, Seq(partCol, "shard"))
      .withColumn("cum", col("offset") + sum(col("n_tok")).over(w))
      .withColumn("seq_id",
        floor((col("cum") - col("n_tok")) / lit(budget.toDouble)))
      .groupBy(col(partCol), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
  }

  /** q99: [[packSequences]] over the documents fixture, per-lang
    * packing at a 512-token budget. */
  private def q99(s: SparkSession, d: String): DataFrame =
    packSequences(Tables.documents(s, d), "doc_id", "text", "lang", 512)
      .orderBy("lang", "seq_id")

  private val q99Sql = s"""
    WITH toks AS (
      SELECT lang, doc_id,
             ${graft.functions.TextAnalysis.sqlTokenCount("text")} AS n_tok
      FROM documents),
    cums AS (
      SELECT lang, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
      FROM toks)
    SELECT lang, CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM cums
    GROUP BY 1, 2 ORDER BY lang, seq_id"""

  // ---- q136: BPE merge training --------------------------------------

  /** Train byte-pair-encoding merges on a corpus (Sennrich et al.
    * 2016 — the tokenizer-training step of an LLM data pipeline;
    * q48's regex splitter APPLIES a BPE-ish segmentation, this LEARNS
    * one). Classic trainer loop over the word-count dictionary:
    * every round counts adjacent symbol pairs weighted by word
    * frequency, takes the most frequent pair (ties to the
    * lexicographically smaller), and merges its non-overlapping
    * occurrences greedily left-to-right.
    *
    * Distribution shape: the state is the (word, pos, symbol) table
    * of the DISTINCT-WORD dictionary — Zipf-bounded, orders of
    * magnitude smaller than the corpus at 100 TB (the corpus is
    * touched once, for the word counts). Each round is one
    * pair-count aggregation plus one window pass; only the single
    * argmax row comes to the driver (exactly what any BPE trainer
    * ships between rounds). The greedy left-to-right merge is
    * closed-form distributed: matches can only be adjacent when
    * l == r, so greedy = keep the odd-ranked matches within each
    * run of consecutive match positions — islands + parity, no
    * sequential scan. */
  def bpeMerges(docs: DataFrame, textCol: String,
                nMerges: Int = 8): DataFrame =
    bpeTrain(docs, textCol, nMerges)._1

  /** [[bpeMerges]] plus the final (word, pos, symbol) segmentation
    * table the merges imply — the encoded dictionary.
    *
    * Two physically different, semantically IDENTICAL merge loops
    * (CorpusSpec pins their equality): the corpus-sized work — the
    * word-count dictionary — is always distributed; the per-round
    * merge state then either fits the driver (`driverThreshold`
    * distinct words — what every single-node BPE trainer holds; 8
    * distributed rounds on a small dict would pay ~16 job schedules
    * for microseconds of compute) or iterates distributed,
    * dictionary-partitioned, for vocabularies that don't fit. */
  private[graft] def bpeTrain(docs: DataFrame, textCol: String,
                              nMerges: Int,
                              driverThreshold: Long = 100000L)
      : (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    val wc = docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    if (wc.count() <= driverThreshold) return bpeTrainDriver(s, wc, nMerges)
    var syms = wc.select(col("word"),
        posexplode(expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
          .as(Seq("p", "sym")))
      .select(col("word"), (col("p") + 1).as("p"), col("sym"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= nMerges) {
      val pairs = syms.as("a").join(syms.as("b"),
          col("a.word") === col("b.word") && col("b.p") === col("a.p") + 1)
        .join(wc.withColumnRenamed("word", "w2"), col("a.word") === col("w2"))
        .groupBy(col("a.sym").as("l"), col("b.sym").as("r"))
        .agg(sum(col("cnt")).as("c"))
      val tops = pairs.orderBy(col("c").desc, col("l"), col("r")).take(1)
      if (tops.isEmpty) { step = nMerges + 1 }
      else {
      val top = tops(0)
      val (l, r, c) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((step, l, r, c))
      val m0 = syms.as("a").join(syms.as("b"),
          col("a.word") === col("b.word") && col("b.p") === col("a.p") + 1 &&
          col("a.sym") === l && col("b.sym") === r)
        .select(col("a.word").as("word"), col("a.p").as("p"))
      val wIsl = Window.partitionBy(col("word")).orderBy(col("p"))
      val m1 = m0.withColumn("isl", col("p") - row_number().over(wIsl))
      val wRun = Window.partitionBy(col("word"), col("isl")).orderBy(col("p"))
      val taken = m1.withColumn("rn", row_number().over(wRun))
        .filter(col("rn") % 2 === 1).select(col("word"), col("p"))
      val merged = syms
        .join(taken.select(col("word"), col("p"), lit(1).as("hit")),
          Seq("word", "p"), "left")
        .join(taken.select(col("word"), (col("p") + 1).as("p"),
          lit(1).as("absorbed")), Seq("word", "p"), "left")
        .filter(col("absorbed").isNull)
        .select(col("word"), col("p"),
          when(col("hit").isNotNull, concat(col("sym"), lit(r)))
            .otherwise(col("sym")).as("sym"))
      val wP = Window.partitionBy(col("word")).orderBy(col("p"))
      syms = merged
        .select(col("word"), row_number().over(wP).as("p"), col("sym"))
        .localCheckpoint()
      step += 1
      }
    }
    (merges.toSeq.toDF("step", "left_sym", "right_sym", "weight"), syms)
  }

  /** The driver-side merge loop — bit-identical semantics to the
    * distributed rounds: overlapping pair counts weighted by word
    * frequency, argmax with (count desc, left, right) tie order,
    * greedy left-to-right non-overlapping merge. */
  private def bpeTrainDriver(s: SparkSession, wc: DataFrame,
                             nMerges: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    val dict: Array[(String, Long, Array[String])] = wc.collect().map { r =>
      val w = r.getString(0)
      (w, r.getLong(1), w.map(_.toString).toArray)
    }
    var words = dict
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (_, cnt, sy) =>
        var i = 0
        while (i < sy.length - 1) {
          val k = (sy(i), sy(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + cnt
          i += 1
        }
      }
      // a fully-merged (or empty) dictionary has no pairs left —
      // stop with the merges learned so far, like any BPE trainer
      if (counts.isEmpty) step = nMerges + 1
      else {
      val ((l, r), c) = counts.minBy { case ((pl, pr), pc) => (-pc, pl, pr) }
      merges += ((step, l, r, c))
      words = words.map { case (w, cnt, sy) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        sy.foreach { x =>
          if (out.nonEmpty && out.last == l && x == r)
            out(out.length - 1) = l + r
          else out += x
        }
        (w, cnt, out.toArray)
      }
      step += 1
      }
    }
    val symRows = words.flatMap { case (w, _, sy) =>
      sy.zipWithIndex.map { case (sym, i) => (w, i + 1, sym) }
    }.toSeq
    (merges.toSeq.toDF("step", "left_sym", "right_sym", "weight"),
      symRows.toDF("word", "p", "sym"))
  }

  /** One training run per (session, sf): q136 reports the merges,
    * q137 the segmentation they imply — same physical rounds. */
  private def bpeTrainedCached(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    bpeCache.getOrElseUpdate(
      (graft.sources.IndexStore.sessionKey(s), d),
      bpeTrain(Tables.documents(s, d), "text", nMerges = 8))
  private val bpeCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, String), (DataFrame, DataFrame)]

  private def q136(s: SparkSession, d: String): DataFrame =
    bpeTrainedCached(s, d)._1

  /** q137: what the 8 learned merges BUY — per-source corpus token
    * counts under the trained segmentation vs raw characters
    * (chars/token in integer micros; 1.0 would mean BPE learned
    * nothing). The corpus is touched once for per-source word
    * counts; the segmentation cost rides the dictionary. */
  private def q137(s: SparkSession, d: String): DataFrame = {
    val syms = bpeTrainedCached(s, d)._2
    val nsyms = syms.groupBy("word").agg(count(lit(1)).as("n_syms"))
    val wcs = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    wcs.join(nsyms, "word")
      .groupBy("source")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * length(col("word"))).as("n_chars"),
        sum(col("cnt") * col("n_syms")).as("n_tokens"))
      .withColumn("chars_per_token_micros",
        expr("1000000 * n_chars div n_tokens"))
      .orderBy("source")
  }

  /** One oracle stage per merge round: pair counts, argmax, the
    * islands+parity greedy match set, and the rewritten symbol
    * table. MATERIALIZED everywhere — every stage is referenced by
    * multiple successors and the chain is 8 deep. */
  private def bpeStageSql(i: Int): String = {
    val prev = if (i == 1) "syms0" else s"syms${i - 1}"
    s"""pairs$i AS MATERIALIZED (
      SELECT a.sym AS l, b.sym AS r, CAST(SUM(w.cnt) AS BIGINT) AS c
      FROM $prev a JOIN $prev b ON a.word = b.word AND b.p = a.p + 1
      JOIN wc w ON w.word = a.word
      GROUP BY a.sym, b.sym),
    best$i AS MATERIALIZED (
      SELECT l, r, c FROM pairs$i ORDER BY c DESC, l, r LIMIT 1),
    m1_$i AS (
      SELECT word, p, p - row_number() OVER (PARTITION BY word ORDER BY p) AS isl
      FROM (SELECT a.word, a.p
            FROM $prev a JOIN $prev b ON a.word = b.word AND b.p = a.p + 1,
                 best$i bb
            WHERE a.sym = bb.l AND b.sym = bb.r)),
    taken$i AS MATERIALIZED (
      SELECT word, p FROM (
        SELECT word, p,
               row_number() OVER (PARTITION BY word, isl ORDER BY p) AS rn
        FROM m1_$i)
      WHERE rn % 2 = 1),
    syms$i AS MATERIALIZED (
      SELECT word, row_number() OVER (PARTITION BY word ORDER BY p) AS p, sym
      FROM (
        SELECT s.word, s.p,
               CASE WHEN t.p IS NOT NULL THEN s.sym || (SELECT r FROM best$i)
                    ELSE s.sym END AS sym
        FROM $prev s
        LEFT JOIN taken$i t ON t.word = s.word AND t.p = s.p
        LEFT JOIN taken$i u ON u.word = s.word AND u.p = s.p - 1
        WHERE u.p IS NULL))"""
  }

  private val q136Sql: String = s"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    wc AS MATERIALIZED (
      SELECT word, COUNT(*) AS cnt FROM toks
      WHERE length(word) > 0 GROUP BY word),
    syms0 AS MATERIALIZED (
      SELECT word, i AS p, substring(word, i, 1) AS sym
      FROM wc, UNNEST(generate_series(1, length(word))) AS t(i)),
    ${(1 to 8).map(bpeStageSql).mkString(",\n    ")}
    SELECT * FROM (
      ${(1 to 8).map(i =>
        s"SELECT $i AS step, l AS left_sym, r AS right_sym, c AS weight FROM best$i")
        .mkString("\n      UNION ALL ")})
    ORDER BY step"""

  private val q137Sql: String = s"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    wc AS MATERIALIZED (
      SELECT word, COUNT(*) AS cnt FROM toks
      WHERE length(word) > 0 GROUP BY word),
    syms0 AS MATERIALIZED (
      SELECT word, i AS p, substring(word, i, 1) AS sym
      FROM wc, UNNEST(generate_series(1, length(word))) AS t(i)),
    ${(1 to 8).map(bpeStageSql).mkString(",\n    ")},
    nsyms AS (SELECT word, COUNT(*) AS n_syms FROM syms8 GROUP BY word),
    wcs AS (
      SELECT source, word, COUNT(*) AS cnt FROM (
        SELECT source, unnest(string_split(text, ' ')) AS word
        FROM documents)
      WHERE length(word) > 0 GROUP BY source, word)
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_words,
           CAST(SUM(cnt * length(word)) AS BIGINT) AS n_chars,
           CAST(SUM(cnt * n_syms) AS BIGINT) AS n_tokens,
           CAST((1000000 * SUM(cnt * length(word))) // SUM(cnt * n_syms)
             AS BIGINT) AS chars_per_token_micros
    FROM wcs JOIN nsyms USING (word)
    GROUP BY source ORDER BY source"""

  // ---- q178: length-bucketed batching efficiency --------------------

  /** Length-bucket assignment for padded batching — the inference/SFT
    * sibling of [[packSequences]]'s concat-and-split (q99): documents
    * that must stay WHOLE (instruction tuning, eval, serving) batch
    * with same-length neighbors and pad to the bucket cap, so the
    * padding bill is the batching policy's cost. Buckets are
    * round-up-to-multiple-of-`bucketWidth` token caps (integer
    * arithmetic — engine-exact, unlike pow-of-2 via float log2);
    * per bucket the report prices exactly what the accelerator pays:
    * real tokens, padded slots, and the waste fraction in micros.
    * One scan (token count is scan-side) + one partial-agg shuffle
    * on the bucket key — nothing else, at any corpus size. */
  def lengthBuckets(docs: DataFrame, textCol: String,
                    bucketWidth: Int = 32): DataFrame = {
    require(bucketWidth >= 1, s"bad bucketWidth $bucketWidth")
    docs
      .select(size(split(col(textCol), " ")).cast(LongType).as("nt"))
      .withColumn("bucket_cap",
        expr(s"((nt + ${bucketWidth - 1}) div $bucketWidth) * $bucketWidth"))
      .groupBy(col("bucket_cap"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("bucket_cap"))
      // the x1e6 product rides DECIMAL(38,0): a dominant bucket past
      // ~9.2e12 padded tokens (real at the corpus sizes this targets)
      // would overflow the BIGINT product — the quotient itself always
      // fits (< 1e6)
      .withColumn("waste_micros", expr(
        """CAST((CAST(padded_tokens AS DECIMAL(38,0)) - sum_tokens) * 1000000
           div padded_tokens AS BIGINT)"""))
  }

  /** q178: [[lengthBuckets]] over the documents corpus, width 32. */
  private def q178(s: SparkSession, d: String): DataFrame =
    lengthBuckets(Tables.documents(s, d), "text")
      .orderBy("bucket_cap")

  private val q178Sql = """
    WITH t AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents),
    b AS (SELECT ((nt + 31) // 32) * 32 AS bucket_cap, nt FROM t)
    SELECT bucket_cap, COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * bucket_cap AS BIGINT) AS padded_tokens,
           CAST(CAST(COUNT(*) * bucket_cap - SUM(nt) AS HUGEINT) * 1000000
             // (COUNT(*) * bucket_cap) AS BIGINT) AS waste_micros
    FROM b GROUP BY bucket_cap ORDER BY bucket_cap"""

  // ---- q186: hashed n-gram importance selection (DSIR-style) --------

  private[graft] val DsirBuckets = 4096

  /** The space-compacted word list of `text` (empties dropped, so
    * runs of separators never mint phantom grams) — THE shared
    * tokenization every word-gram operator builds on; the oracles
    * mirror it with list_filter before any pairing. */
  private[graft] def compactWords(text: Column): Column =
    filter(split(text, " "), w => length(w) > 0)

  /** Adjacent n-grams of an already-compacted word list `ws`, space-
    * joined — shared by the DSIR feature stream, the row-wise scorer
    * and the diversity meter so their gram definitions cannot drift
    * (the DefaultShingleMaxDf lesson applied to gram construction).
    * Guarded: a list shorter than n yields the empty array (Spark's
    * sequence(1, 0) would DESCEND, not return empty). */
  private[graft] def adjacentGrams(ws: Column, n: Int): Column =
    if (n == 1) ws
    else when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(ws, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))

  /** One row per gram OCCURRENCE (unigrams + adjacent bigrams over
    * the space-compacted word list) with its hash bucket — the
    * feature stream both distribution estimation and per-doc scoring
    * consume. Carried columns ride along (`keep`). */
  private[graft] def dsirGrams(docs: DataFrame, textCol: String,
                               keep: String*): DataFrame =
    docs.select(keep.map(col) :+ compactWords(col(textCol)).as("ws"): _*)
      .select(keep.map(col) :+ explode(concat(col("ws"),
        adjacentGrams(col("ws"), 2))).as("gram"): _*)
      .withColumn("bucket",
        pmod(xxhash64(col("gram")), lit(DsirBuckets)).cast("int"))

  /** Data Selection via Importance Resampling, the hashed-n-gram
    * variant (Xie et al. 2023, arXiv:2302.03169), integer-exact:
    * estimate target and raw feature distributions over `DsirBuckets`
    * hashed unigram+bigram buckets, weight each bucket by the
    * add-1-smoothed count ratio in integer micros
    * ((tgt+1)·1e6 ÷ (raw+1), floor), and score every document by the
    * sum of its gram occurrences' bucket weights. Deviation from the
    * paper, deliberate: the paper sums LOG ratios (so a doc's score
    * is the log importance weight) and then Gumbel-samples; log and
    * Gumbel are float, engine-divergent and non-reproducible, so this
    * variant ranks by the micros ratio sum — the SELECTION ORDER is
    * the deliverable, and it is bit-identical on every engine and
    * every rerun. Returns (doc_id, n_grams, score_micros, avg_micros)
    * with avg = floor(score/n_grams), the length-normalized rank key
    * (the raw sum favors long documents).
    *
    * Scale shape: two passes over the gram stream (one groupBy bucket
    * -> a 4096-row weight table that BROADCASTS, one groupBy doc_id),
    * both with map-side partial aggregation; nothing corpus-pairwise,
    * no window, the weight join is broadcast. At 100 TB the gram
    * stream is scan-fused both times — the only shuffles carry
    * (bucket, counts) and (doc_id, partial sums). */
  private def dsirWeightsOf(grams: DataFrame): DataFrame =
    grams.groupBy(col("bucket"))
      .agg(count(lit(1)).as("raw_cnt"),
        count(when(col("_tgt"), lit(1))).as("tgt_cnt"))
      // integer `div`, not `/`: float division then truncation drifts
      // from exact floor division once the numerator passes 2^53 —
      // real at corpus scale, and DuckDB's // is exact integer floor
      .select(col("bucket"),
        expr("(tgt_cnt + 1) * 1000000L div (raw_cnt + 1)").as("w_micros"))

  /** The trained bucket weight table alone — `DsirBuckets` rows, the
    * artifact a streaming admission gate ships (see q189): train once
    * on the batch corpus, broadcast forever. An UNSEEN bucket scores
    * the smoothing floor (0+1)·1e6÷(0+1) = 1e6 — [[dsirScoreRowwise]]
    * coalesces to that same value so batch and stream agree. */
  def dsirWeights(docs: DataFrame, textCol: String,
                  isTarget: Column): DataFrame =
    dsirWeightsOf(dsirGrams(docs.withColumn("_tgt", isTarget),
      textCol, "_tgt"))

  def dsirScores(docs: DataFrame, textCol: String,
                 isTarget: Column): DataFrame = {
    val grams = dsirGrams(docs.withColumn("_tgt", isTarget),
      textCol, "doc_id", "_tgt")
    grams.join(broadcast(dsirWeightsOf(grams)), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("w_micros")).as("score_micros"))
      .select(col("doc_id"), col("n_grams"), col("score_micros"),
        expr("score_micros div n_grams").as("avg_micros"))
  }

  /** The trained weight table as ONE dense `DsirBuckets`-length array
    * literal, indexed by bucket — the shippable form of the model.
    * Dense on purpose: Catalyst's map-literal lookup (GetMapValue) is
    * a LINEAR scan of the map per call — 4096 comparisons × every
    * gram occurrence turned q189's stream into seconds of pure lookup
    * — while array element_at is O(1). Buckets the training corpus
    * never hit carry the add-1 smoothing floor ((0+1)·1e6÷(0+1) =
    * 1e6), dsirWeights' own closed form for a 0-count bucket. */
  def dsirWeightArray(docs: DataFrame, textCol: String,
                      isTarget: Column): Column = {
    val dense = Array.fill(DsirBuckets)(1000000L)
    dsirWeights(docs, textCol, isTarget).collect()
      .foreach(r => dense(r.getInt(0)) = r.getLong(1))
    typedLit(dense.toSeq)
  }

  /** Per-ROW DSIR scoring against the pre-trained dense weight array
    * — zero shuffles, zero state: the gram stream never explodes, the
    * whole score is one projection (HOF transform + aggregate over
    * the in-row gram list, an O(1) array index per gram). This is
    * what makes the op streamable (q189): admission is a pure
    * function of (row, broadcast weights), so micro-batch boundaries,
    * replays and arrival order cannot change a verdict. */
  def dsirScoreRowwise(docs: DataFrame, textCol: String,
                       weights: Column, keep: String*): DataFrame =
    docs.select(keep.map(col) :+ compactWords(col(textCol)).as("ws"): _*)
      .select(keep.map(col) :+ concat(col("ws"),
        adjacentGrams(col("ws"), 2)).as("grams"): _*)
      .select(keep.map(col) ++ Seq(size(col("grams")).as("n_grams"),
        // one fused fold — no intermediate transformed array; HOF
        // lambdas are interpreted per element, so the avoided
        // allocation/copy is a real constant-factor win on the
        // per-gram hot path
        aggregate(col("grams"), lit(0L), (acc, g) => acc +
          element_at(weights,
            (pmod(xxhash64(g), lit(DsirBuckets)) + 1).cast("int")))
          .as("score_micros")): _*)

  /** q186: [[dsirScores]] against the English subset as the target
    * domain, top 15 by length-normalized importance. The oracle
    * re-derives distributions, smoothing, integer weights, doc sums
    * and the cut from the raw table plus the vocab-sized gram->bucket
    * hash mapping (the one Spark-side kernel, dumped like q145's CMS
    * buckets). */
  private def q186(s: SparkSession, d: String): DataFrame =
    dsirScores(Tables.documents(s, d), "text", col("lang") === "en")
      .orderBy(col("avg_micros").desc, col("doc_id"))
      .limit(15)

  def materializeDsirAux(s: SparkSession, d: String, auxDir: String): Unit =
    dsirGrams(Tables.documents(s, d), "text")
      .select(col("gram"), col("bucket")).distinct()
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$auxDir/q186_gram_buckets.parquet")

  /** The oracle's DSIR pipeline as one shared CTE block (ws -> grams
    * -> weights -> per-doc scores) — q186 and q189 both build on it,
    * so the gate/oracle gram and smoothing definitions cannot drift
    * apart (the DefaultShingleMaxDf lesson, SQL side). */
  private[graft] val DsirScoredCte = s"""ws AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS fw
      FROM documents),
    uni AS (SELECT doc_id, lang, unnest(fw) AS gram FROM ws),
    big AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(fw) - 1),
               i -> fw[i] || ' ' || fw[i + 1])) AS gram
      FROM ws),
    grams AS (
      SELECT g.doc_id, g.lang, gb.bucket
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM big) g
      JOIN read_parquet('${graft.SparkEntry.AuxToken}/q186_gram_buckets.parquet/*.parquet') gb
        ON g.gram = gb.gram),
    wts AS (
      SELECT bucket,
             ((COUNT(*) FILTER (WHERE lang = 'en') + 1) * 1000000)
               // (COUNT(*) + 1) AS w_micros
      FROM grams GROUP BY bucket),
    scored AS (
      SELECT g.doc_id, COUNT(*) AS n_grams,
             CAST(SUM(w.w_micros) AS BIGINT) AS score_micros
      FROM grams g JOIN wts w USING (bucket)
      GROUP BY g.doc_id)"""

  private val q186Sql = s"""
    WITH $DsirScoredCte
    SELECT doc_id, n_grams, score_micros,
           CAST(score_micros // n_grams AS BIGINT) AS avg_micros
    FROM scored
    ORDER BY avg_micros DESC, doc_id LIMIT 15"""

  // ---- q188: distinct-n diversity report -----------------------------

  /** Corpus n-gram diversity per group — the distinct-1/2/3 metric
    * (Li et al. 2016, arXiv:1510.03055: distinct n-gram count over
    * total n-gram count, the standard repetitiveness/diversity meter
    * for generated and scraped text alike). One row per (group, n):
    * occurrences, distinct grams, and the type-token ratio in integer
    * micros (distinct·1e6 div occurrences — exact on both engines).
    * A source whose distinct-2 micros sag against its peers is the
    * template-spam signal quality pipelines act on.
    *
    * Scale shape: one gram stream per n, union-tagged, then a single
    * two-phase aggregate — Spark's partial distinct aggregation hashes
    * (group, n, gram) map-side, so the only full-width shuffle carries
    * already-deduplicated gram keys; nothing pairwise, no window. */
  def ngramDiversity(docs: DataFrame, textCol: String,
                     groupCol: String): DataFrame = {
    // A one-scan stack() variant (all three n levels fanned from one
    // pass) was A/B'd in r22 and measured WORSE isolated (cold 0.8 ->
    // 2.0 s, warm flat): the fixture's documents scan is one task, so
    // the three-branch union IS the scan parallelism at bench SF, and
    // the gram shuffle dominates either way — kept as-is.
    def gramsOf(n: Int): DataFrame =
      docs.select(col(groupCol), compactWords(col(textCol)).as("ws"))
        .select(col(groupCol), lit(n).as("n"),
          explode(adjacentGrams(col("ws"), n)).as("gram"))
    gramsOf(1).unionByName(gramsOf(2)).unionByName(gramsOf(3))
      .groupBy(col(groupCol), col("n"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("gram")).as("n_distinct"))
      .select(col(groupCol), col("n"), col("n_occurrences"), col("n_distinct"),
        expr("n_distinct * 1000000L div n_occurrences").as("ttr_micros"))
  }

  /** q188: [[ngramDiversity]] per source over the corpus. */
  private def q188(s: SparkSession, d: String): DataFrame =
    ngramDiversity(Tables.documents(s, d), "text", "source")
      .orderBy("source", "n")

  private val q188Sql = """
    WITH ws AS (
      SELECT source,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS fw
      FROM documents),
    grams AS (
      SELECT source, 1 AS n, unnest(fw) AS gram FROM ws
      UNION ALL
      SELECT source, 2, unnest(list_transform(generate_series(1, len(fw) - 1),
        i -> fw[i] || ' ' || fw[i+1])) FROM ws
      UNION ALL
      SELECT source, 3, unnest(list_transform(generate_series(1, len(fw) - 2),
        i -> fw[i] || ' ' || fw[i+1] || ' ' || fw[i+2])) FROM ws)
    SELECT source, CAST(n AS INTEGER) AS n,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT gram) AS n_distinct,
           CAST(COUNT(DISTINCT gram) * 1000000 // COUNT(*) AS BIGINT)
             AS ttr_micros
    FROM grams GROUP BY source, n ORDER BY source, n"""

  // ---- q192: temperature-smoothed mixture targets --------------------

  /** α-smoothed multilingual sampling targets (the mT5/XLM-R
    * rebalancing: sample language l proportional to p_l^α so
    * low-resource languages are upweighted; Conneau et al. 2020
    * arXiv:1911.02116 §3.1, Xue et al. 2021 arXiv:2010.11934 use
    * α ∈ [0.2, 0.7]) at the standard α = 1/2, which is the ONE
    * exponent with an exact integer form: weight_l = ⌊√n_l⌋ via a
    * boundary-corrected floor(sqrt) (float sqrt can be off by one ulp
    * AT a perfect square; the ±1 correction makes it exact for any
    * BIGINT on both engines — general α needs float pow, which is
    * engine-divergent, so this op fixes the standard point rather
    * than ship irreproducible targets). The corrections compare in
    * DIVISION form — t+1 ≤ n div (t+1), t > n div t — because the
    * squared form (t±1)² overflows signed 64-bit when n approaches
    * Long.Max (Spark would wrap to a wrong weight, DuckDB would
    * abort); floor-division compares are overflow-free and equivalent
    * for positive operands, and GREATEST(t, 1) keeps the degenerate
    * n = 0 row division-safe. Doc targets allocate the
    * budget by largest remainder — floor(budget·w_l / Σw) plus one
    * extra to the largest remainders (ties to the first group) — so
    * they sum EXACTLY to the budget. Feed the targets to
    * [[mixturePlan]] / [[sampleAtRates]] to execute the sample.
    *
    * Scale shape: one partial-agg count per group, then every
    * derivation on the GROUP-CARDINALITY-bounded table (a window
    * over ≤ #languages rows — the q179 convention). */
  def temperatureTargets(docs: DataFrame, groupCol: String,
                         budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val isq = // exact ⌊√n⌋: float floor(sqrt) ± boundary correction
      "CAST(floor(sqrt(CAST(n_total AS DOUBLE))) AS BIGINT)"
    val wAll = Window.partitionBy()
    val wRem = Window.partitionBy()
      .orderBy(col("rem").desc, col(groupCol))
    docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_total"))
      .withColumn("t", expr(isq))
      .withColumn("weight", expr(
        "t + IF(t + 1 <= n_total div (t + 1), 1L, 0L)" +
          " - IF(t > n_total div GREATEST(t, 1L), 1L, 0L)"))
      .withColumn("wsum", sum(col("weight")).over(wAll))
      .withColumn("share_micros", expr("weight * 1000000L div wsum"))
      .withColumn("floor_target", expr(s"${budget}L * weight div wsum"))
      .withColumn("rem", expr(s"${budget}L * weight % wsum"))
      .withColumn("slots",
        lit(budget) - sum(col("floor_target")).over(wAll))
      .withColumn("target_docs",
        col("floor_target") +
          when(row_number().over(wRem) <= col("slots"), 1L).otherwise(0L))
      .select(col(groupCol), col("n_total"), col("weight"),
        col("share_micros"), col("target_docs"))
  }

  /** q192: [[temperatureTargets]] per lang at a half-corpus budget —
    * the oracle re-derives the corrected isqrt, shares and the
    * largest-remainder fill, and the target column itself proves
    * Σ targets = budget. */
  private def q192(s: SparkSession, d: String): DataFrame = {
    val budget = Tables.documents(s, d).count() / 2
    temperatureTargets(Tables.documents(s, d), "lang", budget)
      .orderBy("lang")
  }

  private val q192Sql = """
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang),
    budget AS (SELECT COUNT(*) // 2 AS b FROM documents),
    w AS (
      SELECT lang, n_total,
             t + CASE WHEN t + 1 <= n_total // (t + 1) THEN 1 ELSE 0 END
               - CASE WHEN t > n_total // GREATEST(t, 1) THEN 1 ELSE 0 END
                 AS weight
      FROM (SELECT lang, n_total,
              CAST(floor(sqrt(CAST(n_total AS DOUBLE))) AS BIGINT) AS t
            FROM counts)),
    shares AS (
      SELECT lang, n_total, weight,
             weight * 1000000 // SUM(weight) OVER () AS share_micros,
             b.b * weight // SUM(weight) OVER () AS floor_target,
             b.b * weight % SUM(weight) OVER () AS rem,
             b.b AS b
      FROM w, budget b),
    filled AS (
      SELECT lang, n_total, weight, share_micros,
             floor_target + CASE WHEN
               row_number() OVER (ORDER BY rem DESC, lang)
                 <= b - SUM(floor_target) OVER () THEN 1 ELSE 0 END
               AS target_docs
      FROM shares)
    SELECT lang, n_total, CAST(weight AS BIGINT) AS weight,
           CAST(share_micros AS BIGINT) AS share_micros,
           CAST(target_docs AS BIGINT) AS target_docs
    FROM filled ORDER BY lang"""

  val queries: Seq[Query] = Seq(
    Query("q192_temperature_mixture", q192, Some(q192Sql)),
    Query("q188_ngram_diversity", q188, Some(q188Sql)),
    Query("q186_dsir_select", q186, Some(q186Sql)),
    Query("q178_length_buckets", q178, Some(q178Sql)),
    Query("q55_vocab_topk",    q55, Some(q55Sql)),
    Query("q56_tfidf",         q56, Some(q56Sql)),
    Query("q57_pii_redact",    q57, Some(q57Sql)),
    Query("q58_split_sample",  q58, Some(q58Sql)),
    Query("q59_ngram_counts",  q59, Some(q59Sql)),
    Query("q144_rare_ngram_quality", q144, Some(q144Sql)),
    Query("q159_lm_likelihood", q159, Some(q159Sql)),
    Query("q145_cms_heavy_hitters", q145, Some(q145Sql)),
    Query("q147_domain_cap",   q147, Some(q147Sql)),
    Query("q95_repetition_quality", q95, Some(q95Sql)),
    Query("q96_decontaminate", q96, Some(q96Sql)),
    Query("q154_bloom_decontaminate", q154, Some(q154Sql)),
    Query("q155_adaptive_quality", q155, Some(q155Sql)),
    Query("q156_leakage_safe_split", q156, Some(q156Sql)),
    Query("q97_prepare_pipeline", q97, Some(q97Sql)),
    Query("q99_sequence_packing", q99, Some(q99Sql)),
    Query("q100_mixture_sample", q100, Some(q100Sql)),
    Query("q182_mixture_plan", q182, Some(q182Sql)),
    Query("q101_sample_split_compose", q101, Some(q101Sql)),
    Query("q136_bpe_merges",   q136, Some(q136Sql)),
    Query("q137_bpe_compression", q137, Some(q137Sql)))
}
