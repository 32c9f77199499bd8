package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Persisted LEXICAL (inverted) index + BM25-family scoring + RRF
  * fusion with the vector paths — the "hybrid search" half every
  * production vector store pairs with ANN (Elasticsearch, Vespa,
  * Weaviate, pgvector+tsvector). The reference's chromadb engine is
  * vector-only; `where_document $contains` (q104b) is its nearest
  * lexical surface. This module adds the real thing in the same
  * partitioned-parquet idiom as the IVF/HNSW layouts in
  * [[IndexStore]]:
  *
  *   path/bucket=&lt;b&gt;/seg=&lt;s&gt;/part-....parquet  postings: (term, doc_id, tf, df, len)
  *   path/_segstats/part-....parquet              (seg, n_docs, sum_len)
  *   path/_segvocab/seg=&lt;s&gt;/part-....parquet    (term, df)
  *
  * `bucket = pmod(xxhash64(term), NumBuckets)` — the term dictionary
  * is hash-partitioned, so a query's posting reads PRUNE to the
  * buckets of its terms at plan time (the Lucene term-dictionary
  * segment seek, expressed as parquet partition pruning; LexicalSpec
  * pins it). A segment is one written batch: a build or rewrite
  * writes segment 0, [[appendLexicalSegment]] adds the next one
  * beside it. `df` (the segment's document frequency) and `len`
  * (document token count) are denormalized into the posting row —
  * Lucene likewise stores docFreq with the term and norms per doc —
  * so scoring is a single pruned scan plus the summed `_segstats`
  * rows as literals: no join against a corpus-sized side at query
  * time. With several segments the read sums the segments' dfs of
  * the query terms from the pruned rows themselves.
  *
  * Scoring is BM25 (k1 = 1.2, b = 0.75) with a RATIONAL idf:
  * `(N - df + 0.5) / (df + 0.5)` — the classic Robertson-Sparck Jones
  * idf WITHOUT the `ln`. Two reasons, both deliberate: (1) `ln` is
  * only ~1-ulp-accurate and may differ between libm implementations,
  * so a DuckDB oracle could flip a near-tie the JVM doesn't (the q56
  * division-only-score rationale); (2) each per-term contribution is
  * quantized to integer MICROS — `floor(1e6 * idf * tfnorm)` — and
  * summed as a LONG, which makes the document score EXACT,
  * order-free, and bit-identical across engines, partitionings, and
  * runs (a plain double sum over a shuffle is none of those). The
  * ranking this induces is a documented, deterministic BM25 variant,
  * not an approximation of someone else's scores.
  *
  * At 100 TB: build is one tokenize + two aggregations (tf, then the
  * vocabulary-sized df broadcast back); postings shuffle once on
  * bucket and land sorted-by-term within each directory. Queries
  * read |query-term buckets| directories of a NumBuckets-partitioned
  * layout (raise NumBuckets with corpus size — it bounds the pruned
  * read, and a bucket must fit a task). The rank exchange carries
  * (doc_id, micros) pairs only.
  */
object LexicalStore {

  /** Term-hash partition count. 16 keeps sf-fixture directories
    * non-trivial (multi-term queries still prune); at 100 TB this is
    * 1024+ — it bounds the per-query read and the per-task build
    * memory, exactly like IVF's cell count. */
  val NumBuckets = 16

  /** Integer score quantum: micros of BM25 weight. 1e6 preserves ~6
    * significant digits of each contribution — far below any rank
    * difference BM25 can meaningfully express. Overflow headroom: a
    * contribution is at most `ScoreScale * idf * (k1+1)` and rational
    * idf is at most ~N, so at N = 1e10 docs (the 100 TB regime) a
    * single-occurrence term contributes ≤ 2.2e16 micros and a
    * 100-term query's document score stays ≤ 2.2e18 < 2^63. Queries
    * are short by construction; a thousand-term "query" at that
    * corpus size would need a smaller quantum. */
  val ScoreScale = 1000000.0

  /** RRF quantum (1e9/(k+rank) stays integral and exact). */
  val RrfScale = 1000000000.0

  /** The standard reciprocal-rank-fusion constant (Cormack et al.). */
  val DefaultRrfK = 60

  // ---- analyzers -----------------------------------------------------
  //
  // Lucene-class normalization, as a BUILD-TIME property of the layout:
  // `raw` is the engine's original exact-token rule (whitespace split,
  // nothing folded — every pre-r16 layout and oracle), `folded` is
  // lowercase + ASCII-punctuation-to-space, the minimum analyzer a
  // production lexical stack ships (a query for "The" must match
  // "the", and "sheets," must not be a different term from "sheets").
  // The choice is persisted in a one-row `_analyzer` sidecar written
  // by every build path and read back by every search verb, so index
  // and query time CANNOT drift — the failure mode of letting callers
  // pass an analyzer at query time is answering from an index that
  // folded differently. Layouts without the sidecar are `raw`, so all
  // existing layouts, oracles and hashes are untouched.

  /** Exact whitespace tokens — the engine's original rule. */
  val AnalyzerRaw = "raw"

  /** Lowercase + `[^a-z0-9 ]` → space, then whitespace tokens. The
    * fold is an explicit ASCII class (not `\\p{L}`-family) so the
    * Spark and DuckDB regex engines provably agree byte-for-byte. */
  val AnalyzerFolded = "folded"

  /** The [[AnalyzerFolded]] fold, then the classic English stop set
    * dropped and every surviving token Porter-stemmed — the Lucene
    * EnglishAnalyzer tier (StandardTokenizer + LowerCaseFilter +
    * StopFilter + PorterStemFilter): "Running" matches "runs" and
    * "run", and "the" stops flooding every conjunction. Applied at
    * BUILD time like the other tiers (the `_analyzer` sidecar folds
    * queries through the identical chain, so index and query time
    * cannot drift). Positional note: offsets are dense over the
    * POST-STOPWORD token sequence (Lucene instead leaves position
    * gaps via posIncrement; the dense rule keeps offsets derivable
    * by the oracle from the filtered sequence alone, and phrase
    * adjacency then means "adjacent after stopword removal" —
    * `"quality of data"` matches the phrase `"quality data"`, which
    * is classic stop-phrase behavior). */
  val AnalyzerEnglish = "english"

  /** Lucene StopAnalyzer's classic 33-word English stop set (public
    * knowledge, stable across Lucene's history — the default of its
    * English analysis chain). */
  val EnglishStopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "if", "in", "into", "is", "it", "no", "not", "of", "on", "or",
    "such", "that", "the", "their", "then", "there", "these", "they",
    "this", "to", "was", "will", "with")

  private val FoldPattern = "[^a-z0-9 ]"

  private def requireAnalyzer(a: String): Unit =
    require(a == AnalyzerRaw || a == AnalyzerFolded || a == AnalyzerEnglish,
      s"unknown analyzer '$a' (expected $AnalyzerRaw, $AnalyzerFolded " +
        s"or $AnalyzerEnglish)")

  /** Plan-side fold of a text column under `analyzer` — applied
    * BEFORE tokenization by every build path of an analyzed layout. */
  def foldText(c: Column, analyzer: String): Column = analyzer match {
    case AnalyzerRaw => c
    case _           => regexp_replace(lower(c), FoldPattern, " ")
  }

  /** `queryTerms` folded under the layout's analyzer, empty tokens
    * dropped, deduplicated — the entry of every user-text search. */
  private def analyzedTerms(spark: SparkSession, path: String,
                            queryTerms: Seq[String]): Seq[String] =
    foldQueryTerms(queryTerms, analyzerOf(spark, path)).filter(_.nonEmpty).distinct

  /** Driver-side fold of query terms — evaluates the SAME catalyst
    * Lower + RegExpReplace tree the build plan used (the [[bucketOf]]
    * parity discipline: never trust a JVM locale lowercase to agree
    * with the plan's), then re-splits on the build's whitespace rule.
    * A term that folds to several tokens expands IN ORDER (so a
    * phrase keeps its shape); one that folds to nothing drops. */
  def foldQueryTerms(terms: Seq[String], analyzer: String): Seq[String] =
    analyzer match {
      case AnalyzerRaw => terms
      case _ =>
        import org.apache.spark.sql.catalyst.expressions.{Literal, Lower, RegExpReplace}
        val folded = terms.flatMap { t =>
          RegExpReplace(Lower(Literal(t)), Literal(FoldPattern), Literal(" "))
            .eval(null).toString.split(" ").filter(_.nonEmpty)
        }
        // the english tier then applies the SAME stop set and the
        // SAME static stem function the build plan's PorterStem
        // expression calls — one definition, so parity is structural
        if (analyzer == AnalyzerEnglish)
          folded.filterNot(EnglishStopwords.contains)
            .map(graft.functions.PorterStemmer.stem)
        else folded
    }

  // per-(session, path) analyzer memo: one fs stat + 1-row read on
  // first use; build paths pre-populate it, so warm searches never
  // touch the filesystem for this. Entries are STAMPED with the
  // per-path generation observed before the sidecar read and
  // validated against the current generation on every hit, which
  // closes the lost-invalidation race completely: a read that
  // straddles a rebuild may still publish the pre-rebuild value, but
  // the stale stamp makes every later reader reject it and re-read —
  // the check-then-publish window of a bare putIfAbsent (where the
  // sweep lands between the gen re-check and the publish) cannot
  // poison the cache permanently.
  private val analyzerCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (Long, String)]
  private val analyzerGen = scala.collection.concurrent.TrieMap
    .empty[String, Long]

  /** Invalidate EVERY session's analyzer memo for `path` — a rebuild
    * or collection delete/rename must not leave another session in
    * the same JVM folding queries under the previous build's rule.
    * The generation bump happens FIRST so an in-flight sidecar read
    * that started before the sweep publishes a dead-on-arrival
    * stamp. */
  private def dropAnalyzerMemos(path: String): Unit = {
    analyzerGen.updateWith(path)(g => Some(g.getOrElse(0L) + 1L))
    analyzerCache.keys.filter(_._2 == path).foreach(analyzerCache.remove)
  }

  private def writeAnalyzer(spark: SparkSession, path: String,
                            analyzer: String): Unit = {
    import spark.implicits._
    Seq(analyzer).toDF("analyzer").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/_analyzer")
    dropAnalyzerMemos(path)
    // a rewrite under a NEW analyzer also orphans any _symspell memo
    // (the dictionary it mirrored is gone with the old vocabulary)
    dropSymspellMemos(path)
    analyzerCache((IndexStore.sessionKey(spark), path)) =
      (analyzerGen.getOrElse(path, 0L), analyzer)
  }

  /** The analyzer a layout was built with (`raw` when the sidecar is
    * absent — every pre-analyzer layout). The sidecar value is
    * re-validated on read: a corrupted or hand-edited `_analyzer`
    * file must fail the same [[requireAnalyzer]] gate that guards
    * build-time inputs, not silently switch every search on the
    * layout to the catch-all folded rule. */
  def analyzerOf(spark: SparkSession, path: String): String = {
    val key = (IndexStore.sessionKey(spark), path)
    val g0 = analyzerGen.getOrElse(path, 0L)
    analyzerCache.get(key) match {
      case Some((g, a)) if g == g0 => a
      case _ =>
        val p = new org.apache.hadoop.fs.Path(s"$path/_analyzer")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val a =
          if (fs.exists(p)) {
            val v = Relations.parquet(spark, s"$path/_analyzer").head().getString(0)
            requireAnalyzer(v)
            v
          } else AnalyzerRaw
        // stamped with the generation observed BEFORE the read: if a
        // rebuild bumped it mid-read this entry self-invalidates.
        // CONDITIONAL publish — a reader that started before a
        // rebuild must not overwrite a fresher same-path entry with
        // its stale-stamped one (correct either way, the stale stamp
        // forces a re-read, but the clobber costs an avoidable
        // filesystem round-trip under races)
        analyzerCache.updateWith(key) {
          case fresher @ Some((g, _)) if g > g0 => fresher
          case _ => Some((g0, a))
        }
        if (analyzerGen.getOrElse(path, 0L) == g0) a
        else analyzerOf(spark, path) // a rebuild landed mid-read: retry
    }
  }

  private def bucketCol(term: Column): Column =
    pmod(xxhash64(term), lit(NumBuckets)).cast("int")

  /** Driver-side bucket of a query term — evaluates the SAME catalyst
    * XxHash64(seed=42) the build plan used, so search prunes to
    * exactly the directories build wrote (LexicalSpec pins parity). */
  def bucketOf(term: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(term)), 42L).eval(null).asInstanceOf[Long]
    java.lang.Math.floorMod(h, NumBuckets.toLong).toInt
  }

  /** Restrict posting rows to an id-ALLOWLIST — a 1-column (doc_id)
    * frame, typically the ids surviving a metadata predicate over a
    * metadata-bearing layout (the postings carry no metadata, so a
    * chroma `where=` reaches the lexical side as this semi-join; see
    * Hybrid.searchTopKHybrid). Applied BENEATH the rank, like every
    * `where` in the engine, so the top-k is exact over the filtered
    * set. Small allowlists broadcast; a corpus-sized one shuffles on
    * doc_id — the honest cost of filtering an index that doesn't
    * store the filter column. No broadcast hint: AQE sizes the
    * allowlist at runtime and picks broadcast when it fits. */
  private def allowFilter(post: DataFrame, allow: Option[DataFrame]): DataFrame =
    allow.fold(post)(a =>
      post.join(a.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi"))

  /** Per-(doc, term) BM25 contribution in integer micros. The
    * expression tree is mirrored TOKEN-FOR-TOKEN by the q115 oracle
    * SQL — IEEE +,-,*,/ are exactly specified, so identical trees over
    * identical inputs produce identical doubles in any engine, and the
    * floor-to-long is therefore identical too. Keep the two in sync. */
  def bm25Micros(tf: Column, df: Column, len: Column,
                 nDocs: Column, sumLen: Column): Column = {
    val tfD  = tf.cast(DoubleType)
    val dfD  = df.cast(DoubleType)
    val lenD = len.cast(DoubleType)
    val nD   = nDocs.cast(DoubleType)
    val avg  = sumLen.cast(DoubleType) / nD
    val idf  = (nD - dfD + lit(0.5)) / (dfD + lit(0.5))
    val tfn  = (tfD * lit(2.2)) /
      (tfD + lit(1.2) * (lit(0.25) + (lit(0.75) * lenD) / avg))
    floor(lit(ScoreScale) * (idf * tfn)).cast(LongType)
  }

  /** Build the inverted index from a (id, text) document set as one
    * segment: a full rebuild (static overwrite), like a Lucene
    * force-merge; build cost is two aggregations over one tokenize
    * pass. [[appendLexicalSegment]] grows the layout by further
    * segments without a rewrite. A fresh build
    * also clears any `_tombstones` left by [[deleteLexical]] — the
    * new corpus version starts with nothing deleted. */
  def build(spark: SparkSession, docs: DataFrame, path: String,
            idCol: String = "doc_id", textCol: String = "text",
            analyzer: String = AnalyzerRaw): Unit = {
    requireAnalyzer(analyzer)
    // id keeps its native type (long doc ids, string chunk ids — the
    // layout serves doc-level and chunk-level corpora alike)
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val tf = termFreqs(base, analyzer)
      .localCheckpoint() // one tokenize pass feeds tf, df, len, stats
    writePostings(spark, tf, path, analyzer)
    clearTombstones(spark, path)
  }

  /** Build a BM25F combined-field layout (Robertson & Zaragoza 2009
    * §2.2; Lucene ships the same idea as CombinedFieldQuery): the
    * principled alternative to per-field score fusion
    * ([[graft.operators.Hybrid]]'s searchTopKFields) when fields
    * should share ONE saturation curve — per-field weighted term
    * frequencies combine BEFORE the BM25 nonlinearity,
    * tf̃(t,d) = Σ_f w_f·tf_f(t,d), document length l̃(d) = Σ_f
    * w_f·len_f(d), df(t) = #docs containing t in ANY field, and the
    * ordinary kernel runs on the combined quantities. With integer
    * field weights every combined quantity is an exact integer, so
    * the layout is literally the standard scoring layout built
    * from transformed tf rows — [[writePostings]] re-aggregates
    * df/len/stats from them, and EVERY existing search verb
    * (top-k, boolean, prefix/fuzzy/regexp expansion, explain, batch,
    * where-filter) works on it unchanged. Maintenance splits by
    * whether the verb re-tokenizes: [[deleteLexical]] and
    * [[compactLexical]] operate on the already-combined rows and
    * serve the layout as-is; [[upsertLexical]] would tokenize plain
    * single-field text into combined postings and is GUARDED OFF —
    * the stored `_fields` descriptor routes new documents through
    * [[upsertBm25F]] instead. `fieldCols` maps text
    * columns of `docs` to their positive integer weights; fields may
    * overlap (a title repeated inside the body double-counts by
    * design — that is BM25F's field-boost semantic). One tokenize
    * pass per field, one (doc, term) partial agg — the build cost of
    * [[build]] times |fields|, same bucket-partitioned output. */
  def buildBm25F(spark: SparkSession, docs: DataFrame, path: String,
                 fieldCols: Seq[(String, Long)],
                 idCol: String = "doc_id",
                 analyzer: String = AnalyzerRaw): Unit = {
    requireAnalyzer(analyzer)
    requireBm25fFields(fieldCols)
    val combined = combinedTermFreqs(docs, fieldCols, idCol, analyzer)
      .localCheckpoint() // one combined pass feeds tf, df, len, stats
    writePostings(spark, combined, path, analyzer, fields = Some(fieldCols))
    clearTombstones(spark, path)
  }

  private def requireBm25fFields(fieldCols: Seq[(String, Long)]): Unit = {
    require(fieldCols.nonEmpty, "BM25F needs at least one field")
    require(fieldCols.forall(_._2 > 0), "field weights must be positive")
  }

  /** The BM25F combined-tf transform — ONE definition for
    * [[buildBm25F]] and [[upsertBm25F]], so a maintenance batch is
    * provably the same transform the build ran: per-field tokenize
    * under `analyzer`, weight each field's tf by its integer w_f,
    * sum per (doc, term). */
  private def combinedTermFreqs(docs: DataFrame,
                                fieldCols: Seq[(String, Long)],
                                idCol: String,
                                analyzer: String): DataFrame =
    fieldCols.map { case (c, w) =>
        termFreqs(docs.select(col(idCol).as("doc_id"), col(c).as("text")),
            analyzer)
          .select(col("doc_id"), col("term"),
            (col("tf") * lit(w)).as("tf"))
      }
      .reduce(_.union(_))
      .groupBy(col("doc_id"), col("term")).agg(sum(col("tf")).as("tf"))

  /** The BM25F field descriptor stored with the layout — Some((name,
    * weight) in build order) iff the layout was built by
    * [[buildBm25F]] (and kept by [[upsertBm25F]]/[[compactLexical]]),
    * None for a plain layout. A plain [[build]] clears it (its static
    * postings overwrite removes every sidecar — a full rebuild
    * legitimately redefines the layout as single-field). */
  def fieldsOf(spark: SparkSession, path: String): Option[Seq[(String, Long)]] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_fields")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    // collectCached + driver sort on `pos` — the descriptor is a
    // handful of rows; the old per-call orderBy+collect was a one-task
    // job per maintenance/search verb. Columns resolve by name.
    else Some(Relations.collectCached(spark, s"$path/_fields")
      .sortBy(r => r.getInt(r.fieldIndex("pos")))
      .map(r => (r.getString(r.fieldIndex("field")), r.getLong(r.fieldIndex("weight"))))
      .toSeq)
  }

  /** [[buildBm25F]] under the [[buildOnce]] memo — the fields
    * descriptor rides the key's text-column slot, so a same-path
    * build over different fields/weights must not silently no-op. */
  def buildBm25FOnce(spark: SparkSession, docs: => DataFrame, path: String,
                     fieldCols: Seq[(String, Long)],
                     idCol: String = "doc_id",
                     analyzer: String = AnalyzerRaw): Unit =
    builtOnce.getOrElseUpdate(
      (IndexStore.sessionKey(spark), path, idCol,
        fieldCols.map { case (c, w) => s"$c^$w" }.mkString(","),
        s"bm25f/$analyzer"),
      buildBm25F(spark, docs, path, fieldCols, idCol, analyzer))

  /** Token-stage analysis under `analyzer`, applied AFTER the text
    * fold and whitespace split by every build path: the `english`
    * tier drops the stop set and Porter-stems each surviving token
    * through the codegen'd [[graft.functions.PorterStem]] expression
    * (no ScalaUDF ahead of the tf shuffle); raw/folded are the
    * identity. The query side reaches the identical chain via
    * [[foldQueryTerms]] — same stop Seq, same static stem method. */
  private def analyzeTerms(toks: DataFrame, analyzer: String): DataFrame =
    if (analyzer != AnalyzerEnglish) toks
    else toks.filter(!col("term").isInCollection(EnglishStopwords))
      .withColumn("term",
        graft.functions.PorterStem.porterStem(col("term")))

  /** The english stop set as a SQL array literal — the positional
    * builder filters stopwords INSIDE its array lambda so offsets
    * stay dense over the surviving tokens. */
  private def stopArraySql: String =
    EnglishStopwords.map(w => s"'$w'").mkString("array(", ", ", ")")

  /** (doc_id, term, tf) of a (doc_id, text) frame under `analyzer` —
    * the one tokenization kernel every lexical build path shares. */
  private def termFreqs(base: DataFrame, analyzer: String): DataFrame =
    analyzeTerms(
        graft.operators.Corpus.tokens(
          base.withColumn("text", foldText(col("text"), analyzer)),
          "text", "doc_id"),
        analyzer)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Denormalize df(term) and len(doc_id) into each posting row via
    * partial-agg joins: a vocabulary-sized `groupBy(term).count` and
    * a doc-count-sized `groupBy(doc_id).sum(tf)`, joined back to the
    * postings. Hot-term note (the q53/q144 lesson): the previous
    * whole-partition windows buffered EVERY posting of a key in one
    * task's window frame — a stopword present in most documents made
    * that single task corpus-sized. The aggregates here combine
    * map-side to one row per key before their shuffle, and the joins
    * back stream (sort-merge or AQE-broadcast of the vocabulary-sized
    * side, skew-splittable) — no per-key buffering anywhere, so the
    * hottest term costs one streamed join partition, not one
    * buffering task. */
  private def withDfLen(tf: DataFrame): DataFrame = {
    val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val lenTab = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    tf.join(dfTab, "term").join(lenTab, "doc_id")
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("len"))
  }

  /** THE postings writer: (doc_id, term, tf) rows — already
    * materialized, so overwriting a layout they were read from is
    * safe — aggregated to df/len ([[withDfLen]]) and written as one
    * segment of the bucket-major layout, then its sidecars.
    *
    * `append` None: the rows are the whole corpus, written as segment
    * 0 with a STATIC overwrite of the whole path (every build, rewrite
    * and upsert), which also removes every previous sidecar, so an
    * absent one needs no delete. `append` Some(s): the rows are one
    * new batch, written as segment `s` with a DYNAMIC overwrite that
    * replaces only its own `bucket=b/seg=s` directories — every
    * existing segment file stays byte-untouched (LexicalSpec pins it).
    *
    * `fields`: Some(descriptor) marks the layout BM25F — its tf rows
    * are combined-field quantities, so plain (id, text) maintenance
    * must not union single-field rows into them ([[upsertLexical]]'s
    * guard reads this sidecar). */
  private def writePostings(spark: SparkSession, tf: DataFrame,
                            path: String, analyzer: String,
                            fields: Option[Seq[(String, Long)]] = None,
                            append: Option[Int] = None): Unit = {
    val seg = append.getOrElse(0)
    // `_symspell` derives from the vocabulary this write changes:
    // invalidate it FIRST (memo bump, then meta, then index — the
    // meta-present-implies-index-present invariant), so the indexed
    // suggest/fuzzy verbs fail loudly with the named "buildSymSpell
    // first" message on the new vocabulary instead of serving the
    // previous build's deletion dictionary (the r16 silent-drift
    // defect) or an obscure missing-path read through a stale memo.
    invalidateSymSpell(spark, path)
    withDfLen(tf).withColumn("bucket", bucketCol(col("term")))
      .withColumn("seg", lit(seg))
      // one task, so one file, per bucket, sorted by (term, doc_id)
      .repartition(NumBuckets, col("bucket"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode(SaveMode.Overwrite)
      // explicit either way: a session-level conf (the q83 stream sets
      // dynamic) must not leave a rebuild's phantom buckets behind
      .option("partitionOverwriteMode", if (append.isEmpty) "static" else "dynamic")
      .partitionBy("bucket", "seg")
      .parquet(path)
    // `_fields` lands FIRST among the sidecars on a BM25F rewrite —
    // BEFORE `_analyzer` (self-review r19): a missing `_segstats`
    // makes every SEARCH fail loudly, but not MAINTENANCE
    // (upsertLexical reads fieldsOf + analyzerOf + postings, never
    // `_segstats`), so a crash that left combined postings UNMARKED
    // would let a later plain upsert pass the BM25F guard and
    // silently corrupt the layout. Fields-first closes every window:
    // crash before `_fields` leaves no `_analyzer` either, and
    // analyzerOf fails loudly on any subsequent verb.
    fields.foreach { fs =>
      import spark.implicits._
      fs.zipWithIndex.map { case ((f, w), i) => (i, f, w) }
        .toDF("pos", "field", "weight")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$path/_fields")
    }
    // `_analyzer` next: a crash after any later sidecar write then
    // leaves `_segstats` or `_segvocab` missing — a LOUD missing-path
    // read — whereas analyzer-last left a complete-looking folded
    // layout that silently read back as `raw` and misranked every
    // query with no error. An append onto an existing layout keeps the
    // sidecar it was checked against: rewriting it would open a window
    // in which the layout has `_segstats` but no `_analyzer`.
    if (seg == 0) writeAnalyzer(spark, path, analyzer)
    // `_segstats` and `_segvocab` both derive from the checkpointed tf
    // and are ordered only AFTER `_analyzer` (between these two the
    // order is immaterial — a crash leaving either missing is a LOUD
    // missing-path read) — so the two little aggregate+write jobs
    // overlap instead of queueing (guide §2.6). `_segvocab/seg=s` is
    // the segment's term dictionary (term, df) that prefix/wildcard/
    // fuzzy expansion reads (Lucene's terms index): bucket =
    // hash(term) makes the postings unprunable BY DESIGN for a
    // prefix, so [[searchPrefix]] scans this vocabulary-sized sidecar
    // instead of the corpus-sized postings.
    awaitInOrder(Seq(
      () => statsRow(tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len")))
        .select(lit(seg).as("seg"), col("n_docs"), col("sum_len"))
        .coalesce(1).write.mode(if (append.isEmpty) SaveMode.Overwrite else SaveMode.Append)
        .parquet(s"$path/_segstats"),
      () => tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$path/_segvocab/seg=$seg")))
  }

  /** The one-row (n_docs, sum_len) stats of a (doc_id, len) frame;
    * `sum_len` is 0, not null, when there are no documents. */
  private def statsRow(lens: DataFrame): DataFrame =
    lens.agg(count(lit(1)).as("n_docs"), coalesce(sum(col("len")), lit(0L)).as("sum_len"))

  // ---- maintenance: tombstone delete, compact, upsert ---------------
  //
  // The Lucene model, made explicit: a delete only APPENDS doc ids to
  // a `_tombstones` sidecar (O(ids) IO — a takedown never rewrites
  // postings), and every search anti-joins candidates against the
  // tombstone set BENEATH the rank, so deleted docs stop surfacing
  // immediately. What stays stale until compaction — exactly as in
  // Lucene, where docFreq counts deleted docs until segments merge —
  // is df/n_docs/sum_len: surviving docs keep their build-time scores
  // (LexicalSpec pins this). `compactLexical` is the expungeDeletes:
  // rebuild postings from survivors with re-aggregated stats.
  // `upsertLexical` is compact-with-adds: replaced ids drop, new
  // (id, text) rows tokenize in, one rewrite to a single segment. At
  // 100 TB the rewrite is the honest cost of denormalizing df into the
  // posting row for single-scan scoring; [[appendLexicalSegment]]
  // trades that write cost for a per-query df merge.

  private def tombDir(path: String) = s"$path/_tombstones"

  /** The tombstoned doc_id set, or None when nothing was deleted.
    * Read distinct, so replayed deletes (at-least-once takedown
    * queues) change nothing. */
  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tombDir(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(Relations.parquet(spark, tombDir(path)).select(col("doc_id")).distinct())
    else None
  }

  private def clearTombstones(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tombDir(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Delete-by-id: append `ids` (a 1-column doc_id frame of the
    * layout's native id type — DataFrame-form, so a 100 TB takedown
    * list never drives through the driver) to the tombstone sidecar.
    * Idempotent under replay; postings untouched. */
  def deleteLexical(spark: SparkSession, path: String, ids: DataFrame): Unit =
    ids.select(col(ids.columns.head).as("doc_id")).distinct()
      .coalesce(1).write.mode(SaveMode.Append).parquet(tombDir(path))

  /** [[deleteLexical]] for a driver-sized id list. A no-op on a
    * layout with no postings left (every document deleted and
    * compacted away): there is no row for a tombstone to mask, and no
    * data file to read the id type from. */
  def deleteLexical(spark: SparkSession, path: String, ids: Seq[Any]): Unit =
    if (!holdsNoPostings(spark, path)) {
      import spark.implicits._
      deleteLexical(spark, path,
        ids.map(_.toString).toDF("doc_id")
          .select(col("doc_id").cast(idType(spark, path))))
    }

  private def idType(spark: SparkSession, path: String) =
    Relations.parquet(spark, path).schema("doc_id").dataType

  /** The scoring layout's posting columns a rewrite carries over. */
  private val TfCols = Seq("doc_id", "term", "tf")

  /** Surviving `cols` rows: the current layout minus tombstoned ids,
    * materialized so the caller can overwrite the layout they came
    * from. */
  private def survivorRows(spark: SparkSession, path: String,
                           cols: Seq[String]): DataFrame = {
    live(spark, path, Relations.parquet(spark, path).select(cols.map(col): _*))
      .localCheckpoint()
  }

  /** THE rewrite core of the tombstoned lexical layouts (README "Index
    * maintenance"): read the layout's analyzer, then materialize the
    * survivors and — for an upsert — `adds(analyzer)`, the batch's
    * rows tokenized under the LAYOUT's analyzer (an upsert must never
    * mix folding rules in one index) and the ids they replace. The two
    * materializations are independent (one reads the batch, the other
    * the layout), so they overlap (guide §2.6); input order preserves
    * the serial form's error reporting. Replaced ids drop from the
    * survivors, `write` rewrites the layout from the union (already
    * materialized, so overwriting the layout it came from is safe), and
    * the tombstones clear. A compact is the core with no adds; on a
    * layout with no partition left it only clears the tombstones. */
  private def rewriteLexical(spark: SparkSession, path: String, cols: Seq[String],
                             adds: String => Option[(DataFrame, DataFrame)],
                             write: (DataFrame, String) => Unit): Unit = {
    val analyzer = analyzerOf(spark, path)
    // a layout compacted down to no rows has nothing to read, but an
    // upsert still inserts into it (a missing path still fails on the read)
    lazy val emptied = holdsNoPostings(spark, path)
    val out = adds(analyzer) match {
      case None if emptied => None
      case None => Some(survivorRows(spark, path, cols))
      case Some((rows, _)) if emptied => Some(rows.localCheckpoint())
      case Some((rows, ids)) =>
        val Seq(fresh, kept) = awaitInOrder(Seq(
          () => rows.localCheckpoint(), () => survivorRows(spark, path, cols)))
        Some(kept.join(ids, Seq("doc_id"), "left_anti").union(fresh))
    }
    out.foreach(write(_, analyzer))
    clearTombstones(spark, path)
  }

  /** Rewrite the layout — any segment count — from surviving postings
    * as one segment with freshly re-aggregated df/len/stats, then drop
    * the tombstones — after this, scores equal a from-scratch build
    * over the survivors (LexicalSpec compares byte-for-value). */
  def compactLexical(spark: SparkSession, path: String): Unit = {
    // a BM25F layout compacts legitimately (survivor tf rows are
    // already combined-field quantities) — but the rewrite must
    // re-thread the `_fields` descriptor or the compacted layout
    // would read back unmarked and accept a corrupting plain upsert
    val fields = fieldsOf(spark, path)
    rewriteLexical(spark, path, TfCols, _ => None,
      writePostings(spark, _, path, _, fields))
  }

  /** Upsert (id, text) documents: postings of the upserted ids (and
    * any tombstoned ids) drop, the new texts tokenize in, and the
    * merged corpus rewrites with fresh stats — compact-with-adds.
    * An id absent from the layout inserts; a tombstoned id that
    * reappears in `docs` is live again with its new text. */
  def upsertLexical(spark: SparkSession, path: String, docs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text"): Unit = {
    requirePlainLayout(spark, path)
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    rewriteLexical(spark, path, TfCols,
      a => Some((termFreqs(base, a), base.select(col("doc_id")).distinct())),
      writePostings(spark, _, path, _))
  }

  /** The wrong-family-verb guard, lexical edition, of every verb that
    * tokenizes plain (id, text) documents into an existing layout
    * ([[upsertLexical]], [[appendLexicalSegment]]): on a BM25F layout
    * the stored tf rows are COMBINED-field quantities — adding a plain
    * single-field tokenize to them would score new docs BM25 while the
    * others score BM25F, a silent ranking corruption with no error
    * anywhere downstream. */
  private def requirePlainLayout(spark: SparkSession, path: String): Unit =
    require(fieldsOf(spark, path).isEmpty,
      s"$path is a BM25F combined-field layout — a plain (id, text) " +
        "batch would mix single-field tf rows into combined-field " +
        "postings; use upsertBm25F (it routes the batch through the " +
        "stored field/weight transform)")

  /** [[upsertLexical]] for a BM25F layout: the batch's documents
    * carry the SAME field columns the layout was built from — the
    * stored `_fields` descriptor names them — and tokenize through
    * the identical [[combinedTermFreqs]] transform (weighted tf
    * combine before saturation), so revised and surviving documents
    * score under one kernel over one kind of quantity; the descriptor
    * rides the rewrite. Fails loudly on a plain layout (use
    * [[upsertLexical]]) — the guard pair keeps each maintenance verb
    * on its own layout family. */
  def upsertBm25F(spark: SparkSession, path: String, docs: DataFrame,
                  idCol: String = "doc_id"): Unit = {
    val fields = fieldsOf(spark, path).getOrElse(sys.error(
      s"$path is a plain lexical layout (no _fields descriptor) — " +
        "use upsertLexical"))
    val missing = fields.map(_._1).filterNot(docs.columns.contains)
    require(missing.isEmpty,
      s"BM25F upsert batch is missing field column(s) " +
        s"${missing.mkString(", ")} — the layout was built from " +
        fields.map { case (f, w) => s"$f^$w" }.mkString(", "))
    rewriteLexical(spark, path, TfCols,
      a => Some((combinedTermFreqs(docs, fields, idCol, a),
        docs.select(col(idCol).as("doc_id")).distinct())),
      writePostings(spark, _, path, _, fields = Some(fields)))
  }

  // ---- segments: append WITHOUT rewrite ------------------------------
  //
  // Lucene's answer to O(corpus) rewrites, made explicit: each append
  // writes a NEW SEGMENT (its own postings with PER-SEGMENT df, its own
  // `_segstats` row and `_segvocab` dictionary), old segments stay
  // byte-untouched (LexicalSpec pins it), and every read merges the
  // term statistics — global df(term) = Σ segments' df, global
  // n_docs/sum_len = Σ `_segstats` rows — exactly how a Lucene
  // IndexReader sums docFreq across its segment readers. A doc lives
  // in exactly one segment, so len is exact and the merged scoring
  // equals a from-scratch build over the union corpus (the q157 gate
  // proves it hash-exact). Deleted docs keep counting in df until a
  // merge rewrites their segment — Lucene's docFreq-until-merge
  // semantics, the same staleness a tombstone leaves in one segment.

  /** Append `docs` as the next segment: one batch-sized aggregation
    * and write; no existing segment file is touched. Onto a fresh path
    * this writes segment 0; onto any layout (built, rewritten or
    * appended) segment max(`_segstats`.seg) + 1, after checking the
    * batch folds under the layout's analyzer and the layout is not
    * BM25F ([[requirePlainLayout]]) — both fail before any write.
    * Caller contract (as in Lucene): a doc id appears in at most one
    * segment — upsert into a segmented layout is therefore delete,
    * then [[compactSegments]] (which expunges the dead rows and clears
    * the tombstones), then append, or simply [[upsertLexical]]: a
    * tombstoned id cannot be re-appended directly, because this
    * append-only path cannot touch the old segment holding its dead
    * rows (the guard below fails loudly with exactly that message; it
    * deliberately also rejects ids that were tombstoned without ever
    * being indexed — distinguishing those would cost a corpus probe per
    * append for a caller mistake better surfaced than absorbed). */
  def appendLexicalSegment(spark: SparkSession, docs: DataFrame, path: String,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           analyzer: String = AnalyzerRaw): Unit = {
    requireAnalyzer(analyzer)
    // an existing path is a layout: its `_segstats` names the segments
    // (a layout without one fails loudly here, before any write)
    val existing =
      if (Relations.partitionDirs(spark, path).isEmpty) Nil
      else segStats(spark, path).map(r => r.getInt(r.fieldIndex("seg"))).toSeq
    if (existing.nonEmpty) {
      requirePlainLayout(spark, path)
      // a second batch must fold exactly like the first — an index
      // whose segments disagree on the analyzer is two indexes
      val built = analyzerOf(spark, path)
      require(built == analyzer,
        s"layout at $path was built with analyzer '$built', append got '$analyzer'")
    }
    // a tombstoned id cannot be re-appended: its dead rows sit in an
    // old segment this append-only path must not touch, so clearing
    // the tombstone would resurrect them alongside the new rows (a
    // doc in two segments — double-counted everywhere). The upsert CAN
    // resurrect because it rewrites; here the honest answer is a loud
    // compact-first message. Ids-only check, batch-sized, only when
    // tombstones exist at all.
    tombstones(spark, path).foreach { t =>
      val clash = docs.select(col(idCol).as("doc_id"))
        .join(t, Seq("doc_id"), "left_semi").limit(1).count()
      require(clash == 0L,
        s"batch re-appends tombstoned doc ids — the append-only " +
          s"layout cannot resurrect them: compactSegments($path) first")
    }
    val tf = termFreqs(docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        analyzer)
      .localCheckpoint() // one tokenize pass feeds the postings and sidecars
    writePostings(spark, tf, path, analyzer,
      append = Some(existing.reduceOption(_ max _).fold(0)(_ + 1)))
  }

  /** Merge all segments back into one (the Lucene forceMerge): the
    * [[compactLexical]] rewrite — survivors re-aggregated into a single
    * segment 0 with fresh df and one stats row, tombstones expunged.
    * Scores of live documents are unchanged by the merge itself (it
    * computes exactly the statistics the read-time merge was deriving,
    * minus the deleted docs; LexicalSpec pins it); what it buys is one
    * segment and no read-time df merge. Amortization policy (when to
    * merge) is the caller's, as in Lucene. */
  def compactSegments(spark: SparkSession, path: String): Unit =
    compactLexical(spark, path)

  /** Top-`k` with each hit's segment: (lex_rank, doc_id, seg,
    * lex_micros) — [[searchTopKLexical]]'s scores, through the same
    * stages, on a layout of any segment count (a built layout is
    * segment 0). Scores equal a from-scratch build over the union
    * corpus (q157 pins it hash-exact). */
  def searchTopKSegmented(spark: SparkSession, path: String,
                          queryTerms: Seq[String], k: Int = 10): DataFrame = {
    val scored = contributions(spark, path, analyzedTerms(spark, path, queryTerms))
      .groupBy(col("doc_id"), col("seg"))
      .agg(sum(col("micros")).as("lex_micros"))
    rankTop(scored, desc("lex_micros"), k, "lex_rank",
      "lex_rank", "doc_id", "seg", "lex_micros")
  }

  // key includes the LAYOUT KIND: the scoring and positional builders
  // share one memo map, and without the discriminator the second
  // builder aimed at the same path would silently no-op, leaving the
  // wrong layout on disk
  private val builtOnce = scala.collection.concurrent.TrieMap
    .empty[(String, String, String, String, String), Unit]

  /** [[build]] at most once per (session, path, id/text columns) —
    * the Verify gate, spec, and bench share one physical build (the
    * buildIvfOnce discipline; the build is deterministic up to file
    * split, and every reader re-aggregates, so sharing is safe). The
    * column names are part of the key, as build parameters always are
    * (buildIvfOnce/buildHnswOnce) — a same-path build over different
    * columns must not silently no-op. */
  def buildOnce(spark: SparkSession, docs: => DataFrame, path: String,
                idCol: String = "doc_id", textCol: String = "text",
                analyzer: String = AnalyzerRaw): Unit =
    builtOnce.getOrElseUpdate(
      (IndexStore.sessionKey(spark), path, idCol, textCol, s"scoring/$analyzer"),
      build(spark, docs, path, idCol, textCol, analyzer))

  /** [[buildPositional]] under the same once-per-(session, path) memo
    * as [[buildOnce]] — gate paths build each layout once per verify
    * session. */
  def buildPositionalOnce(spark: SparkSession, docs: => DataFrame,
                          path: String, idCol: String = "doc_id",
                          textCol: String = "text",
                          analyzer: String = AnalyzerRaw): Unit =
    builtOnce.getOrElseUpdate(
      (IndexStore.sessionKey(spark), path, idCol, textCol,
        s"positional/$analyzer"),
      buildPositional(spark, docs, path, idCol, textCol, analyzer))

  /** Drop every session's build-once memo for `path` — called by
    * [[IndexStore.renameCollection]]/[[IndexStore.deleteCollection]]
    * when the name frees up, so a later build at it really builds. */
  private[graft] def dropBuildMemos(path: String): Unit = {
    builtOnce.keys.filter(_._2 == path).foreach(builtOnce.remove)
    dropAnalyzerMemos(path)
    // a delete/rename frees the path for a DIFFERENT corpus: a later
    // build there must not serve suggestions through this path's old
    // symspell memo (the memo mirrors the meta sidecar — it must die
    // with every other per-path memo here)
    dropSymspellMemos(path)
  }

  // ---- search pipeline -------------------------------------------------
  //
  // Every search, explain and batch verb below composes four stages,
  // each defined once (README "Lexical search pipeline"):
  //   1. postings — [[prunedPostings]], then `where`, the allowlist and
  //      the tombstone mask ([[postings]], [[live]]);
  //   2. score — [[bm25]] over the stats literals, and
  //      [[weightedMicros]] for every weighted or boosted sum;
  //   3. phrase slots — [[positionalSlots]], the rarest-first
  //      [[slotJoin]] and the adjacency or span predicate
  //      ([[phraseFrame]]);
  //   4. rank — [[rankTop]] for one query, [[rankPerQuery]] for a
  //      batch, both numbering through [[numbered]].

  /** Stage 1, the read: the postings of `terms` pruned to their
    * buckets' directories, with a pushed `term IN (...)` row-group
    * filter. On a scoring layout of several segments `df` becomes the
    * GLOBAL df: per-segment dfs count disjoint doc sets, so one
    * distinct (seg, term, df) row per segment sums, from the pruned
    * rows themselves — before any `where`, allowlist or tombstone mask
    * (a candidate filter narrows whose scores are computed, never the
    * corpus statistics, and docFreq counts deleted docs until their
    * segment is rewritten). With one segment the in-row df already is
    * the global df and the read is the plain scan. A layout with no
    * postings left (every document deleted and compacted away) fails
    * here by name, from directory listings, before any job. */
  private def prunedPostings(spark: SparkSession, path: String,
                             terms: Seq[String]): DataFrame = {
    require(!holdsNoPostings(spark, path),
      s"lexical layout at $path holds no documents: every document was " +
        "deleted and compacted away")
    val ts = terms.distinct
    val pruned = Relations.parquet(spark, path)
      .filter(col("bucket").isin(ts.map(bucketOf).distinct.map(Integer.valueOf): _*) &&
        col("term").isin(ts: _*))
    // positional layouts carry no segments (and no df)
    if (!pruned.columns.contains("seg") || segStats(spark, path).length <= 1) pruned
    else {
      val gdf = pruned.select(col("seg"), col("term"), col("df")).distinct()
        .groupBy(col("term")).agg(sum(col("df")).as("gdf"))
      pruned.join(broadcast(gdf), "term")
        .withColumn("df", col("gdf")).drop("gdf")
    }
  }

  /** True when the layout at `path` has no partition directory left. */
  private def holdsNoPostings(spark: SparkSession, path: String): Boolean =
    Relations.partitionDirs(spark, path).exists(_.isEmpty)

  /** `rows` minus the tombstoned doc ids — the one tombstone mask of
    * every search read and of the maintenance survivors. */
  private def live(spark: SparkSession, path: String, rows: DataFrame): DataFrame =
    tombstones(spark, path).fold(rows)(t => rows.join(t, Seq("doc_id"), "left_anti"))

  /** Stage 1: the pruned read, then the optional `where` (a predicate
    * over the posting columns), the optional id allowlist and the
    * tombstone mask — all beneath the rank, so a top-k is exact over
    * the filtered set. */
  private def postings(spark: SparkSession, path: String, terms: Seq[String],
                       where: Option[Column] = None,
                       allow: Option[DataFrame] = None): DataFrame = {
    val pruned = prunedPostings(spark, path, terms)
    live(spark, path, allowFilter(where.fold(pruned)(pruned.filter), allow))
  }

  /** The `_segstats` rows (seg, n_docs, sum_len), one per segment:
    * a collectCached read pays one one-task job per layout VERSION
    * instead of a sidecar scan per query (guide §2.4). A missing
    * `_segstats` fails loudly (the crash-window contract) — so does a
    * layout written before segments were the only form. */
  private def segStats(spark: SparkSession, path: String): Array[Row] =
    Relations.collectCached(spark, s"$path/_segstats")

  /** The layout-wide (n_docs, sum_len) — the segments' rows summed,
    * per-segment longs, order-free — as driver literals. */
  private def statsLits(spark: SparkSession, path: String)
      : (Column, Column) = {
    val rs = segStats(spark, path)
    (lit(rs.map(r => r.getLong(r.fieldIndex("n_docs"))).sum),
      lit(rs.map(r => r.getLong(r.fieldIndex("sum_len"))).sum))
  }

  /** Stage 2: [[bm25Micros]] of a posting row's `tf`, `df` and `len`
    * under the layout-wide (n_docs, sum_len) `stats`. */
  private def bm25(stats: (Column, Column), df: Column = col("df")): Column =
    bm25Micros(col("tf"), df, col("len"), stats._1, stats._2)

  /** Stage 2, weights: the exact ⌊w·m / 1e6⌋ of SQL operands `w` (a
    * weight in micros) and `m` (micros). With w ≤ 1e6 and m ≤ 2.2e16
    * (see [[ScoreScale]]), w·m can pass 2^63, so both engines compute
    * the floor by the split w·(m div 1e6) + (w·(m mod 1e6)) div 1e6 —
    * each part ≤ 2.2e16, all non-negative, identical integer ops
    * everywhere. */
  private def weightedMicros(w: String, m: String): Column =
    expr(s"$w * ($m div 1000000L) + ($w * ($m % 1000000L)) div 1000000L")

  /** Stage 4: `rankCol` numbers rows 1.. in `w`'s order. */
  private def numbered(df: DataFrame, w: WindowSpec, rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(w))

  /** Stage 4, one query: the top `k` of `scored` in `order`, numbered
    * as `rankCol`, projected to `out`. */
  private def rankTop(scored: DataFrame, order: Seq[Column], k: Int,
                      rankCol: String, out: String*): DataFrame =
    numbered(scored.orderBy(order: _*).limit(k), Window.orderBy(order: _*), rankCol)
      .select(out.map(col): _*)

  /** Stage 4, a batch: [[rankTop]] per `query_id`. */
  private def rankPerQuery(scored: DataFrame, order: Seq[Column], k: Int,
                           rankCol: String, out: String*): DataFrame =
    numbered(scored, Window.partitionBy(col("query_id")).orderBy(order: _*), rankCol)
      .filter(col(rankCol) <= k)
      .select(out.map(col): _*)

  /** Score DESC, doc_id ASC — the total order of every scored rank. */
  private def desc(score: String): Seq[Column] = Seq(col(score).desc, col("doc_id"))

  /** Distance ASC, doc_id ASC — the positional ranks' order. */
  private def asc(dist: String): Seq[Column] = Seq(col(dist).asc, col("doc_id"))

  /** The per-(doc, term) contribution frame every scorer aggregates —
    * (doc_id, seg, term, tf, df, len, micros). ONE definition feeds
    * [[scoreLexical]]'s sum AND [[explainScore]]'s decomposition, so
    * the explanation is the score's own code path. */
  private def contributions(spark: SparkSession, path: String,
                            terms: Seq[String],
                            where: Option[Column] = None,
                            allow: Option[DataFrame] = None): DataFrame = {
    require(terms.nonEmpty, "lexical search needs at least one term")
    postings(spark, path, terms, where, allow)
      .select(col("doc_id"), col("seg"), col("term"), col("tf"), col("df"), col("len"),
        bm25(statsLits(spark, path)).as("micros"))
  }

  /** UNRANKED exact BM25 scores (doc_id, lex_micros) of every matching
    * doc — what [[searchTopKLexical]] ranks and [[searchTopKFields]]
    * weight-sums across field layouts (a doc in the fused top-k need
    * not be in any single field's top-k, so it must not truncate). */
  private def scoreLexical(spark: SparkSession, path: String,
                           terms: Seq[String],
                           where: Option[Column] = None,
                           allow: Option[DataFrame] = None): DataFrame =
    contributions(spark, path, terms, where, allow)
      .select(col("doc_id"), col("micros"))
      .groupBy(col("doc_id")).agg(sum(col("micros")).as("lex_micros"))

  /** Relevance explain — Lucene's Explanation for the quantized
    * BM25: the per-(doc, term) decomposition of a query's scores
    * over a candidate set `cands` (a 1-column doc_id frame,
    * typically the ranked page the caller is debugging — "why does
    * doc X outrank doc Y" reads as two rows per term instead of one
    * opaque integer). Each row carries every factor the
    * contribution is computed FROM — tf, df, len (with n_docs and
    * sum_len folded in by the shared kernel) — plus the integer
    * `micros` itself; because scores are exact integers, the
    * explanation is SUM-EXACT: per-doc Σ micros equals the rank
    * path's lex_micros to the last digit (LexicalSpec pins it for
    * one build and for appended segments, and q222/q224 gate it
    * against the oracle), a promise float-BM25 explain APIs cannot
    * make. The rows come from the contribution frame the scorer
    * itself aggregates ([[contributions]]), so the explanation is the
    * score's code path, not a parallel reimplementation; on several
    * segments its df is the merged global value the scorer used.
    * ≤ |cands|·|terms| rows out, ordered (doc_id, term). */
  def explainScore(spark: SparkSession, path: String,
                   queryTerms: Seq[String], cands: DataFrame): DataFrame =
    contributions(spark, path, analyzedTerms(spark, path, queryTerms), allow = Some(cands))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("len"), col("micros"))
      .orderBy(col("doc_id"), col("term"))

  /** [[explainScore]] for [[searchTopKFields]]: the per-(field,
    * doc, term) decomposition of a weighted multi-field score.
    * `field` is the 0-based position in `fields` (the caller's own
    * ordering); rows carry the UNWEIGHTED micros plus the field's
    * weight, because the field scorer applies its weight to the
    * per-(field, doc) SUBTOTAL S through [[weightedMicros]] — a
    * floor that does NOT distribute over terms, so per-term weighted rows
    * could not sum exactly. The recombination IS exact and pinned
    * (LexicalSpec): group by (field, doc), S = Σ micros, apply the
    * split, sum over fields == field_micros to the last digit. A
    * field whose analyzer folds the whole query away contributes no
    * rows, mirroring the scorer's union-drop. */
  def explainScoreFields(spark: SparkSession,
                         fields: Seq[(String, Long)],
                         queryTerms: Seq[String],
                         cands: DataFrame): DataFrame = {
    // fold per field FIRST (driver-side, no jobs): the all-fields-
    // empty require must fire BEFORE any page execution, and the
    // page-sized checkpoint below is only worth its materialization
    // job when >= 2 fields will actually re-read the page (r22,
    // ADVICE item)
    val folded = foldFields(spark, fields, queryTerms)
    // page-sized checkpoint: each field's contribution read gates on
    // `cands`, and a lazy search page handed in as cands would
    // otherwise re-execute once PER CONTRIBUTING FIELD (q229 ran its
    // own searchTopKFields three times for a 10-row decomposition —
    // the explainRrf disease, r21)
    val page =
      if (folded.sizeIs > 1 && !isMaterialized(cands)) cands.localCheckpoint()
      else cands
    val perField = folded.map { case ((path, w), i, terms) =>
      contributions(spark, path, terms, allow = Some(page))
        .select(lit(i).as("field"), lit(w).as("weight"), col("doc_id"),
          col("term"), col("tf"), col("df"), col("len"), col("micros"))
    }
    perField.reduce(_.union(_))
      .orderBy(col("field"), col("doc_id"), col("term"))
  }

  /** Lexical top-`k`: (doc_id, lex_rank, lex_micros) for the documents
    * best matching `queryTerms` under the quantized BM25 above. Reads
    * ONLY the buckets of the query's terms; the TakeOrdered heap and
    * every exchange after the pruned scan carry (doc_id, micros)
    * pairs. `where` (a predicate over the posting columns, i.e.
    * doc_id) and `allow` filter candidates BENEATH the rank. */
  def searchTopKLexical(spark: SparkSession, path: String,
                        queryTerms: Seq[String], k: Int = 10,
                        where: Option[Column] = None,
                        allow: Option[DataFrame] = None): DataFrame = {
    // query terms fold under the LAYOUT's analyzer (sidecar-read, so
    // index and query time provably agree) — `raw` is the identity;
    // rankAnalyzed normalizes (nonEmpty, distinct)
    rankAnalyzed(spark, path,
      foldQueryTerms(queryTerms, analyzerOf(spark, path)), k, where, allow)
  }

  /** Rank PRE-ANALYZED terms — the internal entry point for every
    * verb whose terms are already in the layout's indexed vocabulary
    * (the dictionary expansions of searchPrefix/searchWildcard/
    * searchGlob, moreLikeThis's mined terms, searchTopKPrf's folded
    * seed). [[foldQueryTerms]] must NOT run again on such terms: the
    * english analyzer is not idempotent — Porter re-stems stems
    * (corpus `agreed` indexes as `agre`, but stem("agre") == "agr")
    * and re-drops stems that collide with stopwords (`thens` indexes
    * as `then`) — so a second fold silently empties the match set.
    * Lucene's rewritten multi-term queries bypass the analysis chain
    * for exactly this reason. User query text enters through
    * [[searchTopKLexical]], which folds exactly once. */
  private[graft] def rankAnalyzed(spark: SparkSession, path: String,
                                  terms: Seq[String], k: Int,
                                  where: Option[Column] = None,
                                  allow: Option[DataFrame] = None): DataFrame =
    rankTop(scoreLexical(spark, path, terms.filter(_.nonEmpty).distinct, where, allow),
      desc("lex_micros"), k, "lex_rank", "doc_id", "lex_rank", "lex_micros")

  /** Keyset pagination — Lucene's IndexSearcher.searchAfter: the
    * page AFTER a (score, doc_id) cursor in the total order
    * (lex_micros DESC, doc_id ASC), i.e. strictly
    * `micros < cursor.micros OR (micros = cursor.micros AND doc_id >
    * cursor.docId)`. Deep paging done right at scale: offset-k
    * pagination re-sorts and DISCARDS o rows per page (page 1000 of a
    * web index heap-sorts 10k rows per executor); the keyset
    * predicate filters BEFORE the top-k heap, so every page costs
    * exactly one k-row TakeOrdered over the pruned scan, independent
    * of page depth. Integer scores make the cursor exact — no
    * float-tie page tearing (the reason Lucene's FieldDoc cursor
    * carries the doc id too). Page rows are numbered 1..k within the
    * page (a global rank would require knowing the offset — the thing
    * keyset pagination exists to avoid). */
  def searchAfter(spark: SparkSession, path: String,
                  queryTerms: Seq[String], k: Int,
                  afterMicros: Long, afterDocId: Any): DataFrame = {
    val terms = analyzedTerms(spark, path, queryTerms)
    val scored = scoreLexical(spark, path, terms)
      .filter(col("lex_micros") < afterMicros ||
        (col("lex_micros") === afterMicros && col("doc_id") > lit(afterDocId)))
    rankTop(scored, desc("lex_micros"), k, "page_rank", "doc_id", "page_rank", "lex_micros")
  }

  /** Facet counts — Lucene faceting's contract over the MATCH SET
    * (not the top-k): for every value of a metadata facet, how many
    * docs match the query at all. `facets` is the forward metadata
    * (doc_id, facet) — the postings carry no metadata by design (the
    * V9 allowlist argument), so the match set's ids semi-join out of
    * the pruned scan and the facet column joins in by id: ids-only
    * exchanges until the final |facet-values|-row aggregate. The
    * match set is the BM25 OR (any query term) — the set the ranked
    * list is drawn from, which is what makes facet drill-down counts
    * consistent with the visible results. */
  def facetCounts(spark: SparkSession, path: String,
                  queryTerms: Seq[String], facets: DataFrame,
                  facetCol: String = "facet"): DataFrame = {
    val terms = analyzedTerms(spark, path, queryTerms)
    val matched = scoreLexical(spark, path, terms).select(col("doc_id"))
    // distinct AFTER the join, over the match-set-sized output (the
    // matched spine is already duplicate-free out of the groupBy):
    // duplicate (doc_id, facet) rows in the caller's metadata must not
    // double-count a document, but a corpus-sized pre-join dedupe
    // would pay a full shuffle for metadata that is usually already
    // clean. A doc with several DISTINCT facet values still counts
    // once per value — Lucene's multi-valued facet semantics.
    matched.join(
        facets.select(col("doc_id"), col(facetCol).as("facet")),
        Seq("doc_id"))
      .distinct()
      .groupBy(col("facet")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("facet"))
  }

  /** Multi-field weighted search — Lucene's MultiFieldQueryParser
    * with per-field boosts (the practical cousin of BM25F: BM25F
    * proper mixes tf ACROSS fields under one idf, which needs a
    * combined-field layout; the weighted SUM of per-field BM25 is
    * what Elasticsearch's `fields: ["title^2", "body"]` best_fields/
    * most_fields family actually computes, and it composes from the
    * per-field layouts already built). `fields` = (layout path,
    * weight in micros; 1e6 = neutral, 2e6 = counts double). Each
    * field scores UNRANKED under its own analyzer and stats (a short
    * title field normalizes against title lengths, exactly why the
    * fields stay separate layouts); a doc's fused score is
    * Σ [[weightedMicros]](w_f, micros_f), missing fields contribute 0
    * (outer union — a title-only hit still surfaces). The fan-in is
    * |fields| k-free aggregates, never a corpus join. */
  def searchTopKFields(spark: SparkSession,
                       fields: Seq[(String, Long)],
                       queryTerms: Seq[String], k: Int = 10): DataFrame = {
    val perField = foldFields(spark, fields, queryTerms).map { case ((path, w), _, terms) =>
      scoreLexical(spark, path, terms)
        .select(col("doc_id"), weightedMicros(s"${w}L", "lex_micros").as("wm"))
    }
    val fused = perField.reduce(_.union(_))
      .groupBy(col("doc_id")).agg(sum(col("wm")).as("field_micros"))
    rankTop(fused, desc("field_micros"), k, "field_rank",
      "doc_id", "field_rank", "field_micros")
  }

  /** The (field, position, analyzed terms) of every field whose
    * analyzer leaves some of `queryTerms` — a field that folds the
    * whole query away contributes 0 and must not fail the search while
    * another field can still match. Fails when no field is left. */
  private def foldFields(spark: SparkSession, fields: Seq[(String, Long)],
                         queryTerms: Seq[String]): Seq[((String, Long), Int, Seq[String])] = {
    require(fields.nonEmpty, "multi-field search needs at least one field")
    require(fields.forall(_._2 > 0), s"field weights must be positive")
    val folded = fields.zipWithIndex.flatMap { case (f, i) =>
      Some(analyzedTerms(spark, f._1, queryTerms)).filter(_.nonEmpty).map((f, i, _))
    }
    require(folded.nonEmpty,
      s"query $queryTerms folds to nothing under every field's analyzer")
    folded
  }

  /** Weight an expansion term carries in [[searchTopKPrf]]'s final
    * pass, in micros of an original term's weight (Rocchio's β/α).
    * The flat-λ (binary Rocchio) variant: mined weights SELECT the
    * expansion terms, the final query carries them all at this one
    * deterministic weight — the graded-interpolation variant (RM3)
    * needs a float normalization that would diverge across engines. */
  val PrfExpandMicros = 500000L

  /** Pseudo-relevance-feedback search (Rocchio 1971 SMART; the RM
    * family's query-expansion step): seed BM25 top-`fbDocs`, mine
    * `fbTerms` expansion terms from the feedback docs, re-search once
    * with original terms at 1e6 micros and expansion terms at
    * [[PrfExpandMicros]]. Expansion terms are scored by the SAME
    * quantized [[bm25Micros]] kernel summed over the feedback set
    * (tf·idf with length normalization — the Robertson term-selection
    * value, integer-exact here), ranked (weight DESC, term ASC), and
    * never include an original query term.
    *
    * `docs` is the FORWARD source the index was built from: an
    * inverted layout cannot enumerate a document's terms without a
    * full scan, so the feedback docs' term vectors come from
    * re-tokenizing exactly `fbDocs` rows of the id-keyed corpus (an
    * id-pruned scan — the cheap direction at 100 TB) with the same
    * [[graft.operators.Corpus.tokens]] kernel build() used; their
    * candidate terms' df comes from the bucket-pruned postings, so
    * both stages read |term buckets| directories, never the corpus.
    * Driver round-trips are metadata-bounded: fbDocs ids, the
    * feedback docs' distinct candidate terms, fbTerms weights — the
    * "query rows" convention. Weights apply through the overflow-safe
    * [[weightedMicros]] split. */
  def searchTopKPrf(spark: SparkSession, path: String, docs: DataFrame,
                    queryTerms: Seq[String], k: Int = 10, fbDocs: Int = 5,
                    fbTerms: Int = 5, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    rankPrf(spark, path, prfWeights(spark, path, docs, queryTerms, fbDocs, fbTerms,
      idCol, textCol), k)

  /** The weighted final pass of [[searchTopKPrf]], ranked. */
  private def rankPrf(spark: SparkSession, path: String,
                      weighted: Seq[(String, Long)], k: Int): DataFrame =
    rankTop(scoreWeightedTerms(spark, path, weighted).withColumnRenamed("micros", "prf_micros"),
      desc("prf_micros"), k, "prf_rank", "doc_id", "prf_rank", "prf_micros")

  /** The indexed df of candidate `terms` — (term, df) from their
    * pruned postings (unmasked: df counts deleted docs until a
    * compact, like the stored value). */
  private def indexedDf(spark: SparkSession, path: String,
                        terms: Seq[String]): DataFrame =
    prunedPostings(spark, path, terms)
      .groupBy(col("term")).agg(max(col("df")).as("df"))

  /** The `n` best of the (term, tf, len) rows' terms by the quantized
    * Robertson selection value — per term, Σ [[bm25]] with the rows'
    * tf/len and the INDEX's df and stats; ranked (value DESC, term
    * ASC). The term selection of [[searchTopKPrf]] and
    * [[moreLikeThis]]; the per-row micros are integers, so the sum is
    * reduction-order-free. */
  private def selectTerms(spark: SparkSession, path: String, rows: DataFrame,
                          cands: Seq[String], n: Int): Seq[String] = {
    val stats = statsLits(spark, path)
    rows.join(indexedDf(spark, path, cands), "term")
      .select(col("term"), bm25(stats).as("m"))
      .groupBy(col("term")).agg(sum(col("m")).as("w"))
      .orderBy(col("w").desc, col("term")).limit(n)
      .collect().map(_.getString(0)).toSeq
  }

  /** The Rocchio rewrite itself — seed rank, feedback-doc mining,
    * term selection — returning the weighted term list the final
    * pass scores (originals at 1e6, expansions at
    * [[PrfExpandMicros]]). Deterministic for fixed inputs, and
    * factored so [[searchTopKPrf]] and [[explainPrf]] provably run
    * the SAME rewrite. */
  private def prfWeights(spark: SparkSession, path: String,
                         docs: DataFrame, queryTerms: Seq[String],
                         fbDocs: Int, fbTerms: Int, idCol: String,
                         textCol: String): Seq[(String, Long)] = {
    // the feedback docs re-tokenize under the layout's analyzer, so
    // mined candidate terms live in the same folded vocabulary the
    // postings index (searchTopKLexical folds the seed query itself)
    val analyzer = analyzerOf(spark, path)
    val qTerms = analyzedTerms(spark, path, queryTerms)
    // qTerms are folded HERE (the weighted final pass needs them in
    // indexed form) — the seed search takes them pre-analyzed, not
    // through searchTopKLexical's second fold (see [[rankAnalyzed]])
    val seedIds = rankAnalyzed(spark, path, qTerms, fbDocs)
      .select(col("doc_id")).collect().map(_.get(0)).toSeq
    // ONE driver round-trip for the feedback docs' term freqs
    // (bounded: fbDocs docs' distinct terms — query-sized); lens and
    // the candidate set derive driver-side, which drops the r20
    // form's checkpoint job and candidate-collect job from the
    // rewrite's serial chain. len counts the WHOLE doc (query terms
    // included) — computed before the candidate exclusion.
    val fbRows = termFreqs(
        docs.filter(col(idCol).isInCollection(seedIds))
          .select(col(idCol).as("doc_id"), col(textCol).as("text")),
        analyzer)
      .collect()
    val lenOf: Map[Any, Long] = fbRows.groupBy(_.get(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).sum }
    val cands = fbRows.iterator.map(_.getString(1)).toSeq.distinct
      .filterNot(qTerms.contains)
    val expansion: Seq[String] =
      if (cands.isEmpty) Seq.empty
      // the feedback docs' (term, tf, len) rows as a broadcast-sized
      // local relation
      else selectTerms(spark, path,
        spark.createDataFrame(fbRows.toSeq.collect {
            case r if !qTerms.contains(r.getString(1)) =>
              (r.getString(1), r.getLong(2), lenOf(r.get(0)))
          }).toDF("term", "tf", "len"),
        cands, fbTerms)
    qTerms.map((_, 1000000L)) ++ expansion.map((_, PrfExpandMicros))
  }

  /** [[explainScoreWeighted]] with [[searchTopKPrf]]'s own rewrite:
    * re-runs the SAME deterministic Rocchio expansion and decomposes
    * the weighted final pass over `cands` — expansion terms surface
    * as rows at [[PrfExpandMicros]] weight, originals at 1e6, so
    * "why did this off-query doc rank" reads directly. Per-doc
    * Σ weighted_micros equals prf_micros exactly (q228 gates it). */
  def explainPrf(spark: SparkSession, path: String, docs: DataFrame,
                 queryTerms: Seq[String], cands: DataFrame,
                 fbDocs: Int = 5, fbTerms: Int = 5,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    explainScoreWeighted(spark, path,
      prfWeights(spark, path, docs, queryTerms, fbDocs, fbTerms,
        idCol, textCol),
      cands)

  /** [[searchTopKPrf]]'s top-k page AND its [[explainPrf]]
    * decomposition from ONE Rocchio rewrite — the seam the q228 gate
    * composes: [[prfWeights]] is deterministic for fixed inputs, so
    * running its seed-rank / feedback-mining / selection round-trips
    * twice could only reproduce the identical weighted term list at
    * double cost. Returns exactly
    * `explainPrf(..., searchTopKPrf(...).select("doc_id"), ...)`. */
  private[graft] def explainPrfTopK(spark: SparkSession, path: String,
                                    docs: DataFrame,
                                    queryTerms: Seq[String], k: Int = 10,
                                    fbDocs: Int = 5, fbTerms: Int = 5,
                                    idCol: String = "doc_id",
                                    textCol: String = "text"): DataFrame = {
    val weighted = prfWeights(spark, path, docs, queryTerms, fbDocs,
      fbTerms, idCol, textCol)
    explainScoreWeighted(spark, path, weighted,
      rankPrf(spark, path, weighted, k).select(col("doc_id")))
  }

  /** Build a POSITIONAL postings layout: one row per (doc, term) with
    * the sorted 0-based offsets of that term in the doc's compacted
    * token sequence (empty tokens dropped first, so offsets are
    * dense and both engines derive them identically). Same
    * term-bucket partitioning as [[build]] — phrase search prunes to
    * its terms' buckets exactly like scoring search does. Positions
    * are the Lucene-class addition the frequency layout cannot
    * express: tf says a doc HAS the words, positions say they are
    * ADJACENT. Kept as a sibling layout rather than a column on the
    * scoring postings so the q115 family's bytes and hashes are
    * untouched; a production deployment would fold both into one
    * layout. Row width is bounded by per-doc term frequency; the
    * build is one tokenize pass + one (doc, term) partial agg. */
  def buildPositional(spark: SparkSession, docs: DataFrame, path: String,
                      idCol: String = "doc_id",
                      textCol: String = "text",
                      analyzer: String = AnalyzerRaw): Unit = {
    requireAnalyzer(analyzer)
    writePositional(spark,
      positionalRows(docs, idCol, textCol, analyzer), path, analyzer)
    clearTombstones(spark, path)
  }

  /** (doc_id, term, positions) of one document batch — build()'s
    * tokenize + offset aggregation, factored so upsert can run it on
    * the replacement docs alone. */
  private def positionalRows(docs: DataFrame, idCol: String,
                             textCol: String, analyzer: String): DataFrame = {
    // english: stopwords drop INSIDE the array lambda, so offsets are
    // dense over the surviving tokens (see [[AnalyzerEnglish]]'s
    // positional note), and the stem applies after the posexplode —
    // a stem never changes a token's position
    val keep =
      if (analyzer == AnalyzerEnglish)
        "filter(split(text, ' '), w -> length(w) > 0 AND NOT " +
          s"array_contains($stopArraySql, w))"
      else "filter(split(text, ' '), w -> length(w) > 0)"
    val exploded = docs.select(col(idCol).as("doc_id"),
        foldText(col(textCol), analyzer).as("text"))
      .select(col("doc_id"), posexplode(expr(keep)).as(Seq("pos", "term")))
    val analyzed =
      if (analyzer == AnalyzerEnglish)
        exploded.withColumn("term",
          graft.functions.PorterStem.porterStem(col("term")))
      else exploded
    analyzed.groupBy(col("doc_id"), col("term"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
  }

  /** The positional layout's columns a rewrite carries over. */
  private val PositionalCols = Seq("doc_id", "term", "positions")

  /** Shared positional write path (the [[writePostings]] sibling):
    * already-materialized (doc_id, term, positions) rows land
    * bucket-partitioned with the analyzer sidecar rewritten after. */
  private def writePositional(spark: SparkSession, rows: DataFrame,
                              path: String, analyzer: String): Unit = {
    rows.withColumn("bucket", bucketCol(col("term")))
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite)
      // static even when a session-level conf says dynamic (the q83
      // stream sets it): a rebuild over a smaller corpus must not
      // leave phantom buckets from the previous build behind
      .option("partitionOverwriteMode", "static")
      .partitionBy("bucket").parquet(path)
    writeAnalyzer(spark, path, analyzer)
  }

  /** Rewrite the positional layout from survivors and drop the
    * tombstones — the expungeDeletes [[compactLexical]] performs for
    * the scoring layout. Position rows carry no corpus-derived
    * statistics (no df/len), so this is a pure survivor rewrite. */
  def compactPositional(spark: SparkSession, path: String): Unit =
    rewriteLexical(spark, path, PositionalCols, _ => None,
      writePositional(spark, _, path, _))

  /** Upsert (id, text) documents into a positional layout — the
    * [[upsertLexical]] shape minus the stats re-aggregation. */
  def upsertPositional(spark: SparkSession, path: String, docs: DataFrame,
                       idCol: String = "doc_id",
                       textCol: String = "text"): Unit = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    rewriteLexical(spark, path, PositionalCols,
      a => Some((positionalRows(base, "doc_id", "text", a),
        base.select(col("doc_id")).distinct())),
      writePositional(spark, _, path, _))
  }

  /** Slot indices in ascending document frequency of their term
    * (ties by phrase position) — Lucene's conjunction ordering: the
    * FIRST intersection should be the rarest-vs-next-rarest pair, so
    * every later join streams against a candidate set already bounded
    * by the rarest term's df. Without it, "of the zyzzyva" first
    * intersects the two corpus-wide terms — an n_docs-sized
    * intermediate carrying the position arrays (the widest columns in
    * the layout) that the rare third term then prunes to nothing.
    * Catalyst cannot fix this itself: the pruned reads carry no
    * per-term stats, and AQE sizes broadcast sides but never reorders
    * a left-deep equi-join chain. */
  private[graft] def slotOrderByDf(terms: Seq[String],
                                   df: Map[String, Long]): Seq[Int] =
    terms.indices.sortBy(i => (df.getOrElse(terms(i), 0L), i))

  /** Stage 3: one slot `p<i>` (doc_id, positions) per phrase term
    * from the positional postings, plus per-term df from those same
    * rows — one tiny aggregate (|terms| rows to the driver) that buys
    * the rarest-first join order. */
  private def positionalSlots(spark: SparkSession, path: String,
                              terms: Seq[String])
      : (Seq[DataFrame], Map[String, Long]) = {
    val post = postings(spark, path, terms)
    // df per query term from the already-pruned read (positions stay
    // unread: column pruning keeps this ids-free and positions-free).
    // With <= 2 distinct terms the rarest-first ordering cannot change
    // the join tree (one equi-join, commutative; the adjacency/span
    // expressions reference slots by PHRASE position) — skip the
    // aggregate+collect job entirely (guide §2.6: it exists only to
    // order a >= 3-way intersection)
    val dfByTerm =
      if (terms.distinct.size <= 2) Map.empty[String, Long]
      else post.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val slots = terms.zipWithIndex.map { case (t, i) =>
      post.filter(col("term") === t)
        .select(col("doc_id"), col("positions").as(s"p$i"))
    }
    (slots, dfByTerm)
  }

  /** Stage 3: the slots of `terms` intersected on doc_id, rarest
    * first; the predicates reference slots by PHRASE position
    * (p0..pm), so join order is free. */
  private def slotJoin(spark: SparkSession, path: String,
                       terms: Seq[String]): DataFrame = {
    val (slots, dfByTerm) = positionalSlots(spark, path, terms)
    slotOrderByDf(terms, dfByTerm).map(slots).reduce((a, b) => a.join(b, "doc_id"))
  }

  /** Stage 3: the docs matching `terms` as a phrase — (doc_id,
    * phrase_tf), the count of exact-adjacency runs, for `slop` None;
    * (doc_id, span_gap), the minimum ordered-span gap, for Some(slop)
    * (see [[searchSpanNear]] for the greedy-chain argument). ONE
    * definition for [[searchPhrase]], [[searchSpanNear]] and
    * [[phraseMatchSet]], so the parsed-query phrase gate provably
    * matches the ranked verbs. */
  private def phraseFrame(spark: SparkSession, path: String, terms: Seq[String],
                          slop: Option[Int]): DataFrame = {
    val n = terms.size
    val joined = slotJoin(spark, path, terms)
    slop match {
      case None =>
        val adjacency = (1 until n)
          .map(i => s"array_contains(p$i, x + $i)").mkString(" AND ")
        joined.select(col("doc_id"), expr(s"size(filter(p0, x -> $adjacency))").as("phrase_tf"))
          .filter(col("phrase_tf") > 0)
      case Some(maxGap) =>
        val chainEnd = (1 until n).foldLeft("x0") { (prev, i) =>
          s"array_min(filter(p$i, y$i -> y$i > $prev))"
        }
        joined.select(col("doc_id"),
            expr(s"array_min(transform(p0, x0 -> $chainEnd - x0 - ${n - 1}))").as("span_gap"))
          .filter(col("span_gap") <= maxGap)
    }
  }

  /** Exact phrase search over a [[buildPositional]] layout: a doc
    * matches where the phrase's terms occur at CONSECUTIVE offsets,
    * `phrase_tf` counts the occurrences, ranking is (phrase_tf DESC,
    * doc_id) — all integers. Each phrase slot reads only its term's
    * bucket directory; the m−1 doc_id equi-joins intersect candidate
    * sets that are bounded by the rarest term's document frequency
    * (AQE broadcast-sizes them at runtime), and the adjacency test is
    * a scan-side higher-order filter over the joined position arrays
    * — offsets never explode into rows. A repeated-word phrase
    * ("the the") works unchanged: both slots read the same rows and
    * the filter counts overlapping runs. */
  def searchPhrase(spark: SparkSession, path: String,
                   phrase: Seq[String], k: Int = 10): DataFrame = {
    val terms = foldQueryTerms(phrase.filter(_.nonEmpty),
      analyzerOf(spark, path))
    require(terms.size >= 2, "a phrase needs at least two terms")
    rankTop(phraseFrame(spark, path, terms, None), desc("phrase_tf"), k,
      "phrase_rank", "doc_id", "phrase_rank", "phrase_tf")
  }

  /** Pairwise proximity search — the NEAR/slop operator, the other
    * positional query [[buildPositional]] unlocks: docs where `a` and
    * `b` occur within `slop` tokens of each other IN ANY ORDER,
    * scored by the minimum absolute offset distance (1 = adjacent
    * somewhere, in either order). The distance is a scan-side nested
    * higher-order fold over the two position arrays — O(tf_a · tf_b)
    * per doc on in-row arrays, no row explosion, nothing pairwise in
    * the corpus. Ranking (min_dist ASC, doc_id) is all integers. */
  def searchNear(spark: SparkSession, path: String, a0: String, b0: String,
                 slop: Int, k: Int = 10): DataFrame = {
    val analyzer = analyzerOf(spark, path)
    val (a, b) = (foldQueryTerms(Seq(a0), analyzer),
        foldQueryTerms(Seq(b0), analyzer)) match {
      case (Seq(x), Seq(y)) => (x, y)
      case (fa, fb) => sys.error(
        s"NEAR terms must fold to one token each, got $fa / $fb — " +
          "use searchSpanNear for multi-token proximity")
    }
    require(a.nonEmpty && b.nonEmpty && a != b,
      "NEAR takes two distinct non-empty terms")
    require(slop >= 1, s"slop must be >= 1, got $slop")
    val near = slotJoin(spark, path, Seq(a, b))
      .select(col("doc_id"), expr(
        "array_min(transform(p0, x -> array_min(transform(p1, y -> abs(x - y)))))")
        .as("min_dist"))
      .filter(col("min_dist") <= slop)
    rankTop(near, asc("min_dist"), k, "near_rank", "doc_id", "near_rank", "min_dist")
  }

  /** ORDERED sloppy span search — Lucene SpanNearQuery's
    * inOrder=true mode, the m-term generalization [[searchPhrase]]
    * (slop 0, adjacency) and [[searchNear]] (2 terms, unordered)
    * between them could not express: a doc matches where the terms
    * occur IN QUERY ORDER at strictly increasing offsets p0 < p1 <
    * … < pm with at most `slop` extra positions inside the span —
    * gap = pm − p0 − (m−1) ≤ slop (gap 0 is the exact phrase,
    * modulo other terms never interleaving... they may: gap counts
    * ANY intervening tokens, Lucene's definition). Scored by the
    * doc's MINIMUM gap, ranked (gap ASC, doc_id) — all integers.
    *
    * The match test is a scan-side fold: for each anchor x0 in p0,
    * greedily take the EARLIEST next-term offset above the previous
    * one (`array_min(filter(p_i, y -> y > prev))`) — for a fixed
    * anchor the greedy chain minimizes pm (exchange argument), so
    * the min over anchors is the doc's true minimum gap, and a
    * missing link folds to NULL which `array_min` skips and the
    * slop filter drops. O(m · Σ|p_i|) per doc over in-row arrays —
    * no row explosion, nothing pairwise. */
  def searchSpanNear(spark: SparkSession, path: String,
                     span: Seq[String], slop: Int,
                     k: Int = 10): DataFrame = {
    val terms = foldQueryTerms(span.filter(_.nonEmpty),
      analyzerOf(spark, path))
    require(terms.size >= 2, "a span query needs at least two terms")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    rankTop(phraseFrame(spark, path, terms, Some(slop)), asc("span_gap"), k,
      "span_rank", "doc_id", "span_rank", "span_gap")
  }

  /** Boolean query — Lucene's BooleanQuery shape over the scoring
    * layout: candidates must contain EVERY `must` term, no `mustNot`
    * term, and rank by summed [[bm25Micros]] over the must+should
    * terms (a should term matched adds score; a must term both gates
    * and scores — the standard semantics). Each folded term is one
    * clause of the [[clauseCore]]: one postings read, one per-doc
    * aggregate, the gates one predicate over its presence counts. */
  def searchBoolean(spark: SparkSession, path: String,
                    must: Seq[String], should: Seq[String] = Seq.empty,
                    mustNot: Seq[String] = Seq.empty,
                    k: Int = 10, minShouldMatch: Int = 0): DataFrame =
    rankTop(booleanCore(spark, path, must, should, mustNot, minShouldMatch),
      desc("lex_micros"), k, "bool_rank", "doc_id", "bool_rank", "lex_micros")

  /** [[searchBoolean]] compiled onto the [[clauseCore]]: one term
    * clause per distinct folded term, with the term-set semantics — a
    * term named in both must and should scores once, through its must
    * clause. Such a term is present in every document the must gate
    * admits, so it counts toward `minShouldMatch` without a clause of
    * its own: the core's should count starts that much lower. `allow`
    * narrows whose rows come back — each doc's gates depend only on
    * its OWN postings, so filtering the read early is equivalent. */
  private def booleanCore(spark: SparkSession, path: String,
                          must: Seq[String], should: Seq[String],
                          mustNot: Seq[String], minShouldMatch: Int,
                          allow: Option[DataFrame] = None): DataFrame = {
    import QueryParser._
    val analyzer = analyzerOf(spark, path)
    def fold(ts: Seq[String]) =
      foldQueryTerms(ts.filter(_.nonEmpty), analyzer).distinct
    val mustT = fold(must)
    val shouldT = fold(should)
    val notT = fold(mustNot)
    // Lucene's minimum_should_match: candidates must additionally
    // match >= this many DISTINCT should terms — the knob between
    // pure-OR recall (0) and all-terms AND (|should|); counted on the
    // folded distinct set, like the must gate
    require(minShouldMatch >= 0 && minShouldMatch <= shouldT.size,
      s"minShouldMatch=$minShouldMatch outside [0, ${shouldT.size}] " +
        s"(folded should terms: $shouldT)")
    require(mustT.nonEmpty || shouldT.nonEmpty,
      "boolean search needs at least one must or should term")
    require(notT.intersect(mustT ++ shouldT).isEmpty,
      s"terms cannot be both required/scored and excluded: " +
        notT.intersect(mustT ++ shouldT).mkString(", "))
    def clauses(o: Occur, ts: Seq[String]) =
      ts.map(t => CoreClause(o, 1000000L, Seq(Should -> RTerms(path, Seq(t)))))
    clauseCore(spark,
      clauses(Must, mustT) ++ clauses(Should, shouldT.diff(mustT)) ++ clauses(MustNot, notT),
      "lex_micros", minShouldMatch - shouldT.count(mustT.contains), allow,
      withRows = allow.isDefined)
  }

  /** [[explainScore]] for [[searchBoolean]]: the per-(doc, term)
    * decomposition of a boolean query's scores over the candidate
    * page `cands`. Rows exist only for the SCORED clauses (must +
    * should) of documents that pass every gate — the gates are
    * boolean admission, not score factors, which is exactly how
    * Lucene's Explanation reports a BooleanQuery (scoring clauses
    * only; a non-matching doc explains as no-match). The rows are the
    * search's own gated aggregate, unnested, so per-doc Σ micros
    * equals searchBoolean's lex_micros exactly (LexicalSpec pins it;
    * q226 gates the decomposition). */
  def explainBoolean(spark: SparkSession, path: String, cands: DataFrame,
                     must: Seq[String], should: Seq[String] = Seq.empty,
                     mustNot: Seq[String] = Seq.empty,
                     minShouldMatch: Int = 0): DataFrame =
    booleanCore(spark, path, must, should, mustNot, minShouldMatch, Some(cands))
      .select(col("doc_id"), explode(col("rows")).as("r"))
      .select(col("doc_id"), col("r.term").as("term"), col("r.tf").as("tf"),
        col("r.df").as("df"), col("r.len").as("len"), col("r.micros").as("micros"))
      .orderBy(col("doc_id"), col("term"))

  /** The layout's term dictionary as (term, df) with GLOBAL df: the
    * per-segment `_segvocab` dictionaries with df summed across
    * segments (disjoint doc sets — the [[prunedPostings]] global-df
    * argument, applied to the dictionary); with one segment its
    * dictionary as it is. Vocabulary-sized, never corpus-sized. */
  private def termDictionary(spark: SparkSession, path: String): DataFrame = {
    val vocab = Relations.parquet(spark, s"$path/_segvocab")
    if (segStats(spark, path).length <= 1) vocab.select(col("term"), col("df"))
    else vocab.groupBy(col("term")).agg(sum(col("df")).as("df"))
  }

  /** Fold a dictionary probe (prefix/needle) to its single token —
    * the shared head of every dictionary-expansion verb. Multi-term
    * queries bypass the analysis chain (Lucene's PrefixQuery /
    * WildcardQuery contract, and [[searchGlob]]'s documented
    * behavior): on an `english` layout the probe only lowercases +
    * strips (the folded rule) — the dictionary holds stems and the
    * user's pattern matches them verbatim. Stemming the probe would
    * make `agre*` unfindable (stem("agre") == "agr") and error out
    * stopword-shaped prefixes like `the` that legitimately prefix
    * stems (`theori`). */
  private def foldProbe(spark: SparkSession, path: String, probe: String,
                        what: String): String = {
    require(probe.nonEmpty, s"$what must be non-empty")
    val rule = analyzerOf(spark, path) match {
      case AnalyzerEnglish => AnalyzerFolded
      case a => a
    }
    val folded = foldQueryTerms(Seq(probe), rule)
    require(folded.size == 1,
      s"$what must fold to one token, '$probe' folded to $folded")
    folded.head
  }

  /** Expand a dictionary match predicate to the `maxExpansions`
    * highest-df terms (df DESC, term ASC — the rewrite cap that stops
    * `a%` from becoming a thousand-term query) — the shared middle of
    * [[searchPrefix]]/[[searchWildcard]]. Bounded driver round-trip
    * (the query-rows convention); the downstream search prunes
    * buckets from the literal expansions. */
  private def expandDictionary(spark: SparkSession, path: String,
                               pred: Column, maxExpansions: Int,
                               noMatch: => String): Seq[String] = {
    require(maxExpansions >= 1, s"maxExpansions must be >= 1")
    val expanded = termDictionary(spark, path)
      .filter(pred)
      .orderBy(col("df").desc, col("term")).limit(maxExpansions)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    require(expanded.nonEmpty, noMatch)
    expanded
  }

  /** Prefix query — Lucene's PrefixQuery with its maxExpansions
    * guard: expand `prefix` against the term dictionary
    * (vocabulary-sized scan, the honest cost of a hash-bucketed
    * layout that CANNOT prune a prefix), keep the `maxExpansions`
    * highest-df matches (df DESC, term ASC — the rewrite cap that
    * stops `a%` from becoming a thousand-term query), then score the
    * expanded terms through [[rankAnalyzed]] (dictionary terms are
    * already analyzed). The expansion round-trips the driver (bounded
    * by maxExpansions — the query-rows convention) because the final
    * search prunes buckets from literal terms. */
  def searchPrefix(spark: SparkSession, path: String, prefix: String,
                   k: Int = 10, maxExpansions: Int = 16): DataFrame = {
    // the prefix folds like any query text (an analyzed layout's
    // dictionary is all-lowercase, so 'St' must expand as 'st')
    val p = foldProbe(spark, path, prefix, "prefix")
    val expanded = expandDictionary(spark, path,
      col("term").startsWith(p), maxExpansions,
      s"no indexed term starts with '$p' — nothing to search")
    rankAnalyzed(spark, path, expanded, k)
  }

  /** The term-range dictionary expansion shared by [[searchTermRange]]
    * and [[searchParsed]]'s `[lo TO hi]` clauses — ONE definition so
    * the parsed form provably expands like the standalone verb: fold
    * both bounds under the probe rule (the dictionary holds analyzed
    * tokens, so 'Merge' bounds as 'merge'; stems stay verbatim —
    * the [[foldProbe]] contract), fail loudly on an inverted range,
    * then walk the dictionary BETWEEN the bounds with the df-ranked
    * `maxExpansions` cap every dictionary atom carries. */
  private def expandTermRange(spark: SparkSession, path: String,
                              lo0: String, hi0: String,
                              inclLo: Boolean, inclHi: Boolean,
                              maxExpansions: Int): Seq[String] = {
    val lo = foldProbe(spark, path, lo0, "range lower bound")
    val hi = foldProbe(spark, path, hi0, "range upper bound")
    require(lo <= hi,
      s"empty term range: folded lower bound '$lo' sorts after upper " +
        s"bound '$hi'")
    val pred =
      (if (inclLo) col("term") >= lo else col("term") > lo) &&
        (if (inclHi) col("term") <= hi else col("term") < hi)
    def b(o: Boolean, c: String, s: String) = if (o) c else s
    expandDictionary(spark, path, pred, maxExpansions,
      s"no indexed term in range ${b(inclLo, "[", "{")}$lo TO $hi" +
        s"${b(inclHi, "]", "}")} — nothing to search")
  }

  /** Term range query — Lucene's TermRangeQuery with its
    * maxExpansions guard (reference: chromadb has no term
    * dictionary at all; Lucene's `[lo TO hi]` is the public
    * contract): expand the dictionary scan between the folded
    * bounds ([[expandTermRange]] — square/curly = inclusive/
    * exclusive per side), keep the `maxExpansions` highest-df
    * matches (df DESC, term ASC — the same rewrite cap the prefix/
    * wildcard family carries), then score the expansions through
    * [[rankAnalyzed]]. The vocabulary-sized dictionary walk is the honest
    * cost of a hash-bucketed layout that cannot prune a
    * lexicographic range. */
  def searchTermRange(spark: SparkSession, path: String,
                      lo: String, hi: String,
                      inclLo: Boolean = true, inclHi: Boolean = true,
                      k: Int = 10, maxExpansions: Int = 16): DataFrame =
    rankAnalyzed(spark, path,
      expandTermRange(spark, path, lo, hi, inclLo, inclHi, maxExpansions), k)

  /** Best snippet window per candidate doc — the highlighter half of
    * search-result presentation (Lucene's FastVectorHighlighter runs
    * on exactly this: term positions + a fragment size): for each doc
    * in `cands` (a 1-column doc_id frame, typically the ranked
    * top-k), find the `w`-token window covering the most DISTINCT
    * query terms; ties break to the EARLIEST window. An optimal
    * window can always start at a term occurrence, so anchors are the
    * occurrence positions themselves, and the (count, start) argmax
    * is a scan-side fold over in-row arrays — O(m·occ²) per doc on
    * query-term occurrences only, no row explosion. The candidate
    * spine (page-sized by construction) gates the positional read as
    * a broadcast semi-join, and the verb never touches the corpus
    * text — the caller renders the winning
    * [start, start+w) slice from its forward table. Returns
    * (doc_id, win_start, n_terms). */
  def snippetBest(spark: SparkSession, path: String,
                  queryTerms: Seq[String], cands: DataFrame,
                  w: Int): DataFrame = {
    val terms = analyzedTerms(spark, path, queryTerms)
    require(terms.nonEmpty, "snippets need at least one query term")
    require(w >= 1, s"window must be >= 1 token, got $w")
    // page-sized checkpoint: `cands` feeds both the postings gate and
    // the result spine, and a lazy search page handed in as cands
    // would re-execute once per reference (the explainRrf disease,
    // r21). Skipped when the page is ALREADY materialized (a local
    // literal or a checkpointed frame) — re-checkpointing those pays
    // a blocking job and parks another block set until RDD GC (r22,
    // ADVICE item).
    val spine0 = cands.select(col("doc_id"))
    val page =
      if (isMaterialized(cands)) spine0 else spine0.localCheckpoint()
    // the page gates the pruned read as a broadcast semi-join
    val post = live(spark, path, prunedPostings(spark, path, terms)
      .join(broadcast(page), Seq("doc_id"), "left_semi"))
    val slotted = terms.zipWithIndex.foldLeft(page) { case (acc, (t, i)) =>
      acc.join(post.filter(col("term") === t)
          .select(col("doc_id"), col("positions").as(s"p$i")),
        Seq("doc_id"), "left_outer")
        .withColumn(s"p$i",
          coalesce(col(s"p$i"), expr("CAST(array() AS ARRAY<INT>)")))
    }
    val slots = terms.indices.map(i => s"p$i")
    val anchors = s"array_sort(concat(${slots.mkString(", ")}))"
    def score(p: String) = slots.map(s =>
      s"IF(exists($s, t -> t >= $p AND t < $p + $w), 1, 0)").mkString(" + ")
    // score each anchor ONCE, then argmax; anchors ascend and the
    // strict > keeps the first (earliest) maximum
    val best = s"""aggregate(
      transform($anchors, p -> named_struct('n', ${score("p")}, 'p', p)),
      named_struct('n', 0, 'p', -1),
      (acc, x) -> IF(x.n > acc.n, x, acc))"""
    slotted.select(col("doc_id"), expr(best).as("best"))
      .filter(col("best.n") > 0)
      .select(col("doc_id"), col("best.p").as("win_start"),
        col("best.n").as("n_terms"))
  }

  /** Did-you-mean — term suggestion against the term dictionary
    * (Lucene's DirectSpellChecker contract): candidates within
    * `maxDist` Levenshtein edits of `term`, ranked (distance ASC,
    * df DESC, term ASC) so the closest, most-attested correction
    * wins deterministically. Levenshtein is an exact integer in any
    * engine — nothing here can drift. The scan is vocabulary-sized
    * (Zipf-bounded, orders of magnitude under the corpus); at a
    * billion-term dictionary the scale path is
    * [[buildSymSpell]]/[[suggestTermsIndexed]] — built since r16 and
    * pinned byte-identical to this scan (q217) — which changes the
    * candidate read, not these semantics. An exact dictionary hit
    * still reports at distance 0, so the caller can tell "correctly
    * spelled" from "unknown word". */
  def suggestTerms(spark: SparkSession, path: String, term0: String,
                   maxDist: Int = 2, k: Int = 5): DataFrame = {
    require(maxDist >= 0 && k >= 1, s"bad maxDist=$maxDist / k=$k")
    val term = foldSuggestProbe(spark, path, term0)
    rankSuggestions(distScored(termDictionary(spark, path), term, maxDist), k)
  }

  /** Weighted multi-term scoring shared by [[searchTopKPrf]],
    * [[searchFuzzy]] and every verb that rewrites to a
    * term-with-weight OR (Lucene's rewritten BooleanQuery): each
    * contribution scaled by its term's weight, summed per doc.
    * Returns (doc_id, micros) unranked — callers rank under their own
    * column names. */
  private def scoreWeightedTerms(spark: SparkSession, path: String,
                                 weighted: Seq[(String, Long)]): DataFrame =
    contributionsWeighted(spark, path, weighted)
      .select(col("doc_id"), col("wm"))
      .groupBy(col("doc_id")).agg(sum(col("wm")).as("micros"))

  /** The per-(doc, term) frame the weighted-OR scorer aggregates and
    * [[explainScoreWeighted]] decomposes ([[contributions]]' weighted
    * sibling): the weight table broadcast in, the raw contribution `m`
    * and the weighted `wm` — which, unlike the multi-field fusion's,
    * applies PER POSTING ROW before the doc sum, so the weighted
    * explain is distributive and sum-exact. */
  private def contributionsWeighted(spark: SparkSession, path: String,
                                    weighted: Seq[(String, Long)],
                                    allow: Option[DataFrame] = None)
      : DataFrame = {
    val post = postings(spark, path, weighted.map(_._1), allow = allow)
    val wdf = spark.createDataFrame(weighted).toDF("term", "w")
    post.join(broadcast(wdf), Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("len"), col("w"), bm25(statsLits(spark, path)).as("m"))
      .withColumn("wm", weightedMicros("w", "m"))
  }

  /** [[explainScore]] for the weighted-OR family — every verb that
    * rewrites to a term-with-weight OR ([[searchFuzzy]]/
    * [[searchFuzzyIndexed]], [[searchTopKPrf]]'s final pass): the
    * per-(doc, term) decomposition of a weighted query's scores over
    * the candidate page `cands`, each row carrying the factors (tf,
    * df, len), the term's weight (micros of a full term), the raw
    * contribution `micros`, and the weighted contribution
    * `weighted_micros` — the scorer's own per-row split, so per-doc
    * Σ weighted_micros equals the verb's score to the last digit
    * (LexicalSpec pins it; q225 gates the fuzzy form). Callers pass
    * the SAME weighted term list the verb used — [[explainFuzzy]]
    * re-derives fuzzy's deterministically. */
  def explainScoreWeighted(spark: SparkSession, path: String,
                           weighted: Seq[(String, Long)],
                           cands: DataFrame): DataFrame = {
    require(weighted.nonEmpty, "weighted explain needs at least one term")
    contributionsWeighted(spark, path, weighted, Some(cands))
      .select(col("doc_id"), col("term"), col("w").as("weight"),
        col("tf"), col("df"), col("len"), col("m").as("micros"),
        col("wm").as("weighted_micros"))
      .orderBy(col("doc_id"), col("term"))
  }

  /** [[explainScoreWeighted]] with [[searchFuzzy]]'s own expansion:
    * re-runs the SAME deterministic rewrite (dictionary walk →
    * (dist ASC, df DESC, term) cap → integer similarity weights) and
    * decomposes the weighted OR over `cands` — "why did doc X match
    * my misspelling" as one call. Same preconditions as the verb. */
  def explainFuzzy(spark: SparkSession, path: String, term0: String,
                   cands: DataFrame, maxDist: Int = 2,
                   maxExpansions: Int = 16): DataFrame = {
    require(maxDist >= 1 && maxExpansions >= 1,
      s"bad maxDist=$maxDist / maxExpansions=$maxExpansions")
    val term = foldProbe(spark, path, term0, "fuzzy probe")
    explainScoreWeighted(spark, path,
      fuzzyWeights(
        editCandidates(spark, path, term, maxDist, maxExpansions),
        term, maxDist),
      cands)
  }

  // ---- SymSpell deletion-neighborhood index ---------------------------
  //
  // The billion-term scale path the dictionary verbs' Scaladocs have
  // been NAMING since r15, now built: suggest/fuzzy scan the whole
  // dictionary per call (Zipf-bounded, fine at fixture scale; a web
  // corpus's dictionary is 1e8-1e9 terms and a full scan per
  // keystroke is not a product). SymSpell (Garbe's symmetric-delete
  // algorithm, public domain): precompute every ≤maxDist-DELETION
  // variant of every dictionary term; at query time generate the
  // probe's own ≤maxDist deletion variants (≤ 1+L+L² strings, driver-
  // bounded) and join — the standard result that lev(a,b) ≤ d implies
  // a common string reachable by ≤d deletions from each side makes
  // the collision set a SUPERSET of the true candidates, and the
  // exact levenshtein verify on that tiny set makes the answer equal
  // the full scan's (q217's oracle IS the scan — hash-equality is the
  // proof). Layout: path/_symspell/vbucket=<b>/(variant, term, df),
  // vbucket = pmod(xxhash64(variant), NumBuckets) — the probe's
  // variant set prunes directories exactly like query terms prune
  // postings (at production bucket counts, ~500 variants open ≤500 of
  // 4096 dirs; the variant IN-list prunes row groups regardless).
  // The EMPTY-STRING variant is load-bearing: 'a'→{'a',''} and
  // 'b'→{'b',''} collide only on '' — dropping it would lose true
  // distance-1 matches between short terms.

  /** ≤`maxDist` deletion variants of `c` (the string itself
    * included), as a SQL array expression — ONE definition evaluated
    * by both the build plan and the query side (which runs it
    * through a 1-row plan, the bucketOf parity discipline: JVM
    * string ops on surrogate pairs need not match Spark's). */
  private def deletionVariantsSql(c: String, maxDist: Int): String = {
    // loud, not silent: a maxDist-3 caller getting <=2-deletion
    // variants would quietly break the superset guarantee
    require(maxDist >= 1 && maxDist <= 2,
      s"symspell supports maxDist 1..2, got $maxDist")
    val v1 = s"transform(sequence(1, length($c)), i -> " +
      s"concat(substring($c, 1, i - 1), substring($c, i + 1, length($c))))"
    if (maxDist == 1) s"array_distinct(concat(array($c), $v1))"
    else {
      val v2 = s"flatten(transform($v1, w -> " +
        "transform(sequence(1, length(w)), j -> " +
        "concat(substring(w, 1, j - 1), substring(w, j + 1, length(w))))))"
      s"array_distinct(concat(array($c), $v1, $v2))"
    }
  }

  // built-maxDist memo, invalidated by every rebuild — the analyzer
  // cache's shape (warm suggestions must not stat+read the meta file
  // per keystroke), including its generation-stamped entries: a
  // straddling read publishes a dead-on-arrival stamp, never a
  // permanently poisoned value.
  private val symspellCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (Long, Int)]
  private val symspellGen = scala.collection.concurrent.TrieMap
    .empty[String, Long]

  private def dropSymspellMemos(path: String): Unit = {
    symspellGen.updateWith(path)(g => Some(g.getOrElse(0L) + 1L))
    symspellCache.keys.filter(_._2 == path).foreach(symspellCache.remove)
  }

  /** Invalidate `path`'s `_symspell` sidecar AND its memos — called
    * by every write that changes the term dictionary the index
    * mirrors (build/compact/upsert/append/merge). Memos drop first
    * (an in-flight meta read must not publish a live stamp), then
    * meta, then the index — the meta-present-implies-index-present
    * invariant holds through any crash point, so the indexed verbs
    * fail with the named "buildSymSpell first" message, never an
    * obscure missing-path read and never a stale dictionary. */
  private def invalidateSymSpell(spark: SparkSession, path: String): Unit = {
    dropSymspellMemos(path)
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(s"$path/_symspellmeta", s"$path/_symspell").foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** The built maxDist of `path`'s `_symspell` index, or a loud
    * error naming [[buildSymSpell]] when there is none (including
    * the half-built crash state: the meta sidecar is deleted FIRST
    * on rebuild, so meta-present always implies index-present). */
  private def symspellDist(spark: SparkSession, path: String): Int = {
    val key = (IndexStore.sessionKey(spark), path)
    val g0 = symspellGen.getOrElse(path, 0L)
    symspellCache.get(key) match {
      case Some((g, d)) if g == g0 => d
      case _ =>
        val metaP = new org.apache.hadoop.fs.Path(s"$path/_symspellmeta")
        val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(metaP),
          s"no _symspell index at $path — buildSymSpell first")
        val d = Relations.parquet(spark, s"$path/_symspellmeta").head().getInt(0)
        // stamped with the generation observed BEFORE the read — a
        // rebuild landing mid-read self-invalidates this entry; the
        // conditional publish keeps a straggler from clobbering a
        // fresher entry (analyzerOf's avoidable-re-read argument)
        symspellCache.updateWith(key) {
          case fresher @ Some((g, _)) if g > g0 => fresher
          case _ => Some((g0, d))
        }
        if (symspellGen.getOrElse(path, 0L) == g0) d
        else symspellDist(spark, path) // a rebuild landed mid-read: retry
    }
  }

  /** Build the `_symspell` sidecar over the layout's term dictionary.
    * One dictionary pass: explode each term's deletion neighborhood,
    * hash-partition by variant. Rebuild after compact/upsert changes
    * the vocabulary (it derives from [[termDictionary]], so it serves
    * any segment count). */
  def buildSymSpell(spark: SparkSession, path: String,
                    maxDist: Int = 2): Unit = {
    import spark.implicits._
    // meta deleted FIRST (inside invalidateSymSpell): a rebuild that
    // dies between clearing the index and rewriting it leaves NO
    // meta, so the query side fails with the named buildSymSpell-
    // first message, never an obscure missing-path read of a
    // half-built index
    invalidateSymSpell(spark, path)
    termDictionary(spark, path)
      .select(col("term"), col("df"),
        explode(expr(deletionVariantsSql("term", maxDist))).as("variant"))
      .withColumn("vbucket", bucketCol(col("variant")))
      .repartition(NumBuckets, col("vbucket"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "static")
      .partitionBy("vbucket")
      .parquet(s"$path/_symspell")
    Seq(maxDist).toDF("max_dist").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/_symspellmeta")
    dropSymspellMemos(path)
    symspellCache((IndexStore.sessionKey(spark), path)) =
      (symspellGen.getOrElse(path, 0L), maxDist)
  }

  /** [[suggestTerms]] answered from the `_symspell` index instead of
    * a dictionary scan: generate the probe's deletion variants
    * plan-side (parity with the build), read ONLY their vbucket
    * directories with the variant IN-list pushed down, then the same
    * exact-levenshtein verify and (dist, df DESC, term) ranking —
    * byte-identical output to the scan path (q217 pins it by hash
    * against the scan oracle). */
  def suggestTermsIndexed(spark: SparkSession, path: String,
                          term0: String, maxDist: Int = 2,
                          k: Int = 5): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2 && k >= 1,
      s"bad maxDist=$maxDist / k=$k (symspell serves maxDist 1..2; " +
        "use suggestTerms for exact lookup)")
    val builtDist = symspellDist(spark, path)
    require(maxDist <= builtDist,
      s"index built for maxDist $builtDist, queried with $maxDist")
    val term = foldSuggestProbe(spark, path, term0)
    rankSuggestions(distScored(symspellCollisions(spark, path, term, maxDist),
      term, maxDist), k)
  }

  /** The symmetric-delete candidate read: the probe's deletion
    * variants (generated plan-side — build parity) prune the
    * `_symspell` read to their vbucket directories with the variant
    * IN-list pushed down; returns the distinct colliding (term, df)
    * set — a SUPERSET of every true ≤maxDist match, which the shared
    * [[distRanked]] verify then makes exact. */
  private def symspellCollisions(spark: SparkSession, path: String,
                                 term: String, maxDist: Int): DataFrame = {
    import spark.implicits._
    val probes = Seq(term).toDF("t")
      .select(explode(expr(deletionVariantsSql("t", maxDist))).as("v"))
      .collect().map(_.getString(0)).toSeq.distinct
    val buckets = probes.map(bucketOf).distinct
    Relations.parquet(spark, s"$path/_symspell")
      .filter(col("vbucket").isin(buckets.map(Integer.valueOf): _*) &&
        col("variant").isin(probes: _*))
      .select(col("term"), col("df")).distinct()
  }

  /** Fold a SUGGESTION probe to its single searched token — one
    * definition for the scan and indexed suggest paths (pinned
    * byte-identical, so their input validation must be too). A
    * did-you-mean corrects the ANALYZED token, so this folds the
    * full chain incl. the stem (an inflected probe exact-matches at
    * distance 0 — the r17-pinned semantic); the FUZZY verbs instead
    * take the multi-term bypass via [[foldProbe]]. A multi-token
    * fold keeps the first token: the caller is correcting ONE
    * word. */
  private def foldSuggestProbe(spark: SparkSession, path: String,
                               term0: String): String = {
    require(term0.nonEmpty, "suggest needs a non-empty term")
    foldQueryTerms(Seq(term0), analyzerOf(spark, path))
      .headOption.getOrElse(
        sys.error(s"'$term0' folds to nothing under this layout's analyzer"))
  }

  /** (term, df) candidates → distance-verified (term, df, dist) —
    * the shared head of every edit-distance verb; the indexed path
    * feeding its collision set here is what makes it provably
    * byte-identical to the scan. */
  private def distScored(cands: DataFrame, term: String, maxDist: Int): DataFrame =
    cands
      .select(col("term"), col("df"),
        levenshtein(col("term"), lit(term)).as("dist"))
      .filter(col("dist") <= maxDist)

  /** Dist ASC, df DESC, term ASC — the edit-distance verbs' order. */
  private def byDist: Seq[Column] = Seq(col("dist").asc, col("df").desc, col("term"))

  /** [[distScored]] candidates ranked by [[byDist]] and capped. */
  private def distRanked(cands: DataFrame, term: String, maxDist: Int,
                         limit: Int): DataFrame =
    distScored(cands, term, maxDist).orderBy(byDist: _*).limit(limit)

  /** The suggestion page: the top `k` by [[byDist]], numbered. */
  private def rankSuggestions(scored: DataFrame, k: Int): DataFrame =
    rankTop(scored, byDist, k, "sugg_rank", "sugg_rank", "term", "dist", "df")

  /** Dictionary candidates within `maxDist` edits of `term`, ranked
    * (distance ASC, df DESC, term ASC) and capped — the shared middle
    * of the scan-path fuzzy rewrites. */
  private def editCandidates(spark: SparkSession, path: String,
                             term: String, maxDist: Int,
                             limit: Int): DataFrame =
    distRanked(termDictionary(spark, path), term, maxDist, limit)

  /** Fuzzy search — Lucene's FuzzyQuery with its rewrite made
    * explicit and deterministic: expand `term` against the term
    * dictionary to the `maxExpansions` best candidates within
    * `maxDist` Levenshtein edits (distance ASC, df DESC, term ASC —
    * the [[suggestTerms]] ranking), weight each expansion by the
    * integer-exact similarity `⌊1e6·(maxDist+1−dist)/(maxDist+1)⌋`
    * (an exact term scores full weight, a 2-edit cousin a third at
    * maxDist 2 — Lucene boosts by `1−dist/len`, a float; this is the
    * quantized, engine-independent stand-in), and score the weighted
    * OR. The dictionary scan is
    * vocabulary-sized (the [[suggestTerms]] SymSpell note applies);
    * the driver round-trip is maxExpansions rows. */
  def searchFuzzy(spark: SparkSession, path: String, term0: String,
                  maxDist: Int = 2, k: Int = 10,
                  maxExpansions: Int = 16): DataFrame = {
    require(maxDist >= 1 && k >= 1 && maxExpansions >= 1,
      s"bad maxDist=$maxDist / k=$k / maxExpansions=$maxExpansions")
    // fuzzy is a rewritten MULTI-TERM query (Lucene FuzzyQuery
    // bypasses the analysis chain like Prefix/Wildcard/Regexp): the
    // probe folds lowercase-only on an `english` layout, so a probe
    // that IS a dictionary stem ('agre') matches at distance 0 at
    // full weight instead of being re-stemmed to 'agr'. The SUGGEST
    // family deliberately keeps the full fold ([[foldSuggestProbe]]
    // — a did-you-mean corrects the analyzed token, r17-pinned).
    // Like its siblings' probes (and Lucene's single-Term
    // FuzzyQuery), a probe that folds to SEVERAL tokens on an
    // analyzed layout ('data-driven') fails loudly here — suggest's
    // keep-first-token rule is a correction-UI convenience this
    // search verb does not inherit.
    val term = foldProbe(spark, path, term0, "fuzzy probe")
    fuzzyRank(spark, path,
      editCandidates(spark, path, term, maxDist, maxExpansions),
      term, maxDist, k)
  }

  /** Ranked+capped (term, dist) candidates → the fuzzy rewrite's
    * integer similarity weights `⌊1e6·(maxDist+1−dist)/(maxDist+1)⌋`
    * — factored so [[fuzzyRank]] and [[explainFuzzy]] provably weight
    * identically; the candidate collect is the maxExpansions-bounded
    * query-rows convention, and the empty case fails by name here. */
  private def fuzzyWeights(ranked: DataFrame, term: String,
                           maxDist: Int): Seq[(String, Long)] = {
    val cands = ranked.select(col("term"), col("dist"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
    require(cands.nonEmpty,
      s"no indexed term within $maxDist edits of '$term'")
    cands.map { case (t, dist) =>
      t -> (1000000L * (maxDist + 1 - dist)) / (maxDist + 1)
    }
  }

  /** The fuzzy rewrite's shared back half: ranked+capped (term, dist)
    * candidates → similarity weights → weighted-OR scoring → ranked
    * page. One definition for the scan ([[searchFuzzy]]) and indexed
    * ([[searchFuzzyIndexed]]) paths — they are pinned byte-identical
    * (q218's oracle is q209's), so their scoring must be one code
    * path. */
  private def fuzzyRank(spark: SparkSession, path: String,
                        ranked: DataFrame, term: String, maxDist: Int,
                        k: Int): DataFrame = {
    val scored = scoreWeightedTerms(spark, path,
      fuzzyWeights(ranked, term, maxDist))
      .withColumnRenamed("micros", "fuzzy_micros")
    rankTop(scored, desc("fuzzy_micros"), k, "fuzzy_rank", "doc_id", "fuzzy_rank", "fuzzy_micros")
  }

  /** [[searchFuzzy]] answered from the `_symspell` index: the
    * probe's deletion variants prune the collision read (the
    * [[suggestTermsIndexed]] candidate path), then the SAME
    * distance-ranked cap, similarity weights and weighted-OR scoring
    * — the per-keystroke fuzzy query at a billion-term dictionary,
    * byte-identical to the scan rewrite by construction (q218 pins
    * it against q209's oracle). */
  def searchFuzzyIndexed(spark: SparkSession, path: String, term0: String,
                         maxDist: Int = 2, k: Int = 10,
                         maxExpansions: Int = 16): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2 && k >= 1 && maxExpansions >= 1,
      s"bad maxDist=$maxDist / k=$k / maxExpansions=$maxExpansions")
    val builtDist = symspellDist(spark, path)
    require(maxDist <= builtDist,
      s"index built for maxDist $builtDist, queried with $maxDist")
    // same multi-term analysis-chain bypass as [[searchFuzzy]] — the
    // two paths are pinned byte-identical, so they must fold alike
    val term = foldProbe(spark, path, term0, "fuzzy probe")
    fuzzyRank(spark, path,
      distRanked(symspellCollisions(spark, path, term, maxDist),
        term, maxDist, maxExpansions),
      term, maxDist, k)
  }

  /** Multi-token did-you-mean — the per-position generalization of
    * [[suggestTermsIndexed]] (Lucene's PhraseSuggester contract: a
    * two-word query with a typo in word two gets a whole-query
    * correction, which single-term suggest cannot express): each
    * query position expands independently against the `_symspell`
    * deletion index (symmetric-delete collisions → exact levenshtein
    * verify → the q203 (dist ASC, df DESC, term ASC) rank, capped at
    * `perSlot`), then the corrected QUERY is the joint re-rank of
    * the per-slot candidate cross by CORPUS SUPPORT — total df DESC,
    * ties by total edit distance ASC then phrase ASC — so the
    * correction the corpus attests most wins deterministically.
    *
    * Scale shape: per-slot candidate reads are vbucket-pruned with
    * the variant IN-list pushed down (the q217 path, once per slot);
    * each slot round-trips ≤`perSlot` rows to the driver (the
    * fuzzyRank query-rows convention) and the joint cross is
    * driver-local — ≤perSlot^m rows for an m-token query,
    * query-sized, never corpus-sized. A slot with no candidate
    * within `maxDist` fails loudly naming the token (a silent
    * keep-the-typo would un-correct the query while still reporting
    * corrections). */
  def suggestPhrase(spark: SparkSession, path: String, phrase: Seq[String],
                    maxDist: Int = 2, perSlot: Int = 4,
                    k: Int = 5): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2 && perSlot >= 1 && k >= 1,
      s"bad maxDist=$maxDist / perSlot=$perSlot / k=$k " +
        "(symspell serves maxDist 1..2)")
    val builtDist = symspellDist(spark, path)
    require(maxDist <= builtDist,
      s"index built for maxDist $builtDist, queried with $maxDist")
    val terms = foldQueryTerms(phrase.filter(_.nonEmpty),
      analyzerOf(spark, path))
    require(terms.size >= 2,
      s"a phrase suggestion needs at least two tokens, got $terms — " +
        "use suggestTermsIndexed for one")
    // the combo enumeration below is perSlot^|tokens| driver-side
    // tuples: bounded-input guard like every sibling verb's (Lucene's
    // suggesters cap phrase expansion the same way) — at the cap,
    // 4^8 = 65536 tuples, still query-sized; a pathological 20-token
    // phrase would be ~10^12 and must fail loudly instead
    require(terms.size <= 8,
      s"phrase suggestion serves at most 8 tokens, got ${terms.size} " +
        s"($terms) — correct longer queries per clause")
    // ...and the exponent's BASE needs the same cap: the token guard
    // alone still admits perSlot=50 × 8 tokens ≈ 4e13 tuples. Bound
    // the PRODUCT directly (the quantity the fold below materializes)
    // so any (perSlot, tokens) pair a caller picks either stays
    // query-sized or fails loudly here.
    require(math.pow(perSlot.toDouble, terms.size.toDouble) <= 65536.0,
      s"perSlot=$perSlot over ${terms.size} tokens enumerates " +
        s"~$perSlot^${terms.size} candidate phrases — cap is 65536 " +
        "(= 4^8); lower perSlot or shorten the phrase")
    // per-slot candidates round-trip the driver (≤perSlot rows each —
    // the fuzzyRank query-rows convention), which is also where an
    // empty slot fails by name
    val slots: Seq[Seq[(String, Long, Int)]] = terms.map { t =>
      val cands = distRanked(symspellCollisions(spark, path, t, maxDist),
          t, maxDist, perSlot)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
        .toSeq
      require(cands.nonEmpty,
        s"no indexed term within $maxDist edits of '$t' — cannot " +
          "correct this position")
      cands
    }
    val combos = slots.foldLeft(Seq((List.empty[String], 0L, 0))) {
      case (acc, cands) => for {
        (p, df, dist) <- acc
        (t, tdf, tdist) <- cands
      } yield (p :+ t, df + tdf, dist + tdist)
    }.map { case (ts, df, dist) => (ts.mkString(" "), dist, df) }
    import spark.implicits._
    rankTop(combos.toDF("phrase", "total_dist", "total_df"),
      Seq(col("total_df").desc, col("total_dist").asc, col("phrase")), k,
      "sugg_rank", "sugg_rank", "phrase", "total_dist", "total_df")
  }

  /** Wildcard (infix-contains) search — Lucene's WildcardQuery for
    * the `*needle*` pattern, INCLUDING the leading-wildcard case its
    * docs warn about: a hash-bucketed postings layout cannot prune
    * any wildcard, and neither can Lucene's sorted terms index — both
    * pay a full dictionary walk. Here that walk is the
    * vocabulary-sized `_segvocab` scan (Zipf-bounded
    * metadata, never the corpus), capped by the same df-ranked
    * maxExpansions rewrite as [[searchPrefix]], then scored through
    * the layout's own rank path. */
  def searchWildcard(spark: SparkSession, path: String, needle0: String,
                     k: Int = 10, maxExpansions: Int = 16): DataFrame = {
    val needle = foldProbe(spark, path, needle0, "wildcard needle")
    val expanded = expandDictionary(spark, path,
      col("term").contains(needle), maxExpansions,
      s"no indexed term contains '$needle' — nothing to search")
    rankAnalyzed(spark, path, expanded, k)
  }

  /** Lowercase a dictionary pattern through the SAME Catalyst Lower
    * tree the analyzers use (the bucketOf parity discipline — a JVM
    * locale lowercase need not agree with the plan's) — the shared
    * head of [[searchGlob]] and [[searchRegexp]]. */
  private def lowerPattern(pattern0: String, what: String): String = {
    require(pattern0.nonEmpty, s"$what must be non-empty")
    import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
    Lower(Literal(pattern0)).eval(null).toString
  }

  /** General wildcard search — Lucene's WildcardQuery with `*` and
    * `?` allowed ANYWHERE in the pattern ([[searchWildcard]] serves
    * only the infix `*needle*` form; this serves `ne*dle`, `n??dle`
    * and the leading-wildcard forms Lucene's docs warn about): the
    * pattern lowercases through the same Catalyst Lower tree the
    * analyzers use (glob metachars are case-fold-invariant),
    * translates to an ANCHORED regex — `*` → `.*`, `?` → `.`;
    * literal characters are restricted to `[a-z0-9]`, which are
    * never regex-special, so the translation needs no escaping and
    * Spark's and any oracle engine's regex semantics provably agree
    * — and walks the `_segvocab` dictionary with `rlike`:
    * the same vocabulary-sized scan (no engine can prune a leading
    * wildcard), the same df-ranked `maxExpansions` rewrite cap, then
    * the layout's own rank path. On an `english`
    * layout the dictionary holds stems and the pattern matches them
    * verbatim (a glob cannot be stemmed — Lucene's multi-term
    * queries likewise bypass the analysis chain). */
  def searchGlob(spark: SparkSession, path: String, pattern0: String,
                 k: Int = 10, maxExpansions: Int = 16): DataFrame = {
    val (lowered, pred) = globTermPred(pattern0)
    val expanded = expandDictionary(spark, path, pred, maxExpansions,
      s"no indexed term matches glob '$lowered' — nothing to search")
    rankAnalyzed(spark, path, expanded, k)
  }

  /** Validate + translate a glob to its anchored dictionary-match
    * predicate — ONE definition for [[searchGlob]] and
    * [[searchParsed]]'s wildcard atoms, so the pinned glob-regexp
    * subsumption holds for both entry points. */
  private def globTermPred(pattern0: String): (String, Column) = {
    val lowered = lowerPattern(pattern0, "glob pattern")
    require(lowered.matches("[a-z0-9*?]+"),
      s"glob pattern must be [a-z0-9*?]+ after lowering, got '$lowered'")
    require(lowered.exists(c => c != '*' && c != '?'),
      "glob pattern needs at least one literal character")
    val rx = "^" + lowered.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c => c.toString
    } + "$"
    (lowered, col("term").rlike(rx))
  }

  /** Regexp query — Lucene's RegexpQuery, the last multi-term query
    * form after prefix ([[searchPrefix]]), infix ([[searchWildcard]])
    * and glob ([[searchGlob]]): expand a regular expression against
    * the term dictionary, cap, score. Pattern contract (the
    * documented escaping rule — REJECT, don't escape-translate):
    * after lowercasing through the same Catalyst Lower tree the
    * analyzers use, the pattern may contain only `[a-z0-9]` literals
    * and the operators `. * + ? | ( ) [ ] -` — character classes
    * over `[a-z0-9]` with ranges included. On that subset Java's
    * regex (Spark's `rlike`) and the RE2/POSIX family agree exactly:
    * no backslash escapes, no brace quantifiers, no anchors or
    * negated classes — every construct where engine dialects diverge
    * is outside the grammar, so an oracle engine provably matches
    * the same terms. The pattern is compiled driver-side first, so
    * an ill-formed one (unbalanced parens, dangling quantifier)
    * fails loudly by name before any read. Anchored `^...$` —
    * Lucene's RegexpQuery matches the WHOLE term, and anchoring also
    * aligns partial-match engines (DuckDB `regexp_matches`). Then
    * the same vocabulary-sized dictionary walk as [[searchGlob]] (no
    * hash-bucketed — or sorted — terms index can prune a general
    * regexp; Lucene intersects its FST the same way), the same
    * df-ranked `maxExpansions` rewrite cap, and the layout's own
    * rank path with pre-analyzed expansions. On an
    * `english` layout the dictionary holds stems and the pattern
    * matches them verbatim (the multi-term analysis-chain bypass). */
  def searchRegexp(spark: SparkSession, path: String, pattern0: String,
                   k: Int = 10, maxExpansions: Int = 16): DataFrame = {
    val lowered = lowerPattern(pattern0, "regexp pattern")
    require(lowered.matches("""[a-z0-9.*+?|()\[\]\-]+"""),
      s"regexp pattern may contain only [a-z0-9] literals and the " +
        s"operators . * + ? | ( ) [ ] - after lowering, got '$lowered'")
    // stacked quantifiers ('a*+', 'a++') pass the character grammar
    // above but are POSSESSIVE quantifiers to java.util.regex (which
    // can change match EXISTENCE under backtracking) while the
    // RE2/POSIX family rejects them; reluctant forms ('a*?') agree on
    // existence but ride the same adjacency and stay rejected for the
    // grammar's simplicity (the reject-don't-translate rule). INSIDE
    // a character class, '*'/'+'/'?' are literals in BOTH dialects —
    // 'x[*+]y' is portable and passes — so the adjacency scan blanks
    // class contents first (no nesting or escapes exist in this
    // grammar; the first ']' closes).
    val outsideClasses = {
      val sb = new StringBuilder
      var inClass = false
      lowered.foreach {
        case '[' if !inClass => inClass = true; sb += '['
        case ']' if inClass => inClass = false; sb += ']'
        case c => sb += (if (inClass) 'a' else c)
      }
      sb.toString
    }
    require(!outsideClasses.matches(""".*[*+?][*+?].*"""),
      s"stacked quantifiers (possessive/reluctant/double, in " +
        s"'$lowered') are outside the portable grammar — java and " +
        "RE2/POSIX dialects diverge on possessive forms; rewrite " +
        "without adjacent * + ? outside character classes")
    val rx =
      try { java.util.regex.Pattern.compile(lowered); "^" + lowered + "$" }
      catch {
        case e: java.util.regex.PatternSyntaxException =>
          throw new IllegalArgumentException(
            s"invalid regexp '$lowered': ${e.getDescription}")
      }
    val expanded = expandDictionary(spark, path,
      col("term").rlike(rx), maxExpansions,
      s"no indexed term matches regexp '$lowered' — nothing to search")
    rankAnalyzed(spark, path, expanded, k)
  }

  /** More-like-this — Lucene's MoreLikeThisQuery: mine the best
    * `maxTerms` query terms from ONE document's text by the same
    * quantized Robertson selection value [[searchTopKPrf]] uses for
    * its feedback set (bm25Micros with the doc's tf/len and the
    * INDEX's df/stats — rare-in-corpus, frequent-in-doc terms win),
    * then run the ordinary top-k search with them. `docs` is the
    * forward corpus the layout was built from (the PRF argument: an
    * inverted layout cannot enumerate one doc's terms without a full
    * scan, the forward table serves exactly that direction as an
    * id-pruned read). The q115 flagship query is the DEGENERATE form
    * of this verb (all of doc 0's terms, unweighted); the selection
    * cap is what makes it usable on long documents, where querying
    * every term floods the bucket pruning. The source doc itself
    * ranking first is correct more-like-this behavior. */
  def moreLikeThis(spark: SparkSession, path: String, docs: DataFrame,
                   docId: Any, maxTerms: Int = 8, k: Int = 10,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(maxTerms >= 1 && k >= 1, s"bad maxTerms=$maxTerms / k=$k")
    val analyzer = analyzerOf(spark, path)
    val docTf = termFreqs(
        docs.filter(col(idCol) === lit(docId))
          .select(col(idCol).as("doc_id"), col(textCol).as("text")),
        analyzer)
      .localCheckpoint() // one doc's distinct terms — bounded
    val docLen = docTf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("len"))
    val cands = docTf.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq
    require(cands.nonEmpty, s"doc $docId has no indexed terms")
    val selected = selectTerms(spark, path,
      docTf.join(docLen, "doc_id").select(col("term"), col("tf"), col("len")),
      cands, maxTerms)
    // mined terms came out of termFreqs under the layout analyzer —
    // already stems on an `english` layout, so they must not fold
    // again (rankAnalyzed's Porter-non-idempotence argument)
    rankAnalyzed(spark, path, selected, k)
  }

  /** BATCH lexical top-`k`: every query answered from ONE postings
    * scan pruned to the UNION of all queries' term buckets — a
    * broadcast (query_id, term) table fans each posting row to only
    * the queries that contain its term, then per-query exact-integer
    * aggregation and window ranks (the searchTopKIvfBatch shape:
    * amortized scan, narrow rank exchanges carrying (query_id,
    * doc_id, micros)). `queries` = (query_id, queryText); text is
    * tokenized with the build's split rule. */
  def searchTopKLexicalBatch(spark: SparkSession, path: String,
                             queries: Seq[(Long, String)], k: Int = 10,
                             where: Option[Column] = None,
                             allow: Option[DataFrame] = None): DataFrame = {
    val batchAnalyzer = analyzerOf(spark, path)
    val qTerms = queries.flatMap { case (qid, text) =>
      foldQueryTerms(text.split(" ").filter(_.nonEmpty).toSeq, batchAnalyzer)
        .distinct.map(qid -> _)
    }
    require(qTerms.nonEmpty, "batch lexical search needs at least one term")
    val post = postings(spark, path, qTerms.map(_._2), where, allow)
    import spark.implicits._
    val scored = post.join(broadcast(qTerms.toDF("query_id", "term")), Seq("term"))
      .select(col("query_id"), col("doc_id"), bm25(statsLits(spark, path)).as("micros"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("micros")).as("lex_micros"))
    rankPerQuery(scored, desc("lex_micros"), k, "lex_rank",
      "query_id", "doc_id", "lex_rank", "lex_micros")
  }

  // ---- parsed query execution (Lucene QueryParser subset) -----------

  /** The doc_id MATCH SET of a phrase over a positional layout —
    * [[searchPhrase]]'s adjacency test (slop 0) or
    * [[searchSpanNear]]'s ordered-span test (slop > 0) WITHOUT the
    * rank: [[searchParsed]]'s phrase clauses gate on this set (a must
    * phrase admits, a should phrase selects who gets its score), so
    * it must be the whole match set, not a top-k page — and dropping
    * the window keeps it a filter over the pruned positional read,
    * nothing global. Same [[positionalSlots]] read, same rarest-first
    * join order, same fold expressions as the ranked verbs. */
  private def phraseMatchSet(spark: SparkSession, path: String,
                             terms: Seq[String], slop: Int): DataFrame = {
    require(terms.size >= 2, "a phrase needs at least two terms")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    phraseFrame(spark, path, terms, Some(slop).filter(_ > 0)).select(col("doc_id"))
  }

  /** Execute a [[QueryParser.Parsed]] query — the engine's answer to
    * Lucene's `QueryParser.parse(...)` + `IndexSearcher.search(...)`
    * pair: every clause resolves through the SAME internals its
    * standalone verb uses (one analyzer fold per clause at entry;
    * dictionary atoms fold with the lowercase-only probe rule — the
    * r18 multi-term bypass; expansion caps and loud empty-expansion
    * failures identical), so a parsed query provably scores like the
    * hand-assembled calls it abbreviates (LexicalSpec pins the
    * boolean and pure-OR equivalences).
    *
    * `fields` maps query field names to scoring layouts;
    * `positional` maps the fields that may carry phrase clauses to
    * their positional layouts (a phrase on an unmapped field fails
    * loudly — position data cannot be conjured from a frequency
    * layout). Semantics per [[QueryParser]]'s contract:
    *
    *  - each clause has a MATCH SET and (unless MUST_NOT) a per-doc
    *    integer subtotal: a term's [[bm25Micros]] sum; a dictionary
    *    atom's expansion scored like its verb (prefix/glob: df-ranked
    *    cap then plain sum; fuzzy: similarity-weighted split sum); a
    *    phrase GATES on the positional match set ([[phraseMatchSet]])
    *    and scores its terms' ordinary BM25 over the scoring layout —
    *    one scale (micros of the shared kernel) for every clause,
    *    which is what makes the fused sum meaningful and exact
    *    (Lucene's phraseFreq saturation is a different curve;
    *    documented divergence, chosen for the integer-exact contract);
    *  - a GROUP clause `(...)` combines its inner clauses by the same
    *    candidate rule ([[candidateRule]] — the nested boolean),
    *    scores as the Σ of inner scoring subtotals over its own match
    *    set, and then gates/boosts in the outer query as ONE clause;
    *    a RANGE clause `[lo TO hi]` expands through
    *    [[expandTermRange]] exactly like [[searchTermRange]];
    *  - a clause whose text folds away under its field's analyzer
    *    DROPS silently (Lucene's stopword-clause behavior) — even a
    *    must clause: analyzer-consumed tokens never gate;
    *  - `^n` boosts floor at the per-(clause, doc) SUBTOTAL via the
    *    overflow-safe split (the [[searchTopKFields]] rule; a
    *    group's subtotal is the group Σ, floored once per group);
    *  - candidates: every MUST set intersected minus every MUST_NOT
    *    set; no musts → union of SHOULD sets (minShouldMatch=1,
    *    [[searchBoolean]]'s rule); a candidate ranks only if some
    *    scoring clause is present for it;
    *  - score: Σ boosted clause subtotals over must+should clauses,
    *    ranked (parsed_micros DESC, doc_id), top-k.
    *
    * Execution is the [[clauseCore]]: one bucket-pruned postings read
    * per scoring layout over the union of every clause's terms, one
    * aggregate per doc carrying every clause's presence count and
    * subtotal (and each phrase's match flag), the candidate rule as
    * one predicate over them, and the rank. Driver work is the parse
    * plus the query-sized expansion round-trips. */
  def searchParsed(spark: SparkSession, parsed: QueryParser.Parsed,
                   fields: Map[String, String], defaultField: String,
                   positional: Map[String, String] = Map.empty,
                   k: Int = 10, maxExpansions: Int = 16): DataFrame =
    rankTop(parsedCore(spark, parsed, fields, defaultField, positional,
        maxExpansions)._1,
      desc("parsed_micros"), k, "parsed_rank", "doc_id", "parsed_rank", "parsed_micros")


  // ---- the boolean clause core ---------------------------------------
  //
  // Every multi-clause lexical verb ([[searchBoolean]],
  // [[explainBoolean]], [[searchParsed]], [[explainParsed]],
  // [[explainParsedTopK]]) compiles to a list of [[CoreClause]]s and
  // runs [[clauseCore]]: resolve (driver side, by the caller) → one
  // postings read per scoring layout → one per-doc aggregate → the
  // candidate rule as one predicate → Σ boosted subtotals → rank.

  /** One atom RESOLVED to its read requirements — the driver-side
    * folding/expansion half of a clause. Resolution is byte-for-byte
    * the standalone verbs' (same folds, same expansion caps, same loud
    * empty-expansion failures). */
  private sealed trait ResolvedAtom { def path: String }
  /** Plain term set (term / prefix / wildcard / range expansions) —
    * scores as an unweighted BM25 sum. */
  private case class RTerms(path: String, terms: Seq[String])
    extends ResolvedAtom
  /** Similarity-weighted expansion (fuzzy) — scores by the per-row
    * overflow-safe split ([[contributionsWeighted]]'s rule). */
  private case class RWeighted(path: String, weighted: Seq[(String, Long)])
    extends ResolvedAtom
  /** Positional-gated phrase: `matches` is the adjacency match set
    * over the POSITIONAL layout; scoring is the terms' ordinary BM25
    * over the scoring layout restricted to that set. */
  private case class RPhrase(path: String, scoreTerms: Seq[String],
                             matches: DataFrame) extends ResolvedAtom

  /** One clause of the core: its `occur` and `boost` (micros) in the
    * outer query, over `atoms`, each with its inner occur. A simple
    * clause is one SHOULD atom; a group holds its inner clauses, which
    * combine by the same [[candidateRule]] as the outer query. */
  private case class CoreClause(occur: QueryParser.Occur, boost: Long,
                                atoms: Seq[(QueryParser.Occur, ResolvedAtom)])

  private def termsOf(a: ResolvedAtom): Seq[String] = a match {
    case RTerms(_, ts) => ts
    case RWeighted(_, w) => w.map(_._1)
    case RPhrase(_, ts, _) => ts
  }

  /** THE boolean candidate rule over per-doc match flags: every MUST
    * flag, no MUST_NOT flag, and at least `minShouldMatch` SHOULD
    * flags — at least one when there is no MUST (the union of the
    * SHOULDs). One definition for [[searchBoolean]], the outer parsed
    * query and each group's inner combination, so a group provably
    * gates like a nested boolean query. */
  private def candidateRule(flags: Seq[(QueryParser.Occur, Column)],
                            minShouldMatch: Int): Column = {
    import QueryParser._
    def of(o: Occur) = flags.collect { case (`o`, f) => f }
    val need = if (of(Must).isEmpty) math.max(minShouldMatch, 1) else minShouldMatch
    val should =
      if (need <= 0) lit(true)
      else if (need == 1) of(Should).reduce(_ || _)
      else of(Should).map(f => when(f, 1).otherwise(0)).reduce(_ + _) >= need
    (of(Must) :+ should).reduce(_ && _) && !of(MustNot).foldLeft(lit(false))(_ || _)
  }

  /** The clause core. One [[contributions]] read per scoring layout
    * over the union of its clauses' terms (bucket prune, tombstone
    * mask, `allow`, [[bm25]]), and each phrase clause's
    * [[phraseMatchSet]] as rows of the same union, feed ONE
    * `groupBy(doc_id)`: per atom a presence count `n` and a subtotal
    * `s` (per-posting [[weightedMicros]] for a fuzzy expansion), per
    * phrase a match count `f`. Presence is a row count, not `s > 0`:
    * a BM25 contribution can floor to 0. Over those columns the
    * candidate rule is one predicate (groups included), a document
    * ranks only if some scoring clause is present for it, and `score`
    * is Σ [[weightedMicros]](boost, subtotal) over the scoring
    * clauses. Out: doc_id; per scoring clause k (the k-th non-
    * MUST_NOT clause) its presence `p<k>` and boosted subtotal
    * `wm<k>`; with `withRows`, the scoring posting rows as `rows`
    * ([[explainBoolean]]'s decomposition); then `score`. */
  private def clauseCore(spark: SparkSession, clauses: Seq[CoreClause], score: String,
                         minShouldMatch: Int = 0, allow: Option[DataFrame],
                         withRows: Boolean = false): DataFrame = {
    import QueryParser._
    val atoms = clauses.flatMap(_.atoms.map(_._2)).zipWithIndex
    atoms.foreach { case (a, _) =>
      require(termsOf(a).nonEmpty, "lexical search needs at least one term")
    }
    val layouts = atoms.map(_._1.path).distinct
    val reads = layouts.zipWithIndex.map { case (p, l) =>
      contributions(spark, p, atoms.filter(_._1.path == p).flatMap(a => termsOf(a._1)).distinct,
        allow = allow).withColumn("src", lit(l))
    }
    val phraseRows = atoms.collect { case (RPhrase(_, _, m), j) =>
      m.select(col("doc_id"), lit(j).as("phrase"))
    }
    val input = atoms.foldLeft((reads ++ phraseRows).reduce(_.unionByName(_, true))) {
      case (in, (RWeighted(_, w), j)) => in.withColumn(s"w$j", element_at(typedLit(w.toMap), col("term")))
      case (in, _) => in
    }
    def rowOf(a: ResolvedAtom) =
      col("src") === layouts.indexOf(a.path) && col("term").isin(termsOf(a): _*)
    val perAtom = atoms.flatMap { case (a, j) =>
      val v = when(rowOf(a), a match {
        case _: RWeighted => weightedMicros(s"w$j", "micros")
        case _ => col("micros")
      })
      Seq(count(v).as(s"n$j"), sum(v).as(s"s$j")) ++ (a match {
        case _: RPhrase => Seq(count(when(col("phrase") === j, 1)).as(s"f$j"))
        case _ => Nil
      })
    }
    val scoringAtoms = clauses.filter(_.occur != MustNot)
      .flatMap(_.atoms.filter(_._1 != MustNot).map(_._2))
    val rows =
      if (!withRows) Nil
      else Seq(collect_list(when(scoringAtoms.map(rowOf).reduce(_ || _),
        struct(col("term"), col("tf"), col("df"), col("len"), col("micros")))).as("rows"))
    val agg = input.groupBy(col("doc_id")).agg(perAtom.head, perAtom.tail ++ rows: _*)
    val keepRows = if (withRows) Seq(col("rows")) else Nil
    // per atom: matched (its match set holds the doc) and present
    // (matched, with scoring rows)
    val j0 = clauses.scanLeft(0)(_ + _.atoms.size)
    def matched(a: ResolvedAtom, j: Int) = a match {
      case _: RPhrase => col(s"f$j") > 0
      case _ => col(s"n$j") > 0
    }
    def present(a: ResolvedAtom, j: Int) = matched(a, j) && col(s"n$j") > 0
    val perClause = clauses.zip(j0).map { case (c, j) =>
      val inner = c.atoms.zipWithIndex.map { case ((o, a), d) => (o, a, j + d) }
      val scoring = inner.filter(_._1 != MustNot)
      val m = candidateRule(inner.map { case (o, a, ja) => o -> matched(a, ja) }, 0)
      val p = m && scoring.map { case (_, a, ja) => present(a, ja) }.reduce(_ || _)
      val sub = scoring.map { case (_, a, ja) =>
        when(present(a, ja), col(s"s$ja")).otherwise(0L)
      }.reduce(_ + _)
      (m, p, sub)
    }
    val flagged = agg.select(Seq(col("doc_id")) ++
      perClause.zipWithIndex.flatMap { case ((m, p, sub), i) =>
        Seq(m.as(s"m$i"), p.as(s"q$i"), sub.as(s"t$i"))
      } ++ keepRows: _*)
    // scoring clause k (position i among all clauses) → p<k>, wm<k>
    val scoring = clauses.indices.filter(clauses(_).occur != MustNot).zipWithIndex
    val gate = candidateRule(clauses.zipWithIndex.map { case (c, i) => c.occur -> col(s"m$i") },
        minShouldMatch) && scoring.map { case (i, _) => col(s"q$i") }.reduce(_ || _)
    flagged.filter(gate)
      .select(Seq(col("doc_id")) ++ scoring.flatMap { case (i, k) =>
          Seq(col(s"q$i").as(s"p$k"), when(col(s"q$i"),
            weightedMicros(s"${clauses(i).boost}L", s"t$i")).otherwise(0L).as(s"wm$k"))
        } ++ keepRows: _*)
      .withColumn(score, scoring.map { case (_, k) => col(s"wm$k") }.reduce(_ + _))
  }

  /** Bounded daemon pool for independent driver round-trips (the
    * parsed path's dictionary expansions, the write path's
    * materializations) — each thunk fires its own jobs; the scheduler
    * back-fills them concurrently (guide §2.6). */
  private lazy val prepPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => {
        val t = new Thread(r, "graft-parsed-prep")
        t.setDaemon(true)
        t
      })

  /** True when `df` is already a materialized frame — a checkpoint's
    * LogicalRDD or a driver-local relation — possibly under
    * projections/aliases: re-referencing it is cheap (no upstream
    * re-execution), so callers that checkpoint defensively against
    * the lazy-page re-execution disease can skip the extra
    * materialization job for it. */
  private def isMaterialized(df: DataFrame): Boolean = {
    @scala.annotation.tailrec
    def base(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project
          if pr.projectList.forall(_.deterministic) => base(pr.child)
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        base(a.child)
      case other => other
    }
    base(df.queryExecution.analyzed) match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }
  }

  /** Set on a thread while it runs an [[awaitInOrder]] task. */
  private val inPrepTask = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Run independent thunks concurrently, return results in input
    * order; the first failure IN INPUT ORDER rethrows, so error
    * reporting is indistinguishable from the serial form. Each task
    * runs under the submitting thread's local properties, so its jobs
    * carry the caller's job group and profile marker. */
  private[graft] def awaitInOrder[A](thunks: Seq[() => A]): Seq[A] =
    // caller-runs fallback when already inside a prepPool task: a
    // nested awaitInOrder would park this pool thread in f.get()
    // while its children queue behind it — pool-exhaustion deadlock
    if (thunks.size <= 1 || inPrepTask.get) thunks.map(_())
    else thunks
      .map(th => prepPool.submit(new java.util.concurrent.Callable[A] {
        private val props = org.apache.spark.graft.LocalProperties.capture()
        override def call(): A = org.apache.spark.graft.LocalProperties.runWith(props) {
          inPrepTask.set(true)
          try th() finally inPrepTask.set(false)
        }
      }))
      .map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }

  private def resolveSimpleAtom(spark: SparkSession, fieldName: String,
                                path: String,
                                positional: Map[String, String],
                                atom: QueryParser.Atom,
                                maxExpansions: Int): Option[ResolvedAtom] = {
    import QueryParser._
    val analyzer = analyzerOf(spark, path)
    atom match {
      case TermAtom(t) =>
        val terms = analyzedTerms(spark, path, Seq(t))
        if (terms.isEmpty) None else Some(RTerms(path, terms))
      case PhraseAtom(words, slop) =>
        val posPath = positional.getOrElse(fieldName, sys.error(
          s"phrase clause on field '$fieldName' needs a positional " +
            s"layout — pass positional = Map(\"$fieldName\" -> path)"))
        val posTerms = foldQueryTerms(words,
          analyzerOf(spark, posPath)).filter(_.nonEmpty)
        // Lucene's stopword-reduced PhraseQuery degrade: on an
        // analyzed layout "the merge" folds to one token and
        // becomes a TERM clause (no adjacency left to gate on);
        // a pure-stopword phrase folds away and DROPS like any
        // analyzer-consumed clause — never an error
        posTerms.size match {
          case 0 => None
          case 1 =>
            // the POSITIONAL analyzer decides the degrade (gate
            // side) AND which word survived; only THAT word scores —
            // translated into the SCORING field's analyzer like any
            // term clause (the two layouts may carry different
            // chains, r19 advisor note). Folding ALL words here
            // would re-admit positionally-consumed stopwords into
            // the clause's ungated match set — Lucene's degrade is
            // TermQuery(the surviving term), nothing more.
            val survivors = words.filter(w =>
              foldQueryTerms(Seq(w), analyzerOf(spark, posPath))
                .exists(_.nonEmpty))
            val scoreTerms = foldQueryTerms(survivors, analyzer)
              .filter(_.nonEmpty).distinct
            if (scoreTerms.isEmpty) None else Some(RTerms(path, scoreTerms))
          case _ =>
            val scoreTerms = foldQueryTerms(words, analyzer)
              .filter(_.nonEmpty).distinct
            Some(RPhrase(path, scoreTerms,
              phraseMatchSet(spark, posPath, posTerms, slop)))
        }
      case PrefixAtom(p0) =>
        val p = foldProbe(spark, path, p0, "prefix")
        val expanded = expandDictionary(spark, path,
          col("term").startsWith(p), maxExpansions,
          s"no indexed term starts with '$p' — nothing to search")
        Some(RTerms(path, expanded))
      case WildcardAtom(pat0) =>
        val (lowered, pred) = globTermPred(pat0)
        val expanded = expandDictionary(spark, path, pred, maxExpansions,
          s"no indexed term matches glob '$lowered' — nothing to search")
        Some(RTerms(path, expanded))
      case RangeAtom(lo, hi, inclLo, inclHi) =>
        Some(RTerms(path, expandTermRange(spark, path, lo, hi, inclLo,
          inclHi, maxExpansions)))
      case FuzzyAtom(t, d) =>
        val term = foldProbe(spark, path, t, "fuzzy probe")
        Some(RWeighted(path, fuzzyWeights(
          editCandidates(spark, path, term, d, maxExpansions), term, d)))
      case _: GroupAtom => sys.error(
        "group atom in simple-clause position — QueryParser guarantees " +
          "one level of nesting; this is a parser bug")
    }
  }

  /** [[searchParsed]]'s resolve step and [[clauseCore]] run: the
    * entry checks, then every clause in parse order resolved to a
    * [[CoreClause]] — a GROUP clause resolves each inner clause the
    * same way — and the gated per-doc aggregate with `parsed_micros`.
    * Returns the aggregate and, per scoring clause position of the
    * core, its explain label (parse-order ordinal, occur, field). A
    * clause whose atoms all fold away (for a group: whose scoring
    * atoms all do — folded-away exclusions never gate) drops like a
    * stopword clause. Also prices the exact-integer headroom per
    * clause: boost × innerScoringClauses × maxExpansions ≤ 256
    * (= 2^63 / the standing ~2.2e16 per-term micros bound, with
    * margin) — the parser's ^16 cap assumed the default
    * maxExpansions=16 and one clause; the product is the real
    * invariant (r19 advisor note). */
  private def parsedCore(spark: SparkSession,
                         parsed: QueryParser.Parsed,
                         fields: Map[String, String],
                         defaultField: String,
                         positional: Map[String, String],
                         maxExpansions: Int,
                         allow: Option[DataFrame] = None)
      : (DataFrame, Seq[(Int, String, String)]) = {
    import QueryParser._
    // fail BEFORE any clause work, by name
    require(fields.contains(defaultField),
      s"defaultField '$defaultField' is not in fields " +
        fields.keys.toSeq.sorted.mkString("{", ", ", "}"))
    def pathOf(fieldName: String): String =
      fields.getOrElse(fieldName, sys.error(
        s"unknown field '$fieldName' — fields: " +
          fields.keys.toSeq.sorted.mkString(", ")))
    // resolve every clause's read requirements (all the driver-side
    // folding, dictionary expansion and positional-gate work — same
    // caps, same loud failures). The expansions are independent
    // query-sized round-trips, so they run CONCURRENTLY (guide §2.6:
    // overlap independent jobs — the scheduler back-fills, wall time
    // ≈ the slowest expansion instead of the sum); awaiting in clause
    // order keeps failure reporting identical to the serial form.
    val resolved: Seq[(Int, Clause, Option[CoreClause])] =
      awaitInOrder(parsed.clauses.zipWithIndex.map { case (c, i) => () => {
        val innerScoring = c.atom match {
          case g: GroupAtom => g.clauses.count(_.occur != MustNot)
          case _ => 1
        }
        require((c.boostMicros / 1000000L) * innerScoring * maxExpansions
            <= 256,
          s"clause ${i + 1}: boost ${c.boostMicros / 1000000L} × " +
            s"$innerScoring scoring clause(s) × maxExpansions=" +
            s"$maxExpansions exceeds the exact-integer headroom product " +
            "of 256 (each per-term contribution is bounded by ~2.2e16 " +
            "micros; the boosted subtotal must stay under 2^63) — lower " +
            "the boost or maxExpansions")
        val fieldName = c.field.getOrElse(defaultField)
        val atoms = c.atom match {
          case g: GroupAtom =>
            g.clauses.flatMap { ic =>
              val f = ic.field.getOrElse(defaultField)
              resolveSimpleAtom(spark, f, pathOf(f), positional, ic.atom,
                maxExpansions).map(ic.occur -> _)
            }
          case a =>
            resolveSimpleAtom(spark, fieldName, pathOf(fieldName),
              positional, a, maxExpansions).map(Should -> _).toSeq
        }
        (i, c, Some(CoreClause(c.occur, c.boostMicros, atoms))
          .filter(_.atoms.exists(_._1 != MustNot)))
      }})
    val kept = resolved.collect { case (i, c, Some(cc)) => (i, c, cc) }
    require(kept.exists(_._3.occur != MustNot),
      "every scoring clause folded away under its field's analyzer")
    val labels = kept.collect { case (i, c, cc) if cc.occur != MustNot =>
      (i, if (cc.occur == Must) "must" else "should", c.field.getOrElse(defaultField))
    }
    (clauseCore(spark, kept.map(_._3), "parsed_micros", allow = allow), labels)
  }

  /** Relevance explain for [[searchParsed]] — the per-(clause, doc)
    * decomposition of a parsed query's fused score over a candidate
    * page `cands`: one row per SCORING clause (must + should; a
    * MUST_NOT clause is boolean admission, not a score factor —
    * exactly how Lucene's Explanation reports a BooleanQuery) and
    * doc that matches it AND passes every gate, carrying the clause's
    * parse-order ordinal, its occur, its field, and `wm` — the
    * BOOSTED per-(clause, doc) subtotal through the same
    * overflow-safe split the score applies (which floors at the
    * clause subtotal and does not distribute over terms — the q229
    * recombination discipline, already folded in here). The rows are
    * the search's own gated aggregate ([[clauseCore]]) unpivoted, so
    * the explanation is SUM-EXACT by construction: per-doc Σ wm ==
    * parsed_micros to the last digit (QueryParserSpec pins it; q239
    * gates it against the oracle). The page narrows the postings
    * reads; ≤ |cands|·|clauses| rows out, ordered (doc_id, clause). */
  def explainParsed(spark: SparkSession, parsed: QueryParser.Parsed,
                    fields: Map[String, String], defaultField: String,
                    cands: DataFrame,
                    positional: Map[String, String] = Map.empty,
                    maxExpansions: Int = 16): DataFrame = {
    val (gated, labels) = parsedCore(spark, parsed, fields, defaultField,
      positional, maxExpansions, Some(cands))
    unpivotClauses(gated, labels)
  }

  /** [[searchParsed]]'s top-k page AND its [[explainParsed]]
    * decomposition from ONE aggregate — the seam the q239 gate
    * composes: the ranked aggregate unpivoted, so the page and its
    * explanation come from one resolve and one read. Returns exactly
    * `explainParsed(..., searchParsed(...).select("doc_id"), ...)`. */
  private[graft] def explainParsedTopK(spark: SparkSession,
                                       parsed: QueryParser.Parsed,
                                       fields: Map[String, String],
                                       defaultField: String,
                                       positional: Map[String, String] =
                                         Map.empty,
                                       k: Int = 10,
                                       maxExpansions: Int = 16): DataFrame = {
    val (gated, labels) = parsedCore(spark, parsed, fields, defaultField,
      positional, maxExpansions)
    val perClause = labels.indices.flatMap(i => Seq(s"p$i", s"wm$i"))
    unpivotClauses(rankTop(gated, desc("parsed_micros"), k, "parsed_rank",
      "doc_id" +: perClause: _*), labels)
  }

  /** The per-(clause, doc) rows of a [[clauseCore]] aggregate: one
    * per scoring clause present for the doc, labelled (clause, occur,
    * field), in one pass (an explode, not a per-clause union, so a
    * lazy aggregate runs once). */
  private def unpivotClauses(gated: DataFrame,
                             labels: Seq[(Int, String, String)]): DataFrame =
    gated.select(col("doc_id"), explode(array(labels.zipWithIndex.map {
        case ((i, occur, field), k) =>
          struct(lit(i).as("clause"), lit(occur).as("occur"), lit(field).as("field"),
            col(s"p$k").as("present"), col(s"wm$k").as("wm"))
      }: _*)).as("x"))
      .filter(col("x.present"))
      .select(col("x.clause").as("clause"), col("x.occur").as("occur"),
        col("x.field").as("field"), col("doc_id"), col("x.wm").as("wm"))
      .orderBy(col("doc_id"), col("clause"))

  /** [[QueryParser.parse]] + [[searchParsed]] in one call — the
    * search-box entry point. */
  def searchQueryString(spark: SparkSession, query: String,
                        fields: Map[String, String], defaultField: String,
                        positional: Map[String, String] = Map.empty,
                        k: Int = 10, maxExpansions: Int = 16): DataFrame =
    searchParsed(spark, QueryParser.parse(query), fields, defaultField,
      positional, k, maxExpansions)

  /** One arm's reciprocal-rank contribution in integer nanos —
    * ⌊RrfScale/(rrfK + rank)⌋, 0 for an arm that missed the doc
    * (NULL rank). ONE definition for [[rrfFuse]]/[[rrfFuseBatch]],
    * the tri-hybrid fusion and [[explainRrf]], so the explain is the
    * fusion's own expression, not a parallel reimplementation. */
  def rrfPart(r: Column, rrfK: Int = DefaultRrfK): Column = coalesce(
    floor(lit(RrfScale) / (lit(rrfK) + r)).cast(LongType), lit(0L))

  /** Relevance explain for reciprocal-rank fusion — the hybrid
    * counterpart of [[explainScore]]: decompose a fused page's
    * `rrf_micros` per arm. `fused` is a frame carrying `doc_id` and
    * one `<arm>_rank` column per entry of `arms` (exactly what
    * [[rrfFuse]] and the tri-hybrid fusion return); each output row
    * is one (doc, arm) with the arm's rank (NULL where the arm
    * missed the doc) and its [[rrfPart]] contribution. Scores are
    * exact integers, so the explanation is SUM-EXACT by
    * construction: per-doc Σ rrf_contrib == rrf_micros to the last
    * digit (LexicalSpec pins it against the fused column for both
    * the 2-arm and 3-arm shapes). Page-sized input, |arms|·|page|
    * rows out, ordered (doc_id, arm) — no index read at all: the
    * fusion's inputs ARE the rank lists being explained. */
  def explainRrf(fused: DataFrame, arms: Seq[String],
                 rrfK: Int = DefaultRrfK): DataFrame = {
    require(arms.nonEmpty, "RRF explain needs at least one arm")
    val missing = arms.map(a => s"${a}_rank")
      .filterNot(fused.columns.contains)
    require(missing.isEmpty,
      s"fused frame lacks rank column(s) ${missing.mkString(", ")} — " +
        s"have ${fused.columns.mkString(", ")}")
    // single-pass unpivot (explode of one per-arm struct array), NOT
    // a per-arm union of `fused`: a union references the page subtree
    // once per arm, and when the caller hands in a LAZY search page
    // (q232 passes the whole tri-hybrid pipeline) Catalyst executes
    // that search once per arm — 3x the query for a 30-row unpivot
    // (r21; q232 warm 1.9 s vs its underlying q158's 1.2 s)
    fused.select(col("doc_id"), explode(array(arms.map { a =>
        struct(lit(a).as("arm"), col(s"${a}_rank").as("arm_rank"),
          rrfPart(col(s"${a}_rank"), rrfK).as("rrf_contrib"))
      }: _*)).as("x"))
      .select(col("doc_id"), col("x.arm").as("arm"),
        col("x.arm_rank").as("arm_rank"),
        col("x.rrf_contrib").as("rrf_contrib"))
      .orderBy(col("doc_id"), col("arm"))
  }

  /** Reciprocal-rank fusion of a lexical and a vector rank list
    * (Cormack/Clarke/Buettcher 2009: score = sum 1/(K + rank)) —
    * quantized to exact integer units (floor(1e9/(K+rank)), a
    * division of small integers: deterministic, engine-independent).
    * Inputs need (doc_id, lex_rank) / (doc_id, vec_rank); a doc
    * missing from one list contributes 0 from it (full outer join —
    * both lists are k-row, so this is a driver-trivial merge at any
    * corpus size). Output: top-`k` (rank, doc_id, lex_rank, vec_rank,
    * rrf_micros), ranks NULL where a side didn't surface the doc. */
  def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int,
              rrfK: Int = DefaultRrfK): DataFrame =
    rankTop(rrfJoin(lex, vec, Seq("doc_id"), rrfK), desc("rrf_micros"), k, "rank",
      "rank", "doc_id", "lex_rank", "vec_rank", "rrf_micros")

  /** [[rrfFuse]] per query: inputs additionally carry `query_id`, the
    * merge keys on (query_id, doc_id), and ranks window per query —
    * two (batch × k)-row lists in, one ranked list per query out. */
  def rrfFuseBatch(lex: DataFrame, vec: DataFrame, k: Int,
                   rrfK: Int = DefaultRrfK): DataFrame =
    rankPerQuery(rrfJoin(lex, vec, Seq("query_id", "doc_id"), rrfK), desc("rrf_micros"),
      k, "rank", "query_id", "rank", "doc_id", "lex_rank", "vec_rank", "rrf_micros")

  /** The full outer merge of two rank lists on `keys`, with
    * rrf_micros = the two arms' [[rrfPart]]s. */
  private def rrfJoin(lex: DataFrame, vec: DataFrame, keys: Seq[String],
                      rrfK: Int): DataFrame =
    lex.select((keys :+ "lex_rank").map(col): _*)
      .join(vec.select((keys :+ "vec_rank").map(col): _*), keys, "full_outer")
      .select((keys ++ Seq("lex_rank", "vec_rank")).map(col) :+
        (rrfPart(col("lex_rank"), rrfK) + rrfPart(col("vec_rank"), rrfK)).as("rrf_micros"): _*)
}
