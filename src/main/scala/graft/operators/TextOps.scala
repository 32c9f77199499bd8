package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Tables}
import graft.functions.{exprs, TextAnalysis, TypeInference}
import graft.util.Num._

/** Text/grid ingestion operators (SURVEY.md §2.2-2.4): grid->cell
  * explode with A1 provenance and deep links, chunking, type
  * inference, text analytics (token stats, quality, language ID,
  * exact fingerprint dedup). The `documents` fixture plays the role
  * of a worksheet: doc_id = row, whitespace tokens = cells.
  */
object TextOps {

  /** Token grid: one row per non-empty cell with full provenance.
    * The narrow pipeline (scan -> split -> posexplode -> scalar
    * exprs) fuses into one codegen stage — no shuffle at any scale.
    * Sheet-row convention: doc_id + 2 (header offset, the fixed
    * variant of the reference's off-by-one — indexer.py:54). */
  def cells(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("colidx", "value")))
      .filter(length(trim(col("value"))) > 0)
      .withColumn("col_letter", exprs.a1Col(col("colidx")))
      .withColumn("sheet_row", (col("doc_id") + 2).cast(LongType))

  private def q40(s: SparkSession, d: String): DataFrame =
    cells(s, d)
      .withColumn("cell_id",
        concat_ws("_", col("source"), col("doc_id"),
          concat(col("col_letter"), col("sheet_row"))))
      .withColumn("link",
        format_string("https://docs.google.com/spreadsheets/d/%s/edit#gid=%s&range=%s%d",
          col("source"), lit("0"), col("col_letter"), col("sheet_row")))
      .select("doc_id", "colidx", "value", "col_letter", "sheet_row", "cell_id", "link")
      .orderBy("doc_id", "colidx")

  // A1 letters in SQL: two-letter range is enough for the oracle data
  // (docs have < 200 tokens); the Spark side is full bijective base-26.
  private val sqlA1 =
    """CASE WHEN colidx < 26 THEN chr(CAST(65 + colidx AS INTEGER))
    ELSE chr(CAST(64 + colidx // 26 AS INTEGER)) || chr(CAST(65 + colidx % 26 AS INTEGER)) END"""

  private val q40Sql = s"""
    WITH cells AS (
      SELECT doc_id, source, i-1 AS colidx, l[i] AS value
      FROM (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
           UNNEST(generate_series(1, len(l))) AS t(i)
    )
    SELECT doc_id, colidx, value, $sqlA1 AS col_letter,
           doc_id + 2 AS sheet_row,
           source || '_' || doc_id || '_' || $sqlA1 || (doc_id + 2) AS cell_id,
           printf('https://docs.google.com/spreadsheets/d/%s/edit#gid=%s&range=%s%d',
                  source, '0', $sqlA1, doc_id + 2) AS link
    FROM cells
    WHERE length(trim(value)) > 0
    ORDER BY doc_id, colidx"""

  /** Chunk pipeline stats via the ChunkText generator. Chunk size
    * 120/24 so the fixture docs (47-558 chars) actually split.
    * Oracle: re-aggregated in DuckDB from the Verify-materialized
    * chunk table (kernel invariants covered by ChunkerSpec). */
  private def q41(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        exprs.chunkText(col("text"), 120, 24).as(Seq("pos", "chunk")))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(count(lit(1)).as("n_chunks"),
        max(length(col("chunk"))).as("max_chunk_len"),
        sum(length(col("chunk"))).as("total_chunk_chars"))
      .orderBy("doc_id")

  /** Materialize q41's chunk table for the DuckDB oracle (Verify-only). */
  def materializeChunkAux(s: SparkSession, d: String, auxDir: String): Unit =
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        exprs.chunkText(col("text"), 120, 24).as(Seq("pos", "chunk")))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q41_chunks.parquet")

  private val q41Sql = s"""
    SELECT doc_id, n_chars, COUNT(*) AS n_chunks,
           MAX(length(chunk)) AS max_chunk_len,
           CAST(SUM(length(chunk)) AS BIGINT) AS total_chunk_chars
    FROM read_parquet('${graft.SparkEntry.AuxToken}/q41_chunks.parquet/*.parquet')
    GROUP BY doc_id, n_chars ORDER BY doc_id"""

  /** Type inference over strings rendered identically in both engines. */
  private def q42(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // Dictionary evaluation, decomposed PER COLUMN: every one of the 5
    // sample expressions depends on exactly one source column, so each
    // column aggregates its own value dictionary independently —
    // linenumber (7 values), returnflag (3), shipdate (~2.5k) — and
    // the regex when-chain runs over the tiny weighted union only.
    // The shape matters twice:
    //  - parquet is columnar, so three one-column scans read the same
    //    total bytes as one three-column scan — no duplicated IO; and
    //    the three scan stages are independent subtrees of one job, so
    //    Spark schedules them CONCURRENTLY. On the single-row-group
    //    fixture (one split — a row group cannot be split, so
    //    maxPartitionBytes cannot help) this cuts the serial critical
    //    path to one column's decode+agg instead of all three (the
    //    15-16 s q42 outlier on the loaded r8/r9 driver boxes was that
    //    serialized wide stage; the r9 round-robin fan-out only moved
    //    the cost into a 600k-row shuffle write on the same task).
    //  - nothing row-sized ever shuffles: each exchange carries one
    //    column's dictionary (<=2.5k rows), not a 50k-combo dictionary
    //    and never the 600k raw rows.
    def dict(key: Column): DataFrame =
      li.groupBy(key.as("kv")).agg(count(lit(1)).as("cnt0"))
    val fromLn = dict(col("l_linenumber"))
      .select(col("cnt0"), explode(array(
        col("kv").cast(StringType),
        when(col("kv") % 2 === 0, "true").otherwise("false"),
        concat(col("kv"), lit("."), col("kv")))).as("v"))
    val fromRf = dict(col("l_returnflag")).select(col("cnt0"), col("kv").as("v"))
    // cast(date as string) renders yyyy-MM-dd like date_format would,
    // without the per-row DateTimeFormatter machinery
    val fromSd = dict(to_date(col("l_shipdate")))
      .select(col("cnt0"), col("kv").cast(StringType).as("v"))
    fromLn.unionByName(fromRf).unionByName(fromSd)
      .groupBy(col("v")).agg(sum(col("cnt0")).as("cnt"))
      .withColumn("inferred", TypeInference.suggestDataType(col("v")))
      .groupBy(col("inferred"))
      .agg(sum(col("cnt")).cast(LongType).as("n"), min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .orderBy("inferred")
  }

  private val q42Sql = s"""
    WITH samples AS (
      SELECT unnest([
        CAST(l_linenumber AS VARCHAR),
        l_returnflag,
        strftime(l_shipdate, '%Y-%m-%d'),
        CASE WHEN l_linenumber % 2 = 0 THEN 'true' ELSE 'false' END,
        l_linenumber || '.' || l_linenumber]) AS v
      FROM lineitem
    )
    SELECT ${TypeInference.sql("v")} AS inferred,
           COUNT(*) AS n, MIN(v) AS min_v, MAX(v) AS max_v
    FROM samples GROUP BY 1 ORDER BY inferred"""

  /** Quality features aggregated per language tag. */
  private def q43(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val qf = TextAnalysis.qualityCols(col("text")).toMap
    docs.select(col("lang"), qf("n_tokens").as("n_tokens"),
        qf("mean_tok_len").as("mtl"), qf("punct_ratio").as("pr"),
        qf("digit_ratio").as("dr"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        davg(col("mtl")).as("avg_tok_len"),
        davg(col("pr")).as("avg_punct_ratio"),
        davg(col("dr")).as("avg_digit_ratio"))
      .orderBy("lang")
  }

  private val q43Sql = s"""
    WITH f AS (
      SELECT lang,
        len(regexp_split_to_array(trim(text), ' +')) AS n_tokens,
        CAST(length(text) - (len(regexp_split_to_array(trim(text), ' +')) - 1) AS DOUBLE)
          / len(regexp_split_to_array(trim(text), ' +')) AS mtl,
        CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text) AS pr,
        CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text) AS dr
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           ${sqlDavg("mtl")} AS avg_tok_len,
           ${sqlDavg("pr")} AS avg_punct_ratio,
           ${sqlDavg("dr")} AS avg_digit_ratio
    FROM f GROUP BY lang ORDER BY lang"""

  /** Stopword language ID vs the fixture's lang tag (confusion counts). */
  private def q44(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("predicted", TextAnalysis.langId(col("text")))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  private val q44Sql = {
    val toks = "regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+')"
    s"""
    WITH t AS (SELECT lang, $toks AS toks FROM documents)
    SELECT lang, ${TextAnalysis.sqlLangId("toks")} AS predicted, COUNT(*) AS n
    FROM t GROUP BY 1, 2 ORDER BY lang, predicted"""
  }

  /** Exact dedup by md5 fingerprint: keeper = min doc_id per digest. */
  private def q45(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(md5(col("text").cast(BinaryType)).as("digest"), col("doc_id"))
      .groupBy(col("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .orderBy("keeper")

  private val q45Sql = """
    SELECT md5(text) AS digest, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
    FROM documents GROUP BY md5(text) ORDER BY keeper"""

  /** Token statistics per source (counts are integers — exact). */
  private def q46(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n_tok"),
        col("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        max(col("n_tok")).as("max_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")

  private val q46Sql = """
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(trim(text), ' +'))) AS BIGINT) AS sum_tokens,
           MAX(len(regexp_split_to_array(trim(text), ' +'))) AS max_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY source ORDER BY source"""

  /** S1/P3 folder-listing scan: a file manifest with a `parents`
    * array, filtered by folder membership (project_search.py:13-14).
    * The manifest is derived deterministically from sources; at scale
    * this is a pushed-down filter over a catalog table. */
  private def q47(s: SparkSession, d: String): DataFrame = {
    val manifest = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source").as("file_id"),
        concat(lit("Spreadsheet "), col("source")).as("file_name"),
        array(concat(lit("folder"),
            substring(col("source"), 4, 10).cast(LongType) % 3),
          lit("root")).as("parents"),
        col("n_docs"))
    manifest.filter(array_contains(col("parents"), "folder1"))
      .select(col("file_id"), col("file_name"), col("n_docs"))
      .orderBy("file_id")
  }

  private val q47Sql = """
    SELECT file_id, 'Spreadsheet ' || file_id AS file_name, n_docs
    FROM (SELECT source AS file_id, COUNT(*) AS n_docs
          FROM documents GROUP BY source)
    WHERE list_contains([concat('folder', CAST(CAST(substr(file_id, 4, 10) AS BIGINT) % 3 AS VARCHAR)), 'root'], 'folder1')
    ORDER BY file_id"""

  /** Subword (BPE-ish) token estimate per source — regex-only, exact
    * in both engines. */
  private def q48(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), TextAnalysis.subwordCount(col("text")).as("n_sub"))
      .groupBy(col("source"))
      .agg(sum(col("n_sub")).as("sum_subwords"), max(col("n_sub")).as("max_subwords"))
      .orderBy("source")

  private val q48Sql = s"""
    SELECT source,
           CAST(SUM(n_sub) AS BIGINT) AS sum_subwords, MAX(n_sub) AS max_subwords
    FROM (SELECT source, ${TextAnalysis.sqlSubwordCount("text")} AS n_sub
          FROM documents)
    GROUP BY source ORDER BY source"""

  /** S2/S3 source formats: round-trip documents through CSV (explicit
    * schema, header), JSON lines, and ORC under target/, read all
    * three back and aggregate — exercising the csv/json/orc readers
    * with the same results as the parquet original (oracle = parquet
    * directly). (fixture text is single-line; the CSV writer's
    * quoting covers embedded commas/quotes). */
  private def q49(s: SparkSession, d: String): DataFrame = {
    val base = s"${graft.Sessions.workDir}/srcfmt/${math.abs(d.hashCode)}"
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    docs.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    docs.write.mode("overwrite").json(s"$base/json")
    docs.write.mode("overwrite").orc(s"$base/orc")
    // line-oriented text round-trip (the 5th built-in format): one
    // "doc_id<TAB>text" line per doc; parsing splits on the FIRST tab
    // so document content may itself contain tabs. Guards for the
    // format's two lossy inputs: a null text still writes the tab
    // (concat_ws would drop the separator and shift len_txt by -1),
    // and embedded newlines are normalized to spaces length-for-length
    // (a raw newline would split one doc into two lines, and the inner
    // join would silently drop the fragment row). Both leave the
    // single-line, non-null fixture byte-identical.
    docs.select(concat(col("doc_id").cast(StringType), lit("\t"),
        translate(coalesce(col("text"), lit("")), "\n\r", "  ")).as("value"))
      .write.mode("overwrite").text(s"$base/txt")
    val schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    val fromCsv = s.read.option("header", "true")
      .schema(schema)
      .csv(s"$base/csv")
      .select(col("doc_id"), col("lang"), length(col("text")).as("len_csv"))
    val fromJson = s.read
      .schema(schema)
      .json(s"$base/json")
      .select(col("doc_id").as("j_doc_id"), length(col("text")).as("len_json"))
    val fromOrc = s.read.orc(s"$base/orc")
      .select(col("doc_id").as("o_doc_id"), length(col("text")).as("len_orc"))
    val fromTxt = s.read.text(s"$base/txt")
      .select(substring_index(col("value"), "\t", 1).cast(LongType).as("t_doc_id"),
        (length(col("value"))
          - length(substring_index(col("value"), "\t", 1)) - 1).as("len_txt"))
    // XML round-trip — Spark 4's built-in XML source (spark-xml merged
    // upstream in 4.0): one <doc> row element per document. The writer
    // entity-escapes markup characters; the reader restores them, so
    // length(text) survives the trip like the other formats
    docs.write.mode("overwrite").option("rowTag", "doc").xml(s"$base/xml")
    val fromXml = s.read.option("rowTag", "doc").schema(schema).xml(s"$base/xml")
      .select(col("doc_id").as("x_doc_id"), length(col("text")).as("len_xml"))
    fromCsv.join(fromJson, col("doc_id") === col("j_doc_id"))
      .join(fromOrc, col("doc_id") === col("o_doc_id"))
      .join(fromTxt, col("doc_id") === col("t_doc_id"))
      .join(fromXml, col("doc_id") === col("x_doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len_csv")).as("sum_chars_csv"),
        sum(col("len_json")).as("sum_chars_json"),
        sum(col("len_orc")).as("sum_chars_orc"),
        sum(col("len_txt")).as("sum_chars_txt"),
        sum(col("len_xml")).as("sum_chars_xml"))
      .orderBy("lang")
  }

  private val q49Sql = """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars_csv,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars_json,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars_orc,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars_txt,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars_xml
    FROM documents GROUP BY lang ORDER BY lang"""

  /** Full reference-contract grid ingestion (GridIngest) driven from
    * the fixtures: each source becomes a worksheet (header + one row
    * of tokens per doc, ordered by doc_id), then grid -> cells ->
    * chunks with the reference's exact `{file}_{sheet}_{col}{row}_{pos}`
    * ids and gid/range links (indexer.py:56, app.py:63-69). Token
    * cells are < chunkSize, so every cell is exactly one chunk and
    * the whole contract is SQL-mirrorable. */
  private def q74(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val grid = docs
      .select(col("source"),
        struct(col("doc_id"), split(col("text"), " ").as("toks")).as("r"))
      .groupBy(col("source"))
      .agg(sort_array(collect_list(col("r"))).as("datarows"))
      .select(col("source").as("file_id"), lit(0L).as("sheet_id"),
        col("source").as("tab_name"),
        concat(array(array(lit("HDR"))),
          transform(col("datarows"), r => r.getField("toks"))).as("rows"))
    GridIngest.chunks(GridIngest.cells(grid))
      .select(col("chunk_id"), col("link"), col("chunk").as("value"))
      .orderBy("chunk_id")
  }

  private val q74Sql = s"""
    WITH ranked AS (
      SELECT source, text,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), cells AS (
      SELECT source, rn + 1 AS sheet_row, i-1 AS colidx, l[i] AS value
      FROM (SELECT source, rn, string_split(text, ' ') AS l FROM ranked),
           UNNEST(generate_series(1, len(l))) AS t(i)
    )
    SELECT source || '_0_' || $sqlA1 || sheet_row || '_0' AS chunk_id,
           printf('https://docs.google.com/spreadsheets/d/%s/edit#gid=%s&range=%s%d',
                  source, '0', $sqlA1, sheet_row) AS link,
           value
    FROM cells
    WHERE length(trim(value)) > 0
    ORDER BY chunk_id"""

  // ---- markup stripping (boilerplate removal) -----------------------

  /** Strip HTML-ish markup from a string column, scan-side (the
    * trafilatura-lite extraction step of a crawl pipeline): script
    * and style blocks drop WITH their content, remaining tags drop,
    * the five predefined entities decode, runs of whitespace collapse
    * to one space, ends trimmed. Pure regexp_replace chain — one
    * codegen'd projection, no UDF, and every pattern is shared by
    * Java and RE2-family engines so the oracle replays it verbatim.
    * Entity decode runs AFTER tag removal (so `&lt;b&gt;` stays the
    * literal text `<b>` rather than becoming a tag — the lexing
    * order browsers use), with `&amp;` last so `&amp;lt;` decodes to
    * the literal `&lt;`. */
  def stripMarkup(c: Column): Column = {
    val noScript = regexp_replace(c, "<script[^>]*>[^<]*</script>", " ")
    val noStyle = regexp_replace(noScript, "<style[^>]*>[^<]*</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val ent1 = regexp_replace(noTags, "&lt;", "<")
    val ent2 = regexp_replace(ent1, "&gt;", ">")
    val ent3 = regexp_replace(ent2, "&quot;", "\"")
    val ent4 = regexp_replace(ent3, "&#39;", "'")
    val ent5 = regexp_replace(ent4, "&amp;", "&")
    trim(regexp_replace(ent5, "\\s+", " "))
  }

  /** q172: stripMarkup round-trip gate — each document is wrapped in
    * a deterministic HTML page (head/title/script/style/nav
    * boilerplate + the text inside a div, with the doc's first token
    * entity-escaped into the title), stripped, and compared against
    * the expected extraction. The oracle builds the SAME page and
    * replays the SAME regexp chain in SQL, so a lexing-order or
    * pattern divergence between engines breaks the hash, not just a
    * flag. Output: per-source page/extract char totals + exact-match
    * count. */
  private def q172(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val page = concat(
      lit("<html><head><title>Doc &amp; "), col("doc_id"),
      lit("</title><script type=\"text/javascript\">var x = 1;</script>"),
      lit("<style>.c { color: red }</style></head><body><nav>home</nav>"),
      lit("<div class=\"content\">"), col("text"),
      lit("</div><footer>(c) corp</footer></body></html>"))
    val expected = concat(lit("Doc & "), col("doc_id"), lit(" home "),
      trim(regexp_replace(col("text"), "\\s+", " ")), lit(" (c) corp"))
    docs.select(col("doc_id"), col("source"),
        length(page).as("page_chars"),
        stripMarkup(page).as("got"), expected.as("want"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("page_chars")).as("total_page_chars"),
        sum(length(col("got"))).as("total_extract_chars"),
        sum(when(col("got") === col("want"), 1L).otherwise(0L))
          .as("n_exact"))
      .orderBy("source")
  }

  private val q172Sql = """
    WITH pages AS (
      SELECT source,
             '<html><head><title>Doc &amp; ' || doc_id ||
             '</title><script type="text/javascript">var x = 1;</script>' ||
             '<style>.c { color: red }</style></head><body><nav>home</nav>' ||
             '<div class="content">' || text ||
             '</div><footer>(c) corp</footer></body></html>' AS page,
             'Doc & ' || doc_id || ' home ' ||
             trim(regexp_replace(text, '\s+', ' ', 'g')) || ' (c) corp'
               AS want
      FROM documents),
    stripped AS (
      SELECT source, page, want,
        trim(regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(page,
                          '<script[^>]*>[^<]*</script>', ' ', 'g'),
                        '<style[^>]*>[^<]*</style>', ' ', 'g'),
                      '<[^>]*>', ' ', 'g'),
                    '&lt;', '<', 'g'),
                  '&gt;', '>', 'g'),
                '&quot;', '"', 'g'),
              '&#39;', '''', 'g'),
            '&amp;', '&', 'g'),
          '\s+', ' ', 'g')) AS got
      FROM pages)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(length(page)) AS BIGINT) AS total_page_chars,
           CAST(SUM(length(got)) AS BIGINT) AS total_extract_chars,
           CAST(SUM(CASE WHEN got = want THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact
    FROM stripped GROUP BY source ORDER BY source"""

  // ---- URL normalization (crawl-frontier hygiene) -------------------

  /** Canonicalize a URL column scan-side: lowercase scheme+host, drop
    * the fragment, strip tracking params (utm_*, fbclid, gclid),
    * drop a now-empty query, collapse duplicate slashes in the path,
    * drop a trailing slash. The crawl-dedup prerequisite — two
    * fetches of the same page must collapse BEFORE content dedup
    * ever runs. Pure regexp chain, engine-portable. */
  def normalizeUrl(c: Column): Column = {
    val Track = "(utm_[a-z]+|fbclid|gclid)"
    val noFrag = regexp_replace(c, "#.*$", "")
    val schemeHostLower = concat(
      lower(regexp_extract(noFrag, "^([a-zA-Z]+://[^/]*)", 1)),
      regexp_replace(noFrag, "^[a-zA-Z]+://[^/]*", ""))
    // tracking params in three shapes: &-prefixed anywhere, ?-leading
    // with a real param following (keep the '?'), ?-leading alone
    val t1 = regexp_replace(schemeHostLower, s"&$Track=[^&#]*", "")
    val t2 = regexp_replace(t1, s"\\?$Track=[^&#]*&", "?")
    val t3 = regexp_replace(t2, s"\\?$Track=[^&#]*$$", "")
    val dedupSlash = concat(
      regexp_extract(t3, "^([a-z]+://)", 1),
      regexp_replace(regexp_replace(t3, "^[a-z]+://", ""), "//+", "/"))
    regexp_replace(dedupSlash, "/$", "")
  }

  /** q173: URL hygiene over a deterministic dirty-crawl synthesis —
    * each doc yields a messy URL (mixed-case host, tracking params,
    * fragment, doubled slashes, trailing slash variants by id class);
    * normalization + host extraction + per-host frontier stats. The
    * oracle rebuilds the same dirty URLs and replays the chain; the
    * dedup ratio (distinct canonical vs raw) is the meter a crawl
    * frontier lives on. */
  private def q173(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // every doc fetches one of a few pages per host, each time with
    // its own tracking params, fragment, case noise and doubled
    // slashes — the frontier must collapse refetches to the canonical
    // pages (7 is coprime to the fixture's source stride, so every
    // host really gets several distinct pages)
    val dirty = concat(
      lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM//docs/"),
      pmod(col("doc_id"), lit(7)), lit("/?utm_source=feed"),
      col("doc_id"), lit("&utm_campaign=x#sec"), col("doc_id"))
    val canon = normalizeUrl(dirty)
    docs.select(col("source"), dirty.as("raw_url"), canon.as("url"))
      .withColumn("host", regexp_extract(col("url"), "^[a-z]+://([^/]*)", 1))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("url")).as("n_canonical"),
        min(length(col("url"))).as("min_len"),
        max(length(col("url"))).as("max_len"))
      .orderBy("host")
  }

  private val q173Sql = """
    WITH dirty AS (
      SELECT source,
             'HTTPS://WWW.' || upper(source) || '.Example.COM//docs/' ||
             (doc_id % 7) || '/?utm_source=feed' || doc_id ||
             '&utm_campaign=x#sec' || doc_id AS raw
      FROM documents),
    canon AS (
      SELECT source,
        regexp_replace(
          regexp_extract(u2, '^([a-z]+://)', 1) ||
          regexp_replace(regexp_replace(u2, '^[a-z]+://', ''), '//+', '/'),
          '/$', '') AS url
      FROM (
        SELECT source,
          regexp_replace(
            regexp_replace(
              regexp_replace(
                lower(regexp_extract(u1, '^([a-zA-Z]+://[^/]*)', 1)) ||
                  regexp_replace(u1, '^[a-zA-Z]+://[^/]*', ''),
                '&(utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
              '\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&', '?', 'g'),
            '\?(utm_[a-z]+|fbclid|gclid)=[^&#]*$', '') AS u2
        FROM (SELECT source, regexp_replace(raw, '#.*$', '') AS u1
              FROM dirty)))
    SELECT regexp_extract(url, '^[a-z]+://([^/]*)', 1) AS host,
           COUNT(*) AS n_raw, COUNT(DISTINCT url) AS n_canonical,
           MIN(length(url)) AS min_len, MAX(length(url)) AS max_len
    FROM canon GROUP BY 1 ORDER BY 1"""

  // ---- q187: consecutive-duplicate-word collapse ---------------------

  /** Collapse runs of the same word ("batch batch batch" -> "batch")
    * — the intra-document half of the repetition cleanup whose
    * detection side is q95's Gopher signals (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1 flag repetitious documents; the cleanup
    * variant keeps the document and drops the stutter). Entirely
    * scan-side: a higher-order filter against the compacted word
    * list, ZERO shuffles before the final per-source aggregate — at
    * 100 TB this is a narrow map over the corpus, the cheapest
    * possible shape. The index lambda is 0-based in Spark and the
    * previous word is element_at(ws, i) (1-based); the IF keeps the
    * i=0 probe lazy so element_at never sees index 0. */
  def collapseWordRuns(docs: DataFrame, textCol: String,
                       keep: String*): DataFrame =
    docs.select(keep.map(col) :+
        Corpus.compactWords(col(textCol)).as("ws"): _*)
      .select(keep.map(col) ++ Seq(size(col("ws")).as("words_before"),
        expr("filter(ws, (x, i) -> IF(i = 0, true, element_at(ws, i) <> x))")
          .as("kept")): _*)
      .select(keep.map(col) ++ Seq(col("words_before"),
        size(col("kept")).as("words_after"),
        array_join(col("kept"), " ").as("text")): _*)

  /** q187: [[collapseWordRuns]] over the corpus, summarized per
    * source — document counts, word mass before/after, how many
    * documents the collapse touched, and the surviving char mass
    * (hash-sensitive to every kept word and separator). */
  private def q187(s: SparkSession, d: String): DataFrame =
    collapseWordRuns(Tables.documents(s, d), "text", "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("words_before")).cast(LongType).as("words_before"),
        sum(col("words_after")).cast(LongType).as("words_after"),
        sum(when(col("words_before") =!= col("words_after"), 1L)
          .otherwise(0L)).as("docs_changed"),
        sum(length(col("text"))).cast(LongType).as("chars_after"))
      .orderBy("source")

  private val q187Sql = """
    WITH ws AS (
      SELECT source,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS fw
      FROM documents),
    kept AS (
      SELECT source, len(fw) AS nb,
             list_filter(fw, (x, i) -> i = 1 OR fw[i-1] <> x) AS k
      FROM ws)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(nb) AS BIGINT) AS words_before,
           CAST(SUM(len(k)) AS BIGINT) AS words_after,
           CAST(SUM(CASE WHEN nb <> len(k) THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_changed,
           CAST(SUM(COALESCE(length(array_to_string(k, ' ')), 0)) AS BIGINT)
             AS chars_after
    FROM kept GROUP BY source ORDER BY source"""

  val queries: Seq[Query] = Seq(
    Query("q172_markup_strip",   q172, Some(q172Sql)),
    Query("q173_url_normalize",  q173, Some(q173Sql)),
    Query("q187_collapse_runs",  q187, Some(q187Sql)),
    Query("q40_grid_explode_a1", q40, Some(q40Sql)),
    Query("q41_chunk_stats",     q41, Some(q41Sql)),
    Query("q42_type_inference",  q42, Some(q42Sql)),
    Query("q43_quality_score",   q43, Some(q43Sql)),
    Query("q44_lang_id",         q44, Some(q44Sql)),
    Query("q45_dedup_exact",     q45, Some(q45Sql)),
    Query("q46_token_stats",     q46, Some(q46Sql)),
    Query("q47_folder_listing",  q47, Some(q47Sql)),
    Query("q48_subword_count",   q48, Some(q48Sql)),
    Query("q49_csv_json_source", q49, Some(q49Sql)),
    Query("q74_grid_ingest_ref", q74, Some(q74Sql)))
}
