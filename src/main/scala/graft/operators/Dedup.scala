package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.functions.{hashExprs, Hashes}

/** Near-duplicate detection for training-data pipelines: MinHash+LSH
  * banding, SimHash hamming buckets, exact n-gram Jaccard
  * verification, and embedding-cosine near-dup. Exact dedup is
  * TextOps q45 (md5 groupBy).
  *
  * Each technique is a PUBLIC parameterized operator over any
  * (id, text) DataFrame — the q5x entries below are the fixture-bound
  * instantiations the driver verifies. Scale shape (100 TB):
  * signatures are computed scan-side (narrow), candidate generation
  * is a shuffle on band/bucket keys only (tiny vs full pairwise), and
  * exact verification runs only on candidate pairs. Nothing here is
  * O(n^2) in the corpus.
  */
object Dedup {

  /** The default document-frequency cap of the shingle-pair family
    * (q53 n-gram Jaccard / q175 containment): shingles in more than
    * this many docs of a block are dropped from candidate generation.
    * ONE constant shared by the operator defaults
    * ([[ngramJaccardPairs]]/[[containmentPairs]]/[[shingleStopGrams]])
    * and the oracle CTE (`shinglePairCte`) — changing either side
    * alone would desynchronize gate and oracle and surface only as a
    * verify-time hash mismatch. */
  val DefaultShingleMaxDf = 500

  /** Build a materialized signature table: spread the docs across
    * cores FIRST (the fixture parquet is one row group, so the scan
    * alone is a single task and would run the per-doc hash kernel
    * serially), compute the signature expression in parallel, and
    * localCheckpoint the result so the self-join / doc-frequency
    * branches below read the materialized signatures instead of
    * re-running the kernel once per branch. At 100 TB this is the
    * signature table you'd persist to storage between pipeline
    * stages. */
  private def signatures(s: SparkSession, docs: DataFrame)(sig: DataFrame => DataFrame): DataFrame =
    sig(docs.repartition(s.sparkContext.defaultParallelism)).localCheckpoint()

  /** Materialize every dedup signature (minhash bands, simhash,
    * shingle hashes, winnow fingerprints) of the fixture corpus for
    * the DuckDB oracle: the custom hash kernels run in Spark once
    * (with exactly the q50/q51/q53/q54 parameters), and the oracles
    * independently re-derive candidate generation, pruning,
    * verification, and ranking from the materialized signatures.
    * Called by Verify before the query dump (never by Bench). */
  def materializeDedupAux(s: SparkSession, d: String, auxDir: String): Unit =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"),
        hashExprs.minhashBands(col("text"), 64, 3, 16).as("mb"),
        hashExprs.simhash64(col("text")).as("sh"),
        hashExprs.shingleHashes(col("text"), 3).as("sg"),
        hashExprs.winnowFp(col("text"), 8, 4).as("wf"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/dedup_sigs.parquet")

  private val AuxSigs =
    s"read_parquet('${graft.SparkEntry.AuxToken}/dedup_sigs.parquet/*.parquet')"

  /** MinHash-LSH near-dup pairs over any (id, text) frame: `nHashes`
    * minhashes of word `shingleK`-shingles in `nBands` LSH bands for
    * candidate generation, exact-Jaccard verification at `threshold`.
    * Returns (id_a, id_b, jaccard) with id_a < id_b. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   nHashes: Int = 64, shingleK: Int = 3, nBands: Int = 16,
                   threshold: Double = 0.35): DataFrame = {
    val s = docs.sparkSession
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // signature table carries (doc_id, band) ONLY: at 100 TB the band
    // self-join shuffle must never move document text — text is joined
    // back onto the (tiny) candidate-pair set for the exact verify
    val banded = signatures(s, base)(
      _.select(col("doc_id"),
        explode(hashExprs.minhashBands(col("text"), nHashes, shingleK, nBands)).as("band")))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(base.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(base.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
      .withColumn("jaccard", Hashes.jaccardUdf(shingleK)(col("text_a"), col("text_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** q50: the fixture instantiation of [[minhashPairs]] (64 hashes,
    * 16 bands x 4 rows: catches pairs down to J ~= 0.5 with high
    * probability). Oracle: DuckDB re-derives banding, candidate
    * dedup, and the Jaccard verify from the materialized signatures
    * (hash-set Jaccard == string-shingle Jaccard absent 64-bit
    * collisions — DedupSpec property). */
  private def q50(s: SparkSession, d: String): DataFrame =
    minhashPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id_a", "id_b")

  private val q50Sql = s"""
    WITH sigs AS (SELECT doc_id, mb, sg FROM $AuxSigs),
    banded AS (SELECT doc_id, unnest(mb) AS band FROM sigs),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
    verified AS (
      SELECT id_a, id_b,
        CASE WHEN len(sa.sg) = 0 AND len(sb.sg) = 0 THEN 1.0
             ELSE CAST(len(list_intersect(sa.sg, sb.sg)) AS DOUBLE)
                  / (len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg)))
        END AS j
      FROM cand
      JOIN sigs sa ON sa.doc_id = cand.id_a
      JOIN sigs sb ON sb.doc_id = cand.id_b)
    SELECT id_a, id_b, round(j, 4) AS jaccard
    FROM verified WHERE j >= 0.35 ORDER BY id_a, id_b"""

  /** Shared banded-signature frame for the simhash family: 64-bit
    * simhash split into 4 x 16-bit band keys. */
  private def simhashBanded(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = docs.sparkSession
    val nBands = 4 // 4 x 16 bits of the 64-bit simhash
    signatures(s, docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))(
      _.select(col("doc_id"), hashExprs.simhash64(col("text")).as("sh"))
        .select(col("doc_id"), col("sh"),
          explode(array((0 until nBands).map(b =>
            struct(lit(b).as("band"),
              shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk")))
  }

  /** Audit view for [[simhashPairs]]'s bucketCap guard — the "no
    * silent caps" companion: the degenerate band buckets candidate
    * generation drops, with their sizes. A nonempty result is the
    * signal to raise the cap or pre-strip the boilerplate driving the
    * collisions. */
  def simhashDroppedBuckets(docs: DataFrame, idCol: String, textCol: String,
                            bucketCap: Int = 256): DataFrame = {
    val banded = simhashBanded(docs, idCol, textCol)
    banded.groupBy(col("bk")).agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > bucketCap)
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("bucket_size"))
  }

  /** SimHash near-dup pairs: banded simhash keys for candidate
    * generation (pigeonhole: any pair at hamming <= nBands - 1 shares
    * at least one exact band), hamming <= `maxHamming` verification on
    * candidates. Degenerate buckets (> `bucketCap` docs —
    * boilerplate-dominated band values that would blow up the pair
    * join quadratically) are dropped, the standard scale guard for
    * banded LSH; [[simhashDroppedBuckets]] is the audit view of what
    * the cap dropped. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bucketCap: Int = 256): DataFrame = {
    val banded = simhashBanded(docs, idCol, textCol)
    val smallBuckets = banded.groupBy(col("bk")).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= bucketCap).select(col("bk"))
    val pruned = banded.join(smallBuckets, "bk")
    // verify with the codegen'd bit_count(xor) BEFORE deduplicating:
    // the hamming filter kills almost every candidate, so the
    // dropDuplicates shuffle only sees true near-dups
    pruned.as("a").join(pruned.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** q51: fixture instantiation of [[simhashPairs]]. Oracle re-derives
    * the 4x16-bit banding, bucket-cap pruning, and bit_count(xor)
    * hamming verify from the materialized simhash values (arithmetic
    * >> equals Spark's unsigned shift here because the & 65535 mask
    * discards every sign-filled bit). */
  private def q51(s: SparkSession, d: String): DataFrame =
    simhashPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id_a", "id_b")

  private val q51Sql = s"""
    WITH sigs AS (SELECT doc_id, sh FROM $AuxSigs),
    banded AS (
      SELECT doc_id, sh, b AS band, (sh >> (b * 16)) & 65535 AS key
      FROM sigs, UNNEST([0, 1, 2, 3]) AS t(b)),
    small AS (SELECT band, key FROM banded GROUP BY band, key HAVING COUNT(*) <= 256),
    pruned AS (SELECT banded.* FROM banded JOIN small USING (band, key))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sh, b.sh)) AS hamming
    FROM pruned a JOIN pruned b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    ORDER BY id_a, id_b"""

  /** Embedding-cosine top-`k` similar pairs per blocking key (the
    * "semantic near-dup" pass; the block bounds the pair space).
    * Norms are computed once per vector BEFORE the pair join, so the
    * join side only pays the dot product. */
  def cosinePairsPerBlock(emb: DataFrame, idCol: String, vecCol: String,
                          blockCol: String, k: Int = 3): DataFrame = {
    val e = emb.select(col(idCol).as("vec_id"), col(blockCol).as("label"),
      col(vecCol).as("embedding"),
      graft.functions.VectorOps.vecNorm(col(vecCol)).as("nrm"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"),
        col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (graft.functions.VectorOps.vecDot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm"))).as("sim"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("sim").desc, col("id_a"), col("id_b"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("label"), col("rank"), col("id_a"), col("id_b"))
  }

  /** q52: fixture instantiation of [[cosinePairsPerBlock]] — ids only,
    * FP-safe for the DuckDB oracle. */
  private def q52(s: SparkSession, d: String): DataFrame =
    cosinePairsPerBlock(Tables.embeddings(s, d), "vec_id", "embedding", "label")
      .orderBy("label", "rank")

  private val q52Sql = """
    WITH pairs AS (
      SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
        list_sum(list_transform(generate_series(1, len(a.embedding)),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
             i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT label, rank, id_a, id_b FROM (
      SELECT label, id_a, id_b,
             row_number() OVER (PARTITION BY label
                                ORDER BY sim DESC, id_a, id_b) AS rank
      FROM pairs)
    WHERE rank <= 3 ORDER BY label, rank"""

  /** Shared two-phase machinery of [[ngramJaccardPairs]] /
    * [[containmentPairs]]: materialize shingle-hash signatures, then
    * (1) generate CANDIDATE pairs only from shingles whose in-block
    * document frequency is <= `maxDf` — the q164 blocking idea: a
    * boilerplate shingle shared by N docs of one source would emit
    * N^2/2 join rows, and boilerplate prunes nothing, so it never
    * enters the pair join — and (2) count the EXACT shared-shingle
    * intersection only for candidate pairs, by routing each
    * candidate's grams through the near-unique (doc, block, hash)
    * posting key. Scores downstream stay exact over the FULL sets
    * (capped grams still count toward the intersection); only
    * candidate generation is df-capped, so a pair can be missed only
    * if it shares NOTHING rarer than `maxDf` — the standard
    * inverted-index dedup contract. Per-key join fan-out is bounded
    * by maxDf^2 (DedupSpec pins the hot-shingle case). */
  private def shingleSharedCounts(docs: DataFrame, idCol: String,
                                  textCol: String, blockCol: String,
                                  shingleK: Int, maxDf: Int)
      : (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    val base = signatures(s, docs.select(col(idCol).as("doc_id"),
      col(blockCol).as("source"), col(textCol).as("text")))(
      _.select(col("doc_id"), col("source"),
        hashExprs.shingleHashes(col("text"), shingleK).as("sh")))
    val sizes = base.select(col("doc_id"), size(col("sh")).as("n_sh"))
    // lazy here: the capped path consumes the exploded posting ONCE
    // (shingleCandidatePairs is now a single bounded aggregation —
    // no df branch, no anti-join, no checkpoint), so NO posting-sized
    // checkpoint is resident at all in that path (r22, ADVICE item:
    // checkpoint blocks live until RDD GC, which compounds at
    // 100 TB). The uncapped branch still checkpoints: its self-join
    // reads the exploded posting twice with no cap between.
    val posting = base.select(col("doc_id"), col("source"), explode(col("sh")).as("h"))
    val shared =
      if (maxDf == Int.MaxValue)
        // uncapped (the q68 exact-baseline setting): the direct
        // posting self-join + pair count IS the exact intersection —
        // the two-phase detour below would recompute it for the same
        // money twice
        {
          val mat = posting.localCheckpoint()
          mat.as("a").join(mat.as("b"),
              col("a.h") === col("b.h") && col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id"))
            .groupBy(col("a.source").as("source"),
              col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
            .agg(count(lit(1)).as("n_shared"))
        }
      else {
        val cand = shingleCandidatePairs(posting, maxDf)
        // exact intersection over the full gram SETS, computed only
        // for candidate pairs: the (small) candidate table joins the
        // checkpointed signature sets back by id and intersects
        // scan-side — shingleHashes emits distinct hashes, so
        // |array_intersect| is exactly the shared-gram count, with no
        // second pass over the exploded posting list
        cand
          .join(base.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
          .join(base.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
          .select(col("source"), col("id_a"), col("id_b"),
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_shared"))
      }
    (shared, sizes)
  }

  /** Phase 1 of [[shingleSharedCounts]], exposed for the DedupSpec
    * hot-key bound: candidate (source, id_a, id_b) pairs from the
    * df-capped posting list. Shingles in more than `maxDf` docs of a
    * block never enter pair generation. */
  private[graft] def shingleCandidatePairs(posting: DataFrame, maxDf: Int): DataFrame = {
    // single-pass bounded gate + pair generation (r22, the q170
    // kernel): collect_smallest(doc_id, maxDf + 1) per (block, hash)
    // holds AT MOST maxDf + 1 distinct doc ids per key AT EVERY
    // STAGE — a key whose true df exceeds the cap fills to exactly
    // maxDf + 1 and the size filter drops it WHOLE, reproducing the
    // old df-aggregate + broadcast-anti-join gate bit-for-bit while a
    // boilerplate key now ships <= maxDf + 1 ids per mapper instead
    // of its full posting. The compiled pairs_long explode then emits
    // each key's a<b candidate pairs in the same pass, so the df
    // branch, the anti-join, the pair self-join and its posting-sized
    // localCheckpoint all collapse into ONE exchange. (The r21 A/B
    // rejected the array-lambda version of this shape — interpreted
    // per row; the r22 static-call kernel + bounded collector reverse
    // it: isolated 3-run warm q53 2.6 -> 1.8 s, q175 3.0 -> 1.8 s.)
    // Null
    // keys/ids never paired under the old equi-join; the filter keeps
    // that exact.
    require(maxDf < Int.MaxValue,
      "shingleCandidatePairs is the capped path (the uncapped baseline " +
        "self-joins the posting directly)")
    posting
      .filter(col("source").isNotNull && col("h").isNotNull &&
        col("doc_id").isNotNull)
      .groupBy(col("source"), col("h"))
      .agg(graft.functions.CollectSmallestAgg
        .collectSmallest(col("doc_id"), maxDf + 1).as("ds"))
      .filter(size(col("ds")) <= maxDf)
      .select(col("source"),
        explode(graft.functions.pairGenExprs.pairsLong(col("ds"))).as("pr"))
      .select(col("source"),
        col("pr.item_a").as("id_a"), col("pr.item_b").as("id_b"))
      .distinct()
  }

  /** The "no silent caps" audit view for the shingle-pair family: the
    * blocked shingles [[ngramJaccardPairs]]/[[containmentPairs]] drop
    * from candidate generation at `maxDf`, with their document
    * frequencies. Nonempty means boilerplate is driving the cap —
    * strip it upstream or raise the cap deliberately. */
  def shingleStopGrams(docs: DataFrame, idCol: String, textCol: String,
                       blockCol: String, shingleK: Int = 3,
                       maxDf: Int = DefaultShingleMaxDf): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(blockCol).as("source"),
        explode(hashExprs.shingleHashes(col(textCol), shingleK)).as("h"))
      .groupBy(col("source"), col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)

  /** Exact n-gram (word `shingleK`-shingle) Jaccard pairs above
    * `threshold`, via a df-capped inverted shingle index
    * ([[shingleSharedCounts]]): candidate pairs come only from
    * shingles in <= `maxDf` docs of a block, the exact intersection is
    * counted on candidate pairs only, then J = shared/(|a|+|b|-shared)
    * over the full sets. Pairs with zero overlap are never
    * materialized, and no shingle fans out more than maxDf^2 join
    * rows — at 100 TB this is a bounded shuffle on shingle hashes,
    * not an O(n^2) block scan. (The naive blocked crossJoin +
    * per-pair re-tokenizing UDF was 95s at sf0.1; this form is ~2s
    * with identical output.) */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, shingleK: Int = 3,
                        threshold: Double = 0.2, maxDf: Int = DefaultShingleMaxDf): DataFrame = {
    val (shared, sizes) =
      shingleSharedCounts(docs, idCol, textCol, blockCol, shingleK, maxDf)
    shared
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("source"), col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** The df-capped candidate CTE both shingle-pair oracles share:
    * DuckDB re-derives phase 1 (df-capped posting self-join) from the
    * materialized shingle-hash sets, then phase 2's exact intersection
    * over the FULL sets via list_intersect — exactly the Spark
    * operator's two-phase semantics, not collision-approximate. */
  private def shinglePairCte(maxDf: Int) = s"""
    sigs AS (SELECT doc_id, source, sg FROM $AuxSigs),
    posting AS (SELECT doc_id, source, unnest(sg) AS h FROM sigs),
    rare AS (SELECT source, h FROM posting
             GROUP BY source, h HAVING COUNT(*) <= $maxDf),
    capped AS (SELECT posting.* FROM posting JOIN rare USING (source, h)),
    cand AS (
      SELECT DISTINCT a.source, a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN capped b
        ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT c.source, c.id_a, c.id_b,
             len(list_intersect(sa.sg, sb.sg)) AS n_shared,
             len(sa.sg) AS n_a, len(sb.sg) AS n_b
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b)"""

  /** q53: fixture instantiation of [[ngramJaccardPairs]]. Oracle:
    * the two-phase mirror from the materialized shingle-hash sets —
    * the hash sets ARE what the Spark operator joins on, so this
    * mirror is exact, not collision-approximate. */
  private def q53(s: SparkSession, d: String): DataFrame =
    ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", "source")
      .orderBy("source", "id_a", "id_b")

  private val q53Sql = s"""
    WITH ${shinglePairCte(DefaultShingleMaxDf)}
    SELECT source, id_a, id_b,
           round(CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared), 4) AS jaccard
    FROM pairs
    WHERE CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2
    ORDER BY source, id_a, id_b"""

  /** Containment pairs: |A∩B| / min(|A|,|B|) over shingle-hash sets —
    * the asymmetric near-SUPERSET detector Jaccard structurally
    * misses: a short doc quoted whole inside a long one scores
    * containment ≈ 1 while its Jaccard (÷ the UNION) can sit under
    * any reasonable threshold. The Broder containment measure; same
    * df-capped two-phase shape as [[ngramJaccardPairs]]
    * ([[shingleSharedCounts]]: candidates from <=`maxDf`-df shingles,
    * exact intersection on candidates only, zero-overlap pairs never
    * materialize), one extra column `direction` naming which side is
    * the contained one ('a_in_b' when A is the smaller set, ties
    * 'equal'). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       blockCol: String, shingleK: Int = 3,
                       threshold: Double = 0.6, maxDf: Int = DefaultShingleMaxDf): DataFrame = {
    val (shared, sizes) =
      shingleSharedCounts(docs, idCol, textCol, blockCol, shingleK, maxDf)
    shared
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .withColumn("direction",
        when(col("n_a") < col("n_b"), "a_in_b")
          .when(col("n_b") < col("n_a"), "b_in_a")
          .otherwise("equal"))
      .select(col("source"), col("id_a"), col("id_b"),
        round(col("containment"), 4).as("containment"), col("direction"))
  }

  /** q175: containment over the documents fixture. Same aux mirror as
    * q53 — the shingle sets are the dumped kernel output, everything
    * downstream (intersection, min-size normalization, direction) is
    * re-derived. */
  private def q175(s: SparkSession, d: String): DataFrame =
    containmentPairs(Tables.documents(s, d), "doc_id", "text", "source")
      .orderBy("source", "id_a", "id_b")

  private val q175Sql = s"""
    WITH ${shinglePairCte(DefaultShingleMaxDf)}
    SELECT source, id_a, id_b,
           round(CAST(n_shared AS DOUBLE) / least(n_a, n_b), 4) AS containment,
           CASE WHEN n_a < n_b THEN 'a_in_b'
                WHEN n_b < n_a THEN 'b_in_a'
                ELSE 'equal' END AS direction
    FROM pairs
    WHERE CAST(n_shared AS DOUBLE) / least(n_a, n_b) >= 0.6
    ORDER BY source, id_a, id_b"""

  /** Winnowing-fingerprint overlap pairs: docs sharing >= `minOverlap`
    * of their rolling-hash fingerprints (position-robust near-dup).
    * Standard stop-fingerprint filter: hashes occurring in more than
    * `maxDf` docs are non-discriminative boilerplate and would create
    * quadratic hot keys in the pair join — they are dropped from the
    * inverted index (but still count toward each doc's |fp| so the
    * overlap denominator stays honest). */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                         kGram: Int = 8, window: Int = 4,
                         maxDf: Int = 64, minOverlap: Double = 0.25): DataFrame = {
    val s = docs.sparkSession
    // winnow emits DISTINCT fingerprints per doc, so the per-doc size
    // is just size(wf) computed scan-side before the explode — no
    // per-doc window. The stop-fingerprint filter (fps in > maxDf
    // docs are non-discriminative boilerplate that would create
    // quadratic hot keys in the pair join) is a partial-agg df table
    // reduced to the tiny OVER-cap set, broadcast-anti-joined away:
    // a count-over-window formulation would colocate every row of a
    // hot fingerprint in one task BEFORE it could drop it — the
    // exact skew the filter exists to prevent. n_fp is computed
    // BEFORE the filter so the overlap denominator stays honest. The
    // checkpointed signature table feeds the df aggregate and the
    // pair generation instead of re-running the kernel per branch.
    val raw = signatures(s, docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))(
      _.select(col("doc_id"), hashExprs.winnowFp(col("text"), kGram, window).as("wf"))
        .select(col("doc_id"), size(col("wf")).as("n_fp"), explode(col("wf")).as("fp")))
    val stopFps = raw.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("fp"))
    // the pair self-join reads `fps` twice, re-running the broadcast
    // stop-fp anti-join in both branches — cheap re-reads of the
    // checkpointed `raw`. THREE alternatives have now been A/B'd and
    // all measure worse at bench SF: a localCheckpoint of `fps` (r21:
    // real materialization pass), an interpreted array-lambda pair
    // explode (r21: 4.3 -> 5.5 s warm), and r22's CODEGEN'D
    // [[graft.functions.PairGen.pairsKeyed]] collect_list+explode
    // (isolated 3-run warm 1.84 -> 2.16 s: collect_list forces
    // ObjectHashAggregate — no whole-stage codegen — while this join
    // rides an AQE broadcast on the fp key; q170's basket-keyed pair
    // family, where the join is a genuine two-sided shuffle, is where
    // the kernel wins and ships).
    val fps = raw.join(broadcast(stopFps), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"), col("n_fp"))
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("a.n_fp")).as("fp_a"), min(col("b.n_fp")).as("fp_b"))
      .withColumn("overlap", col("n_shared").cast("double") / least(col("fp_a"), col("fp_b")))
      .filter(col("overlap") >= minOverlap)
      .select(col("id_a"), col("id_b"), col("n_shared"), round(col("overlap"), 4).as("overlap"))
  }

  /** q54: fixture instantiation of [[winnowOverlapPairs]]. Oracle:
    * same inverted-index + stop-fingerprint logic from the
    * materialized winnow fingerprints (winnow emits distinct fps, so
    * |fp| = len(wf) exactly). */
  private def q54(s: SparkSession, d: String): DataFrame =
    winnowOverlapPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id_a", "id_b")

  private val q54Sql = s"""
    WITH sigs AS (SELECT doc_id, wf, len(wf) AS n_fp FROM $AuxSigs),
    posting AS (SELECT doc_id, n_fp, unnest(wf) AS fp FROM sigs),
    keep AS (SELECT fp FROM posting GROUP BY fp HAVING COUNT(*) <= 64),
    pruned AS (SELECT posting.* FROM posting JOIN keep USING (fp)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared,
             MIN(a.n_fp) AS fp_a, MIN(b.n_fp) AS fp_b
      FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_shared,
           round(CAST(n_shared AS DOUBLE) / least(fp_a, fp_b), 4) AS overlap
    FROM shared
    WHERE CAST(n_shared AS DOUBLE) / least(fp_a, fp_b) >= 0.25
    ORDER BY id_a, id_b"""

  /** Cluster near-dup pairs into connected components and label every
    * id with its cluster representative (the minimum reachable id) —
    * the survivor-selection step that turns pairwise detections into
    * deletions. Distributed label propagation: each iteration joins
    * current labels across the (symmetrized) edge list and keeps the
    * per-node minimum, checkpointed to truncate lineage; converges in
    * O(diameter) iterations (near-dup clusters are shallow — chains
    * longer than a few hops are rare). No driver-side union-find, no
    * collect: scales with the edge list. */
  def clusterLabels(ids: DataFrame, idCol: String,
                    pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                    maxIter: Int = 10): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint()
    var labels = ids.select(col(idCol).as("id"), col(idCol).as("label"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "nlabel"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nlabel")).as("nlabel"))
      val next = labels.join(viaNeighbor, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint()
      converged = next.join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old")).isEmpty
      labels = next
      iter += 1
    }
    labels
  }

  /** Ids that survive dedup: the minimum id of each cluster (isolated
    * ids survive trivially). */
  def survivors(ids: DataFrame, idCol: String, pairs: DataFrame,
                maxIter: Int = 10): DataFrame =
    clusterLabels(ids, idCol, pairs, maxIter = maxIter)
      .filter(col("id") === col("label"))
      .select(col("id"))

  /** q68: MinHash-LSH dedup quality harness — recall of q50's banded
    * candidate generation against the EXACT Jaccard >= threshold pair
    * set (computed via the inverted shingle index with no blocking,
    * which is exact — q53's method, not an approximation). Because
    * minhashPairs verifies every candidate with exact Jaccard,
    * precision is 1.0 by construction; what banding can lose is
    * recall, and this query measures it (the dedup analog of q67's
    * ANN recall).
    *
    * Cost control: runs on a deterministic 50% hash-bucket document
    * sample (recall estimated on the sample is still an unbiased
    * banding meter — the baseline's pair-join cost drops ~4x), and
    * the whole meter is ONE distributed plan: exact pairs left-join
    * found pairs -> a 1-row aggregate. No driver-side .count()
    * actions. Rows-only (custom kernels). */
  private def q68(s: SparkSession, d: String): DataFrame = {
    val threshold = 0.35
    // deterministic md5 bucket sample — the q58 splitter kernel, so
    // the DuckDB oracle reproduces the exact same subcorpus
    val docs = Tables.documents(s, d)
      .filter(Corpus.md5Bucket(col("doc_id")) < 128)
    // maxDf = MaxValue: the baseline must be the EXACT pair set — the
    // production df cap would make the "truth" side of a recall meter
    // itself approximate. Affordable here because the meter runs on
    // the 50% sample, not the corpus.
    val exact = ngramJaccardPairs(
        docs.withColumn("all_block", lit("x")), "doc_id", "text", "all_block",
        shingleK = 3, threshold = threshold, maxDf = Int.MaxValue)
      .select(col("id_a"), col("id_b"))
    val found = minhashPairs(docs, "doc_id", "text", threshold = threshold)
      .select(col("id_a"), col("id_b"), lit(1).as("f"))
    exact.join(found, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact_pairs"),
        coalesce(sum(col("f")), lit(0)).cast("long").as("n_found_pairs"))
      .select(col("n_exact_pairs"), col("n_found_pairs"),
        when(col("n_exact_pairs") === 0, 1.0)
          .otherwise(col("n_found_pairs").cast("double") / col("n_exact_pairs"))
          .as("recall"))
  }

  private val q68Sql = s"""
    WITH sampled AS (
      SELECT doc_id, mb, sg FROM $AuxSigs
      WHERE (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 128),
    exact AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sampled a JOIN sampled b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sg, b.sg)) > 0
        AND CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
            / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) >= 0.35),
    banded AS (SELECT doc_id, unnest(mb) AS band FROM sampled),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
    found AS (
      SELECT id_a, id_b
      FROM cand
      JOIN sampled sa ON sa.doc_id = cand.id_a
      JOIN sampled sb ON sb.doc_id = cand.id_b
      WHERE (len(sa.sg) = 0 AND len(sb.sg) = 0)
         OR (len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg)) > 0
             AND CAST(len(list_intersect(sa.sg, sb.sg)) AS DOUBLE)
                 / (len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg))) >= 0.35))
    SELECT COUNT(*) AS n_exact_pairs,
           CAST(COALESCE(SUM(CASE WHEN f.id_a IS NOT NULL THEN 1 END), 0) AS BIGINT)
             AS n_found_pairs,
           CASE WHEN COUNT(*) = 0 THEN 1.0
                ELSE CAST(COALESCE(SUM(CASE WHEN f.id_a IS NOT NULL THEN 1 END), 0)
                          AS DOUBLE) / COUNT(*)
           END AS recall
    FROM exact e LEFT JOIN found f ON e.id_a = f.id_a AND e.id_b = f.id_b"""

  /** Duplicated-span detection — the distributed approximation of
    * exact-substring dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"): find every maximal run of
    * tokens that some OTHER document also contains verbatim, and
    * report each doc's duplicated-token fraction. Where minhash asks
    * "are these docs near-identical overall", this asks "which exact
    * PASSAGES are copied" — the boilerplate/quotation signal a
    * training pipeline clips rather than drops.
    *
    * Shape: every k-token window is hashed (md5 of the joined gram —
    * engine-portable); an inverted index keeps grams seen in >= 2
    * distinct docs (cross-doc duplication only; a doc repeating
    * itself is q95's repetition signal, not copying), with a stop-gram
    * df cap exactly like [[winnowOverlapPairs]]'s stop-fingerprint
    * filter (a gram in > maxDf docs is boilerplate that would hot-key
    * the shuffle); per doc, surviving window positions merge into
    * maximal spans by gaps-and-islands (windows whose starts differ
    * by <= k-1 share tokens, so a gap > k-1 starts a new span).
    *
    * 100 TB shape: windows shuffle as (doc_id, pos, 16-byte hash) —
    * never text; the df filter is one aggregation on the gram hash;
    * the island merge is a per-doc window over only that doc's
    * duplicated positions (bounded by doc length). Nothing is
    * pairwise in the corpus. */
  /** Gram size and document-frequency cap of the span family (q130
    * detection, q195 scrub) — ONE pair of constants shared by the
    * operator defaults, the fixture gates and BOTH oracle SQL strings
    * (the [[DefaultShingleMaxDf]] discipline: changing either side
    * alone would desynchronize gate and oracle). */
  val SpanGramK = 8
  val SpanMaxDf = 64

  /** One (doc_id, n_tokens, pos, gram-md5) row per k-token window —
    * the inverted gram stream the span family runs on; slice is
    * 1-based, pos is the 0-based token offset of the window start.
    * Checkpointed (via [[signatures]]): it feeds the cross-doc df
    * aggregate AND the join back — without that each consumer re-runs
    * the md5 window kernel over the corpus. (At 100 TB this is the
    * inverted gram index a pipeline persists to storage between
    * stages — which is also why the q130/q195 gates share one
    * session-memoized instance.) */
  private[operators] def gramWindows(docs: DataFrame, idCol: String,
                                     textCol: String, k: Int): DataFrame = {
    val s = docs.sparkSession
    signatures(s, docs.select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("w")))(
      _.filter(size(col("w")) >= k)
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
          posexplode(expr(
            s"transform(sequence(0, size(w) - $k), i -> md5(concat_ws(' ', slice(w, i + 1, $k))))"))
            .as(Seq("pos", "h"))))
  }

  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = SpanGramK, maxDf: Int = SpanMaxDf): DataFrame =
    spansFromWins(gramWindows(docs, idCol, textCol, k), k, maxDf)

  private[operators] def spansFromWins(wins: DataFrame, k: Int,
                                       maxDf: Int): DataFrame = {
    // grams copied across docs (>= 2 distinct), minus boilerplate —
    // a partial-agg df table joined back on the gram key, never a
    // per-gram window: a window would colocate EVERY position of a
    // corpus-wide boilerplate gram in one task (and materialize its
    // doc set per row) before the cap could drop it. The join is
    // skew-free by construction: the kept set excludes every gram in
    // more than maxDf docs, so no join key fans out past maxDf.
    val copied = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs").between(2, maxDf))
      .select(col("h"))
    val dupPos = wins.join(copied, "h")
      .select(col("doc_id"), col("n_tokens"), col("pos"))
    // merge overlapping/adjacent windows into maximal spans
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) <= k - 1, 0).otherwise(1))
      .withColumn("island", sum(col("brk")).over(wDoc))
      .groupBy(col("doc_id"), col("n_tokens"), col("island"))
      .agg((max(col("pos")) + lit(k) - min(col("pos"))).as("span_tokens"))
    spans.groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_tokens")).as("dup_tokens"))
      .withColumn("dup_frac_micros",
        expr("1000000 * dup_tokens div n_tokens"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        col("n_tokens"), col("dup_frac_micros"))
      .orderBy(col("doc_id"))
  }

  /** Incremental near-dup admission against a persisted LSH band
    * store — the DAILY form of corpus dedup: yesterday's corpus is a
    * parquet table of (doc_id, band) MinHash-LSH bands; today's
    * arrivals are admitted iff they collide with nothing already
    * stored and nothing smaller-id in their own batch, and the
    * admitted docs' bands are appended so tomorrow's batch sees them.
    *
    * Collision = any shared band (candidate-level dedup, the
    * aggressive production setting; an exact-verify variant composes
    * by joining text back on the candidate pairs as [[minhashPairs]]
    * does). The same-id exclusion in the store check is what makes a
    * REPLAYED batch (streaming at-least-once redelivery) a no-op:
    * an admitted doc's own stored bands never evict it, and any
    * batchmate it didn't collide with on first delivery still
    * doesn't collide on redelivery (DedupSpec pins this).
    *
    * Scale shape: bands shuffle as (doc_id, band-long) only; the
    * store check is a semi-join on the band key against a store
    * that at 100 TB is band-prefix-partitioned (the S4 bucketed-LSH
    * layout family), so each batch touches only its bands'
    * partitions. Returns the admitted (doc_id, band) rows it
    * appended. */
  def admitAgainstBandStore(newDocs: DataFrame, storePath: String,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            nHashes: Int = 64, shingleK: Int = 3,
                            nBands: Int = 16): DataFrame = {
    val s = newDocs.sparkSession
    val nb = signatures(s, newDocs.select(col(idCol).as("doc_id"),
        col(textCol).as("text")))(
      _.select(col("doc_id"),
        explode(hashExprs.minhashBands(col("text"), nHashes, shingleK, nBands))
          .as("band")))
    val store = graft.sources.Relations.parquet(s, storePath)
    val hitStore = nb.as("n").join(store.as("s"),
        col("n.band") === col("s.band") && col("n.doc_id") =!= col("s.doc_id"),
        "left_semi")
      .select(col("doc_id")).distinct()
    val hitIntra = nb.as("a").join(nb.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") > col("b.doc_id"),
        "left_semi")
      .select(col("doc_id")).distinct()
    val admitted = nb.join(hitStore.union(hitIntra).distinct(),
        Seq("doc_id"), "left_anti")
      .localCheckpoint()
    admitted.write.mode("append").parquet(storePath)
    admitted
  }

  /** Compact a band store grown by [[admitAgainstBandStore]]'s
    * appends (replayed batches may append duplicate (doc_id, band)
    * rows — harmless for admission semantics, wasteful on disk):
    * rewrite one row per distinct pair. The read-before-overwrite
    * checkpoint is the same safety the partition-rewrite verbs use.
    * At 100 TB the store is band-prefix-partitioned and this runs
    * per partition, like [[graft.sources.IndexStore.compactIvf]]. */
  def compactBandStore(spark: SparkSession, storePath: String): Unit = {
    val distinctRows = graft.sources.Relations.parquet(spark, storePath)
      .distinct().localCheckpoint()
    distinctRows.write.mode("overwrite").parquet(storePath)
  }

  /** q130: fixture instantiation of [[duplicatedSpans]]. Oracle:
    * DuckDB re-derives the windows, the cross-doc gram set, and the
    * island merge from the RAW documents table — no aux; md5 over
    * identically-joined token slices is the engine-portable gram
    * key on both sides. */
  /** (session, sf)-memoized fixture gram stream shared by the q130
    * and q195 gates — one md5 window kernel pass serves detection and
    * rewrite, the same reuse docEmbCached gives the embedding gates. */
  private val winsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
  private def fixtureWins(s: SparkSession, d: String): DataFrame =
    winsCache.getOrElseUpdate(
      (graft.sources.IndexStore.sessionKey(s), d),
      gramWindows(Tables.documents(s, d), "doc_id", "text", SpanGramK))

  private def q130(s: SparkSession, d: String): DataFrame =
    spansFromWins(fixtureWins(s, d), SpanGramK, SpanMaxDf)

  private val q130Sql = s"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents WHERE len(string_split(text, ' ')) >= $SpanGramK),
    wins AS (
      SELECT doc_id, n_tokens, i - 1 AS pos,
             md5(array_to_string(list_slice(w, i, i + ${SpanGramK - 1}), ' ')) AS h
      FROM base, UNNEST(generate_series(1, len(w) - ${SpanGramK - 1})) AS t(i)),
    dup AS (SELECT h FROM wins GROUP BY h
            HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND $SpanMaxDf),
    duppos AS (
      SELECT w.doc_id, w.n_tokens, w.pos FROM wins w JOIN dup USING (h)),
    isl AS (
      SELECT doc_id, n_tokens, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= ${SpanGramK - 1}
                  THEN 0 ELSE 1 END AS brk
      FROM duppos),
    grp AS (
      SELECT doc_id, n_tokens, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl),
    spans AS (
      SELECT doc_id, n_tokens, island,
             MAX(pos) + $SpanGramK - MIN(pos) AS span_tokens
      FROM grp GROUP BY doc_id, n_tokens, island)
    SELECT doc_id, COUNT(*) AS n_spans,
           CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
           n_tokens,
           CAST((1000000 * SUM(span_tokens)) // n_tokens AS BIGINT)
             AS dup_frac_micros
    FROM spans GROUP BY doc_id, n_tokens
    ORDER BY doc_id"""

  // ---- q195: duplicated-span scrub (the rewrite half of q130) --------

  /** Cut non-first occurrences of cross-document duplicated spans —
    * the REWRITE half of span dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499
    * removes all-but-one occurrence of long repeated substrings;
    * [[duplicatedSpans]]/q130 is the detection half that only
    * reports them). The pairing mirrors q95→q187 for intra-doc
    * repetition: detect, then actually clean.
    *
    * Semantics: over the same k-token gram stream as q130 (same df
    * band [2, maxDf] — intra-doc-only repeats have one distinct doc
    * and are q187's business, not this operator's; grams above the
    * cap are the boilerplate q130 also excludes), each duplicated
    * gram's KEEPER is its lexicographic-min (doc_id, pos) occurrence
    * corpus-wide. A token is dropped iff some non-keeper duplicated
    * window covers it and no keeper window does — so exactly one
    * copy of every duplicated span survives, and the keeper's tokens
    * are immune even where other removable windows overlap them.
    * Dropping is deterministic: replays and partitioning cannot move
    * a keeper.
    *
    * Scale shape: the gram table is checkpointed once (the q130
    * inverted-index discipline); the df band comes from a partial-agg
    * table joined back (never a per-gram window — the join fans out
    * at most maxDf per gram by construction); the keeper is a
    * partial-agg struct MIN on the gram key; coverage is ONE shuffle
    * of (doc_id, token, flag) ids; and the rewrite itself is
    * scan-side — a per-doc drop-list array joins back to the corpus
    * and a higher-order filter cuts the tokens, so no token-level
    * word data ever shuffles. Returns one row PER CHANGED DOC:
    * (doc_id, n_tokens, removed_tokens, kept_tokens, clean_md5) —
    * md5 of the rebuilt text makes the gate hash-sensitive to every
    * surviving token and separator. */
  def scrubSpans(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = SpanGramK, maxDf: Int = SpanMaxDf): DataFrame =
    scrubFromWins(docs.select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("w")),
      gramWindows(docs, idCol, textCol, k), k, maxDf)

  /** The scrub over a prebuilt gram stream: `base` is the (doc_id, w
    * token-array) rebuild source — a plain scan, re-derived rather
    * than checkpointed because only the CHANGED docs' rows survive
    * the final join. */
  private[operators] def scrubFromWins(base: DataFrame, wins: DataFrame,
                                       k: Int, maxDf: Int): DataFrame = {
    val copied = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs").between(2, maxDf))
      .select(col("h"))
    // duplicated occurrences only — checkpointed because both the
    // keeper MIN and the coverage explode read it
    val occ = wins.join(copied, "h")
      .select(col("h"), col("doc_id"), col("pos"))
      .localCheckpoint()
    val winners = occ.groupBy(col("h"))
      .agg(min(struct(col("doc_id").as("d"), col("pos").as("p"))).as("wn"))
    val marked = occ.join(winners, "h")
      .select(col("doc_id"), col("pos"),
        (col("doc_id") =!= col("wn.d") || col("pos") =!= col("wn.p"))
          .as("removable"))
    val cover = marked
      .select(col("doc_id"), col("removable"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(max(when(!col("removable"), 1).otherwise(0)).as("keep"),
        max(when(col("removable"), 1).otherwise(0)).as("rem"))
    val drops = cover.filter(col("rem") === 1 && col("keep") === 0)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tok"))).as("dl"),
        count(lit(1)).as("removed_tokens"))
    base.join(drops, "doc_id")
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("removed_tokens"),
        (col("n_tokens") - col("removed_tokens")).as("kept_tokens"),
        md5(array_join(
          expr("filter(w, (x, i) -> NOT array_contains(dl, i))"), " "))
          .as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** q195: fixture instantiation of [[scrubSpans]]. Oracle: DuckDB
    * re-derives the gram stream, df band, struct-MIN keepers,
    * coverage verdicts, drop lists and the md5 of the rebuilt text
    * from the RAW documents table — no aux; both engines order the
    * keeper struct (doc_id, pos) lexicographically and both lambdas
    * filter on the 0-based token index (DuckDB's is 1-based, hence
    * the i - 1). The COALESCE matters: DuckDB's array_to_string of
    * an EMPTY list is NULL, not '' — without it an all-tokens-removed
    * doc hashes on the Spark side only. */
  private def q195(s: SparkSession, d: String): DataFrame =
    scrubFromWins(Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w")),
      fixtureWins(s, d), SpanGramK, SpanMaxDf)

  private val q195Sql = s"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents WHERE len(string_split(text, ' ')) >= $SpanGramK),
    wins AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(list_slice(w, i, i + ${SpanGramK - 1}), ' ')) AS h
      FROM base, UNNEST(generate_series(1, len(w) - ${SpanGramK - 1})) AS t(i)),
    copied AS (SELECT h FROM wins GROUP BY h
               HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND $SpanMaxDf),
    occ AS (SELECT w.doc_id, w.pos, w.h FROM wins w JOIN copied USING (h)),
    winners AS (
      SELECT h, MIN({'d': doc_id, 'p': pos}) AS wn FROM occ GROUP BY h),
    marked AS (
      SELECT o.doc_id, o.pos,
             (o.doc_id <> struct_extract(wn, 'd')
              OR o.pos <> struct_extract(wn, 'p')) AS removable
      FROM occ o JOIN winners USING (h)),
    cover AS (
      SELECT doc_id, pos + j AS tok,
             MAX(CASE WHEN removable THEN 0 ELSE 1 END) AS keep,
             MAX(CASE WHEN removable THEN 1 ELSE 0 END) AS rem
      FROM marked, UNNEST(generate_series(0, ${SpanGramK - 1})) AS u(j)
      GROUP BY doc_id, tok),
    drops AS (
      SELECT doc_id, list_sort(list(tok)) AS dl, COUNT(*) AS removed
      FROM cover WHERE rem = 1 AND keep = 0 GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(d.removed AS BIGINT) AS removed_tokens,
           CAST(b.n_tokens - d.removed AS BIGINT) AS kept_tokens,
           md5(COALESCE(array_to_string(
             list_filter(w, (x, i) -> NOT list_contains(dl, i - 1)), ' '),
             '')) AS clean_md5
    FROM base b JOIN drops d USING (doc_id) ORDER BY doc_id"""

  // ---- q152: quality-aware canonical survivor selection -------------

  /** Per-document cluster label + keep-best rank: [[clusterLabels]]
    * joined with an integer quality column and ranked per cluster by
    * (quality DESC, id) — rank 1 is the cluster's canonical member.
    * Min-id survivorship ([[survivors]]) keeps an ARBITRARY member of
    * each near-dup cluster; a training pipeline wants the best one
    * (longest, highest-scoring — any integer quality), and the
    * tie-break on id keeps the pick deterministic. One rank window on
    * the label partitioning — the same shuffle the labels already
    * have. */
  def canonicalRank(docs: DataFrame, idCol: String, qualityCol: String,
                    pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val labels = clusterLabels(docs.select(col(idCol)), idCol, pairs,
      maxIter = maxIter)
    val w = Window.partitionBy(col("label"))
      .orderBy(col("quality").desc, col("id"))
    labels
      .join(docs.select(col(idCol).as("id"), col(qualityCol).as("quality")), "id")
      .withColumn("rk", row_number().over(w))
  }

  /** Ids that survive keep-best dedup (the [[survivors]] drop-in with
    * a quality argument): each cluster's canonical member plus every
    * isolated id. */
  def canonicalSurvivors(docs: DataFrame, idCol: String, qualityCol: String,
                         pairs: DataFrame, maxIter: Int = 10): DataFrame =
    canonicalRank(docs, idCol, qualityCol, pairs, maxIter)
      .filter(col("rk") === 1).select(col("id"))

  /** q152: keep-best dedup observed per cluster — for every
    * non-singleton MinHash cluster (q50's pairs, threshold 0.35), the
    * member count and the canonical pick under `n_chars` quality.
    * `label` is the cluster's min id, i.e. exactly what min-id
    * survivorship would keep — so each row SHOWS where quality-aware
    * selection departs from the naive rule (canonical_id != label).
    * Oracle: pairs re-derived from the dumped signatures (the q50
    * mirror), clusters as a RECURSIVE min-label closure (the q97
    * idiom), the pick as the same (quality DESC, id) argmax. */
  private def q152(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = minhashPairs(docs, "doc_id", "text")
    canonicalRank(docs, "doc_id", "n_chars", pairs)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("id"))).as("canonical_id"),
        max(when(col("rk") === 1, col("quality"))).as("canonical_quality"))
      .filter(col("n_members") >= 2)
      .orderBy(col("label"))
  }

  /** The MinHash cluster-closure CTE chain (q50's banding + exact
    * verify, symmetrized edges, RECURSIVE min-label propagation —
    * ends at `labels(id, label)`), shared by the q152 canonical-pick
    * and q183 dedup-report oracles. Must follow a `WITH RECURSIVE`
    * keyword at the call site. */
  private val minhashClusterCte = s"""
    sigs AS (SELECT doc_id, mb, sg FROM $AuxSigs),
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
    labels AS (SELECT id, MIN(label) AS label FROM r GROUP BY id)"""

  private val q152Sql = s"""
    WITH RECURSIVE $minhashClusterCte,
    ranked AS (
      SELECT l.label, l.id, d.n_chars AS quality,
             row_number() OVER (PARTITION BY l.label
                                ORDER BY d.n_chars DESC, l.id) AS rk
      FROM labels l JOIN documents d ON d.doc_id = l.id)
    SELECT label, COUNT(*) AS n_members,
           MAX(CASE WHEN rk = 1 THEN id END) AS canonical_id,
           MAX(CASE WHEN rk = 1 THEN quality END) AS canonical_quality
    FROM ranked GROUP BY label HAVING COUNT(*) >= 2
    ORDER BY label"""

  // ---- q183: per-source dedup observability -------------------------

  /** Per-group dedup accounting over any pair set — the observability
    * report a pipeline publishes after its dedup stage ("what did
    * dedup cost each domain"): cluster the pairs
    * ([[clusterLabels]]), size the clusters, and report per group:
    * document count, how many sit in a non-singleton near-dup
    * cluster, how many survive min-id survivorship, and the removal
    * rate in micros. A cluster may span groups; each member is
    * attributed to its OWN group (so a boilerplate page duplicated
    * across two domains charges both). Shuffles: the label
    * propagation's (edge-list-sized) plus one cluster-size aggregate
    * and one group aggregate — nothing corpus-pairwise. */
  def dedupReport(docs: DataFrame, idCol: String, groupCol: String,
                  pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val labels = clusterLabels(docs.select(col(idCol)), idCol, pairs,
      maxIter = maxIter)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    docs.select(col(idCol).as("id"), col(groupCol).as("grp"))
      .join(labels, "id")
      .join(sizes, "label")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("csize") >= 2, 1L).otherwise(0L)).as("n_dup_members"),
        sum(when(col("id") === col("label"), 1L).otherwise(0L)).as("n_survivors"))
      .withColumn("n_removed", col("n_docs") - col("n_survivors"))
      .withColumn("removed_micros",
        expr("n_removed * 1000000 div n_docs"))
  }

  /** q183: [[dedupReport]] over the q50 MinHash pair set, per source
    * — the dedup-stage dashboard. Oracle: the shared cluster-closure
    * mirror (pairs from dumped signatures, RECURSIVE min-label
    * propagation) sized and re-aggregated per source. */
  private def q183(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dedupReport(docs, "doc_id", "source",
        minhashPairs(docs, "doc_id", "text"))
      .withColumnRenamed("grp", "source")
      .orderBy("source")
  }

  private val q183Sql = s"""
    WITH RECURSIVE $minhashClusterCte,
    sizes AS (SELECT label, COUNT(*) AS csize FROM labels GROUP BY label),
    member AS (
      SELECT d.source, l.id, l.label, s.csize
      FROM documents d
      JOIN labels l ON l.id = d.doc_id
      JOIN sizes s USING (label))
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN csize >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_members,
           CAST(SUM(CASE WHEN id = label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_survivors,
           CAST(COUNT(*) - SUM(CASE WHEN id = label THEN 1 ELSE 0 END)
             AS BIGINT) AS n_removed,
           CAST((COUNT(*) - SUM(CASE WHEN id = label THEN 1 ELSE 0 END))
             * 1000000 // COUNT(*) AS BIGINT) AS removed_micros
    FROM member GROUP BY source ORDER BY source"""

  // ---- fuzzy entity matching (record linkage) -----------------------

  /** Fuzzy entity-matching join (record linkage, the Splink/dedupe.io
    * op a pipeline runs to reconcile dirty catalogs): block candidate
    * pairs on shared character trigrams, score candidates by exact
    * set-Jaccard in integer micros, keep each dirty record's best
    * match (score DESC, id ASC — deterministic). `maxDf` drops
    * ultra-common trigrams from BLOCKING only (the q53 stop-shingle
    * idea: a gram in half the catalog blocks everything and prunes
    * nothing) — scoring still uses the full sets, so the score is
    * exact Jaccard whenever a pair survives blocking.
    *
    * Scale shape: trigram extraction is scan-side; the blocking
    * shuffle carries (id, gram) pairs with bounded-df grams; scoring
    * joins gram-count aggregates on the candidate pair key. Nothing
    * is all-pairs: a candidate exists only via a shared
    * non-stopword gram. */
  def fuzzyBestMatch(dirty: DataFrame, dirtyId: String, dirtyStr: String,
                     clean: DataFrame, cleanId: String, cleanStr: String,
                     maxDf: Long = 500L): DataFrame = {
    def grams(df: DataFrame, id: String, s: String, idOut: String)
        : DataFrame =
      df.select(col(id).as(idOut), col(s).as("_s"))
        .select(col(idOut), explode(
          array_distinct(transform(
            sequence(lit(1), greatest(length(col("_s")) - 2, lit(1))),
            i => col("_s").substr(i, lit(3)))))
          .as("gram"))
        .filter(length(col("gram")) === 3)
    val dg = grams(dirty, dirtyId, dirtyStr, "dirty_id").localCheckpoint()
    val cg = grams(clean, cleanId, cleanStr, "clean_id").localCheckpoint()
    val dn = dg.groupBy(col("dirty_id")).agg(count(lit(1)).as("nd"))
    val cn = cg.groupBy(col("clean_id")).agg(count(lit(1)).as("nc"))
    // blocking grams: drop grams too common on the clean side — the
    // stop-gram set is the OVER-cap keys (tiny by definition:
    // boilerplate grams are few), anti-joined away, so the near-
    // complete under-cap key set never rides a shuffle join (the q53
    // discipline; AQE broadcasts the hot set). A dirty gram absent
    // from the clean side survives the anti-join and then drops in
    // the cg inner join exactly as it dropped out of the old
    // under-cap inner join — same candidate set.
    val hot = cg.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("gram"))
    val cand = dg.join(hot, Seq("gram"), "left_anti").join(cg, "gram")
      .groupBy(col("dirty_id"), col("clean_id"))
      .agg(count(lit(1)).as("n_shared_blocking"))
      .select(col("dirty_id"), col("clean_id"))
    // exact intersection over the FULL gram sets — but computed ONLY
    // for the candidate pairs: routing the gram probe through the
    // (clean_id, gram) key keeps it near-unique, where the naive
    // dg⋈cg-on-gram join explodes on every stopword-common trigram
    // (a gram in d dirty × c clean rows materializes d·c rows — the
    // exact quadratic blocking exists to avoid; measured 8 s vs
    // ~1 s on the sf0.1 part catalog)
    val inter = cand
      .join(dg, "dirty_id")
      .join(cg, Seq("clean_id", "gram"))
      .groupBy(col("dirty_id"), col("clean_id"))
      .agg(count(lit(1)).as("n_inter"))
    val w = Window.partitionBy(col("dirty_id"))
      .orderBy(col("sim_micros").desc, col("clean_id"))
    inter
      .join(dn, "dirty_id").join(cn, "clean_id")
      .withColumn("sim_micros",
        expr("n_inter * 1000000 div (nd + nc - n_inter)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("dirty_id"), col("clean_id"), col("sim_micros"))
  }

  /** q164: link a deterministically corrupted catalog back to its
    * source — every 7th part's name with the vowels deleted (the
    * classic OCR/entry-noise shape) fuzzy-joined against the full
    * part catalog. The corruption keeps consonant trigrams intact, so
    * the true origin (or an identically-named part — the catalog has
    * exact-name duplicates; ties break to the smallest key) wins the
    * Jaccard argmax. */
  private def q164(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
      .select(col("p_partkey"), lower(col("p_name")).as("name"))
    val dirty = parts.filter(col("p_partkey") % 7 === 0)
      .select(col("p_partkey").as("dirty_key"),
        regexp_replace(col("name"), "[aeiou]", "").as("dirty_name"))
    fuzzyBestMatch(dirty, "dirty_key", "dirty_name",
        parts, "p_partkey", "name")
      .withColumnRenamed("dirty_id", "dirty_key")
      .withColumnRenamed("clean_id", "matched_key")
      .orderBy("dirty_key")
  }

  private val q164Sql = """
    WITH clean AS (
      SELECT p_partkey AS clean_id, lower(p_name) AS s FROM part),
    dirty AS (
      SELECT p_partkey AS dirty_id,
             regexp_replace(lower(p_name), '[aeiou]', '', 'g') AS s
      FROM part WHERE p_partkey % 7 = 0),
    cg AS (
      SELECT DISTINCT clean_id, gram FROM (
        SELECT clean_id, unnest(list_transform(
          generate_series(1, greatest(len(s) - 2, 1)),
          i -> s[i:i+2])) AS gram
        FROM clean)
      WHERE len(gram) = 3),
    dg AS (
      SELECT DISTINCT dirty_id, gram FROM (
        SELECT dirty_id, unnest(list_transform(
          generate_series(1, greatest(len(s) - 2, 1)),
          i -> s[i:i+2])) AS gram
        FROM dirty)
      WHERE len(gram) = 3),
    dn AS (SELECT dirty_id, COUNT(*) AS nd FROM dg GROUP BY dirty_id),
    cn AS (SELECT clean_id, COUNT(*) AS nc FROM cg GROUP BY clean_id),
    rare AS (
      SELECT gram FROM (SELECT gram, COUNT(*) AS df FROM cg GROUP BY gram)
      WHERE df <= 500),
    cand AS (
      SELECT DISTINCT dg.dirty_id, cg.clean_id
      FROM dg JOIN rare USING (gram) JOIN cg USING (gram)),
    inter AS (
      SELECT dg.dirty_id, cg.clean_id, COUNT(*) AS n_inter
      FROM dg JOIN cg USING (gram)
      GROUP BY dg.dirty_id, cg.clean_id),
    scored AS (
      SELECT c.dirty_id, c.clean_id,
             CAST(i.n_inter * 1000000
               // (dn.nd + cn.nc - i.n_inter) AS BIGINT) AS sim_micros
      FROM cand c
      JOIN inter i ON c.dirty_id = i.dirty_id AND c.clean_id = i.clean_id
      JOIN dn ON c.dirty_id = dn.dirty_id
      JOIN cn ON c.clean_id = cn.clean_id)
    SELECT dirty_id AS dirty_key, clean_id AS matched_key, sim_micros
    FROM (
      SELECT dirty_id, clean_id, sim_micros,
             row_number() OVER (PARTITION BY dirty_id
               ORDER BY sim_micros DESC, clean_id) AS rnk
      FROM scored)
    WHERE rnk = 1 ORDER BY dirty_key"""

  val queries: Seq[Query] = Seq(
    Query("q164_fuzzy_match",      q164, Some(q164Sql)),
    Query("q50_dedup_minhash_lsh", q50, Some(q50Sql)),
    Query("q152_canonical_pick",   q152, Some(q152Sql)),
    Query("q183_dedup_report",     q183, Some(q183Sql)),
    Query("q51_dedup_simhash",     q51, Some(q51Sql)),
    Query("q52_embedding_neardup", q52, Some(q52Sql)),
    Query("q53_ngram_jaccard",     q53, Some(q53Sql)),
    Query("q175_containment",      q175, Some(q175Sql)),
    Query("q54_winnow_overlap",    q54, Some(q54Sql)),
    Query("q68_dedup_recall",      q68, Some(q68Sql)),
    Query("q130_span_dedup",       q130, Some(q130Sql)),
    Query("q195_span_scrub",       q195, Some(q195Sql)))
}
