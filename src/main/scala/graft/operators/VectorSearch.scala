package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Tables}
import graft.functions.{exprs, Embed, VectorOps}

/** Vector search (SURVEY.md §2.5): exact brute-force kNN (the
  * reference's `collection.query` semantics, made oracle-able),
  * multi-query batch kNN, LSH-bucketed ANN (the 100 TB scale path),
  * and the flagship end-to-end semantic search (chunk -> embed ->
  * top-k with provenance + deep links — app.py:42-78 reimagined as
  * one declarative plan).
  *
  * Scale notes: the query side of every kNN here is tiny and
  * explicitly broadcast — the corpus never shuffles. Exact top-k goes
  * through orderBy(...).limit(k) = TakeOrderedAndProject (per
  * partition top-k + driver merge, no global sort). The ANN variant
  * buckets by hyperplane signs so candidate generation is an equi
  * join on the bucket key.
  */
object VectorSearch {

  /** Distances in double precision; ordering ties broken by vec_id. */
  private def l2(a: Column, b: Column) = VectorOps.vecL2(a, b)
  private def cos(a: Column, b: Column) = VectorOps.vecCosine(a, b)

  /** Signed-byte SQ8 codes as int lists for the aux dumps (DuckDB has
    * no signed-byte list type) — ONE definition shared by the
    * q69/q98/q67b materializations so their interpretation can never
    * diverge. Verify-only (a UDF is fine off the hot path). */
  private[graft] lazy val bytesToInts = udf((b: Array[Byte]) => b.map(_.toInt))

  /** UNSIGNED byte dump — for PQ codes, which [[graft.functions
    * .VecIndex.pqAdc]] reads `& 0xFF`: a signed dump of code 200
    * would emit -56, silently matching nothing in the oracle's LUT
    * join for any ksub > 128 build (SQ8 codes stay signed — that IS
    * their interpretation). */
  private lazy val bytesToUInts = udf((b: Array[Byte]) => b.map(_ & 0xFF))

  /** Session-scoped memo of expensive-to-produce result frames (the
    * ANN method outputs, the exact baseline, and the shared
    * [[docRowsCached]] corpus pass). Each is computed ONCE per
    * (session, sf) and localCheckpoint pinned, so the q67/q67b recall
    * meters measure the paths without re-executing them (and without
    * re-paying Lloyd training), and a bench run of q62+q65+q69+q67
    * pays each method exactly once. The frames are deterministic, so
    * reuse never changes a result. Keyed by the weak-map session UUID
    * ([[graft.sources.IndexStore.sessionKey]]) — an identity hash
    * could be REUSED after a session is GC'd and would serve a dead
    * session's checkpointed frame to its successor. Entries live for
    * the JVM (verify/bench lifetimes); long-lived multi-session
    * servers should scope a cleanup to session close. */
  private val frameCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]
  private def cachedFrame(s: SparkSession, d: String, key: String)
                         (mk: => DataFrame): DataFrame =
    frameCache.getOrElseUpdate((graft.sources.IndexStore.sessionKey(s), d, key),
      mk.localCheckpoint())

  /** ONE chunk+embed pass of the documents table per (session, sf):
    * every persisted-index lifecycle (IVF q98/q104/q104b, HNSW
    * q103/q105/q106, the q107/q108/q111 maintenance gates) builds its
    * layout from this materialized frame — or a doc_id filter of it,
    * which is bit-identical to re-chunking the filtered docs because
    * chunk ids and embeddings are per-row deterministic. The embed
    * kernel dominated the old per-query builds (five redundant
    * passes over the same corpus, one per physical layout). */
  private[graft] def docRowsCached(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "index_rows") {
      graft.sources.IndexStore.indexRows(Tables.documents(s, d))
    }

  /** q60: exact L2 top-10 neighbors of vec_id 0 (rank + id + label —
    * distance values intentionally not output: the ids are FP-robust,
    * the raw floats would hash-differ across engines). */
  private def q60(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val top = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      // project the vectors away before the top-k: the TakeOrdered
      // heap and driver merge hold (dist, id, label) rows only
      .select(l2(col("embedding"), col("qvec")).as("dist"),
        col("vec_id"), col("label"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("dist"), col("vec_id"))))
      .select(col("rank"), col("vec_id"), col("label"))
  }

  private val q60Sql = """
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id, label,
        sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> (CAST(embedding[i] AS DOUBLE) - CAST(qvec[i] AS DOUBLE))
             * (CAST(embedding[i] AS DOUBLE) - CAST(qvec[i] AS DOUBLE))))) AS dist
      FROM embeddings, q WHERE vec_id <> 0
    )
    SELECT row_number() OVER (ORDER BY dist, vec_id) AS rank, vec_id, label
    FROM scored ORDER BY dist, vec_id LIMIT 10"""

  /** PUBLIC batch kNN: exact cosine top-`k` of each query vector
    * against the corpus (queries broadcast — the corpus never
    * shuffles; per-query window top-k — V2/V4 semantics). `queries`
    * needs (query_id, qvec) columns. */
  def knnCosine(corpus: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol))
    corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("query_id"))
      // sim is computed scan-side; the rank exchange carries
      // (query_id, id, sim) — the vectors never shuffle
      .select(col("query_id"), col(idCol),
        cos(col(vecCol), col("qvec")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol))
  }

  /** PUBLIC space-parameterized exact kNN — chroma's `hnsw:space`
    * collection contract as a standalone ranker over any (id, vec)
    * corpus. Distances follow the chroma convention (l2 = squared L2,
    * ip = 1 - dot, cosine = 1 - cos), ascending, id tie-break.
    * Same scale shape as [[knnCosine]]: queries broadcast, distance
    * scan-side, the rank exchange carries (query_id, id, dist) only.
    * Dispatches on the vector column's element type — ARRAY<FLOAT>
    * rides the codegen'd kernels, ARRAY<DOUBLE> (derived/rescaled
    * corpora) the declarative higher-order fold; both are the same
    * left-to-right double arithmetic, so results are bit-identical
    * to each other and to the DuckDB oracle mirrors. MEASURED
    * (graft.dev.SpaceBench, 100k x 64-dim x 8 queries, sf0.1 warm;
    * the program was removed with the dev probes and is at commit
    * 86e4c01):
    * float kernels 0.39-0.65 s per space, double HOF folds
    * 0.57-0.99 s — the kernel path is ~1.2-1.9x faster, so float
    * storage is the right default; the double path exists for
    * correctness on derived corpora, not as a peer. */
  def knnSpace(corpus: DataFrame, idCol: String, vecCol: String,
               queries: DataFrame, k: Int, space: String): DataFrame = {
    val isDouble = corpus.schema(vecCol).dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val dist =
      if (isDouble) VectorOps.spaceDistD(space, col(vecCol), col("qvec"))
      else VectorOps.spaceDist(space, col(vecCol), col("qvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col(idCol))
    corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), dist.as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol))
  }

  /** q121: the chroma `hnsw:space` contract gated where it actually
    * bites. The unit-norm fixture would make all three spaces
    * rank-identical, so the corpus is rescaled by (1 + vec_id % 5) —
    * non-unit vectors on which the three spaces produce three
    * genuinely different top-10s (cosine ignores norms, ip favors
    * large-norm vectors, l2 favors norm-matched ones). Query = vec 0
    * (scale 1). Rank-only output (the q60 FP-robustness rationale);
    * the oracle re-derives the scaled vectors and all three distance
    * folds from the raw table. */
  private def q121(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val scaled = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => x.cast("double") * (lit(1.0) + (col("vec_id") % 5).cast("double")))
        .as("vec"))
    val q = scaled.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    Seq("cosine", "ip", "l2").map { sp =>
      knnSpace(scaled, "vec_id", "vec", q, 10, sp)
        .withColumn("space", lit(sp))
    }.reduce(_ unionByName _)
      .select(col("space"), col("rank"), col("vec_id"))
      .orderBy(col("space"), col("rank"))
  }

  private val q121Sql = """
    WITH scaled AS (
      SELECT vec_id,
        list_transform(embedding,
          x -> CAST(x AS DOUBLE) * (1.0 + vec_id % 5)) AS vec
      FROM embeddings),
    q AS (SELECT vec AS qv FROM scaled WHERE vec_id = 0),
    m AS (
      SELECT vec_id,
        list_sum(list_transform(generate_series(1, len(vec)),
          i -> vec[i] * qv[i])) AS dp,
        list_sum(list_transform(generate_series(1, len(vec)),
          i -> vec[i] * vec[i])) AS na,
        list_sum(list_transform(generate_series(1, len(qv)),
          i -> qv[i] * qv[i])) AS nq,
        list_sum(list_transform(generate_series(1, len(vec)),
          i -> (vec[i] - qv[i]) * (vec[i] - qv[i]))) AS l2s
      FROM scaled, q WHERE vec_id <> 0),
    ranked AS (
      SELECT 'cosine' AS space, vec_id,
        row_number() OVER (ORDER BY 1.0 - dp / (sqrt(na) * sqrt(nq)), vec_id) AS rank
      FROM m
      UNION ALL
      SELECT 'ip', vec_id, row_number() OVER (ORDER BY 1.0 - dp, vec_id)
      FROM m
      UNION ALL
      SELECT 'l2', vec_id, row_number() OVER (ORDER BY l2s, vec_id)
      FROM m)
    SELECT space, rank, vec_id FROM ranked WHERE rank <= 10
    ORDER BY space, rank"""

  /** q122: a persisted NON-default-space collection, end to end —
    * V13 composed with the layout lifecycle. Layout rows are
    * synthesized from the embeddings fixture (ids, provenance, and a
    * float re-scale by (1 + vec_id % 4) — non-unit vectors, so l2
    * genuinely disagrees with cosine), the collection is created
    * with `hnsw:space=l2` metadata, and the query drives
    * `searchTopKVec` (chroma's `query_embeddings` form) with vec 0's
    * raw vector, returning the chroma-convention distances. Every
    * step — the scaled floats, the l2 fold, the rank, the deep link,
    * the distance values themselves — is re-derived by the oracle
    * from the raw table alone: the gate proves the PERSISTED space
    * contract bit-exactly, including the returned distances. */
  private def q122(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val emb = Tables.embeddings(s, d)
    val path = s"${graft.Sessions.workDir}/q122_l2_coll/" +
      d.stripPrefix("/").replaceAll("[^A-Za-z0-9.]", "_")
    val rows = emb.select(
      concat(lit("v"), lpad(col("vec_id").cast("string"), 6, "0")).as("chunk_id"),
      col("vec_id").as("doc_id"),
      concat(lit("s"), (col("vec_id") % 3).cast("string")).as("source"),
      lit("").as("chunk"),
      (col("vec_id") + 2).as("sheet_row"),
      transform(col("embedding"),
        x => (x.cast("double") * (lit(1.0) + (col("vec_id") % 4).cast("double")))
          .cast("float")).as("embedding"))
    IndexStore.buildFromRows(s, rows, path)
    IndexStore.writeCollectionMetadata(s, path, Map(IndexStore.SpaceKey -> "l2"))
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    IndexStore.searchTopKVec(s, path, qvec, k = 10, includeDistance = true)
      .orderBy("rank")
  }

  private val q122Sql = """
    WITH rows0 AS (
      SELECT 'v' || lpad(CAST(vec_id AS VARCHAR), 6, '0') AS chunk_id,
             vec_id AS doc_id,
             's' || CAST(vec_id % 3 AS VARCHAR) AS source,
             vec_id + 2 AS sheet_row,
             list_transform(embedding,
               x -> CAST(CAST(x AS DOUBLE) * (1.0 + vec_id % 4) AS FLOAT)) AS vec
      FROM embeddings),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT chunk_id, doc_id, source, sheet_row,
        list_sum(list_transform(generate_series(1, len(vec)),
          i -> (CAST(vec[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))
             * (CAST(vec[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE)))) AS distance
      FROM rows0, q)
    SELECT row_number() OVER (ORDER BY distance, chunk_id) AS rank,
           chunk_id, doc_id, source, '' AS chunk,
           'https://docs.google.com/spreadsheets/d/' || source ||
           '/edit#gid=0&range=A' || CAST(sheet_row AS VARCHAR) AS link,
           distance
    FROM scored ORDER BY distance, chunk_id LIMIT 10"""

  /** q61: [[knnCosine]] with queries = vec_id 0..4 of the fixture. */
  private def q61(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    knnCosine(emb, "vec_id", "embedding", qs, 5)
      .orderBy("query_id", "rank")
  }

  private val q61Sql = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT query_id, vec_id,
        list_sum(list_transform(generate_series(1, len(embedding)),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(generate_series(1, len(qvec)),
             i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))) AS sim
      FROM embeddings, q WHERE vec_id <> query_id
    )
    SELECT query_id, rank, vec_id FROM (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rank
      FROM scored)
    WHERE rank <= 5 ORDER BY query_id, rank"""

  // ---- ANN: random-hyperplane LSH -----------------------------------

  /** Deterministic pseudo-random hyperplane buckets — native codegen
    * kernel shared with the persistent index layout via
    * [[graft.functions.Lsh]]. */
  private def hyperplaneBuckets(dim: Int, nBits: Int, nTables: Int): Column => Column =
    (c: Column) => graft.functions.hashExprs.lshBuckets(c, dim, nBits, nTables)

  /** PUBLIC multi-table hyperplane-LSH ANN over any (id, vec) corpus;
    * queries = (query_id, qvec). One table has near-zero recall on
    * random high-dim data (any single far-apart bit kills the match —
    * measured by q67's recall harness), so the standard L-table
    * scheme applies: `nTables` independent `nBits`-bit tables, a
    * corpus vector is a candidate if it collides with the query in
    * ANY table. Explode = nTables rows/vector; the join stays equi on
    * (table, bucket). Returns per-query approximate top-k with the
    * candidate count (the honesty column every ANN needs). */
  def annLsh(corpus: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, k: Int, dim: Int,
             nBits: Int = 6, nTables: Int = 16,
             multiprobe: Boolean = false): DataFrame = {
    val buckets = hyperplaneBuckets(dim, nBits, nTables)
    val bucketed = corpus.withColumn("tb", explode(buckets(col(vecCol))))
    // query-side-only multiprobe: expand each query bucket with its
    // Hamming-1 neighbors (the corpus layout never changes — the same
    // persisted index serves both operating points)
    val qBuckets: Column =
      if (!multiprobe) buckets(col("qvec"))
      else flatten(transform(buckets(col("qvec")), b =>
        array((b +: (0 until nBits).map(i => b.bitwiseXOR(lit(1L << i)))): _*)))
    val qb = queries.withColumn("qtb", explode(qBuckets))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol))
    bucketed.join(broadcast(qb),
        col("tb") === col("qtb") && col(idCol) =!= col("query_id"))
      // sim computed scan-side BEFORE the dedup: a multi-table
      // collision recomputes a dot product (cheap, bounded by
      // nTables) so that neither the dedup nor the rank exchange
      // ever carries a vector
      .select(col("query_id"), col(idCol),
        cos(col(vecCol), col("qvec")).as("sim"))
      .dropDuplicates("query_id", idCol)
      .withColumn("rank", row_number().over(w))
      .withColumn("n_candidates", count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("n_candidates"))
  }

  /** q62: [[annLsh]] with the fixture queries. Defaults (6 bits x 16
    * tables) chosen from q67's measurements: for the fixture's random
    * 64-dim vectors the nearest neighbors sit at ~60-70 degrees, so
    * p_collide ~ (1-theta/pi)^6 ~ 0.06/table -> recall ~0.6 over 16
    * tables at a ~20% random-pair candidate fraction — the same
    * fraction q65's IVF runs at (8 tables: recall 0.40 @ ~13%; 7-bit
    * tables: too selective for 64-dim neighbors, recall fell 0.33). */
  private def q62(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "q62") {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      annLsh(emb, "vec_id", "embedding", qs, k = 3, dim = 64)
        .orderBy("query_id", "rank")
    }

  /** Collect a (cent_id, cvec) centroid frame to driver arrays sorted
    * by id. A coarse quantizer is index METADATA (~sqrt N rows in
    * every IVF system) — it rides into the scan-side argmin
    * expressions as a plan constant, never as a join side. */
  private def collectCents(cs: DataFrame): (Array[Long], Array[Array[Float]]) = {
    val rows = cs.select(col("cent_id").cast("long"), col("cvec")).collect()
      .sortBy(_.getLong(0))
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray))
  }

  /** PUBLIC IVF-style ANN — the other classic scale path besides LSH.
    * `seeds` provides the initial centroids (typically a deterministic
    * or sampled subset of the corpus); `lloydIters` k-means refinement
    * steps re-center the cells; each query probes its `probes` nearest
    * cells (multiprobe) and ranks candidates by exact cosine.
    *
    * Cell assignment is a codegen'd NearestCell argmin per corpus row
    * against the plan-constant centroid table — one narrow scan stage,
    * no crossJoin, no window, no Exchange over the corpus
    * (PlanAuditSpec's q65 test enforces this). Each Lloyd step is that
    * narrow scan + a tiny groupBy(cell) on the VecMeanAgg Aggregator
    * + a ~sqrt(N)-row collect of the refreshed centroid table. At
    * 100 TB the assigned cell is the index partition key and probing
    * touches ~probes/#cells of the corpus files. */
  /** Train the IVF coarse quantizer: `lloydIters` refinement steps
    * from the seed frame; returns the final centroid table as driver
    * arrays (index metadata). Each step = one narrow NearestCell scan
    * + a tiny per-cell mean.
    *
    * `bitExact = true` (default) computes per-(cell, dim) DECIMAL
    * means — reduction-order-free, so the trained centroids are
    * bit-identical across executions: a correctness-gate requirement
    * (the q65/q67 oracles re-derive from a materialized copy computed
    * in a separate execution). It runs as ONE map-side-combined
    * aggregate over whole vectors ([[graft.functions.DecVecMeanAgg]]
    * — exact integer micro-unit sums, davg-identical bits) instead of
    * the former posexplode → groupBy(cell, dim) pair, which shuffled
    * 64x the row volume per Lloyd step. `bitExact = false` uses the
    * float-summing VecMeanAgg typed Aggregator — cheaper still, the
    * right choice for offline index builds
    * ([[graft.sources.IndexStore.buildIvf]]) where centroids ship
    * WITH the index and nothing recomputes them. */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   seeds: DataFrame, lloydIters: Int = 2,
                   bitExact: Boolean = true): (Array[Long], Array[Array[Float]]) = {
    import graft.functions.vecIndexExprs
    def recenter(assigned: DataFrame): DataFrame =
      if (bitExact)
        assigned
          .groupBy(col("cell"))
          .agg(graft.functions.DecVecAgg.decVecMean(col(vecCol)).as("mvec"))
          .select(col("cell").as("cent_id"),
            transform(col("mvec"), m => m.cast("float")).as("cvec"))
      else
        assigned
          .groupBy(col("cell"))
          .agg(graft.functions.VecMeanAgg.vecMean(col(vecCol)).as("cvec"))
          .select(col("cell").as("cent_id"), col("cvec"))
    var (ids, cents) = collectCents(seeds)
    var it = 0
    while (it < lloydIters) {
      val refreshed = collectCents(recenter(
        emb.select(col(vecCol),
          vecIndexExprs.nearestCell(col(vecCol), ids, cents).as("cell"))))
      ids = refreshed._1
      cents = refreshed._2
      it += 1
    }
    (ids, cents)
  }

  /** Train PQ codebooks (FAISS IVF-PQ's fine quantizer): `m`
    * independent k-means of `ksub` centroids, one per `dsub = dim/m`
    * subspace. Seeds are the subvector slices of the first `ksub`
    * corpus rows by id (deterministic offline build, like
    * [[graft.sources.IndexStore.buildIvf]]'s seed pick); each Lloyd
    * step re-assigns EVERY subspace in ONE narrow scan — the m
    * subvectors posexplode scan-side (m×N short rows, never wider
    * than the corpus read) through the plan-constant `PqSubAssign`
    * argmin, and the re-center is one DECIMAL whole-subvector mean
    * per (sub, code): reduction-order-free, so the trained tensor is
    * bit-identical across executions (the correctness-gate
    * requirement — the q123 oracle re-derives codes from an
    * independently dumped copy). A codebook that loses every row in
    * an iteration keeps its previous centroid (FAISS's empty-cluster
    * convention at fixed k). Returns books[m][ksub][dsub] — index
    * metadata (m·ksub·dsub floats), a plan constant at search time. */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int, iters: Int = 2,
                  dim: Int = graft.functions.Embed.DefaultDim)
      : Array[Array[Array[Float]]] = {
    import graft.functions.vecIndexExprs
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val dsub = dim / m
    val slices = array((0 until m).map(s =>
      slice(col(vecCol), s * dsub + 1, dsub)): _*)
    val seedRows = emb.select(col(idCol), col(vecCol))
      .orderBy(idCol).limit(ksub)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    require(seedRows.length == ksub,
      s"corpus has ${seedRows.length} rows, need >= ksub=$ksub for seeding")
    var books: Array[Array[Array[Float]]] =
      Array.tabulate(m, ksub) { (s, j) =>
        java.util.Arrays.copyOfRange(seedRows(j), s * dsub, (s + 1) * dsub)
      }
    val subRows = emb.select(posexplode(slices).as(Seq("sub", "subvec")))
    var it = 0
    while (it < iters) {
      val refreshed = subRows
        .select(col("sub"), col("subvec"),
          vecIndexExprs.pqSubAssign(col("sub"), col("subvec"), books).as("code"))
        .groupBy(col("sub"), col("code"))
        .agg(graft.functions.DecVecAgg.decVecMean(col("subvec")).as("mvec"))
        .select(col("sub"), col("code"),
          transform(col("mvec"), x => x.cast("float")).as("cvec"))
        .collect()
      val next = books.map(_.map(identity)) // empty codes keep previous
      refreshed.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
      }
      books = next
      it += 1
    }
    books
  }

  /** The query-side ADC lookup table: lut(s)(j) = floor(1e6 ·
    * dot(q_sub_s, books(s)(j))) — micro-unit integers, computed once
    * per query from m·ksub dot products (query-sized metadata; the
    * [[graft.functions.VecIndex.pqAdc]] scan sums these exactly, and
    * the DuckDB mirror re-derives the identical integers via the
    * same left-to-right double dot + floor). */
  def pqLut(qvec: Array[Float], books: Array[Array[Array[Float]]])
      : Array[Array[Long]] =
    books.zipWithIndex.map { case (book, s) =>
      val off = s * (if (book.nonEmpty) book(0).length else 0)
      book.map { c =>
        var dot = 0.0
        var i = 0
        while (i < c.length) {
          dot += c(i).toDouble * qvec(off + i).toDouble
          i += 1
        }
        math.floor(1e6 * dot).toLong
      }
    }

  def annIvf(emb: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, k: Int, seeds: DataFrame,
             lloydIters: Int = 2, probes: Int = 3): DataFrame = {
    import graft.functions.vecIndexExprs

    val (ids, cents) = ivfCentroids(emb, idCol, vecCol, seeds, lloydIters)
    val assigned = emb.select(col(idCol), col(vecCol),
      vecIndexExprs.nearestCell(col(vecCol), ids, cents).as("cell"))
    // multiprobe list: the p nearest cells per query via the same
    // scan-side kernel (ascending distance, ties on id — the order
    // the old window formulation produced)
    val probed = queries.select(col("query_id"), col("qvec"),
      explode(vecIndexExprs.nearestCells(col("qvec"), ids, cents, probes)).as("cell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol))
    assigned.join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col("query_id"))
      // rank exchange carries (query_id, id, sim) only
      .select(col("query_id"), col(idCol),
        cos(col(vecCol), col("qvec")).as("sim"))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("n_candidates", count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("n_candidates"))
  }

  /** Farthest-first (k-center, 2-approx) seeding for [[annIvf]]:
    * start from the vector with the given id, then k-1 times add the
    * corpus vector farthest from its nearest chosen seed. Each round
    * is one narrow MinCentDist scan (seed set = plan constant) + a
    * 1-row TakeOrdered — k passes total, so reserve it for offline
    * index builds (q65 keeps cheap deterministic striding); ties
    * break on the id column for determinism. */
  def farthestFirstSeeds(emb: DataFrame, idCol: String, vecCol: String,
                         k: Int, startId: Long = 0L): DataFrame = {
    import graft.functions.vecIndexExprs
    val first = emb.filter(col(idCol) === startId)
      .select(col(idCol).cast("long"), col(vecCol)).head()
    var ids = Array(first.getLong(0))
    var cents = Array(first.getSeq[Float](1).toArray)
    var i = 1
    while (i < k) {
      val next = emb.select(col(idCol).cast("long").as("cent_id"), col(vecCol).as("cvec"),
          vecIndexExprs.minCentDist(col(vecCol), cents).as("dmin"))
        .orderBy(col("dmin").desc, col("cent_id"))
        .limit(1).head()
      ids :+= next.getLong(0)
      cents :+= next.getSeq[Float](1).toArray
      i += 1
    }
    val s = emb.sparkSession
    import s.implicits._
    ids.toSeq.zip(cents.toSeq.map(_.toSeq)).toDF("cent_id", "cvec")
  }

  private def q65Seeds(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 31 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))

  /** q65: [[annIvf]] with ~sqrt(N) seed cells (every 31st vector —
    * the classic operating point: candidate fraction ~= probes/
    * sqrt(N)), 2 Lloyd steps, 3 probes; fixture queries. Oracle:
    * DuckDB re-derives assignment argmin, probe list, and ranking
    * from the Verify-materialized trained centroid table. */
  private def q65(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "q65") {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      annIvf(emb, "vec_id", "embedding", qs, k = 3, seeds = q65Seeds(emb))
        .orderBy("query_id", "rank")
    }

  /** Materialize the ANN kernel outputs for the DuckDB oracles: LSH
    * bucket arrays + SQ8 codes/factors per vector (`ann_sigs`), and
    * the trained q65 centroid table (`q65_cents`). The oracles then
    * re-derive candidate generation, assignment, probing, and ranking
    * independently. Called by Verify (never by Bench). */
  def materializeAnnAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import graft.functions.{hashExprs, vecIndexExprs}
    val emb = Tables.embeddings(s, d)
    emb.select(col("vec_id"),
        hashExprs.lshBuckets(col("embedding"), 64, 6, 16).as("lb"),
        bytesToInts(vecIndexExprs.sq8Code(col("embedding"))).as("sq8"),
        vecIndexExprs.sq8Factor(col("embedding")).as("fac"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/ann_sigs.parquet")
    val (ids, cents) = ivfCentroids(emb, "vec_id", "embedding", q65Seeds(emb))
    import s.implicits._
    ids.toSeq.zip(cents.toSeq.map(_.toSeq)).toDF("cent_id", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q65_cents.parquet")
    // the q67 meter's graph row: the traversal is the custom kernel,
    // so its candidate set materializes for the oracle (q102 pattern)
    q67Hnsw(s, d)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q67_hnsw.parquet")
  }

  private val AuxAnn =
    s"read_parquet('${graft.SparkEntry.AuxToken}/ann_sigs.parquet/*.parquet')"
  private val AuxCents =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q65_cents.parquet/*.parquet')"

  /** Exact-cosine SQL fragment between embeddings-view rows `a` and
    * `b` — the q61-proven double-arithmetic mirror of vecCosine. */
  private def cosSql(a: String, b: String) = s"""
        list_sum(list_transform(generate_series(1, len($a.embedding)),
          i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(generate_series(1, len($a.embedding)),
             i -> CAST($a.embedding[i] AS DOUBLE) * CAST($a.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(generate_series(1, len($b.embedding)),
             i -> CAST($b.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))))"""

  private val q62Sql = s"""
    WITH bk AS (SELECT vec_id, unnest(lb) AS tb FROM $AuxAnn),
    q AS (SELECT vec_id AS query_id, tb FROM bk WHERE vec_id < 5),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id
      FROM bk c JOIN q ON c.tb = q.tb AND c.vec_id <> q.query_id),
    scored AS (
      SELECT cand.query_id, cand.vec_id, ${cosSql("e", "qe")} AS sim
      FROM cand
      JOIN embeddings e ON e.vec_id = cand.vec_id
      JOIN embeddings qe ON qe.vec_id = cand.query_id),
    ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank,
             COUNT(*) OVER (PARTITION BY query_id) AS n_candidates
      FROM scored)
    SELECT query_id, rank, vec_id, n_candidates FROM ranked
    WHERE rank <= 3 ORDER BY query_id, rank"""

  private[graft] def l2Sql(vec: String, cent: String) = s"""
        sqrt(list_sum(list_transform(generate_series(1, len($vec)),
          i -> (CAST($vec[i] AS DOUBLE) - CAST($cent[i] AS DOUBLE))
             * (CAST($vec[i] AS DOUBLE) - CAST($cent[i] AS DOUBLE)))))"""

  /** IVF mirror, parameterized on the corpus table (vec_id, embedding)
    * and the trained-centroid aux table — instantiated for q65
    * (fixture corpus) and q67b (clustered corpus). */
  private def ivfMirrorSql(corpusT: String, centsT: String, probes: Int) = s"""
    WITH cents AS (SELECT cent_id, cvec FROM $centsT),
    assign AS (
      SELECT e.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${l2Sql("e.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM $corpusT e, cents c),
    assigned AS (SELECT vec_id, cent_id AS cell FROM assign WHERE arn = 1),
    probe AS (
      SELECT q.vec_id AS query_id, c.cent_id AS cell,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${l2Sql("q.embedding", "c.cvec")}, c.cent_id) AS prn
      FROM $corpusT q, cents c WHERE q.vec_id < 5),
    probed AS (SELECT query_id, cell FROM probe WHERE prn <= $probes),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM assigned a JOIN probed p USING (cell)
      WHERE a.vec_id <> p.query_id),
    scored AS (
      SELECT cand.query_id, cand.vec_id, ${cosSql("e", "qe")} AS sim
      FROM cand
      JOIN $corpusT e ON e.vec_id = cand.vec_id
      JOIN $corpusT qe ON qe.vec_id = cand.query_id),
    ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank,
             COUNT(*) OVER (PARTITION BY query_id) AS n_candidates
      FROM scored)
    SELECT query_id, rank, vec_id, n_candidates FROM ranked
    WHERE rank <= 3 ORDER BY query_id, rank"""

  private val q65Sql = ivfMirrorSql("embeddings", AuxCents, 3)

  /** SQ8 mirror, parameterized on the codes table (vec_id, sq8, fac)
    * and the float-vector table for the exact rerank — instantiated
    * for q69 (fixture) and q67b (clustered corpus, where both roles
    * are served by the one aux table). */
  private def sq8MirrorSql(codesT: String, vecT: String, overfetch: Int) = s"""
    WITH codes AS (SELECT vec_id, sq8, fac FROM $codesT),
    q AS (SELECT vec_id AS query_id, sq8 AS qcode, fac AS qfac
          FROM codes WHERE vec_id < 5),
    approxs AS (
      SELECT q.query_id, c.vec_id,
        CAST(list_sum(list_transform(generate_series(1, len(c.sq8)),
          i -> c.sq8[i] * q.qcode[i])) AS DOUBLE) * c.fac * q.qfac AS approx
      FROM codes c, q WHERE c.vec_id <> q.query_id),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY approx DESC, vec_id) AS arn
        FROM approxs)
      WHERE arn <= $overfetch),
    scored AS (
      SELECT cand.query_id, cand.vec_id, ${cosSql("e", "qe")} AS sim
      FROM cand
      JOIN $vecT e ON e.vec_id = cand.vec_id
      JOIN $vecT qe ON qe.vec_id = cand.query_id),
    ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank,
             COUNT(*) OVER (PARTITION BY query_id) AS n_candidates
      FROM scored)
    SELECT query_id, rank, vec_id, n_candidates FROM ranked
    WHERE rank <= 3 ORDER BY query_id, rank"""

  private val q69Sql = sq8MirrorSql(AuxAnn, "embeddings", 16)

  /** PUBLIC SQ8 compressed-domain kNN — the scale path for corpora
    * WITHOUT cluster structure (the fixture's vectors are isotropic
    * random: measured there, geometric partitioning — IVF multiprobe
    * or LSH — cannot exceed recall ~0.6 while scanning <=10% of rows;
    * that is the curse of dimensionality, not an implementation gap).
    * The FAISS-style answer is asymmetric-distance scanning over 8-bit
    * codes: 4x less IO than float32, integer dot products, top-
    * `overfetch` per query in the compressed domain, exact rerank on
    * that tiny candidate set. Measured on the fixture: recall@3 = 1.0
    * at overfetch=16 (3.2% of sf0.01, 0.8% of sf0.1). At 100 TB the
    * code table is a 25 TB columnar scan — linear, but embarrassingly
    * parallel and the only honest sub-cost path for structureless
    * data; on real clustered embeddings, combine with [[annIvf]] cells
    * to make it sub-linear. The approx-score shuffle carries
    * (query_id, id, approx) only — codes and vectors never leave the
    * scan; candidates join vectors back for the rerank. */
  def knnSq8(corpus: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, k: Int, overfetch: Int = 16): DataFrame = {
    import graft.functions.vecIndexExprs
    val coded = corpus.select(col(idCol),
      vecIndexExprs.sq8Code(col(vecCol)).as("code"),
      vecIndexExprs.sq8Factor(col(vecCol)).as("fac"))
    val qcoded = queries.select(col("query_id"),
      vecIndexExprs.sq8Code(col("qvec")).as("qcode"),
      vecIndexExprs.sq8Factor(col("qvec")).as("qfac"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col(idCol))
    val candidates = coded.crossJoin(broadcast(qcoded))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        (vecIndexExprs.sq8Dot(col("code"), col("qcode")) * col("fac") * col("qfac"))
          .as("approx"))
      .withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= overfetch)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol))
    candidates
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      // rank exchange carries (query_id, id, sim) only
      .select(col("query_id"), col(idCol),
        cos(col(vecCol), col("qvec")).as("sim"))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("n_candidates", count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("n_candidates"))
  }

  /** q69: [[knnSq8]] with the fixture queries (same shape as q62/q65
    * for the q67 recall meter). */
  private def q69(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "q69") {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      knnSq8(emb, "vec_id", "embedding", qs, k = 3)
        .orderBy("query_id", "rank")
    }

  // ---- q185: 1-bit binary-quantization kNN ---------------------------

  /** Sign-bit binary code of a float vector: bit i set iff v[i] > 0,
    * packed into ONE 64-bit long (requires dim <= 64; the engine's
    * embedding dim is exactly 64, so a vector is one BIGINT — 32x
    * smaller than its float32 form). The 2024-25 vector-DB staple
    * (binary quantization with exact rerank, e.g. Yamada et al.'s
    * hashing-retrieval lineage): Hamming distance over sign bits is a
    * monotone-enough proxy for cosine on roughly centered embeddings
    * that a modest overfetch recovers exact top-k. Built-in HOF +
    * shift/or only — whole-stage-codegen friendly, no UDF. */
  private def binaryCode(vecCol: String, dim: Int): Column = {
    require(dim >= 1 && dim <= 64, s"binary code packs into one long, got dim=$dim")
    expr(s"aggregate(sequence(0, ${dim - 1}), 0L, (acc, i) -> " +
      s"acc | IF(element_at($vecCol, i + 1) > 0F, shiftleft(1L, i), 0L))")
  }

  /** Binary-quantized kNN: Hamming pre-rank over 8-byte sign codes,
    * exact cosine rerank of the top-`overfetch`. The scale arithmetic
    * is the point — at 100 TB of float32 embeddings the code table is
    * ~3 TB, RAM-resident across a modest fleet, and the pre-rank
    * scan moves only (query_id, id, hamming) into the rank exchange;
    * codes never leave the scan and full vectors surface only for the
    * candidate gather (a broadcast-joined, overfetch-bounded set).
    *
    * Operating envelope, measured honestly: 1 bit/dim retains rank
    * signal only where SIGNS carry the geometry. On the isotropic
    * fixture recall@3 vs exact cosine is 14/15 (sf0.001), 13/15
    * (sf0.01), 5/15 (sf0.1) at overfetch=64 — the same
    * dimensionality-curse ceiling q67 documents for every geometric
    * method, hit harder by the 1-bit budget. On the q67b clustered
    * corpus it is WORSE (2-6/15): all of a cluster's members share
    * the center's sign pattern, so flat binary codes cannot separate
    * within-cluster neighbors — there the method composes UNDER a
    * cell prune (IVF cells first, binary residual pre-rank inside
    * the cell), never replaces it. ExpressionsSpec pins exact top-k
    * recovery on a sign-structured corpus (the regime the method is
    * for) and the q185 oracle pins the full pipeline bit-for-bit.
    * The practical role at 100 TB: the cheapest first-pass filter
    * when the embedding model was trained with binarization in mind
    * (sign-structured by construction), with `overfetch` as the
    * recall dial. */
  def knnBinary(corpus: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, k: Int, overfetch: Int = 64,
                dim: Int = 64): DataFrame = {
    val coded = corpus.select(col(idCol), binaryCode(vecCol, dim).as("bcode"))
    val qcoded = queries.select(col("query_id"),
      binaryCode("qvec", dim).as("qbcode"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col(idCol))
    val candidates = coded.crossJoin(broadcast(qcoded))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        bit_count(col("bcode").bitwiseXOR(col("qbcode"))).as("hamming"))
      .withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= overfetch)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol))
    candidates
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .select(col("query_id"), col(idCol), cos(col(vecCol), col("qvec")).as("sim"))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("n_candidates"))
  }

  /** q185: [[knnBinary]] with the fixture queries (the q62/q65/q69
    * shape). The oracle re-derives the sign-bit packing itself from
    * the raw float table (HUGEINT shift-sum wrapped to the signed
    * 64-bit value), then Hamming pre-rank, overfetch cut, and exact
    * rerank — no aux dump, the whole compressed-domain pipeline is
    * recomputed from first principles. */
  private def q185(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "q185") {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      knnBinary(emb, "vec_id", "embedding", qs, k = 3)
        .orderBy("query_id", "rank")
    }

  private val q185Sql = s"""
    WITH codes AS (
      SELECT vec_id,
        CAST(h - CASE WHEN h >= 9223372036854775808::HUGEINT
          THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)
          AS bcode
      FROM (
        SELECT vec_id, list_sum(list_transform(generate_series(0, 63),
          i -> CASE WHEN embedding[i+1] > 0 THEN (1::HUGEINT << i)
               ELSE 0::HUGEINT END)) AS h
        FROM embeddings)),
    q AS (SELECT vec_id AS query_id, bcode AS qcode FROM codes WHERE vec_id < 5),
    hams AS (
      SELECT q.query_id, c.vec_id, bit_count(xor(c.bcode, q.qcode)) AS hamming
      FROM codes c, q WHERE c.vec_id <> q.query_id),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY hamming, vec_id) AS arn
        FROM hams)
      WHERE arn <= 64),
    scored AS (
      SELECT cand.query_id, cand.vec_id, ${cosSql("e", "qe")} AS sim
      FROM cand
      JOIN embeddings e ON e.vec_id = cand.vec_id
      JOIN embeddings qe ON qe.vec_id = cand.query_id),
    ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank,
             COUNT(*) OVER (PARTITION BY query_id) AS n_candidates
      FROM scored)
    SELECT query_id, rank, vec_id, n_candidates FROM ranked
    WHERE rank <= 3 ORDER BY query_id, rank"""

  // ---- q191: IVF + binary RESIDUAL codes ------------------------------

  /** Sign code of the RESIDUAL v − centroid(cell), packed like q185's
    * flat code. This is binary quantization composed under a cell
    * prune — the fix for q185's measured clustered-corpus failure:
    * all of a cluster's members share the center's absolute sign
    * pattern (flat Hamming cannot separate them), but their residual
    * signs are exactly the within-cluster geometry. Same HUGEINT-
    * mirrorable arithmetic; the subtraction is float, identical IEEE
    * on both engines. */
  private def binaryResidualCode(vecCol: String, centCol: String,
                                 dim: Int): Column = {
    require(dim >= 1 && dim <= 64, s"binary code packs into one long, got dim=$dim")
    expr(s"aggregate(sequence(0, ${dim - 1}), 0L, (acc, i) -> " +
      s"acc | IF(element_at($vecCol, i + 1) - element_at($centCol, i + 1) > 0F, " +
      "shiftleft(1L, i), 0L))")
  }

  /** IVF multiprobe + binary residual pre-rank + exact rerank — the
    * clustered-corpus answer the flat [[knnBinary]] doc promises:
    * cells bound the candidate set (partition pruning in the
    * persisted form), 8-byte residual codes rank within the probed
    * cells, exact cosine settles the top-k. Per (query, probed cell)
    * the query is re-coded against THAT cell's centroid, so Hamming
    * compares like with like; a vector belongs to exactly one cell,
    * so no candidate dedup is needed. Measured on the q67b clustered
    * corpus at probes=2: recall@3 = 15/15 at every sf with
    * overfetch=64 (the gate's operating point — 64 reranked of ~2000
    * in-probe candidates at sf0.1, 0.13%% of the corpus) and
    * 15/14/11 across sf0.001/0.01/0.1 at overfetch=16 — where flat
    * binary (q185) measures 2-6/15. Scale shape: the
    * code table is 8 B/vector riding the cell layout; the pre-rank
    * exchange carries (query_id, id, hamming) only; queries and
    * centroids broadcast. `dim` bounds the packed residual components
    * (≤ 64 — one long per code, the [[knnBinary]] knob; wider
    * embeddings pre-rank on their first `dim` dims and the exact
    * rerank settles the rest). */
  def knnIvfBinary(corpus: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, k: Int, seeds: DataFrame,
                   lloydIters: Int = 2, probes: Int = 2,
                   overfetch: Int = 16, dim: Int = 64): DataFrame = {
    import graft.functions.vecIndexExprs
    val s = corpus.sparkSession
    import s.implicits._
    val (ids, cents) = ivfCentroids(corpus, idCol, vecCol, seeds, lloydIters)
    val centDf = ids.toSeq.zip(cents.toSeq.map(_.toSeq)).toDF("cell", "cvec")
    val coded = corpus
      .select(col(idCol), col(vecCol),
        vecIndexExprs.nearestCell(col(vecCol), ids, cents).as("cell"))
      .join(broadcast(centDf), Seq("cell"))
      .select(col(idCol), col("cell"),
        binaryResidualCode(vecCol, "cvec", dim).as("bcode"))
    val qprobe = queries
      .select(col("query_id"), col("qvec"),
        explode(vecIndexExprs.nearestCells(col("qvec"), ids, cents, probes))
          .as("cell"))
      .join(broadcast(centDf), Seq("cell"))
      .select(col("query_id"), col("cell"),
        binaryResidualCode("qvec", "cvec", dim).as("qbcode"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col(idCol))
    val candidates = coded.join(broadcast(qprobe), Seq("cell"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        bit_count(col("bcode").bitwiseXOR(col("qbcode"))).as("hamming"))
      .withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= overfetch)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol))
    candidates
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))),
        Seq("query_id"))
      .select(col("query_id"), col(idCol), cos(col(vecCol), col("qvec")).as("sim"))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("n_candidates"))
  }

  /** q191: [[knnIvfBinary]] on the clustered corpus with the q67b
    * training configuration, so the oracle re-derives assignment and
    * probing from the same dumped centroid table and the residual
    * packing from the raw floats. */
  private def q191(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "q191") {
      val emb = clusteredEmb(s, d)
      knnIvfBinary(emb, "vec_id", "embedding", q67bQueries(emb), k = 3,
        seeds = q67bSeeds(emb), probes = Q67bProbes, overfetch = 64)
        .orderBy("query_id", "rank")
    }

  /** Residual-sign pack of `vec` against `cent` as the signed 64-bit
    * value — the q185 HUGEINT mirror, but with bit 63 contributing
    * its SIGNED weight (−2^63) directly, so no wrap step is needed
    * and the whole pack is one inlinable expression (a correlated
    * derived table, which the wrap form would need, cannot see outer
    * columns in DuckDB). */
  private def residualPackSql(vec: String, cent: String) = s"""
        CAST(list_sum(list_transform(generate_series(0, 63),
          i -> CASE WHEN $vec[i+1] - $cent[i+1] > 0
               THEN CASE WHEN i = 63 THEN -9223372036854775808::HUGEINT
                    ELSE (1::HUGEINT << i) END
               ELSE 0::HUGEINT END)) AS BIGINT)"""

  private def ivfBinaryMirrorSql(corpusT: String, centsT: String,
                                 probes: Int, overfetch: Int) = s"""
    WITH cents AS (SELECT cent_id, cvec FROM $centsT),
    assign AS (
      SELECT e.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${l2Sql("e.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM $corpusT e, cents c),
    assigned AS (SELECT vec_id, cent_id AS cell FROM assign WHERE arn = 1),
    codes AS (
      SELECT a.vec_id, a.cell,
             ${residualPackSql("e.embedding", "c.cvec")} AS bcode
      FROM assigned a
      JOIN $corpusT e ON e.vec_id = a.vec_id
      JOIN cents c ON c.cent_id = a.cell),
    probe AS (
      SELECT q.vec_id AS query_id, c.cent_id AS cell,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${l2Sql("q.embedding", "c.cvec")}, c.cent_id) AS prn
      FROM $corpusT q, cents c WHERE q.vec_id < 5),
    qcodes AS (
      SELECT p.query_id, p.cell,
             ${residualPackSql("q.embedding", "c.cvec")} AS qbcode
      FROM probe p
      JOIN $corpusT q ON q.vec_id = p.query_id
      JOIN cents c ON c.cent_id = p.cell
      WHERE p.prn <= $probes),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT qc.query_id, co.vec_id,
               row_number() OVER (PARTITION BY qc.query_id
                 ORDER BY bit_count(xor(co.bcode, qc.qbcode)), co.vec_id)
                 AS arn
        FROM codes co JOIN qcodes qc USING (cell)
        WHERE co.vec_id <> qc.query_id)
      WHERE arn <= $overfetch),
    scored AS (
      SELECT cand.query_id, cand.vec_id, ${cosSql("e", "qe")} AS sim
      FROM cand
      JOIN $corpusT e ON e.vec_id = cand.vec_id
      JOIN $corpusT qe ON qe.vec_id = cand.query_id),
    ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank,
             COUNT(*) OVER (PARTITION BY query_id) AS n_candidates
      FROM scored)
    SELECT query_id, rank, vec_id, n_candidates FROM ranked
    WHERE rank <= 3 ORDER BY query_id, rank"""

  // ---- q98: the persisted IVF-SQ index, gated end-to-end ------------

  /** Deterministic on-disk location of the q98 index for an sf dir —
    * one physical build per (session, sf), shared by the query, the
    * Verify aux dump, and the bench (see IndexStore.buildIvfOnce). */
  private[graft] def q98IndexPath(d: String): String = idxPath("q98_ivf_index", d)

  private val Q98QueryText = "grouped aggregation over partitioned batches"
  private val Q98Probes = 3
  private val Q98Overfetch = 32

  /** q98: the flagship 100 TB index lifecycle as ONE gated query —
    * build the IVF-partitioned FAISS-IVF-SQ-style parquet layout
    * (cell = nearest trained centroid -> partition directory,
    * `_centroids` sidecar, SQ8 codes in-row), then search it: probe
    * the 3 nearest cells (partition pruning opens only those
    * directories — PlanAuditSpec asserts it), SQ8 integer pre-rank
    * inside the probed cells, exact cosine rerank on the top-32.
    * bitExact build => the whole artifact is reproducible
    * bit-for-bit, so the oracle re-derives assignment, probing,
    * pre-ranking, reranking, and presentation from an independently
    * dumped copy of the same index. */
  private def q98(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q98IndexPath(d)
    IndexStore.buildIvfOnceRows(s, docRowsCached(s, d), path, bitExact = true)
    IndexStore.searchTopKIvf(s, path, Q98QueryText, k = 10,
      probes = Q98Probes, overfetch = Q98Overfetch)
  }

  /** Dump the q98 index (rows + `_centroids` sidecar + query-side
    * vector/code) for the DuckDB oracle. Shares the physical build
    * with the q98 query via buildIvfOnce; the oracle re-derives the
    * cell assignment from the dumped embeddings x centroids (so a
    * build-side assignment bug fails the gate too), then mirrors
    * probe -> SQ8 pre-rank -> exact rerank -> presentation. */
  def materializeIvfIndexAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import graft.sources.IndexStore
    val path = q98IndexPath(d)
    IndexStore.buildIvfOnceRows(s, docRowsCached(s, d), path, bitExact = true)
    graft.sources.Relations.parquet(s, path)
      .select(col("chunk_id"), col("doc_id"), col("source"), col("chunk"),
        col("cell").cast("long").as("cell"),
        bytesToInts(col("sq8_code")).as("sq8"), col("sq8_factor").as("fac"),
        col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q98_index.parquet")
    graft.sources.Relations.parquet(s, s"$path/_centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q98_cents.parquet")
    val qvec = Embed.embed(Q98QueryText, Embed.DefaultDim)
    val qData = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
    import s.implicits._
    Seq((qvec.toSeq,
        graft.functions.VecIndex.sq8Code(qData).map(_.toInt).toSeq,
        graft.functions.VecIndex.sq8Factor(qData)))
      .toDF("qvec", "qcode", "qfac")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q98_query.parquet")
  }

  private val AuxQ98Index =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q98_index.parquet/*.parquet')"
  private val AuxQ98Cents =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q98_cents.parquet/*.parquet')"
  private val AuxQ98Query =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q98_query.parquet/*.parquet')"

  /** Generic exact-cosine SQL between two array-column expressions
    * (the [[cosSql]] arithmetic over arbitrary columns). */
  private[graft] def cosColsSql(x: String, y: String) = s"""
        list_sum(list_transform(generate_series(1, len($x)),
          i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(generate_series(1, len($x)),
             i -> CAST($x[i] AS DOUBLE) * CAST($x[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(generate_series(1, len($y)),
             i -> CAST($y[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))))"""

  /** The persisted-IVF search mirror, parameterized on the aux tables
    * (index rows / centroid sidecar / query vector+code), the probe
    * and overfetch operating point, and the metadata predicate
    * (chroma `where=`): the filter lands in `pruned` — inside the
    * probed cells, BEFORE the overfetch limit — exactly where
    * [[graft.sources.IndexStore.searchTopKIvf]] applies it.
    * Instantiated for q98 (TRUE), q104 (doc_id range), q104b
    * ($contains LIKE) and q111 (compacted lifecycle index). */
  private[graft] def ivfSearchMirrorSqlFor(idxT: String, centsT: String, queryT: String,
                                    probes: Int, overfetch: Int,
                                    wherePred: String) = s"""
    WITH cents AS (SELECT cent_id, cvec FROM $centsT),
    qv AS (SELECT qvec, qcode, qfac FROM $queryT),
    idx AS (SELECT * FROM $idxT),
    assign AS (
      SELECT x.chunk_id, c.cent_id,
             row_number() OVER (PARTITION BY x.chunk_id
               ORDER BY ${l2Sql("x.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM idx x, cents c),
    assigned AS (SELECT chunk_id, cent_id AS cell FROM assign WHERE arn = 1),
    probe AS (
      SELECT c.cent_id AS cell FROM cents c, qv
      ORDER BY ${l2Sql("qv.qvec", "c.cvec")}, c.cent_id LIMIT $probes),
    pruned AS (
      SELECT x.* FROM idx x
      JOIN assigned a USING (chunk_id) JOIN probe p ON a.cell = p.cell
      WHERE $wherePred),
    cand AS (
      SELECT x.chunk_id FROM pruned x CROSS JOIN qv
      ORDER BY CAST(list_sum(list_transform(generate_series(1, len(x.sq8)),
          k -> x.sq8[k] * qv.qcode[k])) AS DOUBLE) * x.fac * qv.qfac DESC,
        x.chunk_id
      LIMIT $overfetch),
    scored AS (
      SELECT x.chunk_id, x.doc_id, x.source, x.chunk,
             ${cosColsSql("x.embedding", "qv.qvec")} AS sim
      FROM pruned x JOIN cand USING (chunk_id) CROSS JOIN qv)
    SELECT row_number() OVER (ORDER BY sim DESC, chunk_id) AS rank,
           chunk_id, doc_id, source, chunk,
           'https://docs.google.com/spreadsheets/d/' || source ||
           '/edit#gid=0&range=A' || CAST(doc_id + 2 AS BIGINT) AS link
    FROM scored ORDER BY sim DESC, chunk_id LIMIT 10"""

  private def ivfSearchMirrorSql(wherePred: String) =
    ivfSearchMirrorSqlFor(AuxQ98Index, AuxQ98Cents, AuxQ98Query,
      Q98Probes, Q98Overfetch, wherePred)

  private val q98Sql = ivfSearchMirrorSql("TRUE")

  // ---- q104: metadata-filtered search (chroma `where=`) -------------

  private val Q104MinDoc = 250

  /** q104: [[q98]]'s IVF search with a metadata predicate — the
    * chromadb `collection.query(where={"doc_id": {"$gte": 250}})`
    * surface, the one query-API parameter the engine didn't yet
    * mirror. The predicate applies inside the probed cells BEFORE the
    * SQ8 overfetch (so the top-k is exact over the filtered set) and,
    * being a plain comparison, pushes into the parquet reader of the
    * partition-pruned cell directories (PlanAuditSpec pins both).
    * Shares the q98 physical index via buildIvfOnce — the filtered
    * and unfiltered searches serve from one artifact, as chroma's
    * where= does. */
  private def q104(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q98IndexPath(d)
    IndexStore.buildIvfOnceRows(s, docRowsCached(s, d), path, bitExact = true)
    IndexStore.searchTopKIvf(s, path, Q98QueryText, k = 10,
      probes = Q98Probes, overfetch = Q98Overfetch,
      where = Some(col("doc_id") >= Q104MinDoc))
  }

  private val q104Sql = ivfSearchMirrorSql(s"x.doc_id >= $Q104MinDoc")

  // ---- q105: filtered-HNSW recall vs selectivity -------------------

  /** The selectivity ladder q105 walks: `doc_id % m = 0` keeps ~1/m
    * of the corpus. */
  private val Q105Sels: Seq[(String, Int)] = Seq(("mod2", 2), ("mod4", 4), ("mod10", 10))

  /** q105: the HONEST cost of `where=` on the graph path, measured.
    * The HNSW traversal is metadata-blind, so a filtered search
    * overfetches 4x and post-filters ([[graft.sources.IndexStore
    * .searchTopKHnsw]]); as the predicate gets more selective, more
    * of the traversal budget dies in the filter and recall against
    * the filtered-exact top-10 decays — THE known failure mode of
    * filtered graph ANN, recorded per selectivity the way q102
    * records the efSearch curve (and the measurement behind the
    * documented advice: highly selective predicates belong on the
    * IVF/exact paths, where they prune IO instead).
    *
    * Computed as ONE distributed plan, the same shape as its oracle:
    * the index is scored against the query vector once, the
    * selectivity ladder rides in as a broadcast 3-row table, and the
    * per-selectivity exact / naive / widened top-10s come from window
    * ranks over that single scored scan joined with the two
    * (deterministic, shard-disjoint) traversal candidate sets — all
    * six meter columns in one job, instead of 3 selectivities x 3
    * searches x their per-search jobs dispatched sequentially from
    * the driver (the API-level 9-search form lives in PublicApiSpec).
    * Oracle: DuckDB re-derives the identical meter from the dumped
    * q103 index + query vector + the two materialized candidate
    * sets. */
  private def q105(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    import s.implicits._
    val path = q103IndexPath(d)
    IndexStore.buildHnswOnceRows(s, docRowsCached(s, d), path)
    val qvec = Embed.embed(Q103QueryText, Embed.DefaultDim)
    val scored = graft.sources.Relations.parquet(s, path)
      .select(col("chunk_id"), col("doc_id"),
        VectorOps.vecCosineConst(col("embedding"), qvec).as("sim"))
    val sels = Q105Sels.toDF("selectivity", "m")
    // the two candidate sets the filtered searches post-filter: one
    // widened (4x) and one naive (1x) traversal — filter-blind, so
    // ONE of each serves every selectivity (the point the meter makes)
    val candw = IndexStore.hnswFilteredCandidates(s, path, Q103QueryText, k = 10)
    val candn = IndexStore.hnswFilteredCandidates(s, path, Q103QueryText, k = 10,
      overfetchFactor = 1)
    val filtered = scored.join(broadcast(sels), col("doc_id") % col("m") === 0)
    def top10(df: DataFrame): DataFrame = df
      .withColumn("rk", row_number().over(Window.partitionBy(col("selectivity"))
        .orderBy(col("sim").desc, col("chunk_id"))))
      .filter(col("rk") <= 10)
      .select(col("selectivity"), col("chunk_id"))
    val exact = top10(filtered)
    val widened = top10(filtered.join(broadcast(candw), col("chunk_id") === col("cid")))
    val naive = top10(filtered.join(broadcast(candn), col("chunk_id") === col("cid")))
    val ex = exact.groupBy("selectivity").agg(count(lit(1)).as("n_exact"))
    val nv = naive.groupBy("selectivity").agg(count(lit(1)).as("naive_returned"))
    val nvHit = naive.join(exact, Seq("selectivity", "chunk_id"), "left_semi")
      .groupBy("selectivity").agg(count(lit(1)).as("naive_hit"))
    val wd = widened.groupBy("selectivity").agg(count(lit(1)).as("n_returned"))
    val wdHit = widened.join(exact, Seq("selectivity", "chunk_id"), "left_semi")
      .groupBy("selectivity").agg(count(lit(1)).as("n_hit"))
    ex.join(nv, Seq("selectivity"), "left").join(nvHit, Seq("selectivity"), "left")
      .join(wd, Seq("selectivity"), "left").join(wdHit, Seq("selectivity"), "left")
      .select(col("selectivity"), col("n_exact"),
        coalesce(col("naive_returned"), lit(0L)).as("naive_returned"),
        (coalesce(col("naive_hit"), lit(0L)) / col("n_exact")).as("naive_recall"),
        coalesce(col("n_returned"), lit(0L)).as("n_returned"),
        (coalesce(col("n_hit"), lit(0L)) / col("n_exact")).as("recall"))
      .orderBy("selectivity")
  }

  /** Dump the two candidate sets the filtered searches post-filter —
    * widened (factor 4) and naive (factor 1); each is identical
    * across selectivities because the traversal is filter-blind,
    * which is the point the meter makes. Shares the q103 physical
    * build. */
  def materializeFilteredRecallAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import graft.sources.IndexStore
    val path = q103IndexPath(d)
    IndexStore.buildHnswOnceRows(s, docRowsCached(s, d), path)
    IndexStore.hnswFilteredCandidates(s, path, Q103QueryText, k = 10)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q105_cands.parquet")
    IndexStore.hnswFilteredCandidates(s, path, Q103QueryText, k = 10,
        overfetchFactor = 1)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q105_cands_naive.parquet")
  }

  private val q105Sql = s"""
    WITH q AS (SELECT qvec
               FROM read_parquet('${graft.SparkEntry.AuxToken}/q103_query.parquet/*.parquet')),
    idx AS (SELECT chunk_id, doc_id, embedding
            FROM read_parquet('${graft.SparkEntry.AuxToken}/q103_index.parquet/*.parquet')),
    candw AS (SELECT cid
              FROM read_parquet('${graft.SparkEntry.AuxToken}/q105_cands.parquet/*.parquet')),
    candn AS (SELECT cid
              FROM read_parquet('${graft.SparkEntry.AuxToken}/q105_cands_naive.parquet/*.parquet')),
    scored AS (
      SELECT chunk_id, doc_id, ${cosColsSql("idx.embedding", "q.qvec")} AS sim
      FROM idx, q),
    sels AS (SELECT * FROM (VALUES ('mod2', 2), ('mod4', 4), ('mod10', 10))
             AS t(selectivity, m)),
    exact AS (
      SELECT selectivity, chunk_id FROM (
        SELECT s.selectivity, x.chunk_id,
               row_number() OVER (PARTITION BY s.selectivity
                 ORDER BY x.sim DESC, x.chunk_id) AS rk
        FROM sels s JOIN scored x ON x.doc_id % s.m = 0)
      WHERE rk <= 10),
    hnsww AS (
      SELECT selectivity, chunk_id FROM (
        SELECT s.selectivity, x.chunk_id,
               row_number() OVER (PARTITION BY s.selectivity
                 ORDER BY x.sim DESC, x.chunk_id) AS rk
        FROM sels s
        JOIN scored x ON x.doc_id % s.m = 0
        JOIN candw c ON c.cid = x.chunk_id)
      WHERE rk <= 10),
    hnswn AS (
      SELECT selectivity, chunk_id FROM (
        SELECT s.selectivity, x.chunk_id,
               row_number() OVER (PARTITION BY s.selectivity
                 ORDER BY x.sim DESC, x.chunk_id) AS rk
        FROM sels s
        JOIN scored x ON x.doc_id % s.m = 0
        JOIN candn c ON c.cid = x.chunk_id)
      WHERE rk <= 10),
    ex AS (SELECT selectivity, COUNT(*) AS n_exact FROM exact GROUP BY 1),
    hnw AS (SELECT selectivity, COUNT(*) AS n_returned FROM hnsww GROUP BY 1),
    hnn AS (SELECT selectivity, COUNT(*) AS naive_returned FROM hnswn GROUP BY 1),
    hitw AS (SELECT h.selectivity, COUNT(*) AS n_hit
             FROM hnsww h JOIN exact e
               ON e.selectivity = h.selectivity AND e.chunk_id = h.chunk_id
             GROUP BY 1),
    hitn AS (SELECT h.selectivity, COUNT(*) AS naive_hit
             FROM hnswn h JOIN exact e
               ON e.selectivity = h.selectivity AND e.chunk_id = h.chunk_id
             GROUP BY 1)
    SELECT e.selectivity, e.n_exact,
           COALESCE(hnn.naive_returned, 0) AS naive_returned,
           CAST(COALESCE(hitn.naive_hit, 0) AS DOUBLE) / e.n_exact AS naive_recall,
           COALESCE(hnw.n_returned, 0) AS n_returned,
           CAST(COALESCE(hitw.n_hit, 0) AS DOUBLE) / e.n_exact AS recall
    FROM ex e LEFT JOIN hnw USING (selectivity) LEFT JOIN hnn USING (selectivity)
    LEFT JOIN hitw USING (selectivity) LEFT JOIN hitn USING (selectivity)
    ORDER BY selectivity"""

  // ---- q104b: where_document ($contains) ---------------------------

  /** The one chroma `Collection.query` filter q104 left ungated:
    * `where_document={"$contains": ...}` — a substring predicate over
    * the DOCUMENT text rather than the metadata. Same Column surface
    * (`col("chunk").contains(w)`), same composition point (inside the
    * probed cells, beneath the SQ8 overfetch), same physical q98
    * index. 'dup' is the one mid-frequency token in the fixture
    * vocabulary, so the predicate genuinely reshapes the result. */
  private val Q104bWord = "dup"
  private def q104b(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q98IndexPath(d)
    IndexStore.buildIvfOnceRows(s, docRowsCached(s, d), path, bitExact = true)
    IndexStore.searchTopKIvf(s, path, Q98QueryText, k = 10,
      probes = Q98Probes, overfetch = Q98Overfetch,
      where = Some(col("chunk").contains(Q104bWord)))
  }
  private val q104bSql = ivfSearchMirrorSql(s"x.chunk LIKE '%$Q104bWord%'")

  // ---- q116: chroma where-DICT translation, gated end-to-end --------

  /** The chromadb wire-format filters q116 feeds through
    * [[graft.functions.ChromaWhere]]: a nested $or / $and / $lt /
    * $gte / $nin metadata dict plus a $contains where_document,
    * composed conjunctively — exactly `collection.query(where=...,
    * where_document=...)`. */
  private val Q116Where =
    """{"$or": [{"doc_id": {"$lt": 60}},
                {"$and": [{"doc_id": {"$gte": 150}},
                          {"doc_id": {"$nin": [151, 152]}}]}]}"""
  private val Q116WhereDoc = s"""{"$$contains": "$Q104bWord"}"""

  /** q116: q104's filtered IVF search with the predicate built from
    * chroma's literal JSON dict grammar instead of a hand-written
    * Column — the adapter is on the gated path, so a translation bug
    * (operator mapping, precedence, implicit-AND rule) fails the
    * hash. The oracle mirrors the dict's MEANING as plain SQL; same
    * shared q98 physical index. */
  private def q116(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ChromaWhere
    import graft.sources.IndexStore
    val path = q98IndexPath(d)
    IndexStore.buildIvfOnceRows(s, docRowsCached(s, d), path, bitExact = true)
    IndexStore.searchTopKIvf(s, path, Q98QueryText, k = 10,
      probes = Q98Probes, overfetch = Q98Overfetch,
      where = Some(ChromaWhere.where(Q116Where) &&
        ChromaWhere.whereDocument(Q116WhereDoc, col("chunk"))))
  }

  private val q116Sql = ivfSearchMirrorSql(
    "(x.doc_id < 60 OR (x.doc_id >= 150 AND x.doc_id NOT IN (151, 152)))" +
      s" AND x.chunk LIKE '%$Q104bWord%'")

  // ---- q107/q108: delete-by-id and upsert lifecycles ----------------

  private[graft] def idxPath(prefix: String, d: String): String =
    s"${graft.Sessions.workDir}/$prefix/" +
      d.stripPrefix("/").replaceAll("[^A-Za-z0-9.]", "_")

  /** Build→mutate lifecycles execute at most once per (session, sf):
    * bench reruns and the Verify aux dump share one physical mutation
    * history, so the searched layout is always exactly one
    * build + one mutation deep (deterministic, idempotent). */
  private val lifecycleDone =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Unit]
  private def lifecycleOnce(s: SparkSession, d: String, what: String)
                           (body: => Unit): Unit =
    lifecycleDone.getOrElseUpdate(
      (graft.sources.IndexStore.sessionKey(s), d, what), body)

  /** The maintenance-lifecycle corpus: a fixed 200-document subset, so
    * the lifecycle queries gate semantics at every sf without scaling
    * three extra index builds with the corpus. */
  private val SubsetMaxDoc = 200
  private def subsetDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < SubsetMaxDoc)
  /** The lifecycle corpora as slices of the ONE shared chunk+embed
    * pass (bit-identical to re-chunking the filtered docs). */
  private def subsetRows(s: SparkSession, d: String): DataFrame =
    docRowsCached(s, d).filter(col("doc_id") < SubsetMaxDoc)

  private val Q107QueryText = "columnar storage layout for analytical scans"

  /** q107: the chromadb `collection.delete(ids=...)` lifecycle, gated
    * end-to-end — build the source-partitioned index, collect the
    * chunk ids of every doc_id ≡ 7 (mod 10) FROM THE INDEX (the
    * caller-supplied explicit id list of the chroma contract), delete
    * them ([[graft.sources.IndexStore.deleteIds]] rewrites only the
    * touched source partitions), then search. Oracle: DuckDB runs the
    * exact-search mirror over an INDEPENDENTLY RECOMPUTED post-delete
    * index (chunk+embed of the surviving docs — never a dump of the
    * mutated layout), so a delete that removes too much, too little,
    * or corrupts a rewritten partition hash-mismatches. */
  /** The shared q107 physical lifecycle (also the q109 `get` corpus):
    * build the 200-doc source layout, delete every chunk of doc_id = 7
    * (mod 10) by explicit id. Runs once per (session, sf); returns the
    * layout path. */
  private def q107Lifecycle(s: SparkSession, d: String): String = {
    import graft.sources.IndexStore
    val path = idxPath("q107_src_index", d)
    lifecycleOnce(s, d, "q107") {
      IndexStore.buildFromRows(s, subsetRows(s, d), path)
      val doomed = graft.sources.Relations.parquet(s, path)
        .filter(col("doc_id") % 10 === 7)
        .select("chunk_id").collect().map(_.getString(0)).toSeq.sorted
      IndexStore.deleteIds(s, path, doomed)
    }
    path
  }

  private def q107(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    IndexStore.searchTopK(s, q107Lifecycle(s, d), Q107QueryText, k = 10)
  }

  // ---- q109: chroma collection.get (query-less retrieval) -----------

  /** q109: chroma's `collection.get(where=..., where_document=...,
    * limit=..., offset=...)` — retrieval WITHOUT a query vector, the
    * other half of the read API ([[graft.sources.IndexStore.get]]).
    * Runs against the POST-DELETE q107 layout, so the gate composes
    * maintenance with paging: a resurrected deleted row, a wrong
    * predicate, or an unstable page boundary all hash-mismatch
    * against the recomputed-survivor oracle. */
  private def q109(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    IndexStore.get(s, q107Lifecycle(s, d),
      where = Some(col("doc_id") % 3 === 1 && col("chunk").contains("the")),
      limit = 25, offset = 5)
  }

  private val q109Sql = s"""
    SELECT chunk_id, doc_id, source, chunk
    FROM read_parquet('${graft.SparkEntry.AuxToken}/q107_index.parquet/*.parquet')
    WHERE doc_id % 3 = 1 AND chunk LIKE '%the%'
    ORDER BY chunk_id LIMIT 25 OFFSET 5"""

  /** Recomputed EXPECTED post-delete index + query vector for the
    * q107 oracle — derived from the documents table through the same
    * deterministic chunk+embed kernel, never from the layout the
    * query mutated and searches. */
  def materializeDeleteAux(s: SparkSession, d: String, auxDir: String): Unit = {
    subsetRows(s, d).filter(col("doc_id") % 10 =!= 7)
      .select(col("chunk_id"), col("doc_id"), col("source"), col("chunk"),
        col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q107_index.parquet")
    import s.implicits._
    Seq(Embed.embed(Q107QueryText, Embed.DefaultDim).toSeq).toDF("qvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q107_query.parquet")
  }

  /** Exact-search presentation mirror over an aux index table (the
    * q63 shape, parameterized) — shared by q107 and any future
    * lifecycle gate that searches a mutated source layout. */
  private def exactSearchMirrorSql(idxT: String, queryT: String) = s"""
    WITH q AS (SELECT qvec FROM $queryT),
    scored AS (
      SELECT chunk_id, doc_id, source, chunk,
             ${cosColsSql("x.embedding", "q.qvec")} AS sim
      FROM $idxT x, q)
    SELECT row_number() OVER (ORDER BY sim DESC, chunk_id) AS rank,
           chunk_id, doc_id, source, chunk,
           'https://docs.google.com/spreadsheets/d/' || source ||
           '/edit#gid=0&range=A' || CAST(doc_id + 2 AS BIGINT) AS link
    FROM scored ORDER BY sim DESC, chunk_id LIMIT 10"""

  private val q107Sql = exactSearchMirrorSql(
    s"read_parquet('${graft.SparkEntry.AuxToken}/q107_index.parquet/*.parquet')",
    s"read_parquet('${graft.SparkEntry.AuxToken}/q107_query.parquet/*.parquet')")

  /** The shared revision transform of the upsert gates (q108 batch,
    * q113 streaming): re-author a doc as ONE short chunk, so the
    * upsert must delete multi-chunk originals' stale tails to pass.
    * ONE definition — the gates' cross-claim of "the same revision
    * shape" is structural, not copy-paste. */
  private[graft] def reviseDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(lit("revised edition "), substring(col("text"), 1, 300)))

  /** The q108 revision: doc_id ≡ 3 (mod 10) docs re-authored. */
  private def q108Revised(s: SparkSession, d: String): DataFrame =
    reviseDocs(subsetDocs(s, d).filter(col("doc_id") % 10 === 3))

  /** q108: the chromadb `collection.upsert` lifecycle — build, then
    * upsert revised versions of every doc_id ≡ 3 (mod 10)
    * ([[graft.sources.IndexStore.upsertDocs]]: delete-by-identity of
    * ALL old chunks + insert the re-chunked revision, touching only
    * their source partitions). Gated by a per-source inventory over
    * the POST-UPSERT LAYOUT (counts, distinct docs, chunk chars) so a
    * stale tail chunk, a lost sibling row, or a duplicated id shifts
    * the hash — a top-k search could miss all of those. Oracle:
    * the same inventory over an independently recomputed expected
    * final corpus. */
  private def q108(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = idxPath("q108_src_index", d)
    lifecycleOnce(s, d, "q108") {
      IndexStore.buildFromRows(s, subsetRows(s, d), path)
      IndexStore.upsertDocs(s, q108Revised(s, d), path)
    }
    IndexStore.inventoryBySource(graft.sources.Relations.parquet(s, path))
  }

  /** Recomputed EXPECTED post-upsert corpus for the q108 oracle:
    * unrevised docs ∪ revised docs through the chunker (embeddings
    * not needed — the gate is the chunk inventory). */
  def materializeUpsertAux(s: SparkSession, d: String, auxDir: String): Unit = {
    val expected = subsetDocs(s, d).filter(col("doc_id") % 10 =!= 3)
      .unionByName(q108Revised(s, d))
    expected
      .select(col("doc_id"), col("source"),
        exprs.chunkText(col("text"), graft.sources.IndexStore.ChunkSize,
          graft.sources.IndexStore.ChunkOverlap).as(Seq("pos", "chunk")))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q108_chunks.parquet")
  }

  private val q108Sql = s"""
    SELECT source, COUNT(*) AS n_chunks, COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(length(chunk)) AS BIGINT) AS sum_chunk_chars,
           MAX(length(chunk)) AS max_chunk_len
    FROM read_parquet('${graft.SparkEntry.AuxToken}/q108_chunks.parquet/*.parquet')
    GROUP BY source ORDER BY source"""

  // ---- q117: chroma collection.update (existing-ids-only) -----------

  /** The q117 update batch: doc_id ≡ 4 (mod 10) genuinely re-authored
    * ([[reviseDocs]]), PLUS two kinds of phantom identity that chroma's
    * `update` must SKIP, never insert: known sources with unknown
    * doc_ids, and an entirely unknown source. A single inventory gate
    * over the final layout catches both failure modes (an inserted
    * phantom adds rows / a partition; a skipped real update leaves
    * stale chunks). */
  private def q117Updates(s: SparkSession, d: String): DataFrame = {
    val base = subsetDocs(s, d)
    val real = reviseDocs(base.filter(col("doc_id") % 10 === 4))
    val ghostIds = reviseDocs(base.filter(col("doc_id") < 5))
      .withColumn("doc_id", col("doc_id") + 10000)
    val ghostSrc = reviseDocs(base.filter(col("doc_id") < 5))
      .withColumn("source", lit("ghost-source"))
    real.unionByName(ghostIds).unionByName(ghostSrc)
  }

  /** q117: the chromadb `collection.update` lifecycle — build the
    * 200-doc source layout, update a batch mixing real revisions with
    * phantom identities ([[graft.sources.IndexStore.updateDocs]]:
    * upsert restricted to already-present (source, doc_id), unknown
    * ids silently skipped — THE semantic difference from q108's
    * upsert, gated here). Inventory over the post-update layout;
    * oracle: the same inventory over an independently recomputed
    * expected corpus in which ONLY the real revisions took effect. */
  private def q117(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = idxPath("q117_src_index", d)
    lifecycleOnce(s, d, "q117") {
      IndexStore.buildFromRows(s, subsetRows(s, d), path)
      IndexStore.updateDocs(s, q117Updates(s, d), path)
    }
    IndexStore.inventoryBySource(graft.sources.Relations.parquet(s, path))
  }

  /** Recomputed EXPECTED post-update corpus for the q117 oracle: the
    * phantoms contribute NOTHING; doc_id ≡ 4 (mod 10) docs appear
    * revised, all others original. */
  def materializeUpdateAux(s: SparkSession, d: String, auxDir: String): Unit = {
    val expected = subsetDocs(s, d).filter(col("doc_id") % 10 =!= 4)
      .unionByName(reviseDocs(subsetDocs(s, d).filter(col("doc_id") % 10 === 4)))
    expected
      .select(col("doc_id"), col("source"),
        exprs.chunkText(col("text"), graft.sources.IndexStore.ChunkSize,
          graft.sources.IndexStore.ChunkOverlap).as(Seq("pos", "chunk")))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q117_chunks.parquet")
  }

  private val q117Sql = s"""
    SELECT source, COUNT(*) AS n_chunks, COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(length(chunk)) AS BIGINT) AS sum_chunk_chars,
           MAX(length(chunk)) AS max_chunk_len
    FROM read_parquet('${graft.SparkEntry.AuxToken}/q117_chunks.parquet/*.parquet')
    GROUP BY source ORDER BY source"""

  // ---- q111: append→compact→search lifecycle ------------------------

  private val Q111Cells = 8
  private val Q111QueryText = "incremental segment compaction for vector search"

  /** q111: the append-forever IVF maintenance story, gated end-to-end
    * — train+build on the first 150 docs, append two batches through
    * the persisted quantizer (each appending one file per touched
    * cell), compact every cell down to ONE file
    * ([[graft.sources.IndexStore.compactIvf]] with maxFilesPerCell=1
    * — the strictest merge policy, so every crowded cell rewrites),
    * then search the compacted layout. Oracle: the IVF search mirror
    * over an INDEPENDENTLY RECOMPUTED expected corpus (chunk + embed
    * + SQ8 of all 200 docs) + the trained centroid sidecar — a
    * compaction that drops, duplicates, or mutates any row
    * hash-mismatches (PipelineSpec pins the file-count and
    * byte-identity invariants; this gates the row algebra at the
    * query surface). */
  /** The shared q111 physical lifecycle (query + aux dump): build on
    * docs<150, two appends, strictest-policy compaction. Runs once per
    * (session, sf). Returns the layout path. */
  private def q111Lifecycle(s: SparkSession, d: String): String = {
    import graft.sources.IndexStore
    val path = idxPath("q111_ivf_index", d)
    lifecycleOnce(s, d, "q111") {
      val rows = docRowsCached(s, d)
      IndexStore.buildIvfFromRows(s, rows.filter(col("doc_id") < 150), path,
        nCells = Q111Cells, lloydIters = 2, bitExact = true)
      IndexStore.appendIvfRows(s,
        rows.filter(col("doc_id") >= 150 && col("doc_id") < 175), path)
      IndexStore.appendIvfRows(s,
        rows.filter(col("doc_id") >= 175 && col("doc_id") < 200), path)
      IndexStore.compactIvf(s, path, maxFilesPerCell = 1)
    }
    path
  }

  private def q111(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q111Lifecycle(s, d)
    IndexStore.searchTopKIvf(s, path, Q111QueryText, k = 10,
      probes = 3, overfetch = 32)
  }

  /** q111 oracle aux: the recomputed expected index rows (never read
    * from the compacted layout), the trained `_centroids` sidecar
    * (the one artifact legitimately shared — the mirror re-derives
    * every assignment from it), and the query vector+code. */
  def materializeCompactAux(s: SparkSession, d: String, auxDir: String): Unit = {
    val path = q111Lifecycle(s, d)
    subsetRows(s, d)
      .select(col("chunk_id"), col("doc_id"), col("source"), col("chunk"),
        bytesToInts(col("sq8_code")).as("sq8"), col("sq8_factor").as("fac"),
        col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q111_index.parquet")
    graft.sources.Relations.parquet(s, s"$path/_centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q111_cents.parquet")
    val qvec = Embed.embed(Q111QueryText, Embed.DefaultDim)
    val qData = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
    import s.implicits._
    Seq((qvec.toSeq,
        graft.functions.VecIndex.sq8Code(qData).map(_.toInt).toSeq,
        graft.functions.VecIndex.sq8Factor(qData)))
      .toDF("qvec", "qcode", "qfac")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q111_query.parquet")
  }

  private val q111Sql = ivfSearchMirrorSqlFor(
    s"read_parquet('${graft.SparkEntry.AuxToken}/q111_index.parquet/*.parquet')",
    s"read_parquet('${graft.SparkEntry.AuxToken}/q111_cents.parquet/*.parquet')",
    s"read_parquet('${graft.SparkEntry.AuxToken}/q111_query.parquet/*.parquet')",
    probes = 3, overfetch = 32, wherePred = "TRUE")

  // ---- q112: batch search over the IVF layout -----------------------

  /** The q112 query batch — id 0 is q98's own query text, so the
    * batch path must reproduce the single-query ranking for it. */
  private val Q112Queries: Seq[(Long, String)] = Seq(
    0L -> Q98QueryText,
    1L -> "broadcast hash join on a small dimension table",
    2L -> "columnar parquet scan with predicate pushdown")

  /** q112: the multi-query surface (`query_texts=[...]`, SURVEY V4)
    * on the PERSISTED IVF layout ([[graft.sources.IndexStore
    * .searchTopKIvfBatch]]): one scan pruned to the union of every
    * query's probe cells answers all three queries; per-query SQ8
    * pre-rank + exact rerank, narrow rank exchanges. Shares the q98
    * physical index. Oracle: the q98 mirror generalized per query —
    * DuckDB re-derives assignment, per-query probing, pre-ranking and
    * reranking from the dumped index + centroids + query batch. */
  private def q112(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q98IndexPath(d)
    IndexStore.buildIvfOnceRows(s, docRowsCached(s, d), path, bitExact = true)
    IndexStore.searchTopKIvfBatch(s, path, Q112Queries, k = 5,
      probes = Q98Probes, overfetch = Q98Overfetch)
  }

  /** Dump the q112 query batch (vectors + SQ8 codes + factors); the
    * index and centroids come from the q98 dump. */
  def materializeIvfBatchAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import s.implicits._
    Q112Queries.map { case (qid, t) =>
      val qvec = Embed.embed(t, Embed.DefaultDim)
      val qData = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
      (qid, qvec.toSeq,
        graft.functions.VecIndex.sq8Code(qData).map(_.toInt).toSeq,
        graft.functions.VecIndex.sq8Factor(qData))
    }.toDF("query_id", "qvec", "qcode", "qfac")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q112_queries.parquet")
  }

  private val q112Sql = s"""
    WITH cents AS (SELECT cent_id, cvec FROM $AuxQ98Cents),
    qs AS (SELECT query_id, qvec, qcode, qfac
           FROM read_parquet('${graft.SparkEntry.AuxToken}/q112_queries.parquet/*.parquet')),
    idx AS (SELECT * FROM $AuxQ98Index),
    assign AS (
      SELECT x.chunk_id, c.cent_id,
             row_number() OVER (PARTITION BY x.chunk_id
               ORDER BY ${l2Sql("x.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM idx x, cents c),
    assigned AS (SELECT chunk_id, cent_id AS cell FROM assign WHERE arn = 1),
    probe AS (
      SELECT query_id, cent_id AS cell FROM (
        SELECT q.query_id, c.cent_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY ${l2Sql("q.qvec", "c.cvec")}, c.cent_id) AS prn
        FROM qs q, cents c)
      WHERE prn <= $Q98Probes),
    pruned AS (
      SELECT p.query_id, x.* FROM idx x
      JOIN assigned a USING (chunk_id) JOIN probe p ON a.cell = p.cell),
    cand AS (
      SELECT query_id, chunk_id FROM (
        SELECT x.query_id, x.chunk_id,
               row_number() OVER (PARTITION BY x.query_id
                 ORDER BY CAST(list_sum(list_transform(generate_series(1, len(x.sq8)),
                     k -> x.sq8[k] * q.qcode[k])) AS DOUBLE) * x.fac * q.qfac DESC,
                   x.chunk_id) AS arn
        FROM pruned x JOIN qs q USING (query_id))
      WHERE arn <= $Q98Overfetch),
    scored AS (
      SELECT x.query_id, x.chunk_id, x.doc_id, x.source, x.chunk,
             ${cosColsSql("x.embedding", "q.qvec")} AS sim
      FROM pruned x JOIN cand USING (query_id, chunk_id)
      JOIN qs q ON q.query_id = x.query_id)
    SELECT query_id, rank, chunk_id, doc_id, source, chunk,
           'https://docs.google.com/spreadsheets/d/' || source ||
           '/edit#gid=0&range=A' || CAST(doc_id + 2 AS BIGINT) AS link
    FROM (
      SELECT query_id, chunk_id, doc_id, source, chunk,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, chunk_id) AS rank
      FROM scored)
    WHERE rank <= 5 ORDER BY query_id, rank"""

  // ---- q114: IVF probe-count operating curve ------------------------

  private val Q114Budgets = Seq(1, 2, 3)
  private val Q114K = 10

  /** q114: the IVF operating-point curve — recall@10 and candidate
    * fraction per probe budget, the [[q102]] efSearch-curve analog
    * for the IVF family (the two persisted index families now each
    * publish their quality/cost dial, measured). ONE distributed plan
    * over the shared q98 index, no per-budget searches: every index
    * row is scored once (exact cosine + SQ8 approx), carries its
    * cell's rank in the query's centroid-distance order
    * (quantizer-sized broadcast), and a broadcast budget ladder fans
    * each row to the budgets probing its cell; per-budget SQ8
    * overfetch and exact rerank are window ranks, and recall joins
    * the budget-blind exact top-10 from the same scored scan (the
    * q105 one-plan-meter shape). Oracle: DuckDB re-derives
    * assignment, cell ranking, fan-out, both ranks and the recall
    * algebra from the q98 aux dump. */
  private def q114(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    import graft.functions.vecIndexExprs
    import s.implicits._
    val path = q98IndexPath(d)
    IndexStore.buildIvfOnceRows(s, docRowsCached(s, d), path, bitExact = true)
    val (cids, cents) = graft.sources.Relations.centroids(s, s"$path/_centroids")
    val qvec = Embed.embed(Q98QueryText, Embed.DefaultDim)
    val qData = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
    // the query's full centroid-distance order — cell -> probe rank
    // (quantizer-sized, rides as a broadcast)
    val cellRank = graft.functions.VecIndex
      .nearestCells(qData, cids, cents, cids.length).toLongArray()
      .zipWithIndex.map { case (c, i) => (c, i + 1) }.toSeq
      .toDF("cell_l", "cell_rank")
    val qDf = Seq((graft.functions.VecIndex.sq8Code(qData),
        graft.functions.VecIndex.sq8Factor(qData)))
      .toDF("qcode", "qfac")
    val scored = graft.sources.Relations.parquet(s, path)
      .join(broadcast(cellRank), col("cell").cast("long") === col("cell_l"))
      .crossJoin(broadcast(qDf))
      .select(col("chunk_id"),
        VectorOps.vecCosineConst(col("embedding"), qvec).as("sim"),
        (vecIndexExprs.sq8Dot(col("sq8_code"), col("qcode"))
          * col("sq8_factor") * col("qfac")).as("approx"),
        col("cell_rank"))
    // TakeOrdered (distributed heap + driver merge of 10 rows), never
    // an unpartitioned window funneling every scored row through one
    // task — the same rows, the scale-right shape
    val exactTop = scored
      .orderBy(col("sim").desc, col("chunk_id"))
      .limit(Q114K).select(col("chunk_id"))
    val totalDf = scored.agg(count(lit(1)).as("n_total"))
    val fanned = scored.join(broadcast(Q114Budgets.toDF("probes")),
      col("cell_rank") <= col("probes"))
    val scanned = fanned.groupBy(col("probes"))
      .agg(count(lit(1)).as("n_scanned"))
    val wA = Window.partitionBy(col("probes"))
      .orderBy(col("approx").desc, col("chunk_id"))
    val wS = Window.partitionBy(col("probes"))
      .orderBy(col("sim").desc, col("chunk_id"))
    val hits = fanned
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= Q98Overfetch)
      .withColumn("rk", row_number().over(wS))
      .filter(col("rk") <= Q114K)
      .join(broadcast(exactTop), Seq("chunk_id"), "left_semi")
      .groupBy(col("probes")).agg(count(lit(1)).as("n_hit"))
    scanned.join(hits, Seq("probes"), "left")
      .crossJoin(broadcast(totalDf))
      .select(col("probes"), col("n_scanned"),
        (col("n_scanned").cast("double") / col("n_total")).as("cand_frac"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(Q114K))
          .as("recall"))
      .orderBy("probes")
  }

  private val q114Sql = s"""
    WITH cents AS (SELECT cent_id, cvec FROM $AuxQ98Cents),
    q AS (SELECT qvec, qcode, qfac FROM $AuxQ98Query),
    idx AS (SELECT * FROM $AuxQ98Index),
    assign AS (
      SELECT x.chunk_id, c.cent_id,
             row_number() OVER (PARTITION BY x.chunk_id
               ORDER BY ${l2Sql("x.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM idx x, cents c),
    assigned AS (SELECT chunk_id, cent_id AS cell FROM assign WHERE arn = 1),
    qrank AS (
      SELECT c.cent_id AS cell,
             row_number() OVER (ORDER BY ${l2Sql("q.qvec", "c.cvec")}, c.cent_id)
               AS cell_rank
      FROM cents c, q),
    scored AS (
      SELECT x.chunk_id, ${cosColsSql("x.embedding", "q.qvec")} AS sim,
             CAST(list_sum(list_transform(generate_series(1, len(x.sq8)),
                 k -> x.sq8[k] * q.qcode[k])) AS DOUBLE) * x.fac * q.qfac
               AS approx,
             r.cell_rank
      FROM idx x JOIN assigned a USING (chunk_id)
      JOIN qrank r ON r.cell = a.cell, q),
    exact AS (
      SELECT chunk_id FROM (
        SELECT chunk_id,
               row_number() OVER (ORDER BY sim DESC, chunk_id) AS xr
        FROM scored)
      WHERE xr <= $Q114K),
    budgets AS (SELECT * FROM (VALUES ${Q114Budgets.map(b => s"($b)").mkString(", ")}) AS t(probes)),
    fanned AS (
      SELECT b.probes, s.* FROM scored s JOIN budgets b
        ON s.cell_rank <= b.probes),
    scanned AS (SELECT probes, COUNT(*) AS n_scanned FROM fanned GROUP BY 1),
    topk AS (
      SELECT probes, chunk_id FROM (
        SELECT probes, chunk_id,
               row_number() OVER (PARTITION BY probes
                 ORDER BY sim DESC, chunk_id) AS rk
        FROM (
          SELECT * FROM (
            SELECT f.*, row_number() OVER (PARTITION BY probes
                ORDER BY approx DESC, chunk_id) AS arn
            FROM fanned f)
          WHERE arn <= $Q98Overfetch))
      WHERE rk <= $Q114K),
    hits AS (
      SELECT t.probes, COUNT(*) AS n_hit
      FROM topk t JOIN exact e USING (chunk_id) GROUP BY 1)
    SELECT s.probes, s.n_scanned,
           CAST(s.n_scanned AS DOUBLE) / (SELECT COUNT(*) FROM idx)
             AS cand_frac,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / $Q114K AS recall
    FROM scanned s LEFT JOIN hits h USING (probes)
    ORDER BY probes"""

  /** Exact cosine top-k of queries against a corpus — the recall
    * harness baseline. */
  private def exactTopKOf(corpus: DataFrame, idCol: String, vecCol: String,
                          queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol))
    corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        cos(col(vecCol), col("qvec")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol))
  }

  /** Exact cosine top-k per query (queries = vec_id < 5), computed
    * once per session for the recall harness. */
  private def exactTopK(s: SparkSession, d: String, k: Int): DataFrame =
    cachedFrame(s, d, s"exact$k") {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      exactTopKOf(emb, "vec_id", "embedding", qs, k)
    }

  /** q67: ANN quality harness — recall@3 AND candidate fraction of
    * every approximate path (hyperplane LSH q62, IVF multiprobe q65,
    * SQ8 compressed-domain q69) against the exact top-3. The two
    * numbers every ANN deployment must watch, emitted together per
    * (method, query): recall without its operating point is
    * meaningless. On the fixture's structureless vectors sq8 is the
    * winner (recall 1.0 at <=3% candidates); the geometric methods
    * document their honest ceiling (~0.6 at ~20%). Approximate =>
    * rows-only. */
  /** q67's hnsw frame — the graph method on the ISOTROPIC fixture,
    * same shard/beam operating point as q102 runs on the clustered
    * corpus, so the two meters complete the method x corpus matrix:
    * the fixture documents the graph path's honest ceiling on
    * structureless vectors (distance concentration — the same ceiling
    * q67 records for LSH/IVF) exactly as q67b/q102 document where
    * structure pays. Computed once per session; shared with the aux
    * dump so the oracle re-derives the meter from the exact candidate
    * set measured. */
  private def q67Hnsw(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "q67hnsw") {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      annHnsw(emb, "vec_id", "embedding", qs, k = 3,
        numShards = 2, efSearch = 8)
        .orderBy("query_id", "rank")
    }

  private def q67(s: SparkSession, d: String): DataFrame = {
    val corpusN = Tables.embeddings(s, d).count()
    recallMeter(exactTopK(s, d, 3), "vec_id", corpusN,
      Seq("lsh" -> q62(s, d), "ivf" -> q65(s, d), "sq8" -> q69(s, d),
        "hnsw" -> q67Hnsw(s, d)))
  }

  /** Recall@k + candidate-fraction meter over already-materialized
    * (method → approximate top-k) frames and the exact baseline. All
    * inputs arrive localCheckpoint-pinned from [[cachedFrame]], so
    * the meter is pure small-data arithmetic — it never re-executes
    * the paths it measures (each referenced 2-3 times below). */
  private def recallMeter(exact: DataFrame, idCol: String, corpusN: Long,
                          methods: Seq[(String, DataFrame)]): DataFrame = {
    def recall(method: String, ann: DataFrame): DataFrame = {
      val hits = ann.select(col("query_id"), col(idCol))
        .join(exact, Seq("query_id", idCol), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      val cands = ann.groupBy(col("query_id"))
        .agg(max(col("n_candidates")).as("n_candidates"))
      exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .join(cands, Seq("query_id"), "left")
        .select(lit(method).as("method"), col("query_id"),
          (coalesce(col("n_hit"), lit(0L)) / col("n_exact")).as("recall_at_3"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          round(coalesce(col("n_candidates"), lit(0L)) / lit(corpusN.toDouble), 4)
            .as("cand_frac"))
    }
    methods.map { case (m, ann) => recall(m, ann) }
      .reduce(_ unionByName _)
      .orderBy("method", "query_id")
  }

  /** Recall/candidate-fraction meter mirror, parameterized on the
    * corpus table and the (method name -> mirror SQL) list —
    * instantiated for q67 (fixture, 3 methods) and q67b (clustered
    * corpus, 2 methods). Nested WITHs are scoped per parenthesized
    * subquery, so the mirrors' internal CTE names don't collide. */
  private def recallMirrorSql(vecT: String, methods: Seq[(String, String)]) = s"""
    WITH exact AS (
      SELECT query_id, vec_id FROM (
        SELECT qe.vec_id AS query_id, e.vec_id,
               row_number() OVER (PARTITION BY qe.vec_id
                 ORDER BY ${cosSql("e", "qe")} DESC, e.vec_id) AS rank
        FROM $vecT e, $vecT qe
        WHERE qe.vec_id < 5 AND e.vec_id <> qe.vec_id)
      WHERE rank <= 3),
    corpus AS (SELECT COUNT(*) AS n FROM $vecT),
    ${methods.map { case (m, sql) => s"m_$m AS ($sql)" }.mkString(",\n    ")},
    all_ann AS (
      ${methods.map { case (m, _) =>
        s"SELECT '$m' AS method, query_id, vec_id, n_candidates FROM m_$m" }
        .mkString("\n      UNION ALL ")}),
    ex AS (SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY query_id),
    hit AS (
      SELECT a.method, a.query_id, COUNT(*) AS n_hit
      FROM all_ann a JOIN exact x
        ON a.query_id = x.query_id AND a.vec_id = x.vec_id
      GROUP BY a.method, a.query_id),
    cand AS (
      SELECT method, query_id, MAX(n_candidates) AS n_candidates
      FROM all_ann GROUP BY method, query_id),
    methods AS (SELECT unnest([${methods.map("'" + _._1 + "'").mkString(", ")}]) AS method)
    SELECT m.method, ex.query_id,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall_at_3,
           COALESCE(c.n_candidates, 0) AS n_candidates,
           round(COALESCE(c.n_candidates, 0)
                 / CAST((SELECT n FROM corpus) AS DOUBLE), 4) AS cand_frac
    FROM methods m
    CROSS JOIN ex
    LEFT JOIN hit h ON h.method = m.method AND h.query_id = ex.query_id
    LEFT JOIN cand c ON c.method = m.method AND c.query_id = ex.query_id
    ORDER BY m.method, ex.query_id"""

  private val q67Sql = recallMirrorSql("embeddings",
    Seq("lsh" -> q62Sql, "ivf" -> q65Sql, "sq8" -> q69Sql,
      "hnsw" -> ("SELECT query_id, vec_id, n_candidates FROM " +
        s"read_parquet('${graft.SparkEntry.AuxToken}/q67_hnsw.parquet/*.parquet')")))

  // ---- q67b: the same meter on a CLUSTERED corpus -------------------

  private[graft] val ClusterCount = 50
  private val ClusterAlpha = 0.2

  /** Cluster-structured corpus synthesized deterministically from the
    * isotropic fixture: vector i joins cluster (i mod 50) and becomes
    * center(cluster) + 0.2 * original. The fixture's isotropic
    * vectors put an honest ~0.6 ceiling on every geometric ANN method
    * (q67); real embedding corpora are clustered, and this corpus
    * models that regime so q67b can document the IVF operating point
    * scale users actually get. 50 clusters => one cluster is 2% of
    * the corpus at any sf. */
  private[graft] def clusteredEmb(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "q67b_corpus") {
      import s.implicits._
      val centers = (0 until ClusterCount).map(c =>
          (c.toLong, Embed.embed("cluster:" + c, Embed.DefaultDim).toSeq))
        .toDF("cid", "cvec")
      Tables.embeddings(s, d)
        .withColumn("cid", col("vec_id") % ClusterCount)
        .join(broadcast(centers), Seq("cid"))
        .select(col("vec_id"),
          zip_with(col("cvec"), col("embedding"),
            (c, v) => (c.cast("double") + lit(ClusterAlpha) * v.cast("double"))
              .cast("float")).as("embedding"))
    }

  /** One deterministic seed per cluster: vectors 0..49 land in
    * clusters 0..49 (i mod 50), so Lloyd starts with every cluster
    * covered and converges each cell onto a cluster mean. */
  private def q67bSeeds(clustered: DataFrame): DataFrame =
    clustered.filter(col("vec_id") < ClusterCount)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))

  private def q67bQueries(clustered: DataFrame): DataFrame =
    clustered.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  private val Q67bProbes = 2

  private def q67bIvf(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "q67b_ivf") {
      val emb = clusteredEmb(s, d)
      annIvf(emb, "vec_id", "embedding", q67bQueries(emb), k = 3,
        seeds = q67bSeeds(emb), lloydIters = 2, probes = Q67bProbes)
        .orderBy("query_id", "rank")
    }

  private def q67bSq8(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "q67b_sq8") {
      val emb = clusteredEmb(s, d)
      knnSq8(emb, "vec_id", "embedding", q67bQueries(emb), k = 3)
        .orderBy("query_id", "rank")
    }

  /** Exact top-3 baseline on the clustered corpus, computed once per
    * session — shared by the q67b and q102 meters (one cachedFrame
    * key, one definition: the two meters can never measure against
    * diverged baselines). */
  private def q67bExact3(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "q67b_exact3") {
      val emb = clusteredEmb(s, d)
      exactTopKOf(emb, "vec_id", "embedding", q67bQueries(emb), 3)
    }

  /** q67b: [[q67]]'s recall/candidate-fraction meter on the clustered
    * corpus — the demonstration that IVF's geometry pays off the
    * moment the data has structure: probing 2 of 50 trained cells
    * (~4% of the corpus) recovers the full exact top-3, where the
    * same method on the isotropic fixture capped near 0.6 at ~20%
    * candidates. SQ8 rides along as the structure-free baseline. */
  private def q67b(s: SparkSession, d: String): DataFrame =
    recallMeter(q67bExact3(s, d), "vec_id", clusteredEmb(s, d).count(),
      Seq("ivf" -> q67bIvf(s, d), "sq8" -> q67bSq8(s, d)))

  // ---- HNSW: sharded graph ANN (the reference's index structure) ----

  /** PUBLIC sharded-HNSW ANN — the reference's actual index structure
    * (chromadb → hnswlib, app.py:50-52) in the distributed shape: the
    * corpus is hash-partitioned into `numShards` shards, each shard
    * builds one deterministic in-memory [[graft.functions.HnswGraph]]
    * (Malkov & Yashunin 2018) in its executor, every query searches
    * every shard with an `efSearch` beam, and the per-shard top-k
    * lists merge in one tiny window. Per query the result is the
    * union-of-shards approximate top-k — the standard scale-out HNSW
    * deployment (one graph per index shard, fan-out + merge).
    *
    * Scale shape at 100 TB: `repartition(numShards, id)` is the ONE
    * corpus shuffle; shard count is chosen so a shard's vectors + an
    * M-degree adjacency fit executor memory (the same sizing rule
    * every sharded-HNSW system applies), queries ride in as a
    * plan-constant array (quantizer-sized, like the IVF centroid
    * table), the merge exchanges only (query, id, sim) rows.
    * Graph build is once per session ([[cachedFrame]] on the gate
    * query) — a persisted-adjacency layout would slot into
    * IndexStore beside buildIvf; q67-family measurements already
    * document IVF-SQ as the operating point this engine recommends
    * at that scale (graph quality vs rebuild cost trade).
    *
    * `n_candidates` = total distance computations across all shards
    * and layers for the query — the honesty metric of the q67-family
    * meters (for sharded HNSW the honest cost INCLUDES paying the
    * upper-layer descent once per shard).
    *
    * Determinism: shard assignment is Spark's fixed murmur hash on
    * the id; within a shard the build inserts ids ascending with
    * id-tie-broken heaps (HnswGraph's contract); the merge ranks on
    * (sim desc, id). Re-runs and Verify re-executions hash-match. */
  def annHnsw(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, k: Int, numShards: Int = 0,
              m: Int = 8, efConstruction: Int = 64,
              efSearch: Int = 48): DataFrame =
    annHnswSweep(corpus, idCol, vecCol, queries, k, numShards, m,
      efConstruction, Seq(efSearch)).drop("ef")

  /** [[annHnsw]] across SEVERAL efSearch operating points in one
    * pass: each shard builds its graph ONCE and answers every beam
    * width against it — the construction cost (which dominates: build
    * is ~3.2k nodes/s/core, a search is ~constant distance comps)
    * amortizes over the whole recall/cost curve. Output adds an `ef`
    * column; rank/n_candidates are per (query, ef). This is how the
    * q102 meter records an operating-point CURVE for the price of one
    * index build. */
  def annHnswSweep(corpus: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, k: Int, numShards: Int = 0,
                   m: Int = 8, efConstruction: Int = 64,
                   efSearchPoints: Seq[Int] = Seq(48)): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    require(efSearchPoints.nonEmpty)
    val efPoints = efSearchPoints.distinct.sorted
    // numShards = 0 auto-sizes from the corpus (one count job): a
    // shard's graph must be memory-resident in one task, so shard
    // count is the variable that scales — the same rule (and the same
    // fixed-default cliff it removes) as IndexStore.buildHnsw
    val shards =
      if (numShards > 0) numShards
      else graft.sources.IndexStore.hnswNumShards(corpus.count())
    // query side: explicit tiny side, closure-shipped like the IVF
    // centroid table (index metadata, never a join input)
    val qArr: Array[(Long, Array[Float])] = queries
      .select(col("query_id").cast("long"), col("qvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val local = corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .repartition(shards, col(idCol))
      .mapPartitions { it =>
        val shard = org.apache.spark.TaskContext.getPartitionId()
        val rows = it.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val g = graft.functions.HnswGraph.build(
            rows.map(_._1), rows.map(_._2), m, efConstruction)
          qArr.iterator.flatMap { case (qid, qvec) =>
            efPoints.iterator.flatMap { ef =>
              // k+1 locally: the query's own vector lives in exactly
              // one shard and is filtered after the merge
              val (top, nDist) = g.search(qvec, k + 1, ef)
              top.iterator.map { case (id, sim) => (qid, ef, shard, id, sim, nDist) }
            }
          }
        }
      }
      .toDF("query_id", "ef", "shard", "vec_id", "sim", "n_local")
    // one plan, one graph build: n_candidates = sum of each shard's
    // (constant-per-shard) n_local, summed once per shard via a
    // first-row-of-shard mark — no self-join back onto the build
    val wShard = Window.partitionBy(col("query_id"), col("ef"), col("shard"))
      .orderBy(col("sim").desc, col("vec_id"))
    val wQuery = Window.partitionBy(col("query_id"), col("ef"))
    val wRank = Window.partitionBy(col("query_id"), col("ef"))
      .orderBy(col("sim").desc, col("vec_id"))
    local
      .withColumn("first_of_shard", row_number().over(wShard) === 1)
      .withColumn("n_candidates",
        sum(when(col("first_of_shard"), col("n_local")).otherwise(0L)).over(wQuery))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("ef"), col("rank"), col("vec_id"), col("n_candidates"))
  }

  /** The efSearch operating points the q102 meter records — the
    * recall/cost CURVE of the graph index, like q67 records the
    * LSH/IVF/SQ8 points. 8 is the r8 operating point (beam sized to
    * the cluster); 4 trades recall for cost; 16 spends past the
    * cluster size into the cross-cluster concentration regime. */
  private val Q102EfPoints = Seq(4, 8, 16)

  /** q102's hnsw sweep — searched over the q67b clustered corpus (the
    * regime real embedding corpora live in; on the isotropic fixture
    * distance concentration keeps ANY beam search near-exhaustive at
    * 500 vectors, the same measured ceiling q67 documents for
    * LSH/IVF). ONE graph build serves every ef point
    * ([[annHnswSweep]]); computed once per session — shared by the
    * gate query and its aux materialization so the oracle re-derives
    * the meter from the exact candidate sets the meter measured. */
  private def q102Sweep(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "q102") {
      val emb = clusteredEmb(s, d)
      // 2 shards: per-shard search cost is ~constant in corpus size
      // (beam + descent), so the candidate FRACTION the meter reports
      // shrinks as N grows
      annHnswSweep(emb, "vec_id", "embedding", q67bQueries(emb), k = 3,
        numShards = 2, efSearchPoints = Q102EfPoints)
        .orderBy("ef", "query_id", "rank")
    }

  private def q102HnswAt(s: SparkSession, d: String, ef: Int): DataFrame =
    q102Sweep(s, d).filter(col("ef") === ef).drop("ef")

  /** q102: sharded-HNSW recall/candidate-fraction meter against the
    * exact top-3 on the clustered corpus, at efSearch ∈ {4, 8, 16} —
    * the graph-index completion of the q67 ANN family (LSH/IVF/SQ8;
    * q67b measures IVF/SQ8 on the same corpus, so the operating
    * points are directly comparable), recorded as a curve the way a
    * capacity plan needs it (what does a recall point COST?). Oracle:
    * DuckDB recomputes the exact baseline and the meter arithmetic
    * from the materialized clustered corpus plus the
    * Verify-materialized per-ef HNSW result sets (the q62-buckets
    * pattern: the custom kernel runs in Spark once, everything
    * downstream is independently re-derived). */
  private def q102(s: SparkSession, d: String): DataFrame =
    recallMeter(q67bExact3(s, d), "vec_id", clusteredEmb(s, d).count(),
      Q102EfPoints.map(ef => s"hnsw_ef$ef" -> q102HnswAt(s, d, ef)))

  /** Dump the q102 per-ef HNSW candidate sets for the DuckDB oracle
    * (the clustered corpus itself is dumped by
    * [[materializeClusteredAux]], which Verify runs for q102 too).
    * Called by Verify (never by Bench). */
  def materializeHnswAux(s: SparkSession, d: String, auxDir: String): Unit =
    Q102EfPoints.foreach { ef =>
      q102HnswAt(s, d, ef)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$auxDir/q102_hnsw_ef$ef.parquet")
    }

  private def auxHnsw(ef: Int) =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q102_hnsw_ef$ef.parquet/*.parquet')"

  /** Deterministic on-disk location of the q103 index for an sf dir —
    * one physical build per (session, sf), shared by the query, the
    * Verify aux dump, and the bench (see IndexStore.buildHnswOnce). */
  private def q103IndexPath(d: String): String = idxPath("q103_hnsw_index", d)

  private val Q103QueryText = "incremental stream processing with stateful operators"

  /** q103: the persisted-HNSW index lifecycle as ONE gated query —
    * build the shard-partitioned graph layout (per-shard
    * deterministic HNSW, adjacency stored in-row as in-shard
    * ordinals), then search it: per-shard graph traversal fans the
    * query out, the merged candidates pay one exact-cosine rerank +
    * the standard presentation. The reference persists exactly this
    * structure (hnswlib graph under ./chroma_db, app.py:32-33); here
    * it is a parquet layout a 1000-executor cluster loads
    * shard-parallel. Oracle: DuckDB re-ranks the materialized
    * candidate set against the dumped index rows and query vector —
    * everything downstream of the graph traversal (merge, rerank,
    * rank, links, projection) is independently re-derived, the
    * q62-buckets pattern applied to the persisted graph. */
  private def q103(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q103IndexPath(d)
    IndexStore.buildHnswOnceRows(s, docRowsCached(s, d), path)
    IndexStore.searchTopKHnsw(s, path, Q103QueryText, k = 10)
  }

  /** Dump the q103 index rows, the candidate set its traversal
    * produced, and the query vector for the DuckDB oracle. Shares the
    * physical build with the q103 query via buildHnswOnce; the
    * traversal is deterministic, so re-running it here yields the
    * exact candidate set the gate query used. */
  def materializeHnswIndexAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import graft.sources.IndexStore
    val path = q103IndexPath(d)
    IndexStore.buildHnswOnceRows(s, docRowsCached(s, d), path)
    graft.sources.Relations.parquet(s, path)
      .select(col("chunk_id"), col("doc_id"), col("source"), col("chunk"),
        col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q103_index.parquet")
    IndexStore.hnswCandidates(s, path, Q103QueryText, k = 10)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q103_cands.parquet")
    import s.implicits._
    Seq(Embed.embed(Q103QueryText, Embed.DefaultDim).toSeq).toDF("qvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q103_query.parquet")
  }

  private val q103Sql = s"""
    WITH q AS (SELECT qvec
               FROM read_parquet('${graft.SparkEntry.AuxToken}/q103_query.parquet/*.parquet')),
    cand AS (SELECT cid
             FROM read_parquet('${graft.SparkEntry.AuxToken}/q103_cands.parquet/*.parquet')),
    scored AS (
      SELECT chunk_id, doc_id, source, chunk,
        list_sum(list_transform(generate_series(1, len(embedding)),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(generate_series(1, len(qvec)),
             i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))) AS sim
      FROM read_parquet('${graft.SparkEntry.AuxToken}/q103_index.parquet/*.parquet') idx,
           cand, q
      WHERE idx.chunk_id = cand.cid
    )
    SELECT row_number() OVER (ORDER BY sim DESC, chunk_id) AS rank,
           chunk_id, doc_id, source, chunk,
           'https://docs.google.com/spreadsheets/d/' || source ||
           '/edit#gid=0&range=A' || CAST(doc_id + 2 AS BIGINT) AS link
    FROM scored ORDER BY sim DESC, chunk_id LIMIT 10"""

  // ---- q106: batch search over the persisted HNSW layout -----------

  /** The q106 query batch — id 0 is q103's own query text, so the
    * batch path's first block is directly comparable to the
    * single-query gate. */
  private val Q106Queries: Seq[(Long, String)] = Seq(
    0L -> Q103QueryText,
    1L -> "broadcast hash join on a small dimension table",
    2L -> "columnar parquet scan with predicate pushdown")

  /** q106: the reference's multi-query surface (`query_texts=[...]`,
    * SURVEY V4) against the PERSISTED graph — one traversal pass over
    * the pinned shards answers all three queries, the rank exchange
    * carries (query_id, chunk_id, sim) only, presentation joins back
    * on the ranked top-k. Shares the q103 physical index. Oracle:
    * DuckDB re-ranks each query's materialized candidate set against
    * the dumped index and query vectors — the q103 mirror, keyed per
    * query. */
  private def q106(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q103IndexPath(d)
    IndexStore.buildHnswOnceRows(s, docRowsCached(s, d), path)
    IndexStore.searchTopKHnswBatch(s, path, Q106Queries, k = 5)
  }

  /** Dump q106's per-query candidate sets and query vectors (the
    * index rows come from the q103 dump). Shares the build and the
    * deterministic traversal with the gate query. */
  def materializeHnswBatchAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import graft.sources.IndexStore
    val path = q103IndexPath(d)
    IndexStore.buildHnswOnceRows(s, docRowsCached(s, d), path)
    IndexStore.hnswCandidatesBatch(s, path, Q106Queries, k = 5)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q106_cands.parquet")
    import s.implicits._
    Q106Queries.map { case (qid, t) => (qid, Embed.embed(t, Embed.DefaultDim).toSeq) }
      .toDF("query_id", "qvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q106_queries.parquet")
  }

  private val q106Sql = s"""
    WITH qs AS (SELECT query_id, qvec
                FROM read_parquet('${graft.SparkEntry.AuxToken}/q106_queries.parquet/*.parquet')),
    cand AS (SELECT query_id, cid
             FROM read_parquet('${graft.SparkEntry.AuxToken}/q106_cands.parquet/*.parquet')),
    scored AS (
      SELECT c.query_id, x.chunk_id, x.doc_id, x.source, x.chunk,
             ${cosColsSql("x.embedding", "q.qvec")} AS sim
      FROM cand c
      JOIN read_parquet('${graft.SparkEntry.AuxToken}/q103_index.parquet/*.parquet') x
        ON x.chunk_id = c.cid
      JOIN qs q ON q.query_id = c.query_id),
    ranked AS (
      SELECT query_id, chunk_id, doc_id, source, chunk,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, chunk_id) AS rank
      FROM scored)
    SELECT query_id, rank, chunk_id, doc_id, source, chunk,
           'https://docs.google.com/spreadsheets/d/' || source ||
           '/edit#gid=0&range=A' || CAST(doc_id + 2 AS BIGINT) AS link
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Dump the clustered corpus (vectors + SQ8 codes) and its trained
    * centroids for the q67b oracle, which re-derives assignment,
    * probing, pre-ranking, ranking, and the meter arithmetic in
    * DuckDB. Shares the session-pinned corpus frame with the query
    * path. Called by Verify (never by Bench). */
  def materializeClusteredAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import graft.functions.vecIndexExprs
    val cl = clusteredEmb(s, d)
    cl.select(col("vec_id"), col("embedding"),
        bytesToInts(vecIndexExprs.sq8Code(col("embedding"))).as("sq8"),
        vecIndexExprs.sq8Factor(col("embedding")).as("fac"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q67b_corpus.parquet")
    val (ids, cents) = ivfCentroids(cl, "vec_id", "embedding", q67bSeeds(cl))
    import s.implicits._
    ids.toSeq.zip(cents.toSeq.map(_.toSeq)).toDF("cent_id", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q67b_cents.parquet")
  }

  private val AuxQ67bCorpus =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q67b_corpus.parquet/*.parquet')"
  private val AuxQ67bCents =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q67b_cents.parquet/*.parquet')"

  private val q67bSql = recallMirrorSql(AuxQ67bCorpus,
    Seq("ivf" -> ivfMirrorSql(AuxQ67bCorpus, AuxQ67bCents, Q67bProbes),
        "sq8" -> sq8MirrorSql(AuxQ67bCorpus, AuxQ67bCorpus, 16)))

  // declared after AuxQ67bCorpus: object vals initialize in order
  private val q191Sql =
    ivfBinaryMirrorSql(AuxQ67bCorpus, AuxQ67bCents, Q67bProbes, 64)

  private val q102Sql = recallMirrorSql(AuxQ67bCorpus,
    Q102EfPoints.map(ef => s"hnsw_ef$ef" ->
      s"SELECT query_id, vec_id, n_candidates FROM ${auxHnsw(ef)}"))

  /** q66: per-label centroids and dispersion, fully deterministic:
    * the centroid is the per-dimension DECIMAL mean and each member's
    * distance to it is an exact-decimal sum of squares, so the result
    * is order-independent and the whole query carries a DuckDB oracle
    * (which mirrors the same arithmetic over posexploded rows — the
    * DecVecMeanAgg/DecL2 kernels are bit-identical to davg/dsum by
    * construction). Scale shape: ONE map-side-combined vector
    * aggregate on label (buffers, not rows, shuffle), the tiny
    * centroid table broadcast back, the distance computed scan-side,
    * and one final agg on label — the (row, dim) exploded join the
    * old formulation shuffled is gone. */
  private def q66(s: SparkSession, d: String): DataFrame = {
    import graft.util.Num.davg
    val emb = Tables.embeddings(s, d)
    val cents = emb.groupBy(col("label"))
      .agg(graft.functions.DecVecAgg.decVecMean(col("embedding")).as("mvec"))
    val dists = emb.join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vec_id"),
        graft.functions.vecIndexExprs.decL2(col("embedding"), col("mvec")).as("dist"))
    dists.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(davg(col("dist")), 4).as("avg_dist"))
      .orderBy("label")
  }

  private val q66Sql = s"""
    WITH idx AS (
      SELECT label, vec_id, embedding,
             unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings),
    bydim AS (
      SELECT label, vec_id, i, CAST(embedding[i] AS DOUBLE) AS x FROM idx),
    cents AS (
      SELECT label, i, ${graft.util.Num.sqlDavg("x")} AS m
      FROM bydim GROUP BY label, i),
    dists AS (
      SELECT b.label, b.vec_id,
             sqrt(${graft.util.Num.sqlDsum("(b.x - c.m) * (b.x - c.m)")}) AS dist
      FROM bydim b JOIN cents c ON b.label = c.label AND b.i = c.i
      GROUP BY b.label, b.vec_id)
    SELECT label, COUNT(*) AS n, round(${graft.util.Num.sqlDavg("dist")}, 4) AS avg_dist
    FROM dists GROUP BY label ORDER BY label"""

  private val q64Sql = s"""
    SELECT source, COUNT(*) AS n_chunks, COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(length(chunk)) AS BIGINT) AS sum_chunk_chars
    FROM read_parquet('${graft.SparkEntry.AuxToken}/q63_chunks.parquet/*.parquet')
    GROUP BY source ORDER BY source"""

  private val E2EQueryText = "spark window aggregation over sorted batches"

  /** The q63 chunk+embed pipeline, shared by the query and its oracle
    * materialization. */
  private def e2eChunks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        exprs.chunkText(col("text"), 200, 40).as(Seq("pos", "chunk")))
      .withColumn("chunk_id",
        concat_ws("_", col("source"), col("doc_id"), col("pos")))
      .withColumn("embedding", Embed.embedCol(col("chunk"), Embed.DefaultDim))

  /** Dump q63's intermediates (chunk embeddings + the query vector) as
    * parquet for the DuckDB oracle: the custom embed kernel runs in
    * Spark once, and the oracle independently re-ranks from the
    * materialized vectors — everything downstream of the kernel
    * (cosine, ordering, rank, links, projection) gets a hash-checked
    * oracle instead of a rows-only smoke check. Called by Verify
    * before the query dump (never by Bench). */
  def materializeSearchAux(s: SparkSession, d: String, auxDir: String): Unit = {
    e2eChunks(s, d)
      .select(col("chunk_id"), col("doc_id"), col("source"), col("chunk"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q63_chunks.parquet")
    import s.implicits._
    Seq(Embed.embed(E2EQueryText, Embed.DefaultDim).toSeq).toDF("qvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q63_query.parquet")
  }

  private val q63Sql = s"""
    WITH q AS (SELECT qvec
               FROM read_parquet('${graft.SparkEntry.AuxToken}/q63_query.parquet/*.parquet')),
    scored AS (
      SELECT chunk_id, doc_id, source, chunk,
        list_sum(list_transform(generate_series(1, len(embedding)),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(generate_series(1, len(qvec)),
             i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))) AS sim
      FROM read_parquet('${graft.SparkEntry.AuxToken}/q63_chunks.parquet/*.parquet'), q
    )
    SELECT row_number() OVER (ORDER BY sim DESC, chunk_id) AS rank,
           chunk_id, doc_id, source, chunk,
           'https://docs.google.com/spreadsheets/d/' || source ||
           '/edit#gid=0&range=A' || CAST(doc_id + 2 AS BIGINT) AS link
    FROM scored ORDER BY sim DESC, chunk_id LIMIT 10"""

  /** q63: flagship end-to-end semantic search — chunk documents,
    * embed chunks, embed a fixed query text, cosine top-10 with
    * provenance + deep link. Oracle: DuckDB re-ranks from the
    * Verify-materialized chunk embeddings (the q60 trick applied to
    * the full pipeline). */
  def searchE2E(s: SparkSession, d: String): DataFrame = {
    val qvec = Embed.embed(E2EQueryText, Embed.DefaultDim)
    e2eChunks(s, d)
      .withColumn("sim", VectorOps.vecCosineConst(col("embedding"), qvec))
      .orderBy(col("sim").desc, col("chunk_id"))
      .limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sim").desc, col("chunk_id"))))
      .withColumn("link",
        format_string("https://docs.google.com/spreadsheets/d/%s/edit#gid=%s&range=A%d",
          col("source"), lit("0"), col("doc_id") + 2))
      .select(col("rank"), col("chunk_id"), col("doc_id"), col("source"),
        col("chunk"), col("link"))
  }

  /** q64: the reference's bulk "build index" pipeline (S1-S4) as one
    * job: chunk + embed + synthesize ids, then an index summary per
    * source partition. Written as the partitioned-parquet sink shape
    * minus the physical write. Oracle: re-aggregated in DuckDB from
    * the q63 chunk materialization (same 200/40 chunking). */
  private def q64(s: SparkSession, d: String): DataFrame = {
    val dim = Embed.DefaultDim
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        exprs.chunkText(col("text"), 200, 40).as(Seq("pos", "chunk")))
      .withColumn("embedding", Embed.embedCol(col("chunk"), dim))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(length(col("chunk"))).as("sum_chunk_chars"))
      .orderBy("source")
  }

  // ---- q123/q124: IVF-PQ (product-quantized candidate generation) ---

  private[graft] def q123IndexPath(d: String): String = idxPath("q123_pq_index", d)
  private val Q123QueryText = "compressed candidate scan with exact reranking"
  private val Q123Probes = 3
  private val Q123Overfetch = 64
  private val PqDsub = Embed.DefaultDim / graft.sources.IndexStore.PqM

  /** q123: the FAISS IVF-PQ lifecycle as one gated query — build the
    * cell-partitioned layout with an m-byte-per-row product-quantized
    * code column and a `_pq` codebook sidecar
    * ([[graft.sources.IndexStore.buildIvfPq]]), then search it:
    * probe the 3 nearest coarse cells (partition pruning), integer
    * ADC pre-rank over the probed rows' 8-byte codes (the scan that
    * stays RAM-resident when SQ8's 1 byte/dim no longer does), exact
    * cosine rerank of the top-64. bitExact coarse AND fine training
    * => the oracle re-derives cell assignment (embeddings ×
    * centroids), PQ codes (embeddings × codebooks — a build-side
    * encode bug fails the gate), the query LUT, the integer ADC
    * rank, and the rerank from an independently dumped copy. */
  private def q123(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q123IndexPath(d)
    IndexStore.buildIvfPqOnceRows(s, docRowsCached(s, d), path)
    IndexStore.searchTopKIvfPq(s, path, Q123QueryText, k = 10,
      probes = Q123Probes, overfetch = Q123Overfetch)
  }

  /** Dump the q123 artifact (rows + both quantizer sidecars + query
    * vector/SQ8 code) for the q123/q124 oracles. */
  def materializePqAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import graft.sources.IndexStore
    val path = q123IndexPath(d)
    IndexStore.buildIvfPqOnceRows(s, docRowsCached(s, d), path)
    graft.sources.Relations.parquet(s, path)
      .select(col("chunk_id"), col("doc_id"), col("source"), col("chunk"),
        col("cell").cast("long").as("cell"),
        bytesToUInts(col("pq_code")).as("pq"),
        bytesToInts(col("sq8_code")).as("sq8"), col("sq8_factor").as("fac"),
        col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q123_index.parquet")
    graft.sources.Relations.parquet(s, s"$path/_centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q123_cents.parquet")
    graft.sources.Relations.parquet(s, s"$path/_pq")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q123_books.parquet")
    val qvec = Embed.embed(Q123QueryText, Embed.DefaultDim)
    val qData = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
    import s.implicits._
    Seq((qvec.toSeq,
        graft.functions.VecIndex.sq8Code(qData).map(_.toInt).toSeq,
        graft.functions.VecIndex.sq8Factor(qData)))
      .toDF("qvec", "qcode", "qfac")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q123_query.parquet")
  }

  private val AuxQ123Index =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q123_index.parquet/*.parquet')"
  private val AuxQ123Cents =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q123_cents.parquet/*.parquet')"
  private val AuxQ123Books =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q123_books.parquet/*.parquet')"
  private val AuxQ123Query =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q123_query.parquet/*.parquet')"

  /** The ADC LUT mirror: micro-quantized dot of each codebook entry
    * with its query subvector slice (the [[pqLut]] integers,
    * re-derived — same left-to-right double dot + floor). */
  private def pqLutSql = s"""
    lut AS (
      SELECT b.sub, b.code_id,
        CAST(floor(1000000.0 * list_sum(list_transform(
          generate_series(1, len(b.cvec)),
          i -> CAST(b.cvec[i] AS DOUBLE)
             * CAST(qv.qvec[b.sub * $PqDsub + i] AS DOUBLE)))) AS BIGINT) AS micros
      FROM books b CROSS JOIN qv)"""

  /** The full IVF-PQ mirror: coarse assignment and probing re-derived
    * exactly as the q98 mirror does, PQ codes RE-DERIVED per
    * (pruned row, subspace) from embeddings × codebooks (sqrt-L2
    * argmin, ties to the smaller code — [[graft.functions.VecIndex
    * .pqEncode]]'s convention), then the integer ADC rank and the
    * exact-cosine rerank. The stored `pq` column is deliberately NOT
    * read here: a Spark-side encode defect would shift the re-derived
    * candidate ranks and hash-mismatch the final rows. */
  private val q123Sql = s"""
    WITH cents AS (SELECT cent_id, cvec FROM $AuxQ123Cents),
    qv AS (SELECT qvec FROM $AuxQ123Query),
    books AS (SELECT sub, code_id, cvec FROM $AuxQ123Books),
    idx AS (SELECT * FROM $AuxQ123Index),
    assign AS (
      SELECT x.chunk_id, c.cent_id,
             row_number() OVER (PARTITION BY x.chunk_id
               ORDER BY ${l2Sql("x.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM idx x, cents c),
    assigned AS (SELECT chunk_id, cent_id AS cell FROM assign WHERE arn = 1),
    probe AS (
      SELECT c.cent_id AS cell FROM cents c, qv
      ORDER BY ${l2Sql("qv.qvec", "c.cvec")}, c.cent_id LIMIT $Q123Probes),
    pruned AS (
      SELECT x.* FROM idx x
      JOIN assigned a USING (chunk_id) JOIN probe p ON a.cell = p.cell),
    $pqLutSql,
    subcodes AS (
      SELECT p.chunk_id, b.sub, b.code_id,
             row_number() OVER (PARTITION BY p.chunk_id, b.sub
               ORDER BY sqrt(list_sum(list_transform(
                   generate_series(1, len(b.cvec)),
                   i -> (CAST(p.embedding[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))
                      * (CAST(p.embedding[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))))), b.code_id) AS crn
      FROM pruned p CROSS JOIN books b),
    codes AS (SELECT chunk_id, sub, code_id FROM subcodes WHERE crn = 1),
    adc AS (
      SELECT chunk_id, CAST(SUM(micros) AS BIGINT) AS adc
      FROM codes JOIN lut USING (sub, code_id) GROUP BY chunk_id),
    cand AS (SELECT chunk_id FROM adc
             ORDER BY adc DESC, chunk_id LIMIT $Q123Overfetch),
    scored AS (
      SELECT x.chunk_id, x.doc_id, x.source, x.chunk,
             ${cosColsSql("x.embedding", "qv.qvec")} AS sim
      FROM pruned x JOIN cand USING (chunk_id) CROSS JOIN qv)
    SELECT row_number() OVER (ORDER BY sim DESC, chunk_id) AS rank,
           chunk_id, doc_id, source, chunk,
           'https://docs.google.com/spreadsheets/d/' || source ||
           '/edit#gid=0&range=A' || CAST(doc_id + 2 AS BIGINT) AS link
    FROM scored ORDER BY sim DESC, chunk_id LIMIT 10"""

  /** The q127 query batch — id 0 is q123's own query text, so the
    * batch path must reproduce the single-query ranking for it. */
  private val Q127Queries: Seq[(Long, String)] = Seq(
    0L -> Q123QueryText,
    1L -> "adaptive execution resizing shuffle partitions",
    2L -> "sorted merge of pre-bucketed relations")

  /** q127: the multi-query surface (SURVEY V4) on the IVF-PQ layout
    * ([[graft.sources.IndexStore.searchTopKIvfPqBatch]]): ONE scan
    * pruned to the union of every query's probe cells; each query's
    * flat ADC LUT rides the broadcast probe table as a column, so
    * per (row, probing query) the scan does m lookups+adds; per-query
    * exact rerank. Shares the q123 physical artifact. Oracle: the
    * q112 batch mirror with the SQ8 pre-rank swapped for per-query
    * LUT re-derivation + integer ADC over the dumped codes. */
  private def q127(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q123IndexPath(d)
    IndexStore.buildIvfPqOnceRows(s, docRowsCached(s, d), path)
    IndexStore.searchTopKIvfPqBatch(s, path, Q127Queries, k = 5,
      probes = Q123Probes, overfetch = Q123Overfetch)
  }

  /** Dump the q127 query batch (vectors only — the LUTs are
    * re-derived by the oracle); index, codebooks and codes come from
    * the q123 dump. */
  def materializePqBatchAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import s.implicits._
    Q127Queries.map { case (qid, t) =>
      (qid, Embed.embed(t, Embed.DefaultDim).toSeq)
    }.toDF("query_id", "qvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q127_queries.parquet")
  }

  private val q127Sql = s"""
    WITH cents AS (SELECT cent_id, cvec FROM $AuxQ123Cents),
    qs AS (SELECT query_id, qvec
           FROM read_parquet('${graft.SparkEntry.AuxToken}/q127_queries.parquet/*.parquet')),
    books AS (SELECT sub, code_id, cvec FROM $AuxQ123Books),
    idx AS (SELECT * FROM $AuxQ123Index),
    assign AS (
      SELECT x.chunk_id, c.cent_id,
             row_number() OVER (PARTITION BY x.chunk_id
               ORDER BY ${l2Sql("x.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM idx x, cents c),
    assigned AS (SELECT chunk_id, cent_id AS cell FROM assign WHERE arn = 1),
    probe AS (
      SELECT query_id, cent_id AS cell FROM (
        SELECT q.query_id, c.cent_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY ${l2Sql("q.qvec", "c.cvec")}, c.cent_id) AS prn
        FROM qs q, cents c)
      WHERE prn <= $Q123Probes),
    pruned AS (
      SELECT p.query_id, x.* FROM idx x
      JOIN assigned a USING (chunk_id) JOIN probe p ON a.cell = p.cell),
    lut AS (
      SELECT q.query_id, b.sub, b.code_id,
        CAST(floor(1000000.0 * list_sum(list_transform(
          generate_series(1, len(b.cvec)),
          i -> CAST(b.cvec[i] AS DOUBLE)
             * CAST(q.qvec[b.sub * $PqDsub + i] AS DOUBLE)))) AS BIGINT) AS micros
      FROM books b CROSS JOIN qs q),
    pcodes AS (
      SELECT chunk_id, g.s - 1 AS sub, pq[g.s] AS code_id
      FROM idx, generate_series(1, ${graft.sources.IndexStore.PqM}) AS g(s)),
    adc AS (
      SELECT p.query_id, p.chunk_id, CAST(SUM(l.micros) AS BIGINT) AS adc
      FROM pruned p JOIN pcodes c USING (chunk_id)
      JOIN lut l ON l.query_id = p.query_id
        AND l.sub = c.sub AND l.code_id = c.code_id
      GROUP BY p.query_id, p.chunk_id),
    cand AS (
      SELECT query_id, chunk_id FROM (
        SELECT query_id, chunk_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc DESC, chunk_id) AS arn
        FROM adc)
      WHERE arn <= $Q123Overfetch),
    scored AS (
      SELECT x.query_id, x.chunk_id, x.doc_id, x.source, x.chunk,
             ${cosColsSql("x.embedding", "q.qvec")} AS sim
      FROM pruned x JOIN cand USING (query_id, chunk_id)
      JOIN qs q ON q.query_id = x.query_id)
    SELECT query_id, rank, chunk_id, doc_id, source, chunk,
           'https://docs.google.com/spreadsheets/d/' || source ||
           '/edit#gid=0&range=A' || CAST(doc_id + 2 AS BIGINT) AS link
    FROM (
      SELECT query_id, chunk_id, doc_id, source, chunk,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, chunk_id) AS rank
      FROM scored)
    WHERE rank <= 5 ORDER BY query_id, rank"""

  // ---- q234: IVF-PQ search explain ----------------------------------

  /** q234: [[graft.sources.IndexStore.explainSearchIvfPq]] over the
    * shared q123 layout with the q123 query — the PQ family's
    * Explanation, completing the per-stage decomposition across
    * every scoring path the engine ships: per hit, the stored cell,
    * which probe found it, the integer-ADC pre-rank position and the
    * ADC score itself (exact micros by construction — the LUT
    * quantizes at build), the exact-rerank position, and the
    * micro-quantized exact score. The oracle re-derives coarse
    * assignment, the ORDERED probe list with positions, the PQ codes
    * from embeddings × codebooks (the q123 discipline — the stored
    * code column is deliberately unread, so a build-side encode
    * defect still fails this gate), the LUT, the ADC rank and the
    * rerank from the dumped artifact. */
  private def q234(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q123IndexPath(d)
    IndexStore.buildIvfPqOnceRows(s, docRowsCached(s, d), path)
    IndexStore.explainSearchIvfPq(s, path, Q123QueryText, k = 10,
      probes = Q123Probes, overfetch = Q123Overfetch)
  }

  private val q234Sql = s"""
    WITH cents AS (SELECT cent_id, cvec FROM $AuxQ123Cents),
    qv AS (SELECT qvec FROM $AuxQ123Query),
    books AS (SELECT sub, code_id, cvec FROM $AuxQ123Books),
    idx AS (SELECT * FROM $AuxQ123Index),
    assign AS (
      SELECT x.chunk_id, c.cent_id,
             row_number() OVER (PARTITION BY x.chunk_id
               ORDER BY ${l2Sql("x.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM idx x, cents c),
    assigned AS (SELECT chunk_id, cent_id AS cell FROM assign WHERE arn = 1),
    probe AS (
      SELECT cell, probe_pos FROM (
        SELECT c.cent_id AS cell,
               row_number() OVER (
                 ORDER BY ${l2Sql("qv.qvec", "c.cvec")}, c.cent_id)
                 AS probe_pos
        FROM cents c, qv)
      WHERE probe_pos <= $Q123Probes),
    pruned AS (
      SELECT x.*, a.cell, p.probe_pos FROM idx x
      JOIN assigned a USING (chunk_id) JOIN probe p ON a.cell = p.cell),
    $pqLutSql,
    subcodes AS (
      SELECT p.chunk_id, b.sub, b.code_id,
             row_number() OVER (PARTITION BY p.chunk_id, b.sub
               ORDER BY sqrt(list_sum(list_transform(
                   generate_series(1, len(b.cvec)),
                   i -> (CAST(p.embedding[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))
                      * (CAST(p.embedding[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))))), b.code_id) AS crn
      FROM pruned p CROSS JOIN books b),
    codes AS (SELECT chunk_id, sub, code_id FROM subcodes WHERE crn = 1),
    adct AS (
      SELECT chunk_id, CAST(SUM(micros) AS BIGINT) AS adc
      FROM codes JOIN lut USING (sub, code_id) GROUP BY chunk_id),
    cand AS (
      SELECT chunk_id, adc, adc_rank FROM (
        SELECT chunk_id, adc,
               row_number() OVER (ORDER BY adc DESC, chunk_id) AS adc_rank
        FROM adct)
      WHERE adc_rank <= $Q123Overfetch),
    scored AS (
      SELECT p.chunk_id, p.cell, p.probe_pos, c.adc, c.adc_rank,
             ${cosColsSql("p.embedding", "qv.qvec")} AS sim
      FROM pruned p JOIN cand c USING (chunk_id) CROSS JOIN qv)
    SELECT CAST(rank AS INTEGER) AS rank, chunk_id,
           CAST(cell AS BIGINT) AS cell,
           CAST(probe_pos AS INTEGER) AS probe_pos,
           CAST(adc_rank AS INTEGER) AS adc_rank, adc,
           CAST(floor(1000000.0 * sim) AS BIGINT) AS sim_micros
    FROM (SELECT *, row_number() OVER (ORDER BY sim DESC, chunk_id) AS rank
          FROM scored)
    WHERE rank <= 10 ORDER BY rank"""

  /** q124: the compressed-domain quality/size meter — on ONE
    * artifact (the q123 layout carries float embeddings, SQ8 codes
    * AND PQ codes), how many of the exact cosine top-10 does each
    * pre-rank family recover through the same top-$Q123Overfetch
    * candidate set + exact rerank, and at what bytes/vector scan
    * cost? No cell probing: the meter isolates pre-rank quality from
    * coarse-quantizer recall (q114 already meters the probe dial).
    * Integers only — (method, bytes_per_vec, hits10). */
  private def q124(s: SparkSession, d: String): DataFrame = {
    import graft.functions.vecIndexExprs
    import graft.sources.IndexStore
    val path = q123IndexPath(d)
    IndexStore.buildIvfPqOnceRows(s, docRowsCached(s, d), path)
    val qvec = Embed.embed(Q123QueryText, Embed.DefaultDim)
    val qData = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
    val qCode = graft.functions.VecIndex.sq8Code(qData)
    val qFac = graft.functions.VecIndex.sq8Factor(qData)
    val lut = pqLut(qvec, IndexStore.readPqBooks(s, path))
    val idx = graft.sources.Relations.parquet(s, path)
      .select(col("chunk_id"), col("embedding"), col("sq8_code"),
        col("sq8_factor"), col("pq_code"))
      .localCheckpoint() // three rank branches, one physical read
    def rerankTop10(cand: DataFrame): DataFrame =
      idx.join(broadcast(cand), col("chunk_id") === col("cid"))
        .select(col("chunk_id"),
          VectorOps.vecCosine(col("embedding"), lit(qvec)).as("sim"))
        .orderBy(col("sim").desc, col("chunk_id")).limit(10)
        .select(col("chunk_id"))
    val exact10 = idx
      .select(col("chunk_id"),
        VectorOps.vecCosine(col("embedding"), lit(qvec)).as("sim"))
      .orderBy(col("sim").desc, col("chunk_id")).limit(10)
      .select(col("chunk_id"))
    val sq8Top = rerankTop10(idx
      .select(col("chunk_id").as("cid"),
        (vecIndexExprs.sq8Dot(col("sq8_code"), lit(qCode))
          * col("sq8_factor") * lit(qFac)).as("approx"))
      .orderBy(col("approx").desc, col("cid")).limit(Q123Overfetch))
    val pqTop = rerankTop10(idx
      .select(col("chunk_id").as("cid"),
        vecIndexExprs.pqAdc(col("pq_code"), lut).as("adc"))
      .orderBy(col("adc").desc, col("cid")).limit(Q123Overfetch))
    // binary quantization: 1 bit/dim sign word (8 bytes at dim 64 —
    // the SAME size as the PQ code, so the meter compares the two
    // compressions at equal bytes), Hamming pre-rank ascending
    val qBits = graft.functions.VecIndex.signBits(qData)
    val binTop = rerankTop10(idx
      .select(col("chunk_id").as("cid"),
        bit_count(vecIndexExprs.signBits(col("embedding"))
          .bitwiseXOR(lit(qBits))).as("ham"))
      .orderBy(col("ham").asc, col("cid")).limit(Q123Overfetch))
    val dim = Embed.DefaultDim
    val labeled =
      exact10.select(lit("exact").as("method"), lit(4 * dim).as("bytes_per_vec"),
          col("chunk_id"))
        .unionAll(sq8Top.select(lit("sq8").as("method"), lit(dim).as("bytes_per_vec"),
          col("chunk_id")))
        .unionAll(pqTop.select(lit("pq").as("method"),
          lit(graft.sources.IndexStore.PqM).as("bytes_per_vec"), col("chunk_id")))
        .unionAll(binTop.select(lit("bin").as("method"),
          lit(dim / 8).as("bytes_per_vec"), col("chunk_id")))
    // method spine + left join: a method whose top-10 misses the
    // exact set entirely must still report hits10 = 0, not vanish
    import s.implicits._
    val spine = Seq(("bin", dim / 8), ("exact", 4 * dim),
        ("pq", graft.sources.IndexStore.PqM), ("sq8", dim))
      .toDF("method", "bytes_per_vec")
    spine.join(
        labeled.join(exact10, Seq("chunk_id"))
          .groupBy(col("method"), col("bytes_per_vec"))
          .agg(count(lit(1)).as("hits10")),
        Seq("method", "bytes_per_vec"), "left")
      .na.fill(0, Seq("hits10"))
      .orderBy(col("method"))
  }

  /** q124 mirror: the same three candidate pipelines re-derived from
    * the dump — exact full-scan cosine, SQ8 integer pre-rank (the
    * dumped codes × query code), PQ ADC (the dumped codes × the
    * re-derived LUT) — each reranked, then hit-counted against the
    * exact top-10. */
  private val q124Sql = s"""
    WITH qv AS (SELECT qvec, qcode, qfac FROM $AuxQ123Query),
    books AS (SELECT sub, code_id, cvec FROM $AuxQ123Books),
    idx AS (SELECT * FROM $AuxQ123Index),
    $pqLutSql,
    exact AS (
      SELECT chunk_id,
             row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
               chunk_id) AS rn
      FROM idx x CROSS JOIN qv),
    exact10 AS (SELECT chunk_id FROM exact WHERE rn <= 10),
    sq8cand AS (
      SELECT chunk_id FROM idx x CROSS JOIN qv
      ORDER BY CAST(list_sum(list_transform(generate_series(1, len(x.sq8)),
          k -> x.sq8[k] * qv.qcode[k])) AS DOUBLE) * x.fac * qv.qfac DESC,
        x.chunk_id
      LIMIT $Q123Overfetch),
    sq8top AS (
      SELECT chunk_id FROM (
        SELECT x.chunk_id,
               row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                 x.chunk_id) AS rn
        FROM idx x JOIN sq8cand USING (chunk_id) CROSS JOIN qv)
      WHERE rn <= 10),
    pcodes AS (
      SELECT chunk_id, g.s - 1 AS sub, pq[g.s] AS code_id
      FROM idx, generate_series(1, ${graft.sources.IndexStore.PqM}) AS g(s)),
    adc AS (
      SELECT chunk_id, CAST(SUM(micros) AS BIGINT) AS adc
      FROM pcodes JOIN lut USING (sub, code_id) GROUP BY chunk_id),
    pqcand AS (SELECT chunk_id FROM adc
               ORDER BY adc DESC, chunk_id LIMIT $Q123Overfetch),
    pqtop AS (
      SELECT chunk_id FROM (
        SELECT x.chunk_id,
               row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                 x.chunk_id) AS rn
        FROM idx x JOIN pqcand USING (chunk_id) CROSS JOIN qv)
      WHERE rn <= 10),
    bincand AS (
      SELECT chunk_id FROM idx x CROSS JOIN qv
      ORDER BY CAST(list_sum(list_transform(generate_series(1, len(x.embedding)),
          i -> CASE WHEN (CAST(x.embedding[i] AS DOUBLE) > 0)
                     <> (CAST(qv.qvec[i] AS DOUBLE) > 0) THEN 1 ELSE 0 END))
        AS BIGINT) ASC, x.chunk_id
      LIMIT $Q123Overfetch),
    bintop AS (
      SELECT chunk_id FROM (
        SELECT x.chunk_id,
               row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                 x.chunk_id) AS rn
        FROM idx x JOIN bincand USING (chunk_id) CROSS JOIN qv)
      WHERE rn <= 10),
    labeled AS (
      SELECT 'exact' AS method, ${4 * Embed.DefaultDim} AS bytes_per_vec, chunk_id
      FROM exact10
      UNION ALL
      SELECT 'sq8', ${Embed.DefaultDim}, chunk_id FROM sq8top
      UNION ALL
      SELECT 'pq', ${graft.sources.IndexStore.PqM}, chunk_id FROM pqtop
      UNION ALL
      SELECT 'bin', ${Embed.DefaultDim / 8}, chunk_id FROM bintop),
    spine AS (
      SELECT * FROM (VALUES
        ('bin', ${Embed.DefaultDim / 8}), ('exact', ${4 * Embed.DefaultDim}),
        ('pq', ${graft.sources.IndexStore.PqM}), ('sq8', ${Embed.DefaultDim}))
        s(method, bytes_per_vec)),
    hits AS (
      SELECT method, bytes_per_vec, COUNT(*) AS hits10
      FROM labeled JOIN exact10 USING (chunk_id)
      GROUP BY method, bytes_per_vec)
    SELECT s.method, s.bytes_per_vec,
           CAST(COALESCE(h.hits10, 0) AS BIGINT) AS hits10
    FROM spine s LEFT JOIN hits h USING (method, bytes_per_vec)
    ORDER BY s.method"""

  // ---- q132: Matryoshka (prefix-dim) pre-rank meter ------------------

  /** q132: dimension-truncation pre-rank on the q123 artifact — the
    * Matryoshka-representation trick (Kusupati et al. 2022): scan
    * only the first p dims of each embedding as the cheap pre-rank,
    * rerank the surviving candidates full-width. MRL-trained
    * embeddings concentrate meaning in the prefix, so p=dim/4 often
    * holds recall; these HASHED embeddings are untrained, so the
    * meter records the honest counterpart finding at EQUAL bytes —
    * prefix-16 floats (64 B) vs SQ8's all-dims-coarsely (64 B) —
    * the same structure-matters comparison q124 makes for pq-vs-bin.
    * Same spine/rerank shape as q124: (method, bytes_per_vec,
    * hits10) through the top-$Q123Overfetch cut + exact rerank. */
  private def q132(s: SparkSession, d: String): DataFrame = {
    import graft.functions.vecIndexExprs
    import graft.sources.IndexStore
    val path = q123IndexPath(d)
    IndexStore.buildIvfPqOnceRows(s, docRowsCached(s, d), path)
    val qvec = Embed.embed(Q123QueryText, Embed.DefaultDim)
    val qData = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
    val qCode = graft.functions.VecIndex.sq8Code(qData)
    val qFac = graft.functions.VecIndex.sq8Factor(qData)
    val idx = graft.sources.Relations.parquet(s, path)
      .select(col("chunk_id"), col("embedding"), col("sq8_code"),
        col("sq8_factor"))
      .localCheckpoint() // four rank branches, one physical read
    def rerankTop10(cand: DataFrame): DataFrame =
      idx.join(broadcast(cand), col("chunk_id") === col("cid"))
        .select(col("chunk_id"),
          VectorOps.vecCosine(col("embedding"), lit(qvec)).as("sim"))
        .orderBy(col("sim").desc, col("chunk_id")).limit(10)
        .select(col("chunk_id"))
    val exact10 = idx
      .select(col("chunk_id"),
        VectorOps.vecCosine(col("embedding"), lit(qvec)).as("sim"))
      .orderBy(col("sim").desc, col("chunk_id")).limit(10)
      .select(col("chunk_id"))
    def prefixTop(p: Int): DataFrame = rerankTop10(idx
      .select(col("chunk_id").as("cid"),
        VectorOps.vecCosine(slice(col("embedding"), 1, p),
          lit(qvec.take(p))).as("approx"))
      .orderBy(col("approx").desc, col("cid")).limit(Q123Overfetch))
    val sq8Top = rerankTop10(idx
      .select(col("chunk_id").as("cid"),
        (vecIndexExprs.sq8Dot(col("sq8_code"), lit(qCode))
          * col("sq8_factor") * lit(qFac)).as("approx"))
      .orderBy(col("approx").desc, col("cid")).limit(Q123Overfetch))
    val dim = Embed.DefaultDim
    val labeled =
      exact10.select(lit("exact").as("method"),
          lit(4 * dim).as("bytes_per_vec"), col("chunk_id"))
        .unionAll(prefixTop(dim / 2).select(lit("mrl32").as("method"),
          lit(2 * dim).as("bytes_per_vec"), col("chunk_id")))
        .unionAll(prefixTop(dim / 4).select(lit("mrl16").as("method"),
          lit(dim).as("bytes_per_vec"), col("chunk_id")))
        .unionAll(sq8Top.select(lit("sq8").as("method"),
          lit(dim).as("bytes_per_vec"), col("chunk_id")))
    import s.implicits._
    val spine = Seq(("exact", 4 * dim), ("mrl16", dim), ("mrl32", 2 * dim),
        ("sq8", dim))
      .toDF("method", "bytes_per_vec")
    spine.join(
        labeled.join(exact10, Seq("chunk_id"))
          .groupBy(col("method"), col("bytes_per_vec"))
          .agg(count(lit(1)).as("hits10")),
        Seq("method", "bytes_per_vec"), "left")
      .na.fill(0, Seq("hits10"))
      .orderBy(col("method"))
  }

  /** q132 mirror: prefix-cosine candidate cuts re-derived from the
    * dumped embeddings via list_slice (same left-to-right double
    * sums), the SQ8 cut from the dumped codes, each reranked
    * full-width and hit-counted against the exact top-10. */
  private val q132Sql = s"""
    WITH qv AS (SELECT qvec, qcode, qfac FROM $AuxQ123Query),
    idx AS (SELECT * FROM $AuxQ123Index),
    exact AS (
      SELECT chunk_id,
             row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
               chunk_id) AS rn
      FROM idx x CROSS JOIN qv),
    exact10 AS (SELECT chunk_id FROM exact WHERE rn <= 10),
    m32cand AS (
      SELECT chunk_id FROM idx x CROSS JOIN qv
      ORDER BY ${cosColsSql("list_slice(x.embedding, 1, 32)",
                            "list_slice(qv.qvec, 1, 32)")} DESC, x.chunk_id
      LIMIT $Q123Overfetch),
    m32top AS (
      SELECT chunk_id FROM (
        SELECT x.chunk_id,
               row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                 x.chunk_id) AS rn
        FROM idx x JOIN m32cand USING (chunk_id) CROSS JOIN qv)
      WHERE rn <= 10),
    m16cand AS (
      SELECT chunk_id FROM idx x CROSS JOIN qv
      ORDER BY ${cosColsSql("list_slice(x.embedding, 1, 16)",
                            "list_slice(qv.qvec, 1, 16)")} DESC, x.chunk_id
      LIMIT $Q123Overfetch),
    m16top AS (
      SELECT chunk_id FROM (
        SELECT x.chunk_id,
               row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                 x.chunk_id) AS rn
        FROM idx x JOIN m16cand USING (chunk_id) CROSS JOIN qv)
      WHERE rn <= 10),
    sq8cand AS (
      SELECT chunk_id FROM idx x CROSS JOIN qv
      ORDER BY CAST(list_sum(list_transform(generate_series(1, len(x.sq8)),
          k -> x.sq8[k] * qv.qcode[k])) AS DOUBLE) * x.fac * qv.qfac DESC,
        x.chunk_id
      LIMIT $Q123Overfetch),
    sq8top AS (
      SELECT chunk_id FROM (
        SELECT x.chunk_id,
               row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                 x.chunk_id) AS rn
        FROM idx x JOIN sq8cand USING (chunk_id) CROSS JOIN qv)
      WHERE rn <= 10),
    labeled AS (
      SELECT 'exact' AS method, ${4 * Embed.DefaultDim} AS bytes_per_vec,
             chunk_id FROM exact10
      UNION ALL
      SELECT 'mrl32', ${2 * Embed.DefaultDim}, chunk_id FROM m32top
      UNION ALL
      SELECT 'mrl16', ${Embed.DefaultDim}, chunk_id FROM m16top
      UNION ALL
      SELECT 'sq8', ${Embed.DefaultDim}, chunk_id FROM sq8top),
    spine AS (
      SELECT * FROM (VALUES
        ('exact', ${4 * Embed.DefaultDim}), ('mrl16', ${Embed.DefaultDim}),
        ('mrl32', ${2 * Embed.DefaultDim}), ('sq8', ${Embed.DefaultDim}))
        s(method, bytes_per_vec)),
    hits AS (
      SELECT method, bytes_per_vec, COUNT(*) AS hits10
      FROM labeled JOIN exact10 USING (chunk_id)
      GROUP BY method, bytes_per_vec)
    SELECT s.method, s.bytes_per_vec,
           CAST(COALESCE(h.hits10, 0) AS BIGINT) AS hits10
    FROM spine s LEFT JOIN hits h USING (method, bytes_per_vec)
    ORDER BY s.method"""

  // ---- q125: MMR diversity reranking ---------------------------------

  private val Q125QueryText = "shuffle partitioning strategy for wide joins"
  private val Q125K = 10
  private val Q125FetchK = 32
  private val Q125Lambda = 500000L

  /** q125: `max_marginal_relevance_search` over the shared q98 IVF
    * collection — fetch the top-32 by similarity, greedily rerank to
    * 10 trading relevance against redundancy at λ=0.5
    * ([[graft.sources.IndexStore.searchTopKMmr]]). Every score in
    * the pipeline (query sims, pairwise sims, the MMR objective) is
    * an integer micro-unit, so the oracle re-derives the identical
    * greedy selection by unrolling the k steps over the dumped index
    * + query vector. */
  private def q125(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q98IndexPath(d)
    IndexStore.buildIvfOnceRows(s, docRowsCached(s, d), path, bitExact = true)
    IndexStore.searchTopKMmr(s, path, Q125QueryText,
      k = Q125K, fetchK = Q125FetchK, lambdaMicros = Q125Lambda)
  }

  /** Dump q125's query vector (the index rides the shared q98 dump). */
  def materializeMmrAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import s.implicits._
    Seq(Embed.embed(Q125QueryText, Embed.DefaultDim).toSeq).toDF("qvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q125_query.parquet")
  }

  private val AuxQ125Query =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q125_query.parquet/*.parquet')"

  /** The MMR mirror: candidate fetch (micro-quantized cosine cut),
    * the pairwise-sim table, then the greedy selection UNROLLED as
    * `k` chained CTE steps — step 1 takes the best query-sim, each
    * later step argmaxes λμ·simq − (1e6−λμ)·max-sim-to-selected over
    * the remainder (ties to the smaller id at every stage, matching
    * [[graft.sources.IndexStore.mmrSelect]]). Every CTE is
    * MATERIALIZED: each sel step is referenced twice by its
    * successor, and inlining (DuckDB's default for single-reference
    * heuristics can still cascade) would re-evaluate the chain
    * exponentially — 2^k scans of the dumped parquet. */
  private val q125Sql: String = {
    val lam = Q125Lambda
    val lamC = 1000000L - Q125Lambda
    val steps = (2 to Q125K).map { i =>
      val prev = s"sel${i - 1}"
      s"""pick$i AS MATERIALIZED (
      SELECT chunk_id FROM (
        SELECT c.chunk_id,
               $lam * c.simq - $lamC * (
                 SELECT MAX(p.m) FROM pair p
                 WHERE p.ia = c.chunk_id
                   AND p.ib IN (SELECT chunk_id FROM $prev)) AS score
        FROM cand c
        WHERE c.chunk_id NOT IN (SELECT chunk_id FROM $prev))
      ORDER BY score DESC, chunk_id LIMIT 1),
    sel$i AS MATERIALIZED (SELECT * FROM $prev
              UNION ALL SELECT chunk_id, $i FROM pick$i)"""
    }.mkString(",\n    ")
    s"""
    WITH qv AS MATERIALIZED (SELECT qvec FROM $AuxQ125Query),
    idx AS (SELECT chunk_id, doc_id, source, chunk, embedding FROM $AuxQ98Index),
    cand AS MATERIALIZED (
      SELECT x.chunk_id, x.doc_id, x.source, x.chunk, x.embedding,
             CAST(floor(1000000.0 * (${cosColsSql("x.embedding", "qv.qvec")}))
               AS BIGINT) AS simq
      FROM idx x CROSS JOIN qv
      ORDER BY simq DESC, chunk_id LIMIT $Q125FetchK),
    pair AS MATERIALIZED (
      SELECT a.chunk_id AS ia, b.chunk_id AS ib,
             CAST(floor(1000000.0 * (${cosColsSql("a.embedding", "b.embedding")}))
               AS BIGINT) AS m
      FROM cand a JOIN cand b ON a.chunk_id <> b.chunk_id),
    sel1 AS MATERIALIZED (
      SELECT chunk_id, 1 AS rank FROM cand
      ORDER BY simq DESC, chunk_id LIMIT 1),
    $steps
    SELECT s.rank, s.chunk_id, c.doc_id, c.source, c.chunk,
           'https://docs.google.com/spreadsheets/d/' || c.source ||
           '/edit#gid=0&range=A' || CAST(c.doc_id + 2 AS BIGINT) AS link
    FROM sel$Q125K s JOIN cand c USING (chunk_id)
    ORDER BY s.rank"""
  }

  // ---- q126: collection fork (snapshot isolation) --------------------

  private val Q126QueryText = "snapshot of the corpus before a takedown pass"

  /** The shared q126 physical lifecycle: build the 200-doc source
    * layout, FORK it ([[graft.sources.IndexStore.forkCollection]] —
    * chroma `collection.fork`), then delete every chunk of
    * doc_id ≡ 4 (mod 10) FROM THE FORK ONLY. Runs once per
    * (session, sf); returns (original, fork) paths. */
  private def q126Lifecycle(s: SparkSession, d: String): (String, String) = {
    import graft.sources.IndexStore
    val orig = idxPath("q126_src_index", d)
    val fork = idxPath("q126_fork_index", d)
    lifecycleOnce(s, d, "q126") {
      IndexStore.buildFromRows(s, subsetRows(s, d), orig)
      // a fork dir left by a previous JVM run must not fail the fresh
      // fork (forkCollection itself refuses to clobber)
      val fp = new org.apache.hadoop.fs.Path(fork)
      val fs = fp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(fp)) fs.delete(fp, true)
      IndexStore.forkCollection(s, orig, fork)
      val doomed = graft.sources.Relations.parquet(s, fork)
        .filter(col("doc_id") % 10 === 4)
        .select("chunk_id").collect().map(_.getString(0)).toSeq.sorted
      IndexStore.deleteIds(s, fork, doomed)
    }
    (orig, fork)
  }

  /** q126: fork isolation, gated both ways — the same search runs
    * against the original AND the mutated fork, labeled and unioned.
    * Oracle: both sides recomputed independently (full subset corpus
    * vs survivors — never a dump of either layout), so a fork that
    * shares mutable state with its source fails on the `orig` rows
    * and a copy that missed partitions or sidecars fails on the
    * `fork` rows. */
  private def q126(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val (orig, fork) = q126Lifecycle(s, d)
    val o = IndexStore.searchTopK(s, orig, Q126QueryText, k = 10)
      .withColumn("side", lit("orig"))
    val f = IndexStore.searchTopK(s, fork, Q126QueryText, k = 10)
      .withColumn("side", lit("fork"))
    o.unionAll(f)
      .select(col("side"), col("rank"), col("chunk_id"), col("doc_id"),
        col("source"), col("chunk"), col("link"))
      .orderBy(col("side"), col("rank"))
  }

  /** Recomputed EXPECTED states for both q126 sides + the query
    * vector — derived from the documents table through the
    * deterministic chunk+embed kernel, never from the layouts the
    * query mutated and searches. */
  def materializeForkAux(s: SparkSession, d: String, auxDir: String): Unit = {
    val cols = Seq(col("chunk_id"), col("doc_id"), col("source"), col("chunk"),
      col("embedding"))
    subsetRows(s, d).select(cols: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q126_orig.parquet")
    subsetRows(s, d).filter(col("doc_id") % 10 =!= 4).select(cols: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q126_fork.parquet")
    import s.implicits._
    Seq(Embed.embed(Q126QueryText, Embed.DefaultDim).toSeq).toDF("qvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q126_query.parquet")
  }

  private val q126Sql = {
    val q = s"read_parquet('${graft.SparkEntry.AuxToken}/q126_query.parquet/*.parquet')"
    val orig = exactSearchMirrorSql(
      s"read_parquet('${graft.SparkEntry.AuxToken}/q126_orig.parquet/*.parquet')", q)
    val fork = exactSearchMirrorSql(
      s"read_parquet('${graft.SparkEntry.AuxToken}/q126_fork.parquet/*.parquet')", q)
    s"""
    SELECT 'orig' AS side, * FROM ($orig)
    UNION ALL
    SELECT 'fork' AS side, * FROM ($fork)
    ORDER BY side, rank"""
  }

  // ---- q141: MMR diversity reranking on the batch surface ------------

  /** The q141 query batch — id 0 is q125's own query text, so the
    * batch path must reproduce the single-query greedy selection
    * for it (MmrSpec also pins this equivalence directly). */
  private val Q141Queries: Seq[(Long, String)] = Seq(
    0L -> Q125QueryText,
    1L -> "broadcast hash join on a small dimension table",
    2L -> "columnar parquet scan with predicate pushdown")

  /** q141: `max_marginal_relevance_search` on the V4 batch surface
    * ([[graft.sources.IndexStore.searchTopKMmrBatch]]): one corpus
    * scan scores every query's relevance (the query batch rides a
    * broadcast as columns), one per-query window takes each fetchK
    * cut, and the greedy stage runs per query on its own collected
    * fetchK set. Shares the q98 physical index. Oracle: the q125
    * unrolled-CTE mirror generalized per query_id — each greedy step
    * is one windowed argmax per query over the remainder. */
  private def q141(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q98IndexPath(d)
    IndexStore.buildIvfOnceRows(s, docRowsCached(s, d), path, bitExact = true)
    IndexStore.searchTopKMmrBatch(s, path, Q141Queries,
      k = Q125K, fetchK = Q125FetchK, lambdaMicros = Q125Lambda)
  }

  /** Dump the q141 query batch (the index rides the shared q98 dump). */
  def materializeMmrBatchAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import s.implicits._
    Q141Queries.map { case (qid, t) =>
      (qid, Embed.embed(t, Embed.DefaultDim).toSeq)
    }.toDF("query_id", "qvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q141_queries.parquet")
  }

  /** The batch-MMR mirror: q125's chained greedy CTEs, generalized
    * per query — the fetch cut and every pick step become one
    * windowed argmax PARTITION BY query_id (ties to the smaller id
    * at every stage), the pairwise-sim table and the selected set
    * carry query_id. Every CTE stays MATERIALIZED for the same
    * reason as q125's (each sel step is referenced twice). */
  private val q141Sql: String = {
    val lam = Q125Lambda
    val lamC = 1000000L - Q125Lambda
    val steps = (2 to Q125K).map { i =>
      val prev = s"sel${i - 1}"
      s"""pick$i AS MATERIALIZED (
      SELECT query_id, chunk_id FROM (
        SELECT c.query_id, c.chunk_id,
               row_number() OVER (PARTITION BY c.query_id ORDER BY
                 ($lam * c.simq - $lamC * (
                   SELECT MAX(p.m) FROM pair p
                   WHERE p.query_id = c.query_id AND p.ia = c.chunk_id
                     AND p.ib IN (SELECT s.chunk_id FROM $prev s
                                  WHERE s.query_id = c.query_id))) DESC,
                 c.chunk_id) AS rn
        FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM $prev s
                          WHERE s.query_id = c.query_id
                            AND s.chunk_id = c.chunk_id))
      WHERE rn = 1),
    sel$i AS MATERIALIZED (SELECT * FROM $prev
              UNION ALL SELECT query_id, chunk_id, $i FROM pick$i)"""
    }.mkString(",\n    ")
    s"""
    WITH qs AS MATERIALIZED (SELECT query_id, qvec FROM
      read_parquet('${graft.SparkEntry.AuxToken}/q141_queries.parquet/*.parquet')),
    idx AS (SELECT chunk_id, doc_id, source, chunk, embedding FROM $AuxQ98Index),
    cand AS MATERIALIZED (
      SELECT * FROM (
        SELECT q.query_id, x.chunk_id, x.doc_id, x.source, x.chunk, x.embedding,
               CAST(floor(1000000.0 * (${cosColsSql("x.embedding", "q.qvec")}))
                 AS BIGINT) AS simq,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY CAST(floor(1000000.0 * (${cosColsSql("x.embedding", "q.qvec")}))
                   AS BIGINT) DESC, x.chunk_id) AS frn
        FROM idx x CROSS JOIN qs q)
      WHERE frn <= $Q125FetchK),
    pair AS MATERIALIZED (
      SELECT a.query_id, a.chunk_id AS ia, b.chunk_id AS ib,
             CAST(floor(1000000.0 * (${cosColsSql("a.embedding", "b.embedding")}))
               AS BIGINT) AS m
      FROM cand a JOIN cand b
        ON a.query_id = b.query_id AND a.chunk_id <> b.chunk_id),
    sel1 AS MATERIALIZED (
      SELECT query_id, chunk_id, 1 AS rank FROM cand WHERE frn = 1),
    $steps
    SELECT s.query_id, s.rank, s.chunk_id, c.doc_id, c.source, c.chunk,
           'https://docs.google.com/spreadsheets/d/' || c.source ||
           '/edit#gid=0&range=A' || CAST(c.doc_id + 2 AS BIGINT) AS link
    FROM sel$Q125K s JOIN cand c
      ON s.query_id = c.query_id AND s.chunk_id = c.chunk_id
    ORDER BY s.query_id, s.rank"""
  }

  // ---- q129: PQ on the clustered corpus (matrix completion) ----------

  /** q129: the q124 pre-rank family meter on the CLUSTERED corpus —
    * completing the method × corpus matrix (q67 isotropic / q67b
    * clustered measure the geometric methods; q124 measures
    * exact/sq8/pq on the isotropic fixture; this is the pq row in
    * the regime real embedding corpora live in). No persisted
    * layout: codebooks train scan-side on the clustered corpus
    * (bit-exact decimal Lloyd), codes + ADC evaluate in one codegen
    * chain per row, query = stored vector 0 (self excluded). Output
    * integers (method, bytes_per_vec, hits10). Oracle: books dumped;
    * codes, LUT, both candidate cuts and the hit counts re-derived
    * from the q67b corpus dump. */
  private def q129(s: SparkSession, d: String): DataFrame = {
    import graft.functions.vecIndexExprs
    import graft.sources.IndexStore.PqM
    val cl = clusteredEmb(s, d)
    val books = pqBooksClusteredCached(s, d)
    val qvec = cl.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val lut = pqLut(qvec, books)
    val qData = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
    val qCode = graft.functions.VecIndex.sq8Code(qData)
    val qFac = graft.functions.VecIndex.sq8Factor(qData)
    val corpus = cl.filter(col("vec_id") =!= 0).localCheckpoint()
    def rerankTop10(cand: DataFrame): DataFrame =
      corpus.join(broadcast(cand), col("vec_id") === col("cid"))
        .select(col("vec_id"),
          VectorOps.vecCosine(col("embedding"), lit(qvec)).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .select(col("vec_id"))
    val exact10 = corpus
      .select(col("vec_id"),
        VectorOps.vecCosine(col("embedding"), lit(qvec)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .select(col("vec_id"))
    val sq8Top = rerankTop10(corpus
      .select(col("vec_id").as("cid"),
        (vecIndexExprs.sq8Dot(vecIndexExprs.sq8Code(col("embedding")), lit(qCode))
          * vecIndexExprs.sq8Factor(col("embedding")) * lit(qFac)).as("approx"))
      .orderBy(col("approx").desc, col("cid")).limit(64))
    val pqTop = rerankTop10(corpus
      .select(col("vec_id").as("cid"),
        vecIndexExprs.pqAdc(
          vecIndexExprs.pqEncode(col("embedding"), books), lut).as("adc"))
      .orderBy(col("adc").desc, col("cid")).limit(64))
    val qBits = graft.functions.VecIndex.signBits(qData)
    val binTop = rerankTop10(corpus
      .select(col("vec_id").as("cid"),
        bit_count(vecIndexExprs.signBits(col("embedding"))
          .bitwiseXOR(lit(qBits))).as("ham"))
      .orderBy(col("ham").asc, col("cid")).limit(64))
    val dim = Embed.DefaultDim
    val labeled =
      exact10.select(lit("exact").as("method"), lit(4 * dim).as("bytes_per_vec"),
          col("vec_id"))
        .unionAll(sq8Top.select(lit("sq8").as("method"), lit(dim).as("bytes_per_vec"),
          col("vec_id")))
        .unionAll(pqTop.select(lit("pq").as("method"),
          lit(PqM).as("bytes_per_vec"), col("vec_id")))
        .unionAll(binTop.select(lit("bin").as("method"),
          lit(dim / 8).as("bytes_per_vec"), col("vec_id")))
    import s.implicits._
    val spine = Seq(("bin", dim / 8), ("exact", 4 * dim),
        ("pq", PqM), ("sq8", dim))
      .toDF("method", "bytes_per_vec")
    spine.join(
        labeled.join(exact10, Seq("vec_id"))
          .groupBy(col("method"), col("bytes_per_vec"))
          .agg(count(lit(1)).as("hits10")),
        Seq("method", "bytes_per_vec"), "left")
      .na.fill(0, Seq("hits10"))
      .orderBy(col("method"))
  }

  /** The clustered-corpus PQ codebooks, trained once per (session,
    * sf) — shared by the q129 query and its aux dump (the training
    * is bit-exact, but one physical pass is still one). */
  private def pqBooksClusteredCached(s: SparkSession, d: String)
      : Array[Array[Array[Float]]] = {
    import graft.sources.IndexStore.{PqM, PqKsub}
    val iters = 2
    // keyed on the full PQ geometry: a future caller with different
    // m/ksub/iters must never see a tensor trained for another shape
    booksCache.getOrElseUpdate(
      (graft.sources.IndexStore.sessionKey(s), d, PqM, PqKsub, iters),
      pqCodebooks(clusteredEmb(s, d), "vec_id", "embedding",
        PqM, PqKsub, iters))
  }
  private val booksCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, String, Int, Int, Int), Array[Array[Array[Float]]]]

  /** Dump the q129 clustered codebooks and the query row's SQ8
    * code/factor (corpus + per-row sq8 codes ride the q67b dump; the
    * query VECTOR is corpus row 0, which the mirror reads from that
    * dump — only the kernel-derived query code needs dumping, the
    * q98-query-dump convention). */
  def materializePqClusteredAux(s: SparkSession, d: String, auxDir: String): Unit = {
    val books = pqBooksClusteredCached(s, d)
    import s.implicits._
    books.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.map { case (c, j) => (sub, j, c.toSeq) }
    }.toSeq.toDF("sub", "code_id", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q129_books.parquet")
    val qvec = clusteredEmb(s, d).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val qData = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
    Seq((graft.functions.VecIndex.sq8Code(qData).map(_.toInt).toSeq,
        graft.functions.VecIndex.sq8Factor(qData)))
      .toDF("qcode", "qfac")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q129_query.parquet")
  }

  private val AuxQ129Books =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q129_books.parquet/*.parquet')"
  private val AuxQ129Query =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q129_query.parquet/*.parquet')"

  /** q129 mirror: query vector = corpus row 0; PQ codes re-derived
    * per (row, subspace) from the dumped books (the q123 subcodes
    * idiom), LUT re-derived, SQ8 codes read from the q67b corpus
    * dump, all three cut+rerank pipelines re-run, hits counted. */
  private val q129Sql = s"""
    WITH qv AS (SELECT embedding AS qvec FROM $AuxQ67bCorpus WHERE vec_id = 0),
    corpus AS (SELECT * FROM $AuxQ67bCorpus WHERE vec_id <> 0),
    books AS (SELECT sub, code_id, cvec FROM $AuxQ129Books),
    qsq AS (SELECT qcode, qfac FROM $AuxQ129Query),
    lut AS (
      SELECT b.sub, b.code_id,
        CAST(floor(1000000.0 * list_sum(list_transform(
          generate_series(1, len(b.cvec)),
          i -> CAST(b.cvec[i] AS DOUBLE)
             * CAST(qv.qvec[b.sub * $PqDsub + i] AS DOUBLE)))) AS BIGINT) AS micros
      FROM books b CROSS JOIN qv),
    subcodes AS (
      SELECT p.vec_id, b.sub, b.code_id,
             row_number() OVER (PARTITION BY p.vec_id, b.sub
               ORDER BY sqrt(list_sum(list_transform(
                   generate_series(1, len(b.cvec)),
                   i -> (CAST(p.embedding[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))
                      * (CAST(p.embedding[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))))), b.code_id) AS crn
      FROM corpus p CROSS JOIN books b),
    codes AS (SELECT vec_id, sub, code_id FROM subcodes WHERE crn = 1),
    adc AS (
      SELECT vec_id, CAST(SUM(micros) AS BIGINT) AS adc
      FROM codes JOIN lut USING (sub, code_id) GROUP BY vec_id),
    exact AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
               vec_id) AS rn
      FROM corpus x CROSS JOIN qv),
    exact10 AS (SELECT vec_id FROM exact WHERE rn <= 10),
    sq8cand AS (
      SELECT vec_id FROM corpus x CROSS JOIN qsq
      ORDER BY CAST(list_sum(list_transform(generate_series(1, len(x.sq8)),
          k -> x.sq8[k] * qsq.qcode[k])) AS DOUBLE) * x.fac * qsq.qfac DESC,
        x.vec_id
      LIMIT 64),
    sq8top AS (
      SELECT vec_id FROM (
        SELECT x.vec_id,
               row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                 x.vec_id) AS rn
        FROM corpus x JOIN sq8cand USING (vec_id) CROSS JOIN qv)
      WHERE rn <= 10),
    pqcand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id LIMIT 64),
    pqtop AS (
      SELECT vec_id FROM (
        SELECT x.vec_id,
               row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                 x.vec_id) AS rn
        FROM corpus x JOIN pqcand USING (vec_id) CROSS JOIN qv)
      WHERE rn <= 10),
    bincand AS (
      SELECT vec_id FROM corpus x CROSS JOIN qv
      ORDER BY CAST(list_sum(list_transform(generate_series(1, len(x.embedding)),
          i -> CASE WHEN (CAST(x.embedding[i] AS DOUBLE) > 0)
                     <> (CAST(qv.qvec[i] AS DOUBLE) > 0) THEN 1 ELSE 0 END))
        AS BIGINT) ASC, x.vec_id
      LIMIT 64),
    bintop AS (
      SELECT vec_id FROM (
        SELECT x.vec_id,
               row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                 x.vec_id) AS rn
        FROM corpus x JOIN bincand USING (vec_id) CROSS JOIN qv)
      WHERE rn <= 10),
    labeled AS (
      SELECT 'exact' AS method, ${4 * Embed.DefaultDim} AS bytes_per_vec, vec_id
      FROM exact10
      UNION ALL
      SELECT 'sq8', ${Embed.DefaultDim}, vec_id FROM sq8top
      UNION ALL
      SELECT 'pq', ${graft.sources.IndexStore.PqM}, vec_id FROM pqtop
      UNION ALL
      SELECT 'bin', ${Embed.DefaultDim / 8}, vec_id FROM bintop),
    spine AS (
      SELECT * FROM (VALUES
        ('bin', ${Embed.DefaultDim / 8}), ('exact', ${4 * Embed.DefaultDim}),
        ('pq', ${graft.sources.IndexStore.PqM}), ('sq8', ${Embed.DefaultDim}))
        s(method, bytes_per_vec)),
    hits AS (
      SELECT method, bytes_per_vec, COUNT(*) AS hits10
      FROM labeled JOIN exact10 USING (vec_id)
      GROUP BY method, bytes_per_vec)
    SELECT s.method, s.bytes_per_vec,
           CAST(COALESCE(h.hits10, 0) AS BIGINT) AS hits10
    FROM spine s LEFT JOIN hits h USING (method, bytes_per_vec)
    ORDER BY s.method"""

  // ---- q142: PQ train/serve drift meter ------------------------------

  /** The drifted-corpus model: the first 25 of the 50 clusters are
    * the BASE distribution the PQ books were trained on; the other 25
    * arrive later (the upsert waves of a growing corpus — maintenance
    * encodes them through the persisted `_pq` books, the FAISS
    * no-retrain convention PqSpec pins). */
  private[graft] val Q142BaseClusters = 25
  private val Q142OldQ = 0L  // a query from a base cluster (cluster 0)
  private val Q142NewQ = 25L // a query from a drifted-in cluster (25)
  private val Q142Cut = 64

  /** Books trained on the BASE half of the clustered corpus — the
    * "stale" tensor a no-retrain maintenance policy keeps serving
    * after the drift. Cached per (session, sf) like
    * [[pqBooksClusteredCached]] (which IS the "fresh" tensor — same
    * geometry, trained on the full corpus). */
  private def pqBooksBaseCached(s: SparkSession, d: String)
      : Array[Array[Array[Float]]] = {
    import graft.sources.IndexStore.{PqM, PqKsub}
    booksBaseCache.getOrElseUpdate(
      (graft.sources.IndexStore.sessionKey(s), d, PqM, PqKsub),
      pqCodebooks(
        clusteredEmb(s, d).filter(col("vec_id") % ClusterCount < Q142BaseClusters),
        "vec_id", "embedding", PqM, PqKsub, 2))
  }
  private val booksBaseCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, String, Int, Int), Array[Array[Array[Float]]]]

  /** q142: the PQ RETRAIN-POLICY meter. Maintenance encodes appended
    * rows through the books trained at build time (PqSpec pins it);
    * nothing had measured what that convention costs as the corpus
    * drifts from the training distribution. Here the corpus has
    * drifted hard — half its clusters did not exist at training time
    * — and the meter prices both halves of the policy matrix:
    * stale-vs-fresh books × old-vs-new-cluster query, each cell the
    * ADC-top-$Q142Cut → exact-rerank hits against the exact top-10
    * (the q129 pipeline). The expected — and measured — shape:
    * stale books stay near-perfect for base-cluster queries and give
    * up recall exactly on drifted-cluster queries, which is the
    * evidence behind "retrain on distribution shift, not on row
    * count". One distributed plan: 4 ADC scans + 2 exact baselines
    * over one checkpointed corpus, unioned; integers out. */
  private def q142(s: SparkSession, d: String): DataFrame = {
    import graft.functions.vecIndexExprs
    val cl = clusteredEmb(s, d)
    val qvecs = cl.filter(col("vec_id").isin(Q142OldQ, Q142NewQ))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val corpus = cl.filter(!col("vec_id").isin(Q142OldQ, Q142NewQ))
      .localCheckpoint()
    val kinds = Seq(("old_cluster", Q142OldQ), ("new_cluster", Q142NewQ))
    val bookSets = Seq(("stale", pqBooksBaseCached(s, d)),
      ("fresh", pqBooksClusteredCached(s, d)))
    def rerankTop10(qvec: Array[Float], cand: DataFrame): DataFrame =
      corpus.join(broadcast(cand), col("vec_id") === col("cid"))
        .select(col("vec_id"),
          VectorOps.vecCosine(col("embedding"), lit(qvec)).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .select(col("vec_id"))
    val exactByKind = kinds.map { case (kind, qid) =>
      val qvec = qvecs(qid)
      corpus.select(col("vec_id"),
          VectorOps.vecCosine(col("embedding"), lit(qvec)).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .select(lit(kind).as("query_kind"), col("vec_id"))
    }.reduce(_.unionAll(_))
    val labeled = (for ((tag, books) <- bookSets; (kind, qid) <- kinds) yield {
      val qvec = qvecs(qid)
      val lut = pqLut(qvec, books)
      val cand = corpus.select(col("vec_id").as("cid"),
          vecIndexExprs.pqAdc(
            vecIndexExprs.pqEncode(col("embedding"), books), lut).as("adc"))
        .orderBy(col("adc").desc, col("cid")).limit(Q142Cut)
      rerankTop10(qvec, cand)
        .select(lit(tag).as("books"), lit(kind).as("query_kind"), col("vec_id"))
    }).reduce(_.unionAll(_))
    import s.implicits._
    val spine = bookSets.flatMap { case (tag, _) =>
      kinds.map { case (kind, _) => (tag, kind) }
    }.toDF("books", "query_kind")
    spine.join(
        labeled.join(exactByKind, Seq("query_kind", "vec_id"))
          .groupBy(col("books"), col("query_kind"))
          .agg(count(lit(1)).as("hits10")),
        Seq("books", "query_kind"), "left")
      .na.fill(0, Seq("hits10"))
      .orderBy(col("books"), col("query_kind"))
  }

  /** Dump BOTH q142 book tensors, tagged; corpus + query vectors ride
    * the q67b clustered dump (queries are corpus rows 0 and 25). */
  def materializePqDriftAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import s.implicits._
    Seq(("stale", pqBooksBaseCached(s, d)),
        ("fresh", pqBooksClusteredCached(s, d)))
      .flatMap { case (tag, books) =>
        books.zipWithIndex.flatMap { case (book, sub) =>
          book.zipWithIndex.map { case (c, j) => (tag, sub, j, c.toSeq) }
        }.toSeq
      }.toDF("books", "sub", "code_id", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q142_books.parquet")
  }

  private val AuxQ142Books =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q142_books.parquet/*.parquet')"

  /** q142 mirror: the q129 re-derivation (codes from dumped books,
    * LUT, ADC cut, exact rerank, hit count) generalized over the
    * (books, query_kind) matrix — codes per book TENSOR, LUTs and
    * cuts per (tensor, query). */
  private val q142Sql = s"""
    WITH qdef AS (SELECT * FROM (VALUES
        ('old_cluster', $Q142OldQ), ('new_cluster', $Q142NewQ)) q(kind, qid)),
    qv AS MATERIALIZED (
      SELECT q.kind, x.embedding AS qvec
      FROM $AuxQ67bCorpus x JOIN qdef q ON x.vec_id = q.qid),
    corpus AS MATERIALIZED (
      SELECT vec_id, embedding FROM $AuxQ67bCorpus
      WHERE vec_id NOT IN ($Q142OldQ, $Q142NewQ)),
    books AS (SELECT books, sub, code_id, cvec FROM $AuxQ142Books),
    lut AS MATERIALIZED (
      SELECT b.books, qv.kind, b.sub, b.code_id,
        CAST(floor(1000000.0 * list_sum(list_transform(
          generate_series(1, len(b.cvec)),
          i -> CAST(b.cvec[i] AS DOUBLE)
             * CAST(qv.qvec[b.sub * $PqDsub + i] AS DOUBLE)))) AS BIGINT) AS micros
      FROM books b CROSS JOIN qv),
    subcodes AS (
      SELECT p.vec_id, b.books, b.sub, b.code_id,
             row_number() OVER (PARTITION BY b.books, p.vec_id, b.sub
               ORDER BY sqrt(list_sum(list_transform(
                   generate_series(1, len(b.cvec)),
                   i -> (CAST(p.embedding[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))
                      * (CAST(p.embedding[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))))), b.code_id) AS crn
      FROM corpus p CROSS JOIN books b),
    codes AS MATERIALIZED (
      SELECT vec_id, books, sub, code_id FROM subcodes WHERE crn = 1),
    adc AS MATERIALIZED (
      SELECT c.books, l.kind, c.vec_id, CAST(SUM(l.micros) AS BIGINT) AS adc
      FROM codes c JOIN lut l USING (books, sub, code_id)
      GROUP BY c.books, l.kind, c.vec_id),
    cand AS MATERIALIZED (
      SELECT books, kind, vec_id FROM (
        SELECT books, kind, vec_id,
               row_number() OVER (PARTITION BY books, kind
                 ORDER BY adc DESC, vec_id) AS arn
        FROM adc)
      WHERE arn <= $Q142Cut),
    exact10 AS MATERIALIZED (
      SELECT kind, vec_id FROM (
        SELECT qv.kind, x.vec_id,
               row_number() OVER (PARTITION BY qv.kind
                 ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                   x.vec_id) AS rn
        FROM corpus x CROSS JOIN qv)
      WHERE rn <= 10),
    top10 AS (
      SELECT books, kind, vec_id FROM (
        SELECT c.books, c.kind, x.vec_id,
               row_number() OVER (PARTITION BY c.books, c.kind
                 ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                   x.vec_id) AS rn
        FROM corpus x
        JOIN cand c ON x.vec_id = c.vec_id
        JOIN qv ON qv.kind = c.kind)
      WHERE rn <= 10),
    spine AS (
      SELECT * FROM (VALUES
        ('fresh', 'new_cluster'), ('fresh', 'old_cluster'),
        ('stale', 'new_cluster'), ('stale', 'old_cluster'))
        s(books, query_kind)),
    hits AS (
      SELECT t.books, t.kind AS query_kind, COUNT(*) AS hits10
      FROM top10 t JOIN exact10 e ON t.kind = e.kind AND t.vec_id = e.vec_id
      GROUP BY t.books, t.kind)
    SELECT s.books, s.query_kind,
           CAST(COALESCE(h.hits10, 0) AS BIGINT) AS hits10
    FROM spine s LEFT JOIN hits h USING (books, query_kind)
    ORDER BY s.books, s.query_kind"""

  // ---- q176: retrain-policy decision --------------------------------

  /** The retrain DECISION on top of q142's drift meter — the
    * actionable trigger behind the FAISS train-once/append-forever
    * convention every IVF maintenance verb follows: RETRAIN when the
    * incoming data stops looking like the training distribution, not
    * when a row count passes a threshold.
    *
    * Mechanics: each training row's assignment distance (squared L2
    * to its nearest trained centroid, integer micros) defines the
    * training distribution; the `quantile` rank statistic of those
    * distances — a DISCRETE value-at-position pick (ascending
    * position ceil(q*n), fully tie-broken by id), the engine-exact
    * q155/q169 idiom — is the "fits the quantizer" bar. A recent
    * upsert lands OVER the bar when its own nearest-centroid distance
    * exceeds it; when more than `driftFrac` of the recent sample is
    * over, the quantizer no longer describes the data and
    * `should_retrain` fires.
    *
    * Scale shape: centroids ride as plan-time constants (the sidecar
    * is collect-bounded by design, like every probe path); both
    * distance passes are scan-side codegen kernels; the only
    * non-scan work is the rank pick, a single window over the TRAIN
    * side — pass a bounded deterministic sample of the corpus as
    * `train` at 100 TB (the sample bounds the window; the meter is a
    * statistic, not a join). Returns ONE row: (n_train, p95-like
    * threshold, n_recent, n_over, over fraction in micros, the
    * decision) — and ZERO rows when either input is empty (no
    * threshold can exist without training rows, no verdict without a
    * sample; callers guard their sample fractions — see
    * [[graft.sources.IndexStore.retrainAdvice]]'s trainSample
    * validation). */
  def retrainAdvice(train: DataFrame, idCol: String, vecCol: String,
                    cents: Array[Array[Float]],
                    recent: DataFrame, recentVecCol: String,
                    quantile: Double = 0.95,
                    driftFrac: Double = 0.5): DataFrame = {
    require(cents.nonEmpty, "retrainAdvice needs at least one centroid")
    require(quantile > 0 && quantile <= 1, s"bad quantile $quantile")
    def nearestMicros(v: Column): Column = {
      val dists = cents.map(c => VectorOps.vecL2Sq(v, lit(c)))
      val nearest = if (dists.length == 1) dists.head else least(dists: _*)
      floor(lit(1e6) * nearest).cast("long")
    }
    val trainD = train.select(col(idCol).as("id"),
      nearestMicros(col(vecCol)).as("micros"))
    val nRow = trainD.agg(count(lit(1)).as("n_train"))
    val thr = trainD
      .withColumn("rn", row_number().over(
        Window.orderBy(col("micros"), col("id"))))
      .crossJoin(broadcast(nRow))
      .filter(col("rn") === ceil(lit(quantile) * col("n_train")))
      .select(col("n_train"), col("micros").as("threshold_micros"))
    recent
      .select(nearestMicros(col(recentVecCol)).as("micros"))
      .crossJoin(broadcast(thr))
      .groupBy(col("n_train"), col("threshold_micros"))
      .agg(count(lit(1)).as("n_recent"),
        sum(when(col("micros") > col("threshold_micros"), 1L).otherwise(0L))
          .as("n_over"))
      .withColumn("over_frac_micros",
        expr("n_over * 1000000 div n_recent"))
      .withColumn("should_retrain",
        col("over_frac_micros") > math.round(driftFrac * 1e6))
  }

  /** Trained-on-the-base-half centroids for the q176 gate — the IVF
    * analog of [[pqBooksBaseCached]]: 25 cells trained (bit-exact)
    * on the 25 base clusters only, the quantizer a no-retrain policy
    * would still be serving after the q142 drift. */
  private[graft] def retrainCentsCached(s: SparkSession, d: String)
      : (Array[Long], Array[Array[Float]]) =
    retrainCentsCache.getOrElseUpdate(
      (graft.sources.IndexStore.sessionKey(s), d), {
        val base = clusteredEmb(s, d)
          .filter(col("vec_id") % ClusterCount < Q142BaseClusters)
        ivfCentroids(base, "vec_id", "embedding",
          base.filter(col("vec_id") < Q142BaseClusters)
            .select(col("vec_id").as("cent_id"), col("embedding").as("cvec")))
      })
  private val retrainCentsCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, String), (Array[Long], Array[Array[Float]])]

  private[graft] val Q176Quantile = 0.95
  private[graft] val Q176DriftFrac = 0.5

  /** q176: [[retrainAdvice]] exercised on the q142 drifted-corpus
    * model. The quantizer is trained on the 25 BASE clusters; two
    * "recent upsert" samples (the same deterministic vec_id % 7 = 1
    * slice of each regime) are then measured against it: the
    * in-distribution sample sits under the p95 bar (over-fraction ≈
    * the 5% the bar defines) and must NOT trigger a retrain; the
    * drifted sample — clusters the quantizer never saw — lands
    * almost entirely over the bar and MUST. Hash-gated end to end
    * (threshold, counts, fraction AND the boolean decision); the
    * oracle re-derives nearest-centroid distances, the discrete rank
    * pick, and both verdicts from the dumped centroid table. */
  private def q176(s: SparkSession, d: String): DataFrame = {
    val cl = clusteredEmb(s, d)
    val base = cl.filter(col("vec_id") % ClusterCount < Q142BaseClusters)
    val (_, cents) = retrainCentsCached(s, d)
    val samples = Seq(
      ("in_distribution",
        cl.filter(col("vec_id") % ClusterCount < Q142BaseClusters &&
          col("vec_id") % 7 === 1)),
      ("drifted",
        cl.filter(col("vec_id") % ClusterCount >= Q142BaseClusters &&
          col("vec_id") % 7 === 1)))
    samples.map { case (kind, sample) =>
      retrainAdvice(base, "vec_id", "embedding", cents,
          sample, "embedding", Q176Quantile, Q176DriftFrac)
        .select(lit(kind).as("sample"), col("n_train"),
          col("threshold_micros"), col("n_recent"), col("n_over"),
          col("over_frac_micros"), col("should_retrain"))
    }.reduce(_ unionAll _).orderBy("sample")
  }

  /** Dump the q176 base-trained centroid table; corpus vectors ride
    * the q67b clustered dump. */
  def materializeRetrainAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import s.implicits._
    val (ids, cents) = retrainCentsCached(s, d)
    ids.toSeq.zip(cents.toSeq.map(_.toSeq)).toDF("cent_id", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q176_cents.parquet")
  }

  private val AuxQ176Cents =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q176_cents.parquet/*.parquet')"

  /** The retrain-policy mirror, shared by q176 and q180 (which runs
    * the SAME quantizer against a different sample slice through the
    * streaming trigger): nearest-centroid squared-L2 micros per row
    * (MIN over the dumped centroids — the same left-to-right double
    * fold as the VecL2Sq kernel), the ceil(q*n) rank pick (the
    * quantile cast to DOUBLE so both engines do the identical FP
    * multiply — DuckDB would otherwise read the literal as exact
    * DECIMAL), and the per-slice verdicts. `sampleFilter` picks the
    * recent-upsert slice; `label` names the regime column. */
  private[graft] def retrainMirrorSql(sampleFilter: String, label: String) = s"""
    WITH cents AS (SELECT cent_id, cvec FROM $AuxQ176Cents),
    corpus AS (SELECT vec_id, embedding FROM $AuxQ67bCorpus),
    dist AS MATERIALIZED (
      SELECT p.vec_id,
             CAST(floor(1000000.0 * MIN(list_sum(list_transform(
               generate_series(1, len(p.embedding)),
               i -> (CAST(p.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                  * (CAST(p.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))))))
               AS BIGINT) AS micros
      FROM corpus p CROSS JOIN cents c GROUP BY p.vec_id),
    thr AS (
      SELECT n_train, micros AS threshold_micros FROM (
        SELECT micros,
               row_number() OVER (ORDER BY micros, vec_id) AS rn,
               COUNT(*) OVER () AS n_train
        FROM dist WHERE vec_id % $ClusterCount < $Q142BaseClusters)
      WHERE rn = CAST(ceil(CAST($Q176Quantile AS DOUBLE) * n_train) AS BIGINT)),
    sampled AS (
      SELECT CASE WHEN vec_id % $ClusterCount < $Q142BaseClusters
                  THEN 'in_distribution' ELSE 'drifted' END AS $label,
             micros
      FROM dist WHERE $sampleFilter)
    SELECT s.$label, t.n_train, t.threshold_micros,
           COUNT(*) AS n_recent,
           CAST(SUM(CASE WHEN s.micros > t.threshold_micros THEN 1 ELSE 0 END)
             AS BIGINT) AS n_over,
           CAST(SUM(CASE WHEN s.micros > t.threshold_micros THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS over_frac_micros,
           CAST(SUM(CASE WHEN s.micros > t.threshold_micros THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) > ${math.round(Q176DriftFrac * 1e6)}
             AS BOOLEAN) AS should_retrain
    FROM sampled s CROSS JOIN thr t
    GROUP BY s.$label, t.n_train, t.threshold_micros
    ORDER BY s.$label"""

  private val q176Sql = retrainMirrorSql("vec_id % 7 = 1", "sample")

  // ---- q146: hard-negative mining -----------------------------------

  private val Q146Anchors = Seq(0L, 1L, 2L)
  private val Q146K = 8

  /** q146: hard-negative mining for contrastive training data — for
    * each anchor, the top-k most SIMILAR vectors with a DIFFERENT
    * label (here the cluster id): near-misses are the negatives that
    * teach a bi-encoder its decision boundary (the in-batch-random
    * alternative wastes gradient on easy negatives). One corpus scan:
    * the anchor batch rides a broadcast as columns, the label
    * mismatch is a scan-side filter beneath the per-anchor rank
    * window, and only (query_id, vec_id, sim) rows reach the rank
    * exchange — the q61/q112 batch shape with a label predicate, so
    * any index family's candidate path composes the same way. */
  private def q146(s: SparkSession, d: String): DataFrame = {
    val cl = clusteredEmb(s, d)
      .withColumn("cid", col("vec_id") % ClusterCount)
    val anchors = cl.filter(col("vec_id").isin(Q146Anchors: _*))
      .select(col("vec_id").as("query_id"), col("cid").as("qcid"),
        col("embedding").as("qvec"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cl.crossJoin(broadcast(anchors))
      .filter(col("cid") =!= col("qcid"))
      .select(col("query_id"), col("qcid"), col("vec_id"), col("cid"),
        VectorOps.vecCosine(col("embedding"), col("qvec")).as("sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= Q146K)
      .select(col("query_id"), col("qcid"), col("rank"), col("vec_id"),
        col("cid").as("neg_cid"))
      .orderBy("query_id", "rank")
  }

  /** q146 mirror over the clustered corpus dump: labels re-derived as
    * vec_id mod 50, per-anchor rank windows over the label-mismatch
    * remainder. */
  private val q146Sql = s"""
    WITH cl AS (SELECT vec_id, vec_id % $ClusterCount AS cid, embedding
                FROM $AuxQ67bCorpus),
    anchors AS (SELECT vec_id AS query_id, cid AS qcid, embedding AS qvec
                FROM cl WHERE vec_id IN (${Q146Anchors.mkString(", ")}))
    SELECT query_id, qcid, rank, vec_id, neg_cid FROM (
      SELECT a.query_id, a.qcid, x.vec_id, x.cid AS neg_cid,
             row_number() OVER (PARTITION BY a.query_id
               ORDER BY ${cosColsSql("x.embedding", "a.qvec")} DESC,
                 x.vec_id) AS rank
      FROM cl x CROSS JOIN anchors a
      WHERE x.cid <> a.qcid)
    WHERE rank <= $Q146K ORDER BY query_id, rank"""

  // ---- q149: embedding-space outlier detection -----------------------

  private val Q149Clusters = 10 // audit the first 10 clusters
  private val Q149TopK = 2      // farthest-from-centroid rows per cluster

  /** q149: embedding-space outlier detection — the curation pass that
    * surfaces mislabeled or noise rows: per label (cluster), the rows
    * FARTHEST from the label's centroid are the candidates a cleaning
    * pipeline re-examines (Abbas-et-al-style semantic curation uses
    * exactly this distance-to-prototype signal). Centroids are
    * bit-exact decimal means ([[graft.functions.DecVecAgg]] — the
    * same one-aggregate trainer the IVF Lloyd steps use), distances
    * are micro-quantized double L2, the per-label top-k is a rank
    * window over (label)-partitioned integers. One scan + one
    * label-sized broadcast join; the oracle re-derives the CENTROIDS
    * THEMSELVES (the decimal mean is `CAST(SUM(CAST(x AS
    * DECIMAL(18,6))) AS DOUBLE)/COUNT` per position — no dumped
    * trainer state at all). */
  private def q149(s: SparkSession, d: String): DataFrame = {
    val cl = clusteredEmb(s, d)
      .withColumn("cid", col("vec_id") % ClusterCount)
      .filter(col("cid") < Q149Clusters)
    val cents = cl.groupBy(col("cid"))
      .agg(graft.functions.DecVecAgg.decVecMean(col("embedding")).as("cvec"))
    val embD = transform(col("embedding"), x => x.cast("double"))
    val l2Sq = aggregate(
      zip_with(embD, col("cvec"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x)
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("dist_micros").desc, col("vec_id"))
    cl.join(broadcast(cents), "cid")
      .select(col("cid"), col("vec_id"),
        floor(lit(1000000d) * sqrt(l2Sq)).cast("long").as("dist_micros"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Q149TopK)
      .select(col("cid"), col("rank"), col("vec_id"), col("dist_micros"))
      .orderBy("cid", "rank")
  }

  /** q149 mirror: per-position decimal means re-derived from the
    * clustered dump (parallel unnests zip position and value), packed
    * back into an ordered list so the L2 fold runs left-to-right like
    * the Spark `aggregate` — then the same micro floor and rank
    * window. */
  private val q149Sql = s"""
    WITH cl AS (SELECT vec_id, vec_id % $ClusterCount AS cid, embedding
                FROM $AuxQ67bCorpus WHERE vec_id % $ClusterCount < $Q149Clusters),
    cm0 AS (SELECT cid, unnest(generate_series(1, len(embedding))) AS i,
                   unnest(embedding) AS x
            FROM cl),
    cm AS (SELECT cid, i,
                  CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
                    / COUNT(*) AS m
           FROM cm0 GROUP BY cid, i),
    cents AS (SELECT cid, list(m ORDER BY i) AS cvec FROM cm GROUP BY cid),
    dists AS (
      SELECT x.cid, x.vec_id,
             CAST(floor(1000000.0 * sqrt(list_sum(list_transform(
               generate_series(1, len(x.embedding)),
               i -> (CAST(x.embedding[i] AS DOUBLE) - c.cvec[i])
                  * (CAST(x.embedding[i] AS DOUBLE) - c.cvec[i]))))) AS BIGINT)
               AS dist_micros
      FROM cl x JOIN cents c USING (cid))
    SELECT cid, rank, vec_id, dist_micros FROM (
      SELECT cid, vec_id, dist_micros,
             row_number() OVER (PARTITION BY cid
               ORDER BY dist_micros DESC, vec_id) AS rank
      FROM dists)
    WHERE rank <= $Q149TopK ORDER BY cid, rank"""

  // ---- q133: residual IVF-PQ (the FAISS IVFPQ encoding) --------------

  private val Q133Cut = 16

  /** floor(1e6 · dot(c, q)) — the micro-unit integer of a full-width
    * dot, same left-to-right double accumulation + floor as
    * [[pqLut]] (the mirror's list_sum reproduces it exactly). */
  private[graft] def microsDot(q: Array[Float], c: Array[Float]): Long = {
    var dot = 0.0
    var i = 0
    while (i < c.length) { dot += c(i).toDouble * q(i).toDouble; i += 1 }
    math.floor(1e6 * dot).toLong
  }

  /** q133: RESIDUAL product quantization — the encoding FAISS's
    * actual IVFPQ uses (Jégou et al. 2011 §III): each vector's PQ
    * code describes v − c(cell), not v. On a clustered corpus the
    * within-cell residual variance is a fraction of the corpus
    * variance, so the 256 codes per subspace describe a much smaller
    * ball — more accuracy at the SAME 8 bytes/vector. The ADC
    * decomposes as dot(q,v) ≈ dot(q,c) + dot(q,r̂): one per-cell
    * micro-integer constant (50 cells — query-sized, computed
    * driver-side) plus the standard residual-LUT scan, so the scan
    * cost is IDENTICAL to raw PQ. The meter runs raw-PQ and
    * residual-PQ through the same top-$Q133Cut cut + exact rerank
    * (a tighter cut than q129's 64 — at 64 both saturate; the cut
    * where they differ is the finding). Residuals are FLOAT
    * subtraction on both engines (DuckDB FLOAT−FLOAT stays float,
    * bit-matching zip_with on float arrays). */
  private def q133(s: SparkSession, d: String): DataFrame = {
    import graft.functions.vecIndexExprs
    import graft.sources.IndexStore.PqM
    val cl = clusteredEmb(s, d)
    val (ids, cents) = ivfCentroids(cl, "vec_id", "embedding", q67bSeeds(cl))
    val qvec = cl.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    import s.implicits._
    val centsDf = ids.toSeq.zip(cents.toSeq.map(_.toSeq)).toDF("cell", "cvec")
    val residAll = residualFrameCached(s, d, {
      cl.select(col("vec_id"), col("embedding"),
          vecIndexExprs.nearestCell(col("embedding"), ids, cents).as("cell"))
        .join(broadcast(centsDf), "cell")
        .select(col("vec_id"), col("embedding"), col("cell"),
          zip_with(col("embedding"), col("cvec"), (a, b) => a - b).as("resid"))
    })
    val rbooks = pqResidualBooksCached(s, d, residAll)
    val rawBooks = pqBooksClusteredCached(s, d)
    val lutRes = pqLut(qvec, rbooks)
    val lutRaw = pqLut(qvec, rawBooks)
    val cconstDf = ids.toSeq.zip(cents.toSeq.map(c => microsDot(qvec, c)))
      .toDF("cell", "cconst")
    val corpus = residAll.filter(col("vec_id") =!= 0)
    def rerankTop10(cand: DataFrame): DataFrame =
      corpus.join(broadcast(cand), col("vec_id") === col("cid"))
        .select(col("vec_id"),
          VectorOps.vecCosine(col("embedding"), lit(qvec)).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .select(col("vec_id"))
    val exact10 = corpus
      .select(col("vec_id"),
        VectorOps.vecCosine(col("embedding"), lit(qvec)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .select(col("vec_id"))
    val pqrTop = rerankTop10(corpus.join(broadcast(cconstDf), "cell")
      .select(col("vec_id").as("cid"),
        (col("cconst") + vecIndexExprs.pqAdc(
          vecIndexExprs.pqEncode(col("resid"), rbooks), lutRes)).as("score"))
      .orderBy(col("score").desc, col("cid")).limit(Q133Cut))
    val pqTop = rerankTop10(corpus
      .select(col("vec_id").as("cid"),
        vecIndexExprs.pqAdc(
          vecIndexExprs.pqEncode(col("embedding"), rawBooks), lutRaw).as("score"))
      .orderBy(col("score").desc, col("cid")).limit(Q133Cut))
    val dim = Embed.DefaultDim
    val labeled =
      exact10.select(lit("exact").as("method"),
          lit(4 * dim).as("bytes_per_vec"), col("vec_id"))
        .unionAll(pqTop.select(lit("pq").as("method"),
          lit(PqM).as("bytes_per_vec"), col("vec_id")))
        .unionAll(pqrTop.select(lit("pqr").as("method"),
          lit(PqM).as("bytes_per_vec"), col("vec_id")))
    val spine = Seq(("exact", 4 * dim), ("pq", PqM), ("pqr", PqM))
      .toDF("method", "bytes_per_vec")
    spine.join(
        labeled.join(exact10, Seq("vec_id"))
          .groupBy(col("method"), col("bytes_per_vec"))
          .agg(count(lit(1)).as("hits10")),
        Seq("method", "bytes_per_vec"), "left")
      .na.fill(0, Seq("hits10"))
      .orderBy(col("method"))
  }

  /** The residual frame (assignment + float residuals), materialized
    * once per (session, sf): q133 and its aux dump read one physical
    * pass. */
  private def residualFrameCached(s: SparkSession, d: String,
                                  mk: => DataFrame): DataFrame =
    residCache.getOrElseUpdate(
      (graft.sources.IndexStore.sessionKey(s), d), mk.localCheckpoint())
  private val residCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Residual-trained PQ codebooks, once per (session, sf) — same
    * training as [[pqBooksClusteredCached]] but over the residual
    * column. */
  private def pqResidualBooksCached(s: SparkSession, d: String,
                                    resid: => DataFrame)
      : Array[Array[Array[Float]]] = {
    import graft.sources.IndexStore.{PqM, PqKsub}
    residBooksCache.getOrElseUpdate(
      (graft.sources.IndexStore.sessionKey(s), d, PqM, PqKsub, 2),
      pqCodebooks(resid, "vec_id", "resid", PqM, PqKsub, iters = 2))
  }
  private val residBooksCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, String, Int, Int, Int), Array[Array[Array[Float]]]]

  /** Dump the residual codebooks for the q133 mirror (corpus,
    * centroids and raw books ride the q67b/q129 dumps; the mirror
    * re-derives assignment, residuals, and BOTH code families
    * itself). */
  def materializePqResidualAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import graft.functions.vecIndexExprs
    val cl = clusteredEmb(s, d)
    val (ids, cents) = ivfCentroids(cl, "vec_id", "embedding", q67bSeeds(cl))
    import s.implicits._
    val centsDf = ids.toSeq.zip(cents.toSeq.map(_.toSeq)).toDF("cell", "cvec")
    val residAll = residualFrameCached(s, d, {
      cl.select(col("vec_id"), col("embedding"),
          vecIndexExprs.nearestCell(col("embedding"), ids, cents).as("cell"))
        .join(broadcast(centsDf), "cell")
        .select(col("vec_id"), col("embedding"), col("cell"),
          zip_with(col("embedding"), col("cvec"), (a, b) => a - b).as("resid"))
    })
    val rbooks = pqResidualBooksCached(s, d, residAll)
    rbooks.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.map { case (c, j) => (sub, j, c.toSeq) }
    }.toSeq.toDF("sub", "code_id", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q133_books.parquet")
  }

  private val AuxQ133Books =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q133_books.parquet/*.parquet')"

  /** q133 mirror: assignment re-derived from the q67b centroid dump,
    * residuals re-derived as FLOAT subtraction, both code families
    * re-derived per (row, subspace) from their dumped books, the
    * residual rank with its per-cell micro constant, both cut+rerank
    * pipelines re-run, hits counted. */
  private val q133Sql = s"""
    WITH qv AS (SELECT embedding AS qvec FROM $AuxQ67bCorpus WHERE vec_id = 0),
    corpus AS (SELECT vec_id, embedding FROM $AuxQ67bCorpus WHERE vec_id <> 0),
    cents AS (SELECT cent_id, cvec FROM $AuxQ67bCents),
    books AS (SELECT sub, code_id, cvec FROM $AuxQ129Books),
    rbooks AS (SELECT sub, code_id, cvec FROM $AuxQ133Books),
    assign AS (
      SELECT x.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY x.vec_id
               ORDER BY ${l2Sql("x.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM corpus x, cents c),
    assigned AS (SELECT vec_id, cent_id AS cell FROM assign WHERE arn = 1),
    resid AS MATERIALIZED (
      SELECT x.vec_id, a.cell,
             list_transform(generate_series(1, len(x.embedding)),
               i -> x.embedding[i] - c.cvec[i]) AS rv
      FROM corpus x JOIN assigned a USING (vec_id)
      JOIN cents c ON c.cent_id = a.cell),
    lut AS (
      SELECT b.sub, b.code_id,
        CAST(floor(1000000.0 * list_sum(list_transform(
          generate_series(1, len(b.cvec)),
          i -> CAST(b.cvec[i] AS DOUBLE)
             * CAST(qv.qvec[b.sub * $PqDsub + i] AS DOUBLE)))) AS BIGINT) AS micros
      FROM books b CROSS JOIN qv),
    rlut AS (
      SELECT b.sub, b.code_id,
        CAST(floor(1000000.0 * list_sum(list_transform(
          generate_series(1, len(b.cvec)),
          i -> CAST(b.cvec[i] AS DOUBLE)
             * CAST(qv.qvec[b.sub * $PqDsub + i] AS DOUBLE)))) AS BIGINT) AS micros
      FROM rbooks b CROSS JOIN qv),
    cconst AS (
      SELECT c.cent_id AS cell,
        CAST(floor(1000000.0 * list_sum(list_transform(
          generate_series(1, len(c.cvec)),
          i -> CAST(c.cvec[i] AS DOUBLE) * CAST(qv.qvec[i] AS DOUBLE))))
          AS BIGINT) AS cc
      FROM cents c CROSS JOIN qv),
    subcodes AS (
      SELECT p.vec_id, b.sub, b.code_id,
             row_number() OVER (PARTITION BY p.vec_id, b.sub
               ORDER BY sqrt(list_sum(list_transform(
                   generate_series(1, len(b.cvec)),
                   i -> (CAST(p.embedding[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))
                      * (CAST(p.embedding[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))))), b.code_id) AS crn
      FROM corpus p CROSS JOIN books b),
    codes AS (SELECT vec_id, sub, code_id FROM subcodes WHERE crn = 1),
    adc AS (
      SELECT vec_id, CAST(SUM(micros) AS BIGINT) AS adc
      FROM codes JOIN lut USING (sub, code_id) GROUP BY vec_id),
    rsubcodes AS (
      SELECT r.vec_id, b.sub, b.code_id,
             row_number() OVER (PARTITION BY r.vec_id, b.sub
               ORDER BY sqrt(list_sum(list_transform(
                   generate_series(1, len(b.cvec)),
                   i -> (CAST(r.rv[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))
                      * (CAST(r.rv[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))))), b.code_id) AS crn
      FROM resid r CROSS JOIN rbooks b),
    rcodes AS (SELECT vec_id, sub, code_id FROM rsubcodes WHERE crn = 1),
    radc AS (
      SELECT vec_id, CAST(SUM(micros) AS BIGINT) AS adc
      FROM rcodes JOIN rlut USING (sub, code_id) GROUP BY vec_id),
    exact AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
               vec_id) AS rn
      FROM corpus x CROSS JOIN qv),
    exact10 AS (SELECT vec_id FROM exact WHERE rn <= 10),
    pqcand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id LIMIT $Q133Cut),
    pqtop AS (
      SELECT vec_id FROM (
        SELECT x.vec_id,
               row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                 x.vec_id) AS rn
        FROM corpus x JOIN pqcand USING (vec_id) CROSS JOIN qv)
      WHERE rn <= 10),
    pqrcand AS (
      SELECT a.vec_id FROM radc a
      JOIN resid r USING (vec_id) JOIN cconst c ON c.cell = r.cell
      ORDER BY c.cc + a.adc DESC, a.vec_id LIMIT $Q133Cut),
    pqrtop AS (
      SELECT vec_id FROM (
        SELECT x.vec_id,
               row_number() OVER (ORDER BY ${cosColsSql("x.embedding", "qv.qvec")} DESC,
                 x.vec_id) AS rn
        FROM corpus x JOIN pqrcand USING (vec_id) CROSS JOIN qv)
      WHERE rn <= 10),
    labeled AS (
      SELECT 'exact' AS method, ${4 * Embed.DefaultDim} AS bytes_per_vec, vec_id
      FROM exact10
      UNION ALL
      SELECT 'pq', ${graft.sources.IndexStore.PqM}, vec_id FROM pqtop
      UNION ALL
      SELECT 'pqr', ${graft.sources.IndexStore.PqM}, vec_id FROM pqrtop),
    spine AS (
      SELECT * FROM (VALUES
        ('exact', ${4 * Embed.DefaultDim}),
        ('pq', ${graft.sources.IndexStore.PqM}),
        ('pqr', ${graft.sources.IndexStore.PqM}))
        s(method, bytes_per_vec)),
    hits AS (
      SELECT method, bytes_per_vec, COUNT(*) AS hits10
      FROM labeled JOIN exact10 USING (vec_id)
      GROUP BY method, bytes_per_vec)
    SELECT s.method, s.bytes_per_vec,
           CAST(COALESCE(h.hits10, 0) AS BIGINT) AS hits10
    FROM spine s LEFT JOIN hits h USING (method, bytes_per_vec)
    ORDER BY s.method"""

  // ---- q138: persisted residual IVF-PQ layout lifecycle --------------

  private[graft] def q138IndexPath(d: String): String =
    idxPath("q138_pqr_index", d)

  /** q138: the q133-proven residual encoding as a PRODUCT — the full
    * persisted-layout lifecycle on `buildIvfPq(residual = true)`:
    * cell-partitioned rows whose 8-byte codes describe v − c(cell),
    * `_pq` books trained on residuals, the `_pqmeta` encoding
    * contract, and a probe whose ADC rank adds the per-probed-cell
    * micro-constant dot(q,c). Search, batch and every maintenance
    * verb read the stored contract (PqSpec pins maintenance
    * re-encode). Gate: the searched top-10 vs a mirror that
    * re-derives assignment, residuals, codes, LUT, constants and
    * both ranks from independently dumped sidecars. */
  private def q138(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q138IndexPath(d)
    IndexStore.buildIvfPqOnceRows(s, docRowsCached(s, d), path,
      residual = true)
    IndexStore.searchTopKIvfPq(s, path, Q123QueryText, k = 10,
      probes = Q123Probes, overfetch = Q123Overfetch)
  }

  /** Dump the q138 residual artifact (rows + centroid and
    * residual-book sidecars + query vector) for the mirror. The
    * stored pq codes are deliberately NOT dumped — the mirror
    * re-derives them from residuals × books, so an encode defect
    * hash-mismatches. */
  def materializePqrAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import graft.sources.IndexStore
    val path = q138IndexPath(d)
    IndexStore.buildIvfPqOnceRows(s, docRowsCached(s, d), path,
      residual = true)
    graft.sources.Relations.parquet(s, path)
      .select(col("chunk_id"), col("doc_id"), col("source"), col("chunk"),
        col("cell").cast("long").as("cell"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q138_index.parquet")
    graft.sources.Relations.parquet(s, s"$path/_centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q138_cents.parquet")
    graft.sources.Relations.parquet(s, s"$path/_pq")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q138_books.parquet")
    val qvec = Embed.embed(Q123QueryText, Embed.DefaultDim)
    import s.implicits._
    Seq(qvec.toSeq).toDF("qvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q138_query.parquet")
  }

  private val AuxQ138Index =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q138_index.parquet/*.parquet')"
  private val AuxQ138Cents =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q138_cents.parquet/*.parquet')"
  private val AuxQ138Books =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q138_books.parquet/*.parquet')"
  private val AuxQ138Query =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q138_query.parquet/*.parquet')"

  /** q138 mirror: the q123 mirror's shape with the residual pieces —
    * assignment re-derived from the centroid dump (and CHECKED
    * against the dumped partition cell: a build-side mis-assignment
    * hash-mismatches), FLOAT residuals, codes re-derived from
    * residuals × the residual books, the ADC rank with its
    * per-probed-cell micro-constant, exact-cosine rerank. */
  private val q138Sql = s"""
    WITH cents AS (SELECT cent_id, cvec FROM $AuxQ138Cents),
    qv AS (SELECT qvec FROM $AuxQ138Query),
    books AS (SELECT sub, code_id, cvec FROM $AuxQ138Books),
    idx AS (SELECT * FROM $AuxQ138Index),
    assign AS (
      SELECT x.chunk_id, c.cent_id,
             row_number() OVER (PARTITION BY x.chunk_id
               ORDER BY ${l2Sql("x.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM idx x, cents c),
    assigned AS (
      SELECT a.chunk_id, a.cent_id AS cell
      FROM assign a JOIN idx x ON x.chunk_id = a.chunk_id
      WHERE a.arn = 1 AND a.cent_id = x.cell),
    probe AS (
      SELECT c.cent_id AS cell FROM cents c, qv
      ORDER BY ${l2Sql("qv.qvec", "c.cvec")}, c.cent_id LIMIT $Q123Probes),
    pruned AS (
      SELECT x.*, a.cell AS acell FROM idx x
      JOIN assigned a USING (chunk_id) JOIN probe p ON a.cell = p.cell),
    resid AS MATERIALIZED (
      SELECT x.chunk_id, x.acell AS cell,
             list_transform(generate_series(1, len(x.embedding)),
               i -> x.embedding[i] - c.cvec[i]) AS rv
      FROM pruned x JOIN cents c ON c.cent_id = x.acell),
    lut AS (
      SELECT b.sub, b.code_id,
        CAST(floor(1000000.0 * list_sum(list_transform(
          generate_series(1, len(b.cvec)),
          i -> CAST(b.cvec[i] AS DOUBLE)
             * CAST(qv.qvec[b.sub * $PqDsub + i] AS DOUBLE)))) AS BIGINT) AS micros
      FROM books b CROSS JOIN qv),
    cconst AS (
      SELECT c.cent_id AS cell,
        CAST(floor(1000000.0 * list_sum(list_transform(
          generate_series(1, len(c.cvec)),
          i -> CAST(c.cvec[i] AS DOUBLE) * CAST(qv.qvec[i] AS DOUBLE))))
          AS BIGINT) AS cc
      FROM cents c CROSS JOIN qv),
    subcodes AS (
      SELECT r.chunk_id, b.sub, b.code_id,
             row_number() OVER (PARTITION BY r.chunk_id, b.sub
               ORDER BY sqrt(list_sum(list_transform(
                   generate_series(1, len(b.cvec)),
                   i -> (CAST(r.rv[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))
                      * (CAST(r.rv[b.sub * $PqDsub + i] AS DOUBLE)
                       - CAST(b.cvec[i] AS DOUBLE))))), b.code_id) AS crn
      FROM resid r CROSS JOIN books b),
    codes AS (SELECT chunk_id, sub, code_id FROM subcodes WHERE crn = 1),
    adc AS (
      SELECT r.chunk_id,
             CAST(SUM(l.micros) AS BIGINT) + MIN(k.cc) AS adc
      FROM codes c2 JOIN lut l USING (sub, code_id)
      JOIN resid r ON r.chunk_id = c2.chunk_id
      JOIN cconst k ON k.cell = r.cell
      GROUP BY r.chunk_id),
    cand AS (SELECT chunk_id FROM adc
             ORDER BY adc DESC, chunk_id LIMIT $Q123Overfetch),
    scored AS (
      SELECT x.chunk_id, x.doc_id, x.source, x.chunk,
             ${cosColsSql("x.embedding", "qv.qvec")} AS sim
      FROM pruned x JOIN cand USING (chunk_id) CROSS JOIN qv)
    SELECT row_number() OVER (ORDER BY sim DESC, chunk_id) AS rank,
           chunk_id, doc_id, source, chunk,
           'https://docs.google.com/spreadsheets/d/' || source ||
           '/edit#gid=0&range=A' || CAST(doc_id + 2 AS BIGINT) AS link
    FROM scored ORDER BY sim DESC, chunk_id LIMIT 10"""

  // ---- q139: cluster topics (corpus exploration) ---------------------

  /** One whole-document embedding pass per (session, sf). Carries
    * `source` so downstream label joins (q194) stay scan-side. */
  private[operators] def docEmbCached(s: SparkSession, d: String): DataFrame =
    cachedFrame(s, d, "doc_emb") {
      Tables.documents(s, d).select(col("doc_id"), col("text"), col("source"),
        graft.functions.Embed.embedCol(col("text")).as("embedding"))
    }

  private def q139Cents(s: SparkSession, d: String)
      : (Array[Long], Array[Array[Float]]) = {
    val emb = docEmbCached(s, d)
    val seeds = emb.select(col("doc_id"), col("embedding"))
      .orderBy("doc_id").limit(8)
      .select(row_number().over(Window.orderBy(col("doc_id")))
        .cast("long").as("cent_id"), col("embedding").as("cvec"))
    ivfCentroids(emb, "doc_id", "embedding", seeds)
  }

  /** q139: corpus topic exploration — the look-before-you-mix step
    * of domain balancing (what a pipeline runs before choosing q100
    * mixture rates): embed whole documents, k-means them into 8
    * semantic cells (the same trained-centroid machinery every IVF
    * path uses), and characterize each cell by its top-5 terms after
    * an integer LIFT rank (cluster per-doc term rate over the
    * corpus's, cross-multiplied into micros). Integers end-to-end: cluster sizes, term
    * frequencies, (ctf desc, term) rank — no floating scores.
    * Scale shape: embedding + assignment are scan-side; the term
    * pipeline is explode → partial agg; the only joins are against
    * the vocabulary-sized df table and the 8-row size table. */
  private def q139(s: SparkSession, d: String): DataFrame = {
    import graft.functions.vecIndexExprs
    val emb = docEmbCached(s, d)
    val (ids, cents) = q139Cents(s, d)
    val assigned = emb.select(col("doc_id"), col("text"),
      vecIndexExprs.nearestCell(col("embedding"), ids, cents).as("cell"))
    val n = Tables.documents(s, d).count()
    val toks = assigned
      .select(col("cell"), col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val dfreq = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val ctf = toks.groupBy(col("cell"), col("term"))
      .agg(count(lit(1)).as("ctf"))
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_docs"))
    // integer lift: the cluster's per-doc term rate over the
    // corpus's, cross-multiplied into micros — a stopword in every
    // doc lifts to ~1e6 everywhere and never tops a cluster
    val scored = ctf.join(dfreq, "term").join(sizes, "cell")
      .withColumn("lift_micros",
        expr(s"1000000 * ctf * $n div (n_docs * df)"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("lift_micros").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("cell").cast("long").as("cell"), col("n_docs"),
        col("rank"), col("term"), col("ctf"), col("lift_micros"))
      .orderBy("cell", "rank")
  }

  /** Dump the doc embeddings + trained centroids for the q139
    * mirror (assignment is re-derived, text comes from the raw
    * table). */
  def materializeClusterTopicsAux(s: SparkSession, d: String,
                                  auxDir: String): Unit = {
    docEmbCached(s, d).select(col("doc_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$auxDir/q139_demb.parquet")
    val (ids, cents) = q139Cents(s, d)
    import s.implicits._
    ids.toSeq.zip(cents.toSeq.map(_.toSeq)).toDF("cent_id", "cvec")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$auxDir/q139_cents.parquet")
  }

  private val AuxQ139Demb =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q139_demb.parquet/*.parquet')"
  private val AuxQ139Cents =
    s"read_parquet('${graft.SparkEntry.AuxToken}/q139_cents.parquet/*.parquet')"

  private val q139Sql = s"""
    WITH demb AS (SELECT doc_id, embedding FROM $AuxQ139Demb),
    cents AS (SELECT cent_id, cvec FROM $AuxQ139Cents),
    assign AS (
      SELECT e.doc_id, c.cent_id,
             row_number() OVER (PARTITION BY e.doc_id
               ORDER BY ${l2Sql("e.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM demb e, cents c),
    assigned AS (SELECT doc_id, cent_id AS cell FROM assign WHERE arn = 1),
    toks AS (
      SELECT a.cell, d.doc_id, t.term
      FROM documents d JOIN assigned a USING (doc_id),
           UNNEST(string_split(d.text, ' ')) AS t(term)
      WHERE length(t.term) > 0),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM (
        SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
    ctf AS (
      SELECT cell, term, COUNT(*) AS ctf
      FROM toks GROUP BY cell, term),
    sizes AS (SELECT cell, COUNT(*) AS n_docs FROM assigned GROUP BY cell),
    scored AS (
      SELECT c.cell, c.term, c.ctf, s.n_docs,
             CAST((1000000 * c.ctf * (SELECT COUNT(*) FROM documents))
               // (s.n_docs * f.df) AS BIGINT) AS lift_micros
      FROM ctf c JOIN dfreq f USING (term) JOIN sizes s USING (cell))
    SELECT cell, n_docs, rank, term, ctf, lift_micros FROM (
      SELECT cell, n_docs, term, ctf, lift_micros,
             row_number() OVER (PARTITION BY cell
               ORDER BY lift_micros DESC, term) AS rank
      FROM scored)
    WHERE rank <= 5
    ORDER BY cell, rank"""

  // ---- q140: cluster-balanced mixture sampling -----------------------

  /** q140: cluster-balanced sampling — q139's semantic cells composed
    * with q100's deterministic mixture machinery: compute per-cluster
    * acceptance thresholds that equalize cluster mass (a dominant
    * topic downsamples toward N/k, minority topics keep everything —
    * the static form of distributionally-reweighted data mixing),
    * then keep docs by the portable salted md5 bucket. Acceptance is
    * a pure function of (doc_id, cluster sizes): reproducible
    * run-to-run, engine-to-engine, and shuffle-free past the 8-row
    * size join. Reports per cell: size, threshold, kept count, and
    * realized fraction in integer micros. */
  private def q140(s: SparkSession, d: String): DataFrame = {
    import graft.functions.vecIndexExprs
    val emb = docEmbCached(s, d)
    val (ids, cents) = q139Cents(s, d)
    val assigned = emb.select(col("doc_id"),
      vecIndexExprs.nearestCell(col("embedding"), ids, cents).as("cell"))
    val n = Tables.documents(s, d).count()
    val target = n / 8
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_docs"))
      .withColumn("thr16",
        least(lit(65536L), expr(s"65536 * $target div n_docs")))
    val kept = assigned.join(sizes, "cell")
      .filter(Corpus.md5Bucket16(col("doc_id"), "clustermix:") < col("thr16"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_kept"))
    sizes.join(kept, Seq("cell"), "left")
      .na.fill(0, Seq("n_kept"))
      .select(col("cell").cast("long").as("cell"), col("n_docs"),
        col("thr16"), col("n_kept"),
        expr("1000000 * n_kept div n_docs").as("kept_frac_micros"))
      .orderBy("cell")
  }

  private val q140Sql = s"""
    WITH demb AS (SELECT doc_id, embedding FROM $AuxQ139Demb),
    cents AS (SELECT cent_id, cvec FROM $AuxQ139Cents),
    assign AS (
      SELECT e.doc_id, c.cent_id,
             row_number() OVER (PARTITION BY e.doc_id
               ORDER BY ${l2Sql("e.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM demb e, cents c),
    assigned AS (SELECT doc_id, cent_id AS cell FROM assign WHERE arn = 1),
    sizes AS (
      SELECT cell, COUNT(*) AS n_docs,
             LEAST(65536,
               (65536 * ((SELECT COUNT(*) FROM documents) // 8)) // COUNT(*))
               AS thr16
      FROM assigned GROUP BY cell),
    b AS (
      SELECT a.doc_id, a.cell,
             (strpos('0123456789abcdef', substr(md5('clustermix:' || CAST(a.doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5('clustermix:' || CAST(a.doc_id AS VARCHAR)), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5('clustermix:' || CAST(a.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5('clustermix:' || CAST(a.doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket16
      FROM assigned a),
    kept AS (
      SELECT b.cell, COUNT(*) AS n_kept
      FROM b JOIN sizes s USING (cell)
      WHERE b.bucket16 < s.thr16 GROUP BY b.cell)
    SELECT s.cell, s.n_docs, CAST(s.thr16 AS BIGINT) AS thr16,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST((1000000 * COALESCE(k.n_kept, 0)) // s.n_docs AS BIGINT)
             AS kept_frac_micros
    FROM sizes s LEFT JOIN kept k USING (cell)
    ORDER BY s.cell"""

  // ---- q128: SemDeDup (cluster-scoped semantic deduplication) -------

  private val Q128TauMicros = 880000L

  /** q128: semantic deduplication at scale, the SemDeDup method
    * (Abbas et al. 2023, public): k-means-cluster the embeddings,
    * then look for near-duplicate pairs ONLY within each cluster —
    * at 100 TB the all-pairs O(N²) cosine join is impossible, while
    * Σ|cell|² over balanced cells is the same corpus-partitioned
    * shape every IVF probe uses. Runs on the q67b clustered corpus
    * (the regime real embedding corpora live in) with its 50-cell
    * bit-exact quantizer: scan-side `NearestCell` assignment (no
    * corpus shuffle beyond the per-cell pair join), within-cell
    * pairs at micro-quantized cosine ≥ 0.88, transitive survivor
    * selection by the distributed label propagation of
    * [[Dedup.clusterLabels]] (min-id representative — a documented
    * deviation from the paper's keep-farthest-from-centroid rule:
    * min-id is deterministic and engine-mirrorable), and a per-cell
    * integer summary (n_vecs, n_pairs, n_survivors). Oracle: the
    * whole flow re-derived in DuckDB from the q67b corpus + centroid
    * dumps — assignment, micro-quantized pairs, components as the
    * q97-style RECURSIVE min-label closure, survivors, summary. */
  private def q128(s: SparkSession, d: String): DataFrame = {
    import graft.functions.vecIndexExprs
    val cl = clusteredEmb(s, d)
    val (ids, cents) = ivfCentroids(cl, "vec_id", "embedding", q67bSeeds(cl))
    val assigned = cl.select(col("vec_id"), col("embedding"),
      vecIndexExprs.nearestCell(col("embedding"), ids, cents).as("cell"))
      .localCheckpoint()
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("ea"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("eb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(floor(VectorOps.spaceSim2("cosine", col("ea"), col("eb"))
        * lit(1000000d)).cast("long") >= Q128TauMicros)
      .select(col("cell"), col("id_a"), col("id_b"))
      .localCheckpoint()
    val surv = Dedup.survivors(assigned.select(col("vec_id")), "vec_id",
      pairs.select(col("id_a"), col("id_b")))
    val nv = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val np = pairs.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_pairs"))
    val ns = assigned
      .join(surv.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left_semi")
      .groupBy(col("cell")).agg(count(lit(1)).as("n_survivors"))
    nv.join(np, Seq("cell"), "left").join(ns, Seq("cell"), "left")
      .na.fill(0, Seq("n_pairs", "n_survivors"))
      .select(col("cell"), col("n_vecs"), col("n_pairs"), col("n_survivors"))
      .orderBy("cell")
  }

  private val q128Sql = s"""
    WITH RECURSIVE corpus AS (
      SELECT vec_id, embedding FROM $AuxQ67bCorpus),
    cents AS (SELECT cent_id, cvec FROM $AuxQ67bCents),
    assign AS (
      SELECT x.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY x.vec_id
               ORDER BY ${l2Sql("x.embedding", "c.cvec")}, c.cent_id) AS arn
      FROM corpus x, cents c),
    assigned AS (
      SELECT a.vec_id, cent_id AS cell, x.embedding
      FROM assign a JOIN corpus x USING (vec_id) WHERE arn = 1),
    pairs AS (
      SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE CAST(floor(1000000.0 * (${cosColsSql("a.embedding", "b.embedding")}))
              AS BIGINT) >= $Q128TauMicros),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    r(id, label) AS (
      SELECT vec_id, vec_id FROM corpus
      UNION
      SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.id),
    labels AS (SELECT id, MIN(label) AS label FROM r GROUP BY id),
    surv AS (SELECT id AS vec_id FROM labels WHERE id = label),
    nv AS (SELECT cell, COUNT(*) AS n_vecs FROM assigned GROUP BY cell),
    np AS (SELECT cell, COUNT(*) AS n_pairs FROM pairs GROUP BY cell),
    ns AS (SELECT a.cell, COUNT(*) AS n_survivors
           FROM assigned a JOIN surv USING (vec_id) GROUP BY a.cell)
    SELECT nv.cell, nv.n_vecs,
           COALESCE(np.n_pairs, 0) AS n_pairs,
           COALESCE(ns.n_survivors, 0) AS n_survivors
    FROM nv LEFT JOIN np USING (cell) LEFT JOIN ns USING (cell)
    ORDER BY nv.cell"""

  val queries: Seq[Query] = Seq(
    Query("q60_knn_l2",         q60, Some(q60Sql)),
    Query("q61_knn_cos_multi",  q61, Some(q61Sql)),
    Query("q121_space_metrics", q121, Some(q121Sql)),
    Query("q122_l2_collection", q122, Some(q122Sql)),
    Query("q62_ann_lsh",        q62, Some(q62Sql)),
    Query("q65_ann_ivf",        q65, Some(q65Sql)),
    Query("q69_ann_sq8",        q69, Some(q69Sql)),
    Query("q185_ann_binary",    q185, Some(q185Sql)),
    Query("q191_ivf_binary",    q191, Some(q191Sql)),
    Query("q66_label_centroids", q66, Some(q66Sql)),
    Query("q67_ann_recall",      q67, Some(q67Sql)),
    Query("q67b_ann_recall_clustered", q67b, Some(q67bSql)),
    Query("q63_search_e2e",     searchE2E, Some(q63Sql)),
    Query("q64_build_index",    q64, Some(q64Sql)),
    Query("q98_ivf_search",     q98, Some(q98Sql)),
    Query("q102_ann_hnsw",      q102, Some(q102Sql)),
    Query("q103_hnsw_search",   q103, Some(q103Sql)),
    Query("q104_filtered_search", q104, Some(q104Sql)),
    Query("q104b_contains_search", q104b, Some(q104bSql)),
    Query("q116_where_dict", q116, Some(q116Sql)),
    Query("q117_update_inventory", q117, Some(q117Sql)),
    Query("q107_delete_search",  q107, Some(q107Sql)),
    Query("q109_collection_get", q109, Some(q109Sql)),
    Query("q108_upsert_inventory", q108, Some(q108Sql)),
    Query("q111_ivf_compact_search", q111, Some(q111Sql)),
    Query("q112_ivf_batch",      q112, Some(q112Sql)),
    Query("q114_ivf_probe_curve", q114, Some(q114Sql)),
    Query("q105_filtered_recall", q105, Some(q105Sql)),
    Query("q106_hnsw_batch",    q106, Some(q106Sql)),
    Query("q123_ivfpq_search",  q123, Some(q123Sql)),
    Query("q234_explain_ivfpq", q234, Some(q234Sql)),
    Query("q124_pq_metrics",    q124, Some(q124Sql)),
    Query("q132_matryoshka_prerank", q132, Some(q132Sql)),
    Query("q125_mmr_rerank",    q125, Some(q125Sql)),
    Query("q126_fork_isolation", q126, Some(q126Sql)),
    Query("q127_ivfpq_batch",   q127, Some(q127Sql)),
    Query("q128_semdedup",      q128, Some(q128Sql)),
    Query("q129_pq_clustered",  q129, Some(q129Sql)),
    Query("q133_pq_residual",   q133, Some(q133Sql)),
    Query("q138_ivfpqr_search", q138, Some(q138Sql)),
    Query("q139_cluster_topics", q139, Some(q139Sql)),
    Query("q140_cluster_mixture", q140, Some(q140Sql)),
    Query("q141_mmr_batch",     q141, Some(q141Sql)),
    Query("q142_pq_drift",      q142, Some(q142Sql)),
    Query("q176_retrain_policy", q176, Some(q176Sql)),
    Query("q146_hard_negatives", q146, Some(q146Sql)),
    Query("q149_embedding_outliers", q149, Some(q149Sql)),
    Query("q174_eval_mrr",      q174, Some(q174Sql)),
    Query("q194_eval_ndcg",     q194, Some(q194Sql)))

  // ---- q174: retrieval evaluation (self-retrieval MRR) ---------------

  private val Q174NQueries = 20

  /** Deterministic query perturbation: the doc's own text with every
    * third token dropped — a "paraphrase" whose ground-truth answer
    * is the doc itself, which is how you get a labeled eval set from
    * an unlabeled corpus. */
  private def q174Queries(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < Q174NQueries)
      .select(col("doc_id").as("query_id"),
        array_join(
          filter(split(col("text"), " "), (_, i) => i % 3 =!= 2),
          " ").as("qtext"))
      .select(col("query_id"),
        graft.functions.Embed.embedCol(col("qtext")).as("qvec"))

  /** q174: the eval harness every retrieval stack ships with —
    * mean-reciprocal-rank of self-retrieval under perturbation. Each
    * of 20 queries is a doc's text with every 3rd token removed;
    * dense cosine ranks the WHOLE corpus per query and the gate
    * reports where the true doc landed (rank, reciprocal-rank micros,
    * hit@10). The oracle re-ranks from the dumped query vectors and
    * the q139 doc-embedding aux — a ranking or tie-break divergence
    * anywhere in the arm shifts a rank and breaks the hash.
    *
    * Scale shape: the query block is a broadcast; the corpus scans
    * ONCE for all 20 queries (the q61/V4 batch shape); the rank
    * window partitions by query_id. MRR over the output is one
    * arithmetic step the caller does — the gate keeps per-query rows
    * so a single regressed query is visible, not averaged away. */
  private def q174(s: SparkSession, d: String): DataFrame = {
    val qs = q174Queries(s, d)
    val scored = docEmbCached(s, d).select(col("doc_id"), col("embedding"))
      .crossJoin(broadcast(qs))
      .select(col("query_id"), col("doc_id"),
        graft.functions.VectorOps.vecCosine(col("embedding"), col("qvec"))
          .as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("doc_id") === col("query_id"))
      .select(col("query_id"), col("rank").as("self_rank"),
        expr("1000000 div rank").as("rr_micros"),
        (col("rank") <= 10).cast(IntegerType).as("hit_at_10"))
      .orderBy("query_id")
  }

  /** Dump the perturbed query vectors (the kernel boundary — the
    * perturbation+embed run in Spark once; ranking is re-derived). */
  def materializeEvalAux(s: SparkSession, d: String, auxDir: String): Unit =
    q174Queries(s, d)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$auxDir/q174_queries.parquet")

  // lazy: this val is declared BELOW the `queries` Seq, whose
  // construction reads it during object init — a strict val would
  // still be null at that point
  private lazy val q174Sql = s"""
    WITH qs AS (SELECT query_id, qvec FROM
      read_parquet('${graft.SparkEntry.AuxToken}/q174_queries.parquet/*.parquet')
    ), demb AS (SELECT doc_id, embedding FROM $AuxQ139Demb
    ), ranked AS (
      SELECT q.query_id, d.doc_id,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY (${cosColsSql("d.embedding", "q.qvec")}) DESC,
                        d.doc_id) AS rank
      FROM demb d CROSS JOIN qs q)
    SELECT query_id, rank AS self_rank,
           CAST(1000000 // rank AS BIGINT) AS rr_micros,
           CAST(CASE WHEN rank <= 10 THEN 1 ELSE 0 END AS INTEGER)
             AS hit_at_10
    FROM ranked WHERE doc_id = query_id ORDER BY query_id"""

  // ---- q194: graded nDCG@k retrieval evaluation ----------------------

  // `final` = compile-time constant: q194Sql is forced during object
  // init (the queries Seq), BEFORE a plain val this far down would
  // have been assigned
  private final val NdcgK = 10

  /** DCG rank discounts ⌊10^6 / log2(r+1)⌋ for r = 1..k (Järvelin &
    * Kekäläinen 2002, "Cumulated gain-based evaluation of IR
    * techniques", TOIS 20(4)). Computed ONCE driver-side and embedded
    * as identical dense-ARRAY literals in both the Spark plan and the
    * oracle SQL (the q193 RBO-weights discipline) — no cross-engine
    * float log ever runs, and lookup is an O(1) array index, not a
    * MAP-literal linear scan. */
  private[graft] def ndcgWeightsMicros(k: Int): IndexedSeq[Long] =
    (1 to k).map(r =>
      math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** Graded nDCG@k over a labeled corpus: `docs` carries (doc_id,
    * source, embedding), `queries` carries (query_id, qvec) where
    * query_id is the doc the query was derived from. Relevance is
    * graded — 3 for the source doc itself, 1 for any doc from the
    * SAME source (topically related in this corpus's generative
    * model), 0 otherwise — which is what separates nDCG from q174's
    * binary MRR: a ranker that misses the exact doc but fills the
    * prefix with its source-mates still scores. All arithmetic past
    * the rank window is integer: DCG sums rel·w(r) micros, the ideal
    * DCG places the single 3 first and min(k−1, n_src−1) ones after
    * it, ndcg_micros = 10^6·dcg div idcg.
    *
    * Scale shape: the query block broadcasts and the corpus scans
    * ONCE for all queries (the q174/q61 batch shape); the rank filter
    * becomes a WindowGroupLimit partial top-k; the label join runs
    * scan-side against the broadcast k·|queries|-row prefix table. */
  def evalNdcg(docs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = ndcgWeightsMicros(k)
    val cum = w.drop(1).scanLeft(0L)(_ + _) // cum(j) = Σ_{i=2..j} w(i)
    val wArr = expr(s"array(${w.mkString("L,")}L)")
    val cumArr = expr(s"array(${cum.mkString("L,")}L)")
    val srcN = docs.groupBy(col("source").as("qsource"))
      .agg(count(lit(1)).as("n_src"))
    val qmeta = docs.select(col("doc_id").as("query_id"),
        col("source").as("qsource"))
      .join(queries.select("query_id"), "query_id")
      .join(srcN, "qsource")
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id"))
    val top = docs.select(col("doc_id"), col("embedding"))
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col("doc_id"),
        graft.functions.VectorOps.vecCosine(col("embedding"), col("qvec"))
          .as("sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
    docs.select(col("doc_id"), col("source").as("dsource"))
      .join(broadcast(top.select(col("query_id"), col("doc_id"), col("rank"))),
        "doc_id")
      .join(broadcast(qmeta), "query_id")
      .withColumn("rel",
        when(col("doc_id") === col("query_id"), 3L)
          .when(col("dsource") === col("qsource"), 1L).otherwise(0L))
      .groupBy(col("query_id"), col("n_src"))
      .agg(sum(col("rel") * element_at(wArr, col("rank"))).as("dcg_micros"),
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("hits_at_k"))
      .withColumn("ideal_len", least(lit(k.toLong), col("n_src")))
      .withColumn("idcg_micros",
        lit(3L * w.head) + element_at(cumArr, col("ideal_len").cast("int")))
      .select(col("query_id"), (col("n_src") - 1L).as("n_rel"),
        col("hits_at_k"), col("dcg_micros"), col("idcg_micros"),
        expr("1000000L * dcg_micros div idcg_micros").as("ndcg_micros"))
      .orderBy("query_id")
  }

  /** q194: [[evalNdcg]] at k=10 over the q174 perturbed self-queries
    * — the graded companion the eval harness reports next to MRR.
    * The oracle re-ranks from the dumped query vectors + q139 doc
    * embeddings and re-derives labels, discounts (same literals) and
    * every integer step from the raw documents table. */
  private def q194(s: SparkSession, d: String): DataFrame =
    evalNdcg(docEmbCached(s, d), q174Queries(s, d), NdcgK)

  private lazy val q194Sql = {
    val w = ndcgWeightsMicros(NdcgK)
    val cum = w.drop(1).scanLeft(0L)(_ + _)
    s"""
    WITH qs AS (SELECT query_id, qvec FROM
      read_parquet('${graft.SparkEntry.AuxToken}/q174_queries.parquet/*.parquet')
    ), demb AS (SELECT doc_id, embedding FROM $AuxQ139Demb
    ), ranked AS (
      SELECT q.query_id, d.doc_id,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY (${cosColsSql("d.embedding", "q.qvec")}) DESC,
                        d.doc_id) AS rank
      FROM demb d CROSS JOIN qs q),
    top AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= $NdcgK),
    srcn AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
    qmeta AS (
      SELECT d.doc_id AS query_id, d.source AS qsource, s.n_src
      FROM documents d JOIN srcn s USING (source)
      WHERE d.doc_id IN (SELECT query_id FROM qs)),
    labeled AS (
      SELECT t.query_id, q.n_src,
             CASE WHEN t.doc_id = t.query_id THEN 3
                  WHEN dd.source = q.qsource THEN 1 ELSE 0 END AS rel,
             ([${w.mkString(",")}])[t.rank] AS w
      FROM top t JOIN qmeta q USING (query_id)
           JOIN documents dd ON dd.doc_id = t.doc_id),
    agg AS (
      SELECT query_id, n_src, SUM(rel * w) AS dcg_micros,
             SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits_at_k
      FROM labeled GROUP BY query_id, n_src)
    SELECT query_id, CAST(n_src - 1 AS BIGINT) AS n_rel,
           CAST(hits_at_k AS BIGINT) AS hits_at_k,
           CAST(dcg_micros AS BIGINT) AS dcg_micros,
           CAST(${3L * w.head} + ([${cum.mkString(",")}])[LEAST($NdcgK, n_src)]
             AS BIGINT) AS idcg_micros,
           CAST(1000000 * dcg_micros
             // (${3L * w.head} + ([${cum.mkString(",")}])[LEAST($NdcgK, n_src)])
             AS BIGINT) AS ndcg_micros
    FROM agg ORDER BY query_id"""
  }
}
