package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{exprs, hashExprs, Embed, Lsh, VectorOps}

/** The persistent vector index (SURVEY.md §2.1 S4 + §3.1/3.2): the
  * reference's ChromaDB collection re-expressed as a partitioned
  * parquet table of (chunk_id, document, provenance..., embedding).
  *
  * - `build` is the bulk-index lifecycle (indexer.py:95-128): scan ->
  *   chunk -> embed -> id synthesis -> partitioned write. Partitioned
  *   by `source` and written with dynamic partition overwrite, so
  *   re-indexing a source is idempotent (fixes the duplicate-id
  *   `collection.add` defect, indexer.py:56).
  * - every `searchTopK*` verb is the query lifecycle (app.py:42-78),
  *   one search pipeline for all layouts: probe -> candidates ->
  *   pre-rank -> rerank-and-present (see "the search pipeline" below).
  *   Column pruning means a search reads only (embedding, id,
  *   provenance) — never the documents.
  *
  * At 100 TB: build is a narrow pipeline (no shuffle) parallel over
  * input splits; search is a scan + per-partition top-k + driver merge
  * of k rows. Both scale linearly with executors.
  */
object IndexStore {

  val ChunkSize = 1000
  val ChunkOverlap = 200
  // LSH layout parameters — written into the index, so query-time
  // bucket computation must use the same values (Lsh is deterministic
  // across sessions by construction)
  val LshBits = 6
  val LshTables = 16

  /** Chunk/embed/id-synthesize `docs` (doc_id, text, source) into the
    * index layout, without writing. The persisted `lsh_buckets`
    * column is the ANN scale path: at 100 TB the index would
    * additionally be laid out bucket-partitioned so an ANN probe
    * prunes files, not just rows. */
  def indexRows(docs: DataFrame, dim: Int = Embed.DefaultDim): DataFrame =
    docs
      // spread the chunk->embed kernel across cores: a single-row-group
      // input would otherwise run the whole pipeline on one task (on a
      // cluster, file splits provide this for free; the narrow shuffle
      // is trivial next to the per-chunk embedding cost)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"),
        exprs.chunkText(col("text"), ChunkSize, ChunkOverlap).as(Seq("pos", "chunk")))
      .withColumn("chunk_id",
        concat_ws("_", col("source"), col("doc_id"), col("pos")))
      .withColumn("sheet_row", col("doc_id") + 2)
      .withColumn("embedding", Embed.embedCol(col("chunk"), dim))
      .withColumn("lsh_buckets",
        hashExprs.lshBuckets(col("embedding"), dim, LshBits, LshTables))
      // SQ8 compressed codes (1 byte/dim + 1 double): the 4x-cheaper
      // scan column for compressed-domain candidate generation on
      // corpora where bucketing has no structure to exploit
      .withColumn("sq8_code", graft.functions.vecIndexExprs.sq8Code(col("embedding")))
      .withColumn("sq8_factor", graft.functions.vecIndexExprs.sq8Factor(col("embedding")))

  // ---- collection metadata (chroma collection contract) -----------

  /** chroma metadata key selecting the collection's distance space. */
  val SpaceKey = "hnsw:space"

  /** Persist a chroma-style collection metadata dict as a `_collmeta`
    * sidecar inside the layout (underscore prefix = invisible to
    * Spark's file index, rides along with rename/delete like the
    * other sidecars). `client.create_collection(metadata=...)`
    * attaches exactly this dict in the reference's engine
    * (chromadb 0.4.x); `hnsw:space` in it selects the distance
    * function every query on the collection uses. */
  def writeCollectionMetadata(spark: SparkSession, path: String,
                              metadata: Map[String, String]): Unit =
    if (metadata.nonEmpty) {
      metadata.get(SpaceKey).foreach { s =>
        require(VectorOps.Spaces(s),
          s"$SpaceKey must be one of ${VectorOps.Spaces.mkString(", ")}, got '$s'")
      }
      import spark.implicits._
      metadata.toSeq.sortBy(_._1).toDF("key", "value")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$path/_collmeta")
    }

  /** chroma `collection.modify(metadata=...)`: REPLACE the
    * collection's metadata — including clearing it back to the
    * default-space state when `metadata` is empty (the one thing
    * [[writeCollectionMetadata]], which no-ops on empty so that a
    * plain re-build never clobbers an existing dict, cannot do). */
  def modifyCollectionMetadata(spark: SparkSession, path: String,
                               metadata: Map[String, String]): Unit =
    if (metadata.nonEmpty) writeCollectionMetadata(spark, path, metadata)
    else {
      val p = new org.apache.hadoop.fs.Path(s"$path/_collmeta")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }

  /** The collection's metadata dict; empty for layouts persisted
    * before the sidecar existed (every pre-existing layout is a
    * default-space collection, so absence is meaningful, not an
    * error — unlike the HNSW `_meta` build parameters). The dict is
    * read through [[Relations.collectCached]], so a non-default
    * collection pays the parquet read once per (re)write, not once per
    * search, and a metadata overwrite is picked up by the very next
    * search: the sidecar's part-file names change with every write,
    * whatever its modification time. */
  def collectionMetadata(spark: SparkSession, path: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_collmeta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else try {
      Relations.collectCached(spark, s"$path/_collmeta")
        .map(r => r.getString(r.fieldIndex("key")) -> r.getString(r.fieldIndex("value")))
        .toMap
    } catch {
      // a concurrent deleteCollection/modify-to-clear between the
      // exists probe and the read: the sidecar is gone, which MEANS
      // default-space collection — not an error to surface
      case _: java.io.FileNotFoundException => Map.empty
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => Map.empty
    }
  }

  /** The collection's distance space: `hnsw:space` from the sidecar,
    * defaulting to cosine exactly as chroma does. The existence check
    * is a single local FS stat, so default-space searches pay no
    * extra Spark job. */
  def collectionSpace(spark: SparkSession, path: String): String = {
    val s = collectionMetadata(spark, path).getOrElse(SpaceKey, "cosine")
    require(VectorOps.Spaces(s),
      s"$SpaceKey must be one of ${VectorOps.Spaces.mkString(", ")}, got '$s'")
    s
  }

  /** Build (or refresh) the index at `path`. Idempotent per source
    * partition. `metadata` is the chroma collection metadata dict
    * (`hnsw:space` in it switches the distance every search on this
    * layout ranks by). */
  def build(spark: SparkSession, docs: DataFrame, path: String,
            dim: Int = Embed.DefaultDim,
            metadata: Map[String, String] = Map.empty): Unit = {
    buildFromRows(spark, indexRows(docs, dim), path)
    writeCollectionMetadata(spark, path, metadata)
  }

  /** [[build]] from already-computed [[indexRows]] — the seam that
    * lets one chunk+embed pass feed several physical layouts (the
    * kernel cost dominates a small-corpus build, and at any scale
    * re-embedding the same corpus per layout is pure waste). */
  private[graft] def buildFromRows(spark: SparkSession, rows: DataFrame,
                                   path: String): Unit = {
    rows
      .write.mode(SaveMode.Overwrite)
      // per-write option, NOT a session-conf mutation: a library call
      // must never silently flip later unrelated overwrites to dynamic
      .option("partitionOverwriteMode", "dynamic")
      // NO repartition-by-source here, deliberately — the opposite
      // call from the cell-partitioned layouts: sources are FEW and
      // LARGE (a corpus has a handful of sheets, an IVF layout has
      // hundreds of cells), so many files per source directory is the
      // correct shape and coalescing to one writer per source would
      // serialize the whole corpus through |sources| tasks
      .partitionBy("source")
      .parquet(path)
  }

  /** The chroma 0.4.6 `query(include=[...])` vocabulary. `"ids"` is
    * not a member — chroma always returns ids, as does [[rerankPresent]]
    * (rank + chunk_id are unconditional). */
  private[graft] val QueryIncludes: Set[String] =
    Set("documents", "metadatas", "embeddings", "distances")

  // ---- the search pipeline -------------------------------------------
  //
  // Every vector search verb composes the same four stages, defined
  // once below (the reference's embed -> kNN -> deep-link query step,
  // app.py:50-78):
  //   1. probe — the IVF quantizer's nearest cells per query, after a
  //      dim check against the trained centroids (IVF, IVF-PQ and the
  //      IVF-routed MMR verbs; the other layouts have no quantizer);
  //   2. candidates — the rows a query can reach, `where` applied: a
  //      full scan (exact, SQ8, MMR), LSH bucket overlap (ANN), the
  //      probed cell partitions (IVF, IVF-PQ), the HNSW traversal's
  //      ids, or the probed bucket partitions (bucketed LSH);
  //   3. pre-rank — the overfetch cut on a compressed score: SQ8 codes
  //      (SQ8, IVF) or the PQ-ADC lookup (IVF-PQ). For one query it is
  //      a top-k inside the plan that feeds stage 4 directly, so the
  //      search is one Spark job; the other families go straight to
  //      the rerank;
  //   4. rerank-and-present — exact similarity in the collection's
  //      space, top-k per query, and the chroma result projection with
  //      the deep link.
  // Single-query verbs keep the query vector a plan literal, and its
  // scalars (norm, SQ8 factor) reach generated code by reference, so a
  // new query reuses the compiled classes of its plan shape; batch
  // verbs carry their queries as a broadcast column. The explain verbs
  // run the search's own stages.

  /** The reference's per-hit deep link (app.py:50-78): the chunk's sheet row. */
  private def deepLink: Column =
    format_string("https://docs.google.com/spreadsheets/d/%s/edit#gid=%s&range=A%d",
      col("source"), lit("0"), col("sheet_row"))

  /** The trained `_centroids` quantizer of an IVF layout. */
  private final case class Quantizer(ids: Array[Long], cents: Array[Array[Float]]) {
    /** The `probes` nearest cells to `qvec`, nearest first. */
    def probe(qvec: Array[Float], probes: Int): Seq[Long] =
      graft.functions.VecIndex.nearestCells(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec), ids, cents,
        math.min(probes, ids.length)).toLongArray().toSeq
    def centroid(cell: Long): Array[Float] = cents(ids.indexOf(cell))
  }

  /** Stage 1, probe: the layout's quantizer, once every query (named
    * by `what` in the error) is checked against its trained dim — a
    * vector of another width would silently probe the wrong cells. */
  private def quantizer(spark: SparkSession, path: String,
                        queries: Seq[(String, Array[Float])]): Quantizer = {
    requireRows(spark, path)
    val (ids, cents) = Relations.centroids(spark, s"$path/_centroids")
    queries.foreach { case (what, qvec) =>
      require(qvec.length == cents.head.length,
        s"$path was trained at dim=${cents.head.length}, $what has dim=${qvec.length}")
    }
    Quantizer(ids, cents)
  }

  /** Stage 1 for one query: the quantizer and the probed cells. */
  private def probe(spark: SparkSession, path: String, qvec: Array[Float],
                    probes: Int): (Quantizer, Seq[Long]) = {
    val q = quantizer(spark, path, Seq("query vector" -> qvec))
    (q, q.probe(qvec, probes))
  }

  /** Stage 1 for a batch: (query_id, vector, probed cells) in query_id
    * order. */
  private def probeBatch(spark: SparkSession, path: String,
                         queries: Seq[(Long, Array[Float])], probes: Int)
      : (Quantizer, Seq[(Long, Array[Float], Seq[Long])]) = {
    val q = quantizer(spark, path,
      queries.map { case (qid, v) => s"batch query $qid" -> v })
    (q, queries.sortBy(_._1).map { case (qid, v) => (qid, v, q.probe(v, probes)) })
  }

  /** Stage 2, candidates: the layout's rows narrowed by the family's
    * candidate `source`, then by `where` — beneath every rank, so a
    * filtered search is exact over the filter's survivors. */
  private def candidates(spark: SparkSession, path: String, where: Option[Column],
                         source: DataFrame => DataFrame = identity): DataFrame = {
    requireRows(spark, path)
    val rows = source(Relations.parquet(spark, path))
    where.fold(rows)(rows.filter)
  }

  /** The IVF candidate source: only the probed cell partitions (the
    * predicate prunes directories at planning time). */
  private def inCells(cells: Seq[Long]): DataFrame => DataFrame =
    _.filter(col("cell").isin(cells: _*))

  /** Stage 3, pre-rank: keep the top-`overfetch` candidates by a
    * compressed `score` (as column `name`; ties to the smaller
    * chunk_id), so only they reach the exact rerank. The cut is a
    * top-k inside the plan: each scan partition keeps its best
    * `overfetch` rows, one single-partition merge keeps the best of
    * those, and stage 4 reads the survivors from it — the probed rows
    * are scanned once, in the search's one job. Rows with a null
    * chunk_id take their place in the cut and are then dropped.
    * `rankCol` adds each survivor's cut position (the explain verbs);
    * numbering the single-partition cut adds no exchange. */
  private def preRank(rows: DataFrame, score: Column, overfetch: Int,
                      name: String = "approx",
                      rankCol: Option[String] = None): DataFrame = {
    val cut = rows.withColumn(name, score)
      .orderBy(col(name).desc, col("chunk_id"))
      .limit(overfetch)
    rankCol.fold(cut)(r => cut.withColumn(r,
        row_number().over(Window.orderBy(col(name).desc, col("chunk_id")))))
      .filter(col("chunk_id").isNotNull)
  }

  /** [[preRank]] for a batch: `probeTable` fans each row out to the
    * queries probing its cell (a hash equi-join on `qcell`, never a
    * membership test), and a per-query window keeps each query's top
    * `overfetch` as (query_id, cid). */
  private def preRankBatch(rows: DataFrame, probeTable: DataFrame, score: Column,
                           overfetch: Int): DataFrame =
    rows.join(broadcast(probeTable), col("cell").cast("long") === col("qcell"))
      .select(col("query_id"), col("chunk_id").as("cid"), score.as("approx"))
      .withColumn("arn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("approx").desc, col("cid"))))
      .filter(col("arn") <= overfetch)
      .select("query_id", "cid")

  /** The SQ8 pre-rank score against a query code and factor. */
  private def sq8Score(qCode: Column, qFac: Column): Column =
    graft.functions.vecIndexExprs.sq8Dot(col("sq8_code"), qCode) *
      col("sq8_factor") * qFac

  /** [[sq8Score]] for one query: its code is a plan literal, its
    * factor reaches generated code by reference. */
  private def sq8Score(qvec: Array[Float]): Column = {
    val q = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
    sq8Score(lit(graft.functions.VecIndex.sq8Code(q)),
      exprs.queryConst(graft.functions.VecIndex.sq8Factor(q)))
  }

  /** The PQ-ADC pre-rank score: m LUT lookups + adds per row, in
    * integer micros. The residual encoding (`_pqmeta`) adds each probed
    * cell's dot(q, centroid) constant from a tiny literal map, so the
    * scan costs the same as raw ADC. */
  private def adcScore(spark: SparkSession, path: String, quant: Quantizer,
                       qvec: Array[Float], cells: Seq[Long]): Column = {
    import graft.operators.VectorSearch.{microsDot, pqLut}
    val adc = graft.functions.vecIndexExprs.pqAdc(col("pq_code"),
      pqLut(qvec, readPqBooks(spark, path)))
    if (pqEncoding(spark, path) != "residual") adc
    else element_at(typedlit(cells.map(c => c -> microsDot(qvec, quant.centroid(c))).toMap),
      col("cell").cast("long")) + adc
  }

  /** Stage 4, rerank (one query): exact similarity in `space` and the
    * top-k by (sim desc, chunk_id). */
  private def rerank(rows: DataFrame, space: String, qvec: Array[Float],
                     k: Int): DataFrame =
    rows.withColumn("sim", VectorOps.spaceSim(space, col("embedding"), qvec))
      .orderBy(col("sim").desc, col("chunk_id"))
      .limit(k)

  /** Stage 4, rerank-and-present (one query): [[rerank]] in the
    * collection's space, then the chroma `Collection.query` return
    * contract. `includeDistance` appends the chroma-convention
    * `distance` column, derived from the sim the rank already ordered
    * by, so it costs no extra vector work: cosine -> 1 - cos, ip ->
    * 1 - dot, l2 -> squared L2 (= -sim,
    * [[VectorOps.spaceSim]] negates it for the shared desc order).
    *
    * `include` is the chroma `query(include=[...])` projection
    * (chromadb 0.4.6; the reference consumes the documents+metadatas
    * legs at app.py:58-61): empty keeps the legacy columns (where
    * `includeDistance` appends the distance leg); nonempty returns ids
    * (rank, chunk_id) plus EXACTLY the requested legs — `documents` ->
    * chunk, `metadatas` -> doc_id/source/link, `embeddings` -> the
    * float vector, `distances` -> the distance column — and ignores
    * `includeDistance` (chroma's include list is the whole projection
    * contract; an extra unrequested column would break positional
    * consumers). Column pruning means an `include` without
    * `embeddings` never reads the vector bytes of the presented rows. */
  private def rerankPresent(spark: SparkSession, path: String, rows: DataFrame,
                            qvec: Array[Float], k: Int, includeDistance: Boolean,
                            include: Seq[String]): DataFrame = {
    require(include.forall(QueryIncludes),
      s"include must be among ${QueryIncludes.mkString(", ")}, got $include")
    val space = collectionSpace(spark, path)
    val distCol = (if (space == "l2") -col("sim") else lit(1.0) - col("sim"))
      .as("distance")
    val out =
      if (include.isEmpty)
        Seq(col("rank"), col("chunk_id"), col("doc_id"), col("source"),
          col("chunk"), col("link")) ++
          (if (includeDistance) Seq(distCol) else Nil)
      else
        Seq(col("rank"), col("chunk_id")) ++
          (if (include.contains("metadatas"))
            Seq(col("doc_id"), col("source"), col("link")) else Nil) ++
          (if (include.contains("documents")) Seq(col("chunk")) else Nil) ++
          (if (include.contains("embeddings")) Seq(col("embedding")) else Nil) ++
          (if (include.contains("distances")) Seq(distCol) else Nil)
    rerank(rows, space, qvec, k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sim").desc, col("chunk_id"))))
      .withColumn("link", deepLink)
      .select(out: _*)
  }

  /** Stage 4, rerank-and-present (batch): each query's exact top-k over
    * its (query_id, cid) `cands` drawn from `rows`, then the
    * presentation columns joined back from `shown` for the ranked rows
    * only. The rank exchange carries (query_id, chunk_id, sim): neither
    * vectors nor text ride it. Output: (query_id, rank, chunk_id,
    * doc_id, source, chunk, link), ordered by query and rank. */
  private def rerankPresentBatch(spark: SparkSession, path: String,
                                 rows: DataFrame, shown: DataFrame,
                                 cands: DataFrame,
                                 queries: Seq[(Long, Array[Float])],
                                 k: Int): DataFrame = {
    import spark.implicits._
    val qvecs = queries.sortBy(_._1)
      .map { case (qid, v) => (qid, v.toSeq) }.toDF("query_id", "qvec")
    val ranked = rows.select(col("chunk_id"), col("embedding"))
      .join(broadcast(cands), col("chunk_id") === col("cid"))
      .join(broadcast(qvecs), Seq("query_id"))
      .select(col("query_id"), col("chunk_id"),
        VectorOps.spaceSim2(collectionSpace(spark, path),
          col("embedding"), col("qvec")).as("sim"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("chunk_id"))))
      .filter(col("rank") <= k)
    shown.select(col("chunk_id"), col("doc_id"), col("source"), col("chunk"),
        col("sheet_row"))
      .join(broadcast(ranked), Seq("chunk_id"))
      .withColumn("link", deepLink)
      .select(col("query_id"), col("rank"), col("chunk_id"), col("doc_id"),
        col("source"), col("chunk"), col("link"))
      .orderBy("query_id", "rank")
  }

  /** The IVF-family explain tail: the search's own pre-rank (its cut
    * position as `<name>_rank`) and rerank, then per hit the stored
    * cell, the probe position that found it (its 1-based position in
    * the `cells` literal), `score` (the pre-rank score as presented)
    * and ⌊1e6·sim⌋; k rows, ordered by rank, in the search's one job. */
  private def explainIvfFamily(spark: SparkSession, path: String, rows: DataFrame,
                               cells: Seq[Long], qvec: Array[Float], k: Int,
                               overfetch: Int, preScore: Column, name: String,
                               score: Column): DataFrame =
    rerank(preRank(rows, preScore, overfetch, name, Some(s"${name}_rank")),
        collectionSpace(spark, path), qvec, k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sim").desc, col("chunk_id"))))
      .select(col("rank"), col("chunk_id"), col("cell").cast("long").as("cell"),
        array_position(typedlit(cells), col("cell").cast("long")).cast("int")
          .as("probe_pos"),
        col(s"${name}_rank"), score,
        floor(lit(1000000.0d) * col("sim")).cast("long").as("sim_micros"))
      .orderBy(col("rank"))

  /** Exact top-k for a free-text query, with deep links: the search
    * pipeline over a full scan, no pre-rank. `where` is chroma's
    * `query(where=...)`; it reaches the parquet reader as a pushed
    * filter, and on this layout (partitioned by `source`) a source
    * predicate prunes whole partition directories at planning time
    * (PlanAuditSpec pins both). */
  def searchTopK(spark: SparkSession, path: String, queryText: String,
                 k: Int = 10, dim: Int = Embed.DefaultDim,
                 where: Option[Column] = None,
                 includeDistance: Boolean = false,
                 include: Seq[String] = Nil): DataFrame =
    searchTopKVec(spark, path, Embed.embed(queryText, dim), k,
      where, includeDistance, include)

  /** chroma `query(query_embeddings=[...])`: the exact search path
    * for a caller-supplied query vector — [[searchTopK]] with the
    * embed step skipped. The other half of chroma's query contract
    * (a collection is queryable by text OR by vector); also the seam
    * that lets externally-embedded corpora (a real model, not the
    * hashed-n-gram stand-in) query the same layouts. */
  def searchTopKVec(spark: SparkSession, path: String, qvec: Array[Float],
                    k: Int = 10, where: Option[Column] = None,
                    includeDistance: Boolean = false,
                    include: Seq[String] = Nil): DataFrame =
    rerankPresent(spark, path, candidates(spark, path, where), qvec, k,
      includeDistance, include)

  /** Approximate top-k over the persisted LSH buckets: the candidates
    * are the rows colliding with the query in at least one table
    * (~20% of the corpus at the default operating point; recall
    * measured by the q67 harness on the same kernel). */
  def searchTopKAnn(spark: SparkSession, path: String, queryText: String,
                    k: Int = 10, dim: Int = Embed.DefaultDim,
                    where: Option[Column] = None,
                    includeDistance: Boolean = false,
                    include: Seq[String] = Nil): DataFrame =
    searchTopKAnnVec(spark, path, Embed.embed(queryText, dim), k,
      where, includeDistance, include)

  /** [[searchTopKAnn]] for a caller-supplied query vector (the
    * `query_embeddings` form; bucket probes are computed from the
    * given vector with the layout's LSH parameters). */
  def searchTopKAnnVec(spark: SparkSession, path: String, qvec: Array[Float],
                       k: Int = 10, where: Option[Column] = None,
                       includeDistance: Boolean = false,
                       include: Seq[String] = Nil): DataFrame = {
    val qBuckets = Lsh.queryBuckets(qvec, qvec.length, LshBits, LshTables)
    rerankPresent(spark, path,
      candidates(spark, path, where,
        _.filter(arrays_overlap(col("lsh_buckets"), lit(qBuckets)))),
      qvec, k, includeDistance, include)
  }

  /** Compressed-domain top-k: the SQ8 pre-rank over a full scan
    * (1-byte/dim codes, 4x less IO than the float embeddings). The
    * right path when the corpus has no cluster structure for
    * [[searchTopKAnn]]'s buckets to exploit — recall measured 1.0 at
    * <=3% candidate fraction by the q67 harness. */
  def searchTopKSq8(spark: SparkSession, path: String, queryText: String,
                    k: Int = 10, overfetch: Int = 32,
                    dim: Int = Embed.DefaultDim,
                    where: Option[Column] = None,
                    includeDistance: Boolean = false,
                    include: Seq[String] = Nil): DataFrame =
    searchTopKSq8Vec(spark, path, Embed.embed(queryText, dim), k,
      overfetch, where, includeDistance, include)

  /** [[searchTopKSq8]] for a caller-supplied query vector (the
    * `query_embeddings` form; the query's SQ8 code/factor are
    * computed from the given vector). */
  def searchTopKSq8Vec(spark: SparkSession, path: String, qvec: Array[Float],
                       k: Int = 10, overfetch: Int = 32,
                       where: Option[Column] = None,
                       includeDistance: Boolean = false,
                       include: Seq[String] = Nil): DataFrame =
    rerankPresent(spark, path,
      preRank(candidates(spark, path, where), sq8Score(qvec), overfetch),
      qvec, k, includeDistance, include)

  /** Rows-per-writer bound for the cell-partitioned bulk writes —
    * ~250k rows ≈ 0.5–1 GB of embedding+code columns per parquet
    * file, the conventional target. Overridable per build for probes. */
  private[graft] val MaxRowsPerCellFile = 1 << 18

  /** Writer-skew-bounded partitioning for a cell-partitioned write —
    * the r20 refinement of the r19 one-file-per-cell fix, which gave
    * each cell exactly ONE writer task: correct for the file-count
    * explosion, but a skewed corpus (the engine's own q190 report
    * exists because corpora cluster unevenly) serializes a hot
    * cell's entire mass through one task and lands it in one giant
    * file. Here quiet cells KEEP the 1-task/1-file contract, while a
    * cell holding more than `maxRowsPerCellFile` rows splits across
    * UP TO ⌈n/bound⌉ salted writer sub-tasks (whole-row-hashed, so
    * the split is deterministic given the data and assumes no id
    * schema; the salt count is a parallelism target — hash imbalance
    * can merge buckets, never exceed them) — measured in the r20
    * skew probe
    * (dev/bench/r20_skew_probe.json): the bound turns the hot cell's
    * single-writer wall into parallel writers without adding a
    * single file to quiet cells. Costs one nCells-row count pass
    * over the (caller-materialized) assigned rows — assignment math
    * only, no re-embed, priced ≪ the write. Layout content, pruning
    * and search results are unchanged: this is a file/task-layout
    * decision, like compactIvf. */
  private[graft] def cellWritePartitioning(assigned: DataFrame, nCells: Int,
      maxRowsPerCellFile: Int = MaxRowsPerCellFile): DataFrame = {
    // cast once: a freshly-assigned frame carries cell as LONG, but a
    // layout read back for compaction carries the partition-directory
    // column with its INFERRED (integer) type
    val cellL = col("cell").cast("long")
    val counts = assigned.groupBy(cellL.as("_cl")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (counts.values.forall(_ <= maxRowsPerCellFile))
      assigned.repartition(math.max(1, nCells), col("cell"))
    else {
      // the salt map carries HOT cells only (r20 verdict note): a
      // quiet cell needs no entry — element_at misses → null →
      // coalesce to 1 salt — so the plan literal is O(hot cells),
      // not O(nCells); a 65k-cell 100 TB layout with a handful of
      // hot cells no longer bakes a 65k-entry map into codegen
      val saltsOf = counts.collect { case (c, n) if n > maxRowsPerCellFile =>
        c -> ((n + maxRowsPerCellFile - 1) / maxRowsPerCellFile) }
      val saltMap = map(saltsOf.toSeq.sortBy(_._1)
        .flatMap { case (c, s) => Seq(lit(c), lit(s)) }: _*)
      val parts = saltsOf.values.sum +
        counts.size - saltsOf.size
      // salt on a whole-row hash, not a named id column: the helper
      // serves every cell-partitioned layout (chunk ids, doc-level
      // ids, colbert token rows) and must not assume a schema beyond
      // `cell` — deterministic given the data either way
      val saltKey = xxhash64(
        assigned.columns.filter(_ != "cell").map(col).toIndexedSeq: _*)
      assigned
        .withColumn("_salt",
          pmod(saltKey, coalesce(element_at(saltMap, cellL), lit(1L))))
        .repartition(math.max(1, parts.toInt), col("cell"), col("_salt"))
        .drop("_salt")
    }
  }

  /** IVF-partitioned index — the other 100 TB layout besides LSH
    * buckets: rows land in the parquet partition of their
    * nearest-centroid cell (`NearestCell` scan-side assignment; ONE
    * cell-keyed exchange of the finished rows feeds the partitioned
    * write so each cell gets one file, not one per task), and the trained
    * centroid table persists as a `_centroids` sidecar (underscore
    * prefix = invisible to Spark's file index). Searched by
    * [[searchTopKIvf]]: the FAISS IVF-SQ pattern as a parquet layout. */
  def buildIvf(spark: SparkSession, docs: DataFrame, path: String,
               nCells: Int = 16, lloydIters: Int = 2,
               dim: Int = Embed.DefaultDim, bitExact: Boolean = false,
               metadata: Map[String, String] = Map.empty): Unit = {
    buildIvfFromRows(spark, indexRows(docs, dim).localCheckpoint(), path,
      nCells, lloydIters, bitExact)
    writeCollectionMetadata(spark, path, metadata)
  }

  /** [[buildIvf]] from already-computed (and MATERIALIZED — the rows
    * are read once for training and once for the write) [[indexRows]];
    * the seam that lets one chunk+embed pass feed several layouts. */
  private[graft] def buildIvfFromRows(spark: SparkSession, rows: DataFrame,
                                      path: String, nCells: Int = 16,
                                      lloydIters: Int = 2,
                                      bitExact: Boolean = false,
                                      maxRowsPerCellFile: Int =
                                        MaxRowsPerCellFile): Unit = {
    import graft.functions.vecIndexExprs
    // deterministic seed pick: first nCells chunks by id (offline
    // build; at scale use a sampled seed set + more Lloyd steps)
    val seeds = rows.select(col("chunk_id"), col("embedding"))
      .orderBy("chunk_id").limit(nCells)
      .select(row_number().over(Window.orderBy(col("chunk_id"))).cast("long").as("cent_id"),
        col("embedding").as("cvec"))
    // default: fast float-sum centroid training (VecMeanAgg) — the
    // trained quantizer ships with the index as the _centroids
    // sidecar, so cross-execution bit-stability is normally not
    // required. bitExact = true (decimal training) makes the WHOLE
    // build reproducible bit-for-bit across executions — what the q98
    // correctness gate needs so an independently-dumped copy of the
    // index mirrors the one the query searched.
    val (ids, cents) = graft.operators.VectorSearch.ivfCentroids(
      rows, "chunk_id", "embedding", seeds, lloydIters, bitExact = bitExact)
    // repartition by the partition column BEFORE the partitioned
    // write (the appendIvf/compactIvf discipline, now on the bulk
    // build too — the r19 scale probe measured the direct write 6×
    // slower even at 50k rows): without it every upstream task
    // writes a sliver into every cell it holds rows for —
    // nTasks×nCells files, a metadata explosion at cluster scale
    // (10k tasks × 1k cells = 10M files). One exchange of the
    // finished rows buys one file per cell (hot cells excepted — see
    // cellWritePartitioning); chunk+embed still computes upstream at
    // full parallelism.
    cellWritePartitioning(
      rows.withColumn("cell",
        vecIndexExprs.nearestCell(col("embedding"), ids, cents)),
      ids.length, maxRowsPerCellFile)
      .write.mode(SaveMode.Overwrite)
      // a FULL rebuild must truncate the whole layout: dynamic mode
      // (right for build()'s per-source refresh) would leave stale
      // directories behind for any cell the rebuild no longer emits
      .option("partitionOverwriteMode", "static")
      .partitionBy("cell")
      .parquet(path)
    val s2 = spark
    import s2.implicits._
    ids.toSeq.zip(cents.toSeq.map(_.toSeq)).toDF("cent_id", "cvec")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/_centroids")
  }

  /** [[buildIvf]], executed at most once per (session, path, build
    * parameters) — the build is deterministic with bitExact = true, so
    * Verify's aux materialization and the q98 query share one physical
    * build instead of each paying chunk+embed+train+write. Parameters
    * are part of the key (see [[buildHnswOnce]]); sessions are keyed
    * by UUID, not identity hash. */
  private val builtIvfOnce =
    scala.collection.concurrent.TrieMap.empty[(String, String, Int, Int, Int, Boolean), Unit]
  def buildIvfOnce(spark: SparkSession, docs: => DataFrame, path: String,
                   nCells: Int = 16, lloydIters: Int = 2,
                   dim: Int = Embed.DefaultDim, bitExact: Boolean = false): Unit =
    builtIvfOnce.getOrElseUpdate(
      (sessionKey(spark), path, nCells, lloydIters, dim, bitExact),
      buildIvf(spark, docs, path, nCells, lloydIters, dim, bitExact))

  /** [[buildIvfOnce]] fed from pre-computed materialized rows (same
    * memo, so a rows-fed build and a docs-fed build of the same path
    * and parameters never both run — indexRows is deterministic, the
    * artifacts are identical). */
  private[graft] def buildIvfOnceRows(spark: SparkSession, rows: => DataFrame,
                                      path: String, nCells: Int = 16,
                                      lloydIters: Int = 2,
                                      dim: Int = Embed.DefaultDim,
                                      bitExact: Boolean = false): Unit =
    builtIvfOnce.getOrElseUpdate(
      (sessionKey(spark), path, nCells, lloydIters, dim, bitExact),
      buildIvfFromRows(spark, rows, path, nCells, lloydIters, bitExact))

  /** Incrementally add documents to an EXISTING IVF index without
    * retraining: new rows are assigned to cells by the persisted
    * `_centroids` quantizer (the FAISS add-with-trained-quantizer
    * flow — at 100 TB you train once on a sample and append forever,
    * re-training only when the corpus drifts). Append-mode write:
    * only the touched cell partitions gain files, existing data is
    * never rewritten, and a probe keeps pruning to its cells. The
    * caller owns dedup semantics (appending an already-indexed
    * chunk_id duplicates it — use [[upsertIvf]] to replace existing
    * documents, or [[build]]'s partition-overwrite flow for
    * idempotent re-ingest of a source). */
  def appendIvf(spark: SparkSession, docs: DataFrame, path: String,
                dim: Int = Embed.DefaultDim): Unit =
    appendIvfRows(spark, indexRows(docs, dim), path, dim)

  /** If the layout carries a `_pq` codebook sidecar (an IVF-PQ
    * build), encode the rows' codes through the PERSISTED books —
    * maintenance must never leave null `pq_code` columns behind (a
    * null code silently drops the row from every ADC candidate
    * scan). The stored `_pqmeta` encoding contract decides WHAT the
    * books describe: raw vectors, or residuals to the persisted
    * quantizer's cell centroid (in which case assignment happens
    * here, through the same `_centroids` the search probes). Plain
    * IVF layouts pass through untouched. */
  private def withPqCodeIfPresent(spark: SparkSession, path: String,
                                  rows: DataFrame): DataFrame = {
    import graft.functions.vecIndexExprs
    val pqPath = new org.apache.hadoop.fs.Path(s"$path/_pq")
    val fs = pqPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pqPath)) rows
    else if (pqEncoding(spark, path) == "residual") {
      val (ids, cents) = Relations.centroids(spark, s"$path/_centroids")
      val s2 = spark
      import s2.implicits._
      val centsDf = ids.toSeq.zip(cents.toSeq.map(_.toSeq))
        .toDF("enc_cell", "enc_cvec")
      rows
        .withColumn("enc_cell",
          vecIndexExprs.nearestCell(col("embedding"), ids, cents))
        .join(broadcast(centsDf), "enc_cell")
        .withColumn("pq_code", vecIndexExprs.pqEncode(
          zip_with(col("embedding"), col("enc_cvec"), (a, b) => a - b),
          readPqBooks(spark, path)))
        .drop("enc_cell", "enc_cvec")
    } else rows.withColumn("pq_code",
      vecIndexExprs.pqEncode(col("embedding"), readPqBooks(spark, path)))
  }

  /** [[appendIvf]] from already-computed [[indexRows]]. */
  private[graft] def appendIvfRows(spark: SparkSession, rows0: DataFrame,
                                   path: String,
                                   dim: Int = Embed.DefaultDim): Unit = {
    val (ids, cents) = Relations.centroids(spark, s"$path/_centroids")
    // the persisted quantizer is authoritative for the embedding dim —
    // appending vectors of another width would silently mis-assign
    require(cents.head.length == dim,
      s"$path was trained at dim=${cents.head.length}, append requested dim=$dim")
    cellLayout(spark, path).place(rows0)
      // one writer task per cell -> ONE file per touched cell per
      // append (the documented contract). Appends deliberately skip
      // the bulk builds' writer-skew bound: these rows are NOT
      // materialized (a count pass would re-run chunk+embed), batches
      // are incremental, and a skewed append history is what
      // compactIvf exists for. Without this every upstream
      // task writes a sliver into every cell it holds rows for —
      // measured: 8 small appends left 1138 files across 16 cells.
      // The exchange carries only the appended batch; chunk+embed
      // still computes upstream at full parallelism
      .repartition(math.max(1, ids.length), col("cell"))
      .write.mode(SaveMode.Append)
      .partitionBy("cell")
      .parquet(path)
  }

  /** Compact an IVF layout after many [[appendIvf]] batches: each
    * append adds one file per touched cell, so a long append history
    * degrades probes into many-small-file reads (open/footer cost
    * dominates the scan). Rewrites ONLY the cells holding more than
    * `maxFilesPerCell` parquet files — dynamic partition overwrite,
    * one file per rewritten cell — and leaves every other cell
    * byte-untouched. Rows, the `_centroids` quantizer, and search
    * results are unchanged: compaction is a file-layout decision, the
    * way [[appendHnsw]]'s reshard is a sharding decision. The segment
    * maintenance every append-forever index needs (FAISS/Lucene merge
    * policy, as a partition rewrite). */
  def compactIvf(spark: SparkSession, path: String,
                 maxFilesPerCell: Int = 4): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val crowded = fs.listStatus(hPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .filter(s => fs.listStatus(s.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFilesPerCell)
      .map(_.getPath.getName.stripPrefix("cell=").toLong)
    if (crowded.isEmpty) return
    val rows = Relations.parquet(spark, path)
      .filter(col("cell").isin(crowded: _*))
      // read the crowded cells BEFORE the overwrite truncates them
      // (same read-own-writes discipline as appendHnsw)
      .localCheckpoint()
    // each cell's rows land in exactly one task -> exactly one file
    // per rewritten directory — except a hot cell past the writer-skew
    // bound, which compacts to ⌈n/bound⌉ files instead of serializing
    // through one task (the goal is FEW files, not one giant one; see
    // cellWritePartitioning). No cell empties: present = touched.
    val cells = crowded.map(_.toString)
    rewriteTouched(spark, path, "cell", cells, cells.toSet,
      cellWritePartitioning(rows, crowded.size))
  }

  // ---- MMR: maximal-marginal-relevance diversity reranking ----------

  /** The greedy MMR selection over a fetched candidate set — pure and
    * integer-exact: candidates arrive as (id, simq_micros, embedding)
    * with simq_micros = floor(1e6·sim(q,d)); step 1 picks the highest
    * simq (ties to the smaller id), each later step picks
    * argmax λμ·simq(c) − (1e6−λμ)·max_{s∈selected} floor(1e6·sim(c,s))
    * (the Carbonell & Goldstein 1998 objective, micro-quantized so
    * every engine reproduces the same ranks). O(k·|cands|) pairwise
    * sims, computed lazily per step. */
  def mmrSelect(cands: Seq[(String, Long, Array[Float])], k: Int,
                lambdaMicros: Long = 500000L): Seq[(String, Int)] = {
    def cosMicros(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      math.floor(1e6 * (dot / (math.sqrt(na) * math.sqrt(nb)))).toLong
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val remaining = scala.collection.mutable.LinkedHashMap(
      cands.sortBy { case (id, sm, _) => (-sm, id) }.map(c => c._1 -> c): _*)
    // bound by DISTINCT ids — duplicate-id candidates (a
    // multi-row-per-chunk layout) collapse in the map above, and the
    // cands.length bound would then argmax over an empty remainder
    val nDistinct = remaining.size
    while (picked.length < math.min(k, nDistinct)) {
      val best =
        if (picked.isEmpty) remaining.valuesIterator.next() // highest simq
        else remaining.valuesIterator.map { case c @ (id, sm, v) =>
          val maxSim = pickedVecs.iterator.map(cosMicros(v, _)).max
          (c, lambdaMicros * sm - (1000000L - lambdaMicros) * maxSim)
        }.reduceLeft { (a, b) =>
          if (b._2 > a._2 || (b._2 == a._2 && b._1._1 < a._1._1)) b else a
        }._1
      picked += ((best._1, picked.length + 1))
      pickedVecs += best._3
      remaining.remove(best._1)
    }
    picked.toSeq
  }

  /** Diversity-aware search — the `max_marginal_relevance_search`
    * surface of the reference's retrieval ecosystem (langchain's
    * Chroma wrapper: fetch `fetchK` by similarity, greedily rerank
    * to `k` trading relevance against redundancy at `lambdaMicros`
    * /1e6). The FETCH is the distributed part (exact scan here; any
    * index family's candidate path composes — the selection only
    * needs (id, simq, vector) rows); the greedy stage runs on the
    * collected `fetchK`-row candidate set, query-sized metadata,
    * exactly where the reference ecosystem runs it (client-side on
    * the fetched page). Candidate CUT and all scores are integer
    * micros, so the DuckDB mirror re-derives identical ranks. */
  def searchTopKMmr(spark: SparkSession, path: String, queryText: String,
                    k: Int = 10, fetchK: Int = 32,
                    lambdaMicros: Long = 500000L,
                    dim: Int = Embed.DefaultDim,
                    where: Option[Column] = None): DataFrame =
    mmrOverFetchSet(spark, candidates(spark, path, where),
      collectionSpace(spark, path), Embed.embed(queryText, dim),
      k, fetchK, lambdaMicros)

  /** [[searchTopKMmr]] with the fetch routed through the IVF probe
    * path: the candidate scan prunes to the query's `probes` nearest
    * cell partitions (the [[searchTopKIvf]] pruning) before the
    * exact fetchK cut — the composition a 100 TB corpus needs, since
    * MMR's fetch is just "any candidate path that yields (id, sim,
    * vector) rows". With `probes` = the cell count it degenerates to
    * [[searchTopKMmr]] exactly (MmrSpec pins it). */
  def searchTopKMmrIvf(spark: SparkSession, path: String, queryText: String,
                       k: Int = 10, fetchK: Int = 32, probes: Int = 3,
                       lambdaMicros: Long = 500000L,
                       dim: Int = Embed.DefaultDim,
                       where: Option[Column] = None): DataFrame = {
    val qvec = Embed.embed(queryText, dim)
    val (_, cells) = probe(spark, path, qvec, probes)
    mmrOverFetchSet(spark, candidates(spark, path, where, inCells(cells)),
      collectionSpace(spark, path), qvec, k, fetchK, lambdaMicros)
  }

  /** The shared MMR tail: exact micro-quantized fetchK cut over the
    * given candidate frame, driver-side greedy selection, and the
    * presentation join back onto the same frame. The frame dedups on
    * chunk_id first — a multi-row-per-chunk layout (the bucketed LSH
    * layout stores one row per LSH table) would otherwise spend the
    * fetchK cut on copies and emit one presentation row per copy.
    * The RELEVANCE metric is the collection's space (`spaceMicros` —
    * every search surface honors `hnsw:space`); the DIVERSITY term
    * stays cosine, the reference ecosystem's MMR convention
    * (redundancy is an angular notion regardless of the ranking
    * metric). */
  private def mmrOverFetchSet(spark: SparkSession, idx: DataFrame,
                              space: String, qvec: Array[Float],
                              k: Int, fetchK: Int,
                              lambdaMicros: Long): DataFrame = {
    val uniq = idx.dropDuplicates("chunk_id")
    val cands = uniq
      .select(col("chunk_id"),
        floor(VectorOps.spaceSim(space, col("embedding"), qvec) * lit(1000000d))
          .cast("long").as("simq_micros"),
        col("embedding"))
      .orderBy(col("simq_micros").desc, col("chunk_id"))
      .limit(fetchK)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Float](2).toArray))
      .toSeq
    val sel = mmrSelect(cands, k, lambdaMicros)
    import spark.implicits._
    val selDf = sel.toDF("chunk_id", "rank")
    uniq.join(broadcast(selDf), Seq("chunk_id"))
      .select(col("rank"), col("chunk_id"), col("doc_id"), col("source"),
        col("chunk"), mmrLink)
      .orderBy(col("rank"))
  }

  /** The MMR verbs' deep link: [[deepLink]]'s text, spelled from
    * doc_id + 2 (= sheet_row) as the oracle SQL spells it. */
  private def mmrLink: Column =
    concat(lit("https://docs.google.com/spreadsheets/d/"), col("source"),
      lit("/edit#gid=0&range=A"), (col("doc_id") + 2).cast("long")).as("link")

  /** [[searchTopKMmr]] on the V4 batch surface: ONE corpus scan
    * computes every query's micro-quantized relevance (the query
    * batch rides a broadcast as columns, as on
    * [[searchTopKIvfBatchVec]]), one per-query window takes each
    * fetchK cut, and the greedy stage runs per query over its own
    * collected fetchK-row set — batch×fetchK rows total,
    * query-sized. A single-query batch reproduces [[searchTopKMmr]]
    * exactly (MmrSpec pins it). */
  def searchTopKMmrBatch(spark: SparkSession, path: String,
                         queries: Seq[(Long, String)],
                         k: Int = 10, fetchK: Int = 32,
                         lambdaMicros: Long = 500000L,
                         dim: Int = Embed.DefaultDim,
                         where: Option[Column] = None): DataFrame = {
    import spark.implicits._
    val uniq = candidates(spark, path, where).dropDuplicates("chunk_id")
    val qDf = queries.sortBy(_._1)
      .map { case (qid, t) => (qid, Embed.embed(t, dim).toSeq) }
      .toDF("query_id", "qvec")
    mmrBatchOverFetchSet(spark, path, uniq, uniq.crossJoin(broadcast(qDf)),
      k, fetchK, lambdaMicros)
  }

  /** [[searchTopKMmrIvf]] on the batch surface: the candidate scan is
    * pruned to the UNION of every query's `probes` nearest cells (the
    * [[searchTopKIvfBatch]] pruning), each query's fetch drawing only
    * from ITS probe cells via the broadcast (query, cell) probe join.
    * With `probes` = the cell count it degenerates to
    * [[searchTopKMmrBatch]] exactly (MmrSpec pins it). */
  def searchTopKMmrIvfBatch(spark: SparkSession, path: String,
                            queries: Seq[(Long, String)],
                            k: Int = 10, fetchK: Int = 32, probes: Int = 3,
                            lambdaMicros: Long = 500000L,
                            dim: Int = Embed.DefaultDim,
                            where: Option[Column] = None): DataFrame = {
    import spark.implicits._
    val (_, probed) = probeBatch(spark, path,
      queries.map { case (qid, t) => (qid, Embed.embed(t, dim)) }, probes)
    val qDf = probed.map { case (qid, v, cells) => (qid, v.toSeq, cells) }
      .toDF("query_id", "qvec", "qcells")
    val pruned = candidates(spark, path, where,
      inCells(probed.flatMap(_._3).distinct.sorted))
    val qProbe = qDf.select(col("query_id"), col("qvec"),
      explode(col("qcells")).as("qcell"))
    mmrBatchOverFetchSet(spark, path, pruned.dropDuplicates("chunk_id"),
      pruned.join(broadcast(qProbe), col("cell").cast("long") === col("qcell")),
      k, fetchK, lambdaMicros)
  }

  /** The shared batch-MMR tail: each (query_id, qvec) x candidate row
    * of `pairs` gets its micro-quantized relevance in the collection's
    * space, one per-query window takes each query's fetchK cut, the
    * collected batch×fetchK candidate set is grouped by query on the
    * driver — the same query-sized place the single-form greedy runs —
    * and [[mmrSelect]] runs unchanged per query. */
  private def mmrBatchOverFetchSet(spark: SparkSession, path: String,
                                   present: DataFrame, pairs: DataFrame,
                                   k: Int, fetchK: Int,
                                   lambdaMicros: Long): DataFrame = {
    val wFetch = Window.partitionBy(col("query_id"))
      .orderBy(col("simq_micros").desc, col("chunk_id"))
    val fetched = pairs
      .select(col("query_id"), col("chunk_id"),
        floor(VectorOps.spaceSim2(collectionSpace(spark, path),
          col("embedding"), col("qvec")) * lit(1000000d))
          .cast("long").as("simq_micros"),
        col("embedding"))
      .withColumn("frn", row_number().over(wFetch))
      .filter(col("frn") <= fetchK)
      .select(col("query_id"), col("chunk_id"), col("simq_micros"),
        col("embedding"))
      .collect()
    val sel = fetched.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .flatMap { case (qid, rows) =>
        val cs = rows.map(r =>
          (r.getString(1), r.getLong(2), r.getSeq[Float](3).toArray)).toSeq
        mmrSelect(cs, k, lambdaMicros).map { case (id, rank) => (qid, id, rank) }
      }
    import spark.implicits._
    val selDf = sel.toDF("query_id", "chunk_id", "rank")
    present.join(broadcast(selDf), Seq("chunk_id"))
      .select(col("query_id"), col("rank"), col("chunk_id"), col("doc_id"),
        col("source"), col("chunk"), mmrLink)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---- IVF-PQ: product-quantized fine codes on the IVF layout -------

  /** Default PQ geometry at the fixture dim (64): 8 subspaces × 16
    * codes × 8 dims = 8 bytes/vector — 8× smaller than the SQ8
    * column, 32× smaller than the float embedding. */
  val PqM = 8
  val PqKsub = 16

  /** [[buildIvf]] plus a PQ fine quantizer (FAISS IVF-PQ as a parquet
    * layout): rows land in their nearest-coarse-centroid cell
    * partition as in [[buildIvf]], and each row additionally carries
    * an m-byte `pq_code` (per-subspace codebook indices, trained by
    * [[graft.operators.VectorSearch.pqCodebooks]] — bit-exact decimal
    * Lloyd, so the whole artifact reproduces across executions). The
    * codebook tensor persists as a `_pq` sidecar next to
    * `_centroids`. Scale rationale: at 100 TB even 1 byte/dim SQ8
    * codes outgrow executor memory for wide embeddings; m bytes/row
    * PQ codes are the candidate-generation column that still scans
    * from RAM, with the float rerank touching only `overfetch` rows
    * per query. The layout keeps the SQ8 and LSH columns of
    * [[indexRows]], so one artifact serves every pre-rank family
    * (the q124 meter compares them on equal footing). */
  def buildIvfPq(spark: SparkSession, docs: DataFrame, path: String,
                 nCells: Int = 16, lloydIters: Int = 2,
                 m: Int = PqM, ksub: Int = PqKsub, pqIters: Int = 2,
                 dim: Int = Embed.DefaultDim,
                 metadata: Map[String, String] = Map.empty,
                 residual: Boolean = false): Unit = {
    buildIvfPqFromRows(spark, indexRows(docs, dim).localCheckpoint(), path,
      nCells, lloydIters, m, ksub, pqIters, dim, residual)
    writeCollectionMetadata(spark, path, metadata)
  }

  /** [[buildIvfPq]] from already-computed MATERIALIZED [[indexRows]].
    *
    * `residual = true` builds the encoding FAISS's actual IVFPQ uses
    * (Jégou et al. 2011 §III): codebooks train on and codes describe
    * v − centroid(cell), not v — on clustered corpora the
    * within-cell residual variance is a fraction of the corpus
    * variance, so the same m bytes hold more accuracy (the q133
    * meter measures the gap). The encoding is recorded in a
    * `_pqmeta` sidecar; search and every maintenance verb read the
    * STORED contract — a residual layout can never be silently
    * scanned or re-encoded with raw semantics. */
  private[graft] def buildIvfPqFromRows(spark: SparkSession, rows: DataFrame,
                                        path: String, nCells: Int = 16,
                                        lloydIters: Int = 2,
                                        m: Int = PqM, ksub: Int = PqKsub,
                                        pqIters: Int = 2,
                                        dim: Int = Embed.DefaultDim,
                                        residual: Boolean = false): Unit = {
    import graft.functions.vecIndexExprs
    val seeds = rows.select(col("chunk_id"), col("embedding"))
      .orderBy("chunk_id").limit(nCells)
      .select(row_number().over(Window.orderBy(col("chunk_id"))).cast("long").as("cent_id"),
        col("embedding").as("cvec"))
    val (ids, cents) = graft.operators.VectorSearch.ivfCentroids(
      rows, "chunk_id", "embedding", seeds, lloydIters, bitExact = true)
    val s2 = spark
    import s2.implicits._
    val assigned = rows
      .withColumn("cell", vecIndexExprs.nearestCell(col("embedding"), ids, cents))
    // (books, encoded-rows); sidecars write AFTER the row overwrite —
    // the Overwrite mode deletes the whole layout directory first
    val (books, encoded) =
      if (!residual) {
        val bk = graft.operators.VectorSearch.pqCodebooks(
          rows, "chunk_id", "embedding", m, ksub, pqIters, dim)
        (bk, assigned.withColumn("pq_code",
          vecIndexExprs.pqEncode(col("embedding"), bk)))
      } else {
        val centsDf = ids.toSeq.zip(cents.toSeq.map(_.toSeq))
          .toDF("cell", "enc_cvec")
        val withResid = assigned.join(broadcast(centsDf), "cell")
          .withColumn("resid",
            zip_with(col("embedding"), col("enc_cvec"), (a, b) => a - b))
          .localCheckpoint()
        val bk = graft.operators.VectorSearch.pqCodebooks(
          withResid, "chunk_id", "resid", m, ksub, pqIters, dim)
        (bk, withResid.withColumn("pq_code",
            vecIndexExprs.pqEncode(col("resid"), bk))
          .drop("enc_cvec", "resid"))
      }
    // one file per quiet cell, not one per (task, cell); hot cells
    // split by the writer-skew bound — see buildIvfFromRows's
    // repartition note and cellWritePartitioning
    cellWritePartitioning(encoded, ids.length)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "static")
      .partitionBy("cell")
      .parquet(path)
    writePqBooks(spark, path, books)
    ids.toSeq.zip(cents.toSeq.map(_.toSeq)).toDF("cent_id", "cvec")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/_centroids")
    Seq((if (residual) "residual" else "raw", m, ksub))
      .toDF("encoding", "m", "ksub")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/_pqmeta")
  }

  private def writePqBooks(spark: SparkSession, path: String,
                           books: Array[Array[Array[Float]]]): Unit = {
    val s2 = spark
    import s2.implicits._
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }.toSeq.toDF("sub", "code_id", "cvec")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/_pq")
  }

  /** The stored PQ encoding contract: "residual" or "raw". Layouts
    * built before the `_pqmeta` sidecar existed are raw. */
  private[graft] def pqEncoding(spark: SparkSession, path: String): String = {
    val mPath = new org.apache.hadoop.fs.Path(s"$path/_pqmeta")
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mPath)) "raw"
    else {
      val r = Relations.collectCached(spark, s"$path/_pqmeta").head
      r.getString(r.fieldIndex("encoding"))
    }
  }

  /** [[buildIvfPq]] executed at most once per (session, path,
    * parameters) — the q123 gate, its aux dump, and the q124 meter
    * share one physical build (see [[buildIvfOnce]]). */
  private val builtIvfPqOnce =
    scala.collection.concurrent.TrieMap.empty[(String, String, Int, Int, Int, Int, Int, Boolean), Unit]
  private[graft] def buildIvfPqOnceRows(spark: SparkSession, rows: => DataFrame,
                                        path: String, nCells: Int = 16,
                                        lloydIters: Int = 2,
                                        m: Int = PqM, ksub: Int = PqKsub,
                                        pqIters: Int = 2,
                                        residual: Boolean = false): Unit =
    builtIvfPqOnce.getOrElseUpdate(
      (sessionKey(spark), path, nCells, lloydIters, m, ksub, pqIters, residual),
      buildIvfPqFromRows(spark, rows, path, nCells, lloydIters, m, ksub,
        pqIters, Embed.DefaultDim, residual))

  /** Read the `_pq` codebook sidecar back as books[m][ksub][dsub]. */
  private[graft] def readPqBooks(spark: SparkSession, path: String)
      : Array[Array[Array[Float]]] = {
    // collectCached: the codebook is (m·ksub) tiny rows re-read by
    // every PQ search/append; columns resolve by name, not position
    val rows = Relations.collectCached(spark, s"$path/_pq")
    def sub(r: org.apache.spark.sql.Row) = r.getInt(r.fieldIndex("sub"))
    val books = Array.ofDim[Array[Array[Float]]](rows.map(sub).max + 1)
    rows.groupBy(sub).foreach { case (s, rs) =>
      books(s) = rs.sortBy(r => r.getInt(r.fieldIndex("code_id")))
        .map(r => r.getSeq[Float](r.fieldIndex("cvec")).toArray)
    }
    books
  }

  /** [[searchTopKIvf]] with the PQ-ADC pre-rank: the probed cells'
    * rows rank by the integer ADC score of their m-byte `pq_code`
    * (the scan reads only (chunk_id, pq_code)) before the exact
    * rerank of the top `overfetch`. */
  def searchTopKIvfPq(spark: SparkSession, path: String, queryText: String,
                      k: Int = 10, probes: Int = 3, overfetch: Int = 64,
                      dim: Int = Embed.DefaultDim,
                      where: Option[Column] = None,
                      includeDistance: Boolean = false,
                      include: Seq[String] = Nil): DataFrame =
    searchTopKIvfPqVec(spark, path, Embed.embed(queryText, dim), k,
      probes, overfetch, where, includeDistance, include)

  /** [[searchTopKIvfPq]] for a caller-supplied query vector. */
  def searchTopKIvfPqVec(spark: SparkSession, path: String, qvec: Array[Float],
                         k: Int = 10, probes: Int = 3, overfetch: Int = 64,
                         where: Option[Column] = None,
                         includeDistance: Boolean = false,
                         include: Seq[String] = Nil): DataFrame = {
    val (quant, cells) = probe(spark, path, qvec, probes)
    rerankPresent(spark, path,
      preRank(candidates(spark, path, where, inCells(cells)),
        adcScore(spark, path, quant, qvec, cells), overfetch),
      qvec, k, includeDistance, include)
  }

  /** Multi-query search over the IVF-PQ layout: [[searchTopKIvfBatch]]
    * with the SQ8 pre-rank swapped for per-query ADC. Each query's
    * flat LUT (m·ksub micro-unit longs) rides the broadcast probe
    * table as a column. */
  def searchTopKIvfPqBatch(spark: SparkSession, path: String,
                           queries: Seq[(Long, String)],
                           k: Int = 10, probes: Int = 3, overfetch: Int = 64,
                           dim: Int = Embed.DefaultDim,
                           where: Option[Column] = None): DataFrame =
    searchTopKIvfPqBatchVec(spark, path,
      queries.map { case (qid, t) => (qid, Embed.embed(t, dim)) },
      k, probes, overfetch, where)

  /** [[searchTopKIvfPqBatch]] for caller-supplied query vectors. */
  def searchTopKIvfPqBatchVec(spark: SparkSession, path: String,
                              queries: Seq[(Long, Array[Float])],
                              k: Int = 10, probes: Int = 3, overfetch: Int = 64,
                              where: Option[Column] = None): DataFrame = {
    val (quant, probed) = probeBatch(spark, path, queries, probes)
    val books = readPqBooks(spark, path)
    val residual = pqEncoding(spark, path) == "residual"
    import spark.implicits._
    // each query's flat LUT and, per probed cell, its residual-encoding
    // constant dot(q, centroid) (0 for raw codes) ride the probe rows
    val qDf = probed.map { case (qid, qvec, cells) =>
      (qid, graft.operators.VectorSearch.pqLut(qvec, books).flatten.toSeq, cells,
        cells.map(c => if (residual)
          graft.operators.VectorSearch.microsDot(qvec, quant.centroid(c)) else 0L))
    }.toDF("query_id", "qlut", "qcells", "qconsts")
    val rows = candidates(spark, path, where,
      inCells(probed.flatMap(_._3).distinct.sorted))
    val probeTable = qDf.select(col("query_id"), col("qlut"),
        posexplode(col("qcells")).as(Seq("qpos", "qcell")), col("qconsts"))
      .select(col("query_id"), col("qlut"), col("qcell"),
        element_at(col("qconsts"), col("qpos") + 1).as("qconst"))
    val cands = preRankBatch(rows, probeTable, col("qconst") +
      graft.functions.vecIndexExprs.pqAdcFlat(col("pq_code"), col("qlut"),
        books.head.length), overfetch)
    rerankPresentBatch(spark, path, rows, rows, cands, queries, k)
  }

  // ---- index maintenance: one rewrite core per layout family -------
  // chromadb's `collection.delete` / `upsert` / `update` contract on
  // the partitioned-parquet layouts. Every verb is `rewritePartitioned`
  // over its layout family (source, cell, shard, bucket) and a batch:
  // doomed ids (`Seq`, broadcast; `DataFrame`, kept distributed), a
  // predicate (chroma's `where=` / `where_document`), or new documents
  // replacing their (source, doc_id) identity. README "Index
  // maintenance" states the protocol: read-before-overwrite
  // checkpoint, only touched partitions rewrite (one file per
  // rewritten directory), emptied partitions are removed. A takedown
  // touching one document rewrites one partition, never the corpus.
  //
  // Concurrency contract: SINGLE WRITER per layout. Mutations
  // (delete/upsert/append/compact/rename) assume they own the layout
  // for their duration — two concurrent mutations of the same
  // partition race the dynamic overwrite (last write wins, no merge),
  // exactly as in chromadb's sqlite-backed store or a Lucene index
  // writer. Readers are always safe: they see the partition's files
  // before or after a rewrite, never half of one, and mutation-side
  // pin eviction keeps every session's next graph search current.
  // Serialize writers externally (one maintenance job per index —
  // the natural shape of a takedown/compaction pipeline).

  /** Rewrite only `touched` partition values with `out`, already
    * partitioned into its writer tasks (dynamic overwrite), then delete
    * any touched directory that `out` writes no rows into — dynamic
    * mode can only truncate partitions it writes, so a partition whose
    * every row died must be removed explicitly or stale files would
    * survive. `presentVals` = partition values present in `out`
    * (caller computes it from a checkpointed frame so the plan isn't
    * re-executed for it). */
  private def rewriteTouched(spark: SparkSession, path: String, partCol: String,
                             touched: Seq[String], presentVals: Set[String],
                             out: DataFrame): Unit = {
    out.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filterNot(presentVals).foreach { v =>
      // the directory name is the Hive-ESCAPED partition value (Spark
      // escapes e.g. ':' on write) — deleting the raw value would
      // silently miss and resurrect the "deleted" rows
      val dir = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(v)
      fs.delete(new org.apache.hadoop.fs.Path(path, s"$partCol=$dir"), true)
    }
  }

  /** A partitioned layout family as the maintenance core sees it: the
    * partition column, the sidecar that marks the family (if any), how
    * new `indexRows` are placed into it, which derived columns a
    * survivor drops before the rebuild, how the rows of a touched
    * partition are rebuilt, and what runs after a rewrite. */
  private case class Layout(partCol: String,
                            marker: Option[String] = None,
                            place: DataFrame => DataFrame = identity,
                            derived: Seq[String] = Nil,
                            rebuild: DataFrame => DataFrame = identity,
                            after: () => Unit = () => ())

  private val sourceLayout = Layout("source")

  private val bucketLayout = Layout("bucket",
    place = _.withColumn("bucket", explode(col("lsh_buckets"))).drop("lsh_buckets"))

  /** Cells: new rows go through the persisted `_centroids` quantizer
    * (and the `_pq` books, if any). The sidecars are read only when a
    * batch actually carries new rows. */
  private def cellLayout(spark: SparkSession, path: String) = Layout("cell", Some("_centroids"),
    place = { rows =>
      val (ids, cents) = Relations.centroids(spark, s"$path/_centroids")
      withPqCodeIfPresent(spark, path, rows).withColumn("cell",
        graft.functions.vecIndexExprs.nearestCell(col("embedding"), ids, cents))
    })

  /** Shards: placement by the stored shard count, and a touched shard
    * rebuilds its whole graph (adjacency stores in-shard ordinals) with
    * the stored m/efConstruction; every session's pin is evicted. */
  private def shardLayout(spark: SparkSession, path: String, meta: HnswMeta) =
    Layout("shard", Some("_meta"),
      place = _.withColumn("shard", shardOf(meta.numShards)),
      derived = Seq("hnsw_node", "hnsw_level", "hnsw_links"),
      rebuild = rows =>
        rows.join(hnswAdjacency(rows, meta.numShards, meta.m, meta.efConstruction), Seq("chunk_id")),
      after = () => evictHnswShards(spark, path))

  /** A chunk's shard among `shards`: the hash placement every HNSW
    * write path shares. */
  private def shardOf(shards: Int): Column =
    pmod(xxhash64(col("chunk_id")), lit(shards.toLong)).cast("int")

  /** One maintenance batch: the rows it removes, or the rows it
    * upserts (which remove every row of their identities). */
  private sealed trait Batch
  private case object NoRows extends Batch
  /** Doomed rows as a semi/anti pair over a layout frame. */
  private case class Doomed(of: DataFrame => DataFrame, rest: DataFrame => DataFrame) extends Batch
  /** New `indexRows`, replacing every existing row of their identities. */
  private case class Upsert(rows: DataFrame) extends Batch

  /** A chroma document's identity: upsert replaces ALL its chunks, so a
    * shorter revision leaves no stale tail chunk behind. */
  private val IdentityKey = Seq("source", "doc_id")

  /** A driver-sized id list, broadcast into the semi/anti joins. */
  private def doomedIds(spark: SparkSession, ids: Seq[String]): Batch =
    if (ids.isEmpty) NoRows
    else {
      import spark.implicits._
      val doomed = ids.toDF("chunk_id")
      Doomed(_.join(broadcast(doomed), Seq("chunk_id"), "left_semi"),
        _.join(broadcast(doomed), Seq("chunk_id"), "left_anti"))
    }

  /** The mass-takedown form: the id set stays distributed end to end
    * (a 100 TB takedown list does not fit a driver `Seq`) and the joins
    * are left to AQE. Checkpointed once, so the id-producing plan runs
    * a single time across the touched-partition probe and the
    * survivor anti-join. Extra columns are projected away. */
  private def doomedIds(ids: DataFrame): Batch = {
    require(ids.columns.contains("chunk_id"),
      s"id frame must carry a chunk_id column, has [${ids.columns.mkString(",")}]")
    val doomed = ids.select("chunk_id").distinct().localCheckpoint()
    Doomed(_.join(doomed, Seq("chunk_id"), "left_semi"),
      _.join(doomed, Seq("chunk_id"), "left_anti"))
  }

  /** chroma's `delete(where=..., where_document=...)`: rows where `pred`
    * is null are kept (only a definite match is doomed). */
  private def doomedWhere(pred: Column): Batch = {
    val p = pred <=> lit(true)
    Doomed(_.filter(p), _.filter(!p))
  }

  /** THE rewrite core of the partitioned layouts (README "Index
    * maintenance"): find the partitions holding a doomed row or
    * receiving a new one, read them (minus the doomed rows) into a
    * checkpoint, rewrite only those with the layout's rebuild over the
    * survivors and placed new rows, remove any that emptied, run the
    * layout's after-hook. */
  private def rewritePartitioned(spark: SparkSession, path: String,
                                 layout: Layout, batch: Batch): Unit = {
    if (batch == NoRows) return
    val partCol = layout.partCol
    val upsert = batch.isInstanceOf[Upsert]
    val parts = Relations.partitionDirs(spark, path)
    val partDirs = parts.getOrElse(Nil)
    val emptied = parts.exists(_.isEmpty)
    // a missing path, or a layout whose every partition emptied, has
    // nothing to delete — a legitimate no-op, not a wrong-verb call
    if (partDirs.isEmpty && !upsert) return
    // the wrong-verb guard: a verb of another family would rewrite
    // into partition directories of the WRONG column — corrupting the
    // layout, not failing
    require(partDirs.isEmpty || partDirs.exists(_.getPath.getName.startsWith(s"$partCol=")),
      s"$path is not partitioned by '$partCol' — use the delete/upsert " +
        "verb matching the layout family (source/cell/shard)")
    // an emptied layout has no partition left to name its family, but
    // its sidecars still do: an upsert of another family (or into a
    // lexical layout) must fail here, not write beside them
    if (emptied) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val found = Seq("_centroids", "_meta", "_analyzer")
        .filter(s => fs.exists(new org.apache.hadoop.fs.Path(path, s)))
      require(found == layout.marker.toSeq,
        s"$path is an emptied layout with sidecar(s) [${found.mkString(", ")}] — use the " +
          "upsert verb matching the layout family (source/cell/shard/bucket, or the " +
          "LexicalStore verbs for a lexical layout)")
    }
    // an emptied layout has no rows to read, but an upsert still
    // inserts into it (a missing path still fails on this read). Read
    // on first use: a keyed upsert (below) needs no read to find its
    // touched partitions.
    lazy val all = {
      val a = if (emptied) None
              else Some(Relations.parquet(spark, path))
      // the lexical guard: LexicalStore layouts also partition by
      // bucket=, so the directory check cannot tell them from an LSH
      // row layout, and a where-flavor predicate could silently match
      a.foreach(l => require(!(l.columns.contains("term") && !l.columns.contains("chunk_id")), {
        val fam = if (l.columns.contains("positions")) "lexical-positional"
                  else "lexical-postings"
        s"$path is a $fam layout (term column, no chunk_id) — " +
          "use the LexicalStore verbs (deleteLexical and, for the scoring " +
          "layout, upsertLexical/compactLexical), not the vector-index " +
          "maintenance family"
      }))
      a
    }
    // keyed: the partition column is part of the identity, so an
    // upserted document's old rows live where its new rows land — the
    // new rows alone name every touched partition, and none can empty
    val keyed = IdentityKey.contains(partCol)
    val adds = batch match {
      case Upsert(rows) =>
        // a placed partition column takes the READ schema's native
        // type, so every partition predicate below prunes directories
        val readType = if (keyed) None else all.map(_.schema(partCol).dataType)
        val placed = layout.place(rows)
        Some(readType.fold(placed)(t => placed.withColumn(partCol, col(partCol).cast(t)))
          .localCheckpoint())
      case _ => None
    }
    val doomed = batch match {
      case d: Doomed => d
      case _ =>
        val keys = adds.get.select(IdentityKey.map(col): _*).distinct()
        Doomed(_.join(broadcast(keys), IdentityKey, "left_semi"),
          _.join(broadcast(keys), IdentityKey, "left_anti"))
    }
    val newRowsCoverOld = adds.isDefined && (keyed || all.isEmpty)
    val oldParts = if (newRowsCoverOld) None else all.map(doomed.of(_).select(partCol))
    // NATIVE-typed partition values (never stringified in the plan):
    // the isin below must stay a bare predicate on the partition column
    // so it prunes directories at planning time
    val touched = (oldParts ++ adds.map(_.select(partCol))).reduce(_.union(_))
      .distinct().collect().map(_.get(0)).toSeq.sortBy(_.toString)
    if (touched.isEmpty) return
    val survivors = all.map(a => doomed.rest(a.filter(col(partCol).isin(touched: _*)))
      .drop(layout.derived: _*)
      // read the touched partitions BEFORE the overwrite truncates them
      .localCheckpoint())
    val rows = (survivors ++ adds).reduce((s, a) =>
      s.unionByName(a.select(s.columns.toIndexedSeq.map(col): _*)))
    val present =
      if (newRowsCoverOld) touched.map(_.toString).toSet
      else rows.select(partCol).distinct().collect().map(_.get(0).toString).toSet
    rewriteTouched(spark, path, partCol, touched.map(_.toString), present,
      // one writer task per partition -> one file per rewritten directory
      layout.rebuild(rows).repartition(touched.size, col(partCol)))
    layout.after()
  }

  /** chroma `collection.get`: retrieval WITHOUT a query vector — by
    * explicit ids and/or a metadata/document predicate (the same
    * Column family as the search paths' `where=`), deterministically
    * ordered by chunk_id with limit/offset paging (chroma pages its
    * get the same way).
    *
    * `include` mirrors the chromadb 0.4.6 `Collection.get(include=)`
    * vocabulary (documents/metadatas/embeddings — no distances: a get
    * has no query to be distant from). Empty = the legacy projection
    * (= chroma's documents+metadatas default). ids (chunk_id) always
    * return. The default never reads the vectors, so column pruning
    * keeps it a narrow scan; only an explicit `include=embeddings`
    * pays the vector bytes — and only for the returned page. On the
    * source-partitioned layout a source predicate prunes directories
    * exactly as in [[searchTopK]]. Works against any of the index
    * layouts (the extra layout columns are projected away).
    *
    * At scale: offset paging is a global sort-limit (CollectLimit
    * with offset) — fine for page-sized reads, which is what the API
    * is for; bulk export should read the parquet directly. */
  def get(spark: SparkSession, path: String, ids: Seq[String] = Nil,
          where: Option[Column] = None,
          limit: Int = 100, offset: Int = 0,
          include: Seq[String] = Nil): DataFrame = {
    require(limit > 0 && offset >= 0, s"bad page: limit=$limit offset=$offset")
    val getIncludes = QueryIncludes - "distances"
    require(include.forall(getIncludes),
      s"get include must be among ${getIncludes.mkString(", ")}, got $include")
    requireRows(spark, path)
    val all = Relations.parquet(spark, path)
    val byIds =
      if (ids.isEmpty) all
      else {
        import spark.implicits._
        all.join(broadcast(ids.toDF("chunk_id")), Seq("chunk_id"), "left_semi")
      }
    val cols =
      if (include.isEmpty)
        Seq(col("chunk_id"), col("doc_id"), col("source"), col("chunk"))
      else
        Seq(col("chunk_id")) ++
          (if (include.contains("metadatas"))
            Seq(col("doc_id"), col("source")) else Nil) ++
          (if (include.contains("documents")) Seq(col("chunk")) else Nil) ++
          (if (include.contains("embeddings")) Seq(col("embedding")) else Nil)
    where.fold(byIds)(byIds.filter)
      .select(cols: _*)
      .orderBy("chunk_id")
      .offset(offset)
      .limit(limit)
  }

  /** chroma `collection.count`: corpus size of the layout at `path`
    * (parquet footer metadata — no row scan); 0 for a layout whose
    * every partition was deleted. */
  def count(spark: SparkSession, path: String): Long =
    if (emptied(spark, path)) 0L else Relations.parquet(spark, path).count()

  /** True when the layout at `path` exists but has no partition
    * directory left — the maintenance cores' predicate. */
  private def emptied(spark: SparkSession, path: String): Boolean =
    Relations.partitionDirs(spark, path).exists(_.isEmpty)

  /** Fail by name, from a directory listing before any job or pin
    * load, on a layout whose every partition was deleted: the read
    * stages (probe, candidates, the HNSW pin) and [[get]] have no
    * rows to infer a schema from. */
  private def requireRows(spark: SparkSession, path: String): Unit =
    require(!emptied(spark, path),
      s"layout at $path holds no rows: every partition was deleted")

  /** Per-source chunk inventory of a layout — the maintenance gates'
    * shared observable (q108 batch upsert, q113 streaming upsert): a
    * stale tail chunk, a duplicated id, or a lost sibling row all
    * shift it, where a top-k search could miss all three. ONE
    * definition so the gates can never drift apart. */
  def inventoryBySource(layout: DataFrame): DataFrame =
    layout.groupBy(col("source"))
      // fully qualified: IndexStore.count (the chroma API) shadows
      // functions.count inside this object
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(length(col("chunk"))).cast("long").as("sum_chunk_chars"),
        max(length(col("chunk"))).as("max_chunk_len"))
      .orderBy("source")

  /** chroma `collection.peek`: the first `n` chunks by id. */
  def peek(spark: SparkSession, path: String, n: Int = 10): DataFrame =
    get(spark, path, limit = n)

  /** chroma `collection.modify(name=...)`: rename a persisted layout.
    * An atomic directory move — no data rewrite at ANY corpus size
    * (the sidecars `_centroids`/`_meta` ride inside the directory, so
    * the layout stays self-describing at its new name). Every
    * session's pin on the old path is released first; build-once
    * memos key by path, so lifecycles against the new path revalidate
    * from the on-disk layout rather than trusting a stale memo. */
  def renameCollection(spark: SparkSession, path: String, newPath: String): Unit = {
    val src = new org.apache.hadoop.fs.Path(path)
    val dst = new org.apache.hadoop.fs.Path(newPath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(src), s"no collection at $path")
    require(!fs.exists(dst), s"destination $newPath already exists")
    // rename FIRST, then drop cached state: a search racing the rename
    // then fails loudly on the missing old path instead of re-pinning
    // pre-rename data that would silently serve stale rows later
    require(fs.rename(src, dst), s"rename $path -> $newPath failed")
    evictHnswShards(spark, path)
    // the old name is free again — drop every session's build-once memo
    // for it, or a later build-once at the freed name would silently
    // no-op against a directory that no longer exists
    builtIvfOnce.keys.filter(_._2 == path).foreach(builtIvfOnce.remove)
    builtHnswOnce.keys.filter(_._2 == path).foreach(builtHnswOnce.remove)
    builtIvfPqOnce.keys.filter(_._2 == path).foreach(builtIvfPqOnce.remove)
    LexicalStore.dropBuildMemos(path)
  }

  /** chroma `collection.fork(new_name=...)`: an independent copy of
    * the collection at a new name — mutations to either side never
    * touch the other (the branch-an-experiment / snapshot-before-
    * takedown flow). Every layout family forks as-is: the copy takes
    * the partition directories AND the underscore sidecars
    * (`_centroids`, `_pq`, `_meta`, `_collmeta`), so the fork serves
    * searches immediately with the same trained quantizers. Here the
    * fork is a metadata-level copy where the filesystem allows it:
    * on a local (POSIX) fs the tree is re-created with HARDLINKS to
    * the source's immutable files — no data bytes move at any corpus
    * size, and since every mutation verb rewrites whole partition
    * files (delete-old + write-new, never in-place), a later mutation
    * of either side silently un-shares only the touched partitions —
    * exactly the copy-on-rewrite contract chroma 1.x implements on
    * its segment files. On filesystems without link support (object
    * stores) the fallback is the physical recursive copy. */
  def forkCollection(spark: SparkSession, path: String, newPath: String): Unit = {
    val src = new org.apache.hadoop.fs.Path(path)
    val dst = new org.apache.hadoop.fs.Path(newPath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = src.getFileSystem(conf)
    require(fs.exists(src), s"no collection at $path")
    require(!fs.exists(dst), s"fork destination $newPath already exists")
    val linked = fs.getScheme == "file" && {
      val from = java.nio.file.Paths.get(fs.makeQualified(src).toUri.getPath)
      val to = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
      try { linkTree(from, to); true }
      catch { case _: java.nio.file.FileSystemException |
                   _: UnsupportedOperationException =>
        // links unsupported on this mount (or a cross-device layout):
        // remove the partial tree and fall through to the byte copy
        fs.delete(dst, true); false
      }
    }
    if (!linked)
      require(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
        /* deleteSource = */ false, conf), s"fork copy $path -> $newPath failed")
  }

  /** Re-create `from`'s directory tree at `to`, hardlinking every
    * regular file (data + sidecars + checksum files all share bytes
    * with the source; parquet immutability makes that safe). */
  private def linkTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val stream = java.nio.file.Files.walk(from)
    try stream.forEach { p =>
      val t = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.createLink(t, p)
    } finally stream.close()
  }

  /** chroma `client.delete_collection`: remove the layout directory —
    * data, sidecars, everything under it — and release every session's
    * pins and build-once memos for the name, so a later same-name
    * create really builds. One recursive fs delete, no data scan. */
  def deleteCollection(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no collection at $path")
    evictHnswShards(spark, path)
    require(fs.delete(p, true), s"delete of $path failed")
    builtIvfOnce.keys.filter(_._2 == path).foreach(builtIvfOnce.remove)
    builtHnswOnce.keys.filter(_._2 == path).foreach(builtHnswOnce.remove)
    builtIvfPqOnce.keys.filter(_._2 == path).foreach(builtIvfPqOnce.remove)
    LexicalStore.dropBuildMemos(path)
  }

  /** chroma `client.get_or_create_collection`: if a layout already
    * exists at `path`, return its STORED metadata untouched — chroma
    * ignores the requested metadata on the get leg, and so does this
    * (the existence probe is one fs stat; no build, no data touched).
    * Otherwise run `create` (any build* call that writes the layout)
    * and attach `metadata`. Returns the collection's effective
    * metadata either way. */
  def getOrCreateCollection(spark: SparkSession, path: String,
                            metadata: Map[String, String] = Map.empty)
                           (create: => Unit): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      create
      require(fs.exists(p),
        s"create block did not write a layout at $path")
      writeCollectionMetadata(spark, path, metadata)
    }
    collectionMetadata(spark, path)
  }

  /** chroma `client.list_collections`: the (non-hidden) child
    * directories of a collections root, sorted — a filesystem listing,
    * metadata-only at any corpus size. */
  def listCollections(spark: SparkSession, rootPath: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(rootPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
  }

  /** Operational description of a persisted collection — the verb an
    * on-call engineer (or an orchestrator deciding which maintenance
    * path applies) runs first: layout family inferred from the
    * partition column, which trained sidecars ride along
    * (`_centroids`/`_pq`/`_meta`/`_collmeta`/`_tombstones`), the
    * collection's distance space, row/partition counts and stored
    * vector dim. Footer/driver metadata only — the single row scan is
    * the one head() for the dim; no corpus pass. */
  def describeCollection(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no collection at $path")
    def has(side: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/$side"))
    val df = Relations.parquet(spark, path)
    val entries = fs.listStatus(p).map(_.getPath.getName)
    val partCol = Seq("source", "cell", "bucket", "shard")
      .find(c => entries.exists(_.startsWith(c + "=")))
    // the token-vector (ColBERT) layout also cell-partitions but its
    // rows are per-TOKEN (tokvec column) and its maintenance verbs
    // differ (deleteColbert family) — misrouting it to the IVF verbs
    // is exactly what this report exists to prevent
    // `bucket=` is ambiguous between THREE families: LSH row layouts
    // (chunk_id + embedding rows), LexicalStore scoring postings
    // (term + tf/df/len rows) and LexicalStore POSITIONAL postings
    // (term + positions rows — phrase/NEAR/snippet land here, and the
    // scoring verbs would misroute on it). `positions` then `term`
    // are the disambiguators — an orchestrator routed by this report must send
    // lexical layouts to the LexicalStore verbs, never the vector
    // maintenance family (rewritePartitioned enforces the same
    // probe loudly on the verb side).
    val family = partCol match {
      case Some("cell") if df.columns.contains("tokvec") => "colbert-token-ivf"
      case Some("cell") if has("_pq") => "ivf-pq"
      case Some("cell")               => "ivf-sq"
      case Some("bucket") if df.columns.contains("positions") =>
        "lexical-positional"
      case Some("bucket") if df.columns.contains("term") => "lexical-postings"
      case Some("bucket")             => "lsh-bucketed"
      case Some("shard")              => "hnsw-sharded"
      case Some("source")             => "source-partitioned"
      case _                          => "flat"
    }
    // partition count from the directory listing the fs already
    // returned — the distinct-count alternative is a corpus-sized scan
    val nParts = partCol.map(c =>
      entries.count(_.startsWith(c + "=")).toLong).getOrElse(1L)
    val vecCol = Seq("embedding", "tokvec").find(df.columns.contains)
    val dim = vecCol.flatMap(c =>
      df.select(size(col(c))).head(1).headOption.map(_.getInt(0).toLong))
      .getOrElse(0L)
    // a postings layout ranks by BM25, not a vector distance — the
    // _collmeta-derived space (with its cosine default) is a vector-
    // family concept and would misreport here
    val space =
      if (family == "lexical-postings") "bm25"
      else if (family == "lexical-positional") "positional"
      else collectionSpace(spark, path)
    Seq((path, family, partCol.getOrElse(""), count(spark, path), nParts,
        dim, space,
        has("_centroids"), has("_pq"), has("_meta"), has("_collmeta"),
        has("_tombstones")))
      .toDF("path", "family", "partition_col", "n_rows", "n_partitions",
        "dim", "space", "has_centroids", "has_pq", "has_hnsw_meta",
        "has_collmeta", "has_tombstones")
  }

  /** Delete chunks by id from a [[build]] source-partitioned layout. */
  def deleteIds(spark: SparkSession, path: String, ids: Seq[String]): Unit =
    rewritePartitioned(spark, path, sourceLayout, doomedIds(spark, ids))

  /** [[deleteIds]] with the id list as a DataFrame (`chunk_id`
    * column) — the mass-takedown form for lists that don't fit a
    * driver allocation; the id set stays distributed. */
  def deleteIds(spark: SparkSession, path: String, ids: DataFrame): Unit =
    rewritePartitioned(spark, path, sourceLayout, doomedIds(ids))

  /** Delete every chunk matching a metadata/document predicate from a
    * [[build]] source-partitioned layout (a `$contains` is
    * `col("chunk").contains(...)`). Rows where `pred` is null are
    * kept. */
  def deleteWhere(spark: SparkSession, path: String, pred: Column): Unit =
    rewritePartitioned(spark, path, sourceLayout, doomedWhere(pred))

  /** [[deleteWhere]] on an IVF layout (the `_centroids` quantizer is
    * untouched — deletion never changes the trained cell geometry). */
  def deleteWhereIvf(spark: SparkSession, path: String, pred: Column): Unit =
    rewritePartitioned(spark, path, cellLayout(spark, path), doomedWhere(pred))

  /** [[deleteWhere]] on an HNSW layout (touched shards rebuild their
    * graphs). */
  def deleteWhereHnsw(spark: SparkSession, path: String, pred: Column): Unit =
    rewritePartitioned(spark, path, shardLayout(spark, path, readHnswMeta(spark, path)),
      doomedWhere(pred))

  /** Delete chunks by id from an IVF layout. */
  def deleteIdsIvf(spark: SparkSession, path: String, ids: Seq[String]): Unit =
    rewritePartitioned(spark, path, cellLayout(spark, path), doomedIds(spark, ids))

  /** [[deleteIdsIvf]] with a DataFrame id list (mass-takedown form). */
  def deleteIdsIvf(spark: SparkSession, path: String, ids: DataFrame): Unit =
    rewritePartitioned(spark, path, cellLayout(spark, path), doomedIds(ids))

  /** Delete chunks by id from a [[buildBucketed]] LSH layout: a chunk
    * has one row PER LSH table, so the doomed set spans up to
    * LshTables bucket partitions (a row surviving in ANY bucket would
    * resurrect the chunk in probes of that bucket). */
  def deleteIdsBucketed(spark: SparkSession, path: String, ids: Seq[String]): Unit =
    rewritePartitioned(spark, path, bucketLayout, doomedIds(spark, ids))

  /** [[deleteIdsBucketed]] with a DataFrame id list (mass-takedown
    * form). */
  def deleteIdsBucketed(spark: SparkSession, path: String, ids: DataFrame): Unit =
    rewritePartitioned(spark, path, bucketLayout, doomedIds(ids))

  /** [[deleteWhere]] on a bucketed LSH layout. */
  def deleteWhereBucketed(spark: SparkSession, path: String, pred: Column): Unit =
    rewritePartitioned(spark, path, bucketLayout, doomedWhere(pred))

  /** Upsert documents into a bucketed LSH layout. Bucket placement is
    * the pure LSH hash of the new embeddings — no trained state to
    * consult. */
  def upsertBucketed(spark: SparkSession, docs: DataFrame, path: String,
                     dim: Int = Embed.DefaultDim): Unit =
    rewritePartitioned(spark, path, bucketLayout, Upsert(indexRows(docs, dim)))

  /** Delete chunks by id from an HNSW layout: touched shards rebuild
    * their graphs over the survivors (the [[appendHnsw]] maintenance
    * unit); untouched shards keep their bytes. */
  def deleteIdsHnsw(spark: SparkSession, path: String, ids: Seq[String]): Unit =
    rewritePartitioned(spark, path, shardLayout(spark, path, readHnswMeta(spark, path)),
      doomedIds(spark, ids))

  /** [[deleteIdsHnsw]] with a DataFrame id list (mass-takedown form). */
  def deleteIdsHnsw(spark: SparkSession, path: String, ids: DataFrame): Unit =
    rewritePartitioned(spark, path, shardLayout(spark, path, readHnswMeta(spark, path)),
      doomedIds(ids))

  /** Upsert documents into a [[build]] source-partitioned layout —
    * chroma's `collection.upsert`: replacing a (source, doc_id)
    * identity deletes ALL its existing chunks before inserting the
    * re-chunked rows. */
  def upsertDocs(spark: SparkSession, docs: DataFrame, path: String,
                 dim: Int = Embed.DefaultDim): Unit =
    rewritePartitioned(spark, path, sourceLayout, Upsert(indexRows(docs, dim)))

  /** Upsert documents into an IVF layout: new rows are assigned
    * through the persisted `_centroids` quantizer (and PQ-encoded if
    * the layout has `_pq` books). Closes the documented appendIvf
    * footgun (appending an existing chunk silently duplicated it —
    * upsert replaces instead). */
  def upsertIvf(spark: SparkSession, docs: DataFrame, path: String): Unit = {
    val (_, cents) = Relations.centroids(spark, s"$path/_centroids")
    rewritePartitioned(spark, path, cellLayout(spark, path),
      Upsert(indexRows(docs, cents.head.length)))
  }

  /** [[graft.operators.VectorSearch.retrainAdvice]] against a
    * PERSISTED IVF layout — the maintenance-policy companion to
    * [[appendIvf]]/[[upsertIvf]]'s train-once/append-forever
    * convention: the indexed rows are the training distribution, the
    * `_centroids` sidecar (the exact quantizer maintenance assigns
    * through) is the model under test, and `recent` is the batch a
    * caller is about to append. `should_retrain = true` means the
    * sidecar no longer describes the data and the next maintenance
    * window should be a [[buildIvf]] rebuild, not another append.
    * At 100 TB pass a deterministic sample of the layout as the
    * train side via `trainSample` (a fraction in (0,1]; sampling is
    * the md5-bucket split kernel, so the same rows sample on every
    * call). */
  def retrainAdvice(spark: SparkSession, path: String, recent: DataFrame,
                    recentVecCol: String = "embedding",
                    quantile: Double = 0.95, driftFrac: Double = 0.5,
                    trainSample: Double = 1.0): DataFrame = {
    require(trainSample > 0 && trainSample <= 1, s"bad trainSample $trainSample")
    val buckets = math.round(trainSample * 256)
    // a fraction under 1/512 rounds to zero md5 buckets — an empty
    // train side has no threshold and retrainAdvice returns no rows;
    // fail loudly instead
    require(trainSample >= 1.0 || buckets >= 1,
      s"trainSample $trainSample selects zero of 256 md5 buckets")
    val (_, cents) = Relations.centroids(spark, s"$path/_centroids")
    val all = Relations.parquet(spark, path)
    val train =
      if (trainSample >= 1.0) all
      else all.filter(
        graft.operators.Corpus.md5Bucket(col("chunk_id")) < buckets)
    graft.operators.VectorSearch.retrainAdvice(
      train, "chunk_id", "embedding", cents,
      recent, recentVecCol, quantile, driftFrac)
  }

  /** Upsert documents into an HNSW layout: shard placement, m and
    * efConstruction come from the stored `_meta` contract. Upserts
    * roughly preserve corpus size, so no reshard check — growth
    * belongs to [[appendHnsw]]. */
  def upsertHnsw(spark: SparkSession, docs: DataFrame, path: String): Unit = {
    val meta = readHnswMeta(spark, path)
    rewritePartitioned(spark, path, shardLayout(spark, path, meta),
      Upsert(indexRows(docs, meta.dim)))
  }

  // ---- chroma collection.update: modify EXISTING identities only ----

  /** `upsert` of the identities of `docs` already present in the
    * layout at `path` — the chroma `collection.update` contract,
    * distinct from upsert: an unknown id is silently skipped (chroma
    * logs and ignores it), never inserted. The existence probe reads only (source, doc_id)
    * — a column-pruned metadata-cheap scan at any corpus size. A
    * layout whose every partition was deleted holds no identity, so
    * the update is skipped without reading it. */
  private def updateExisting(spark: SparkSession, docs: DataFrame, path: String)
                            (upsert: DataFrame => Unit): Unit =
    if (!emptied(spark, path)) {
      val existing = Relations.parquet(spark, path)
        .select(col("source"), col("doc_id")).distinct()
      upsert(docs.join(existing, Seq("source", "doc_id"), "left_semi"))
    }

  /** chroma `collection.update` on the source layout: [[upsertDocs]]
    * restricted to already-present (source, doc_id) identities. Same
    * touched-partition-only rewrite; a batch of entirely-new
    * identities is a no-op. */
  def updateDocs(spark: SparkSession, docs: DataFrame, path: String,
                 dim: Int = Embed.DefaultDim): Unit =
    updateExisting(spark, docs, path)(upsertDocs(spark, _, path, dim))

  /** [[updateDocs]] for the IVF layout (via [[upsertIvf]]'s
    * touched-cell rewrite through the persisted quantizer). */
  def updateIvf(spark: SparkSession, docs: DataFrame, path: String): Unit =
    updateExisting(spark, docs, path)(upsertIvf(spark, _, path))

  /** [[updateDocs]] for the HNSW layout (via [[upsertHnsw]]'s
    * touched-shard graph rebuild). */
  def updateHnsw(spark: SparkSession, docs: DataFrame, path: String): Unit =
    updateExisting(spark, docs, path)(upsertHnsw(spark, _, path))

  /** ANN search over the IVF-partitioned layout: probe the `probes`
    * nearest cells (the cell predicate resolves to partition
    * directories at planning time), SQ8 pre-rank inside them, exact
    * rerank of the top `overfetch`. `where` applies before the
    * pre-rank cut, so the cut is spent on rows that can be returned
    * (a post-filter would silently return fewer than k). */
  def searchTopKIvf(spark: SparkSession, path: String, queryText: String,
                    k: Int = 10, probes: Int = 3, overfetch: Int = 32,
                    dim: Int = Embed.DefaultDim,
                    where: Option[Column] = None,
                    includeDistance: Boolean = false,
                    include: Seq[String] = Nil): DataFrame =
    searchTopKIvfVec(spark, path, Embed.embed(queryText, dim), k,
      probes, overfetch, where, includeDistance, include)

  /** [[searchTopKIvf]] for a caller-supplied query vector (the
    * `query_embeddings` form; probe cells and the SQ8 code come from
    * the given vector against the stored quantizer). */
  def searchTopKIvfVec(spark: SparkSession, path: String, qvec: Array[Float],
                       k: Int = 10, probes: Int = 3, overfetch: Int = 32,
                       where: Option[Column] = None,
                       includeDistance: Boolean = false,
                       include: Seq[String] = Nil): DataFrame = {
    val (_, cells) = probe(spark, path, qvec, probes)
    rerankPresent(spark, path,
      preRank(candidates(spark, path, where, inCells(cells)), sq8Score(qvec), overfetch),
      qvec, k, includeDistance, include)
  }

  /** Search explain for the IVF layout — the vector-side counterpart
    * of [[graft.sources.LexicalStore.explainScore]]: for each hit of
    * [[searchTopKIvfVec]]'s page, every stage the pipeline ranked it
    * through, as exact integers — `cell` (the stored coarse-quantizer
    * assignment), `probe_pos` (1-based position of that cell in the
    * query's probe list — which probe FOUND the hit), `approx_rank`
    * (its SQ8 pre-rank position among the `overfetch` candidates),
    * `approx_micros` = ⌊1e6·(SQ8 dot × factors)⌋ (the quantized
    * pre-rank score), `rank` (exact-rerank position — the page rank)
    * and `sim_micros` = ⌊1e6·sim⌋ (the quantized exact score). The
    * micro-quantizations exist for the oracle contract: the
    * underlying doubles come from expression trees a mirroring
    * engine reproduces bit-for-bit (the q115 IEEE argument), so the
    * floors are identical integers. "Why did X outrank Y" reads as
    * two rows: same probed cell or not, pre-rank vs rerank inversion
    * (an SQ8 inversion the exact rerank corrected is VISIBLE here —
    * approx_rank and rank disagree). Same pruned read, candidate
    * generation and rerank expressions as the search verb, with the
    * probe-position lookup (in the probed-cells literal) the only
    * addition; k rows out, ordered by rank. */
  def explainSearchIvf(spark: SparkSession, path: String, queryText: String,
                       k: Int = 10, probes: Int = 3, overfetch: Int = 32,
                       dim: Int = Embed.DefaultDim,
                       where: Option[Column] = None): DataFrame =
    explainSearchIvfVec(spark, path, Embed.embed(queryText, dim), k,
      probes, overfetch, where)

  /** [[explainSearchIvf]] for a caller-supplied query vector. */
  def explainSearchIvfVec(spark: SparkSession, path: String,
                          qvec: Array[Float], k: Int = 10,
                          probes: Int = 3, overfetch: Int = 32,
                          where: Option[Column] = None): DataFrame = {
    val (_, cells) = probe(spark, path, qvec, probes)
    explainIvfFamily(spark, path, candidates(spark, path, where, inCells(cells)),
      cells, qvec, k, overfetch, sq8Score(qvec), "approx",
      floor(lit(1000000.0d) * col("approx")).cast("long").as("approx_micros"))
  }

  /** [[explainSearchIvf]] for the IVF-PQ layout — completing the
    * explain family across every scoring path (lexical q222/q224,
    * weighted-OR q225/q228, boolean q226, multi-field q229, RRF
    * q232, IVF-SQ q233): per returned hit — stored cell, which probe
    * found it, its integer-ADC pre-rank position and the ADC score
    * itself (already exact integer micros, no quantization needed —
    * the LUT is micro-quantized at construction), the exact-rerank
    * position and the micro-quantized exact score. A residual layout
    * explains through the same dot(q,c)+ADC(residual) constant the
    * search ranks with. Same pruned read and expressions as
    * [[searchTopKIvfPqVec]]; k rows out, ordered by rank. */
  def explainSearchIvfPq(spark: SparkSession, path: String, queryText: String,
                         k: Int = 10, probes: Int = 3, overfetch: Int = 64,
                         dim: Int = Embed.DefaultDim,
                         where: Option[Column] = None): DataFrame =
    explainSearchIvfPqVec(spark, path, Embed.embed(queryText, dim), k,
      probes, overfetch, where)

  /** [[explainSearchIvfPq]] for a caller-supplied query vector. */
  def explainSearchIvfPqVec(spark: SparkSession, path: String,
                            qvec: Array[Float], k: Int = 10,
                            probes: Int = 3, overfetch: Int = 64,
                            where: Option[Column] = None): DataFrame = {
    val (quant, cells) = probe(spark, path, qvec, probes)
    explainIvfFamily(spark, path, candidates(spark, path, where, inCells(cells)),
      cells, qvec, k, overfetch, adcScore(spark, path, quant, qvec, cells), "adc",
      col("adc"))
  }

  /** Multi-query search over the IVF layout — chroma's
    * `query(query_texts=[...])` batch surface. ONE scan prunes to the
    * UNION of all queries' probe cells, and the exploded (query_id,
    * cell) probe table fans each row out to only the queries probing
    * its cell; SQ8 pre-rank and exact rerank are windowed per query. */
  def searchTopKIvfBatch(spark: SparkSession, path: String,
                         queries: Seq[(Long, String)],
                         k: Int = 10, probes: Int = 3, overfetch: Int = 32,
                         dim: Int = Embed.DefaultDim,
                         where: Option[Column] = None): DataFrame =
    searchTopKIvfBatchVec(spark, path,
      queries.map { case (qid, t) => (qid, Embed.embed(t, dim)) },
      k, probes, overfetch, where)

  /** [[searchTopKIvfBatch]] for caller-supplied query vectors —
    * chroma's `query(query_embeddings=[...])` form on the batch
    * surface (same contract split as [[searchTopKVec]]). No `dim`
    * parameter: the query vectors carry their own dimensionality and
    * each is checked against the stored quantizer's trained dim, as
    * on [[searchTopKIvfVec]]. */
  def searchTopKIvfBatchVec(spark: SparkSession, path: String,
                            queries: Seq[(Long, Array[Float])],
                            k: Int = 10, probes: Int = 3, overfetch: Int = 32,
                            where: Option[Column] = None): DataFrame = {
    val (_, probed) = probeBatch(spark, path, queries, probes)
    import spark.implicits._
    val qDf = probed.map { case (qid, qvec, cells) =>
      val q = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
      (qid, graft.functions.VecIndex.sq8Code(q), graft.functions.VecIndex.sq8Factor(q),
        cells)
    }.toDF("query_id", "qcode", "qfac", "qcells")
    val rows = candidates(spark, path, where,
      inCells(probed.flatMap(_._3).distinct.sorted))
    val cands = preRankBatch(rows,
      qDf.select(col("query_id"), col("qcode"), col("qfac"),
        explode(col("qcells")).as("qcell")),
      sq8Score(col("qcode"), col("qfac")), overfetch)
    rerankPresentBatch(spark, path, rows, rows, cands, queries, k)
  }

  // HNSW layout parameters — the graph is persisted per shard and the
  // build parameters are persisted in the `_meta` sidecar, so append
  // and search validate against the STORED layout instead of trusting
  // caller defaults (a numShards mismatch would silently split hash
  // placement between old and new sharding).
  val HnswShards = 4 // minimum shard count (the small-corpus layout)
  val HnswM = 8
  val HnswEfConstruction = 64
  /** Auto-sharding target: a shard's graph must be memory-resident in
    * ONE task (`it.toArray` in [[hnswAdjacency]]/[[hnswCandidates]]),
    * so shard count must grow with the corpus — a fixed count is a
    * 100x-scale cliff. 50k nodes/shard keeps the resident set small
    * (384-dim floats + an m-degree adjacency ≈ 90 MB — far inside
    * task memory) and, at the measured ~3.2k nodes/s/core build rate,
    * bounds a shard rebuild (the append blast radius) to ~16 s. */
  val HnswTargetNodesPerShard = 50000L

  /** Shard count for a corpus of `chunkCount` nodes: ceil(n/target),
    * floored at [[HnswShards]] so small corpora keep fan-out (and the
    * established small-fixture layout). */
  def hnswNumShards(chunkCount: Long,
                    targetNodesPerShard: Long = HnswTargetNodesPerShard): Int =
    math.max(HnswShards,
      ((chunkCount + targetNodesPerShard - 1) / targetNodesPerShard).toInt)

  /** The persisted HNSW layout contract, written by [[buildHnsw]] as
    * the `_meta` sidecar (underscore prefix = invisible to Spark's
    * file index, like `_centroids`). `targetNodesPerShard` rides
    * along so [[appendHnsw]] can tell when the layout has outgrown
    * its sizing and must reshard. */
  final case class HnswMeta(numShards: Int, m: Int, efConstruction: Int,
                            dim: Int, targetNodesPerShard: Long)

  private def writeHnswMeta(spark: SparkSession, path: String, meta: HnswMeta): Unit = {
    import spark.implicits._
    Seq((meta.numShards, meta.m, meta.efConstruction, meta.dim,
        meta.targetNodesPerShard))
      .toDF("num_shards", "m", "ef_construction", "dim", "target_nodes")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/_meta")
  }

  private[graft] def readHnswMeta(spark: SparkSession, path: String): HnswMeta =
    try {
      // collectCached: one one-task job per layout version instead of
      // a head() job per search/maintenance call; columns resolve by
      // name, so a reordered or widened sidecar still parses (or fails
      // loudly on a missing column) instead of shifting fields
      val r = Relations.collectCached(spark, s"$path/_meta").head
      def int(c: String) = r.getInt(r.fieldIndex(c))
      HnswMeta(int("num_shards"), int("m"), int("ef_construction"), int("dim"),
        r.getLong(r.fieldIndex("target_nodes")))
    } catch {
      case e: org.apache.spark.sql.AnalysisException =>
        legacyHnswMeta(spark, path, e)
    }

  /** Backward compatibility for HNSW layouts persisted before the
    * `_meta` sidecar existed: reconstruct the meta from the layout
    * itself — shard count from the `shard=` directory names (the
    * stored hash placement is authoritative, whatever count the old
    * build used), dim from a stored embedding, m/efConstruction from
    * the fixed constants every pre-sidecar build compiled in — then
    * write the sidecar so the fallback runs once per layout. A
    * directory that is not an HNSW layout at all (no shard dirs / no
    * graph columns) still fails fast. */
  private def legacyHnswMeta(spark: SparkSession, path: String,
                             cause: Exception): HnswMeta = {
    val meta = try {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val shardVals = fs.listStatus(hPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
        .map(_.getPath.getName.stripPrefix("shard=").toInt)
      require(shardVals.nonEmpty, s"$path has no shard= partition directories")
      val dim = Relations.parquet(spark, path)
        .select("embedding", "hnsw_node", "hnsw_level", "hnsw_links")
        .head().getSeq[Float](0).length
      // max(dir)+1 UNDER-counts if the original build's top shard(s)
      // received no rows — and a wrong modulus persisted into _meta
      // would split hash placement between old and new rows forever.
      // Verify candidates against the stored placement itself
      // (pmod(xxhash64(chunk_id), m) must reproduce every row's
      // shard); the first scan passes in the common no-empty-shard
      // case, and an unverifiable layout fails fast instead of
      // writing a corrupting sidecar.
      val pairs = Relations.parquet(spark, path)
        .select(col("chunk_id"), col("shard").cast("int").as("shard"))
      val base = shardVals.max + 1
      val numShards = (base until base + 8).find { m =>
        pairs.filter(shardOf(m) =!= col("shard")).isEmpty
      }.getOrElse(throw new IllegalStateException(
        s"$path: no shard modulus in [$base, ${base + 8}) reproduces the " +
          "stored placement — rebuild the layout with IndexStore.buildHnsw"))
      HnswMeta(numShards, HnswM, HnswEfConstruction, dim,
        HnswTargetNodesPerShard)
    } catch {
      case e: Throwable =>
        val fail = new IllegalStateException(
          s"$path has no readable _meta sidecar and is not a legacy graft " +
            "HNSW layout either (build it with IndexStore.buildHnsw)", cause)
        fail.addSuppressed(e)
        throw fail
    }
    // best-effort: a read-only filesystem keeps working off the
    // reconstructed meta, it just pays the reconstruction again
    try writeHnswMeta(spark, path, meta)
    catch { case e: Throwable =>
      System.err.println(s"[graft] could not persist reconstructed _meta at $path: ${e.getMessage}")
    }
    meta
  }

  /** Session key for per-session memos: a UUID held in a WEAK map on
    * the session object itself. Identity hash codes can collide after
    * a session is GC'd (and would serve another session's pins); a
    * weak-keyed UUID dies with its session, so a key can never be
    * reused. (Spark's own `sessionUUID` is `private[sql]`.) */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private[graft] def sessionKey(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  /** HNSW-persisted index — the graph counterpart of [[buildIvf]]:
    * rows are hash-sharded on chunk_id, each shard builds one
    * deterministic [[graft.functions.HnswGraph]] over its vectors,
    * and the per-node graph state (level + adjacency as in-shard
    * ordinals) is stored IN the rows beside the embeddings — build
    * once, search forever without re-paying construction (the
    * reference persists exactly this structure: hnswlib's graph under
    * ./chroma_db, app.py:32-33).
    *
    * In-shard node ordinals are positions in the chunk_id-sorted
    * shard, so the adjacency is meaningful independent of file or
    * row-group order; [[searchTopKHnsw]] re-sorts and asserts the
    * stored ordinal before traversing.
    *
    * Scale trade (documented, measured by q102/q67b): a graph probe
    * computes ~constant distances per shard but must LOAD the shard's
    * vectors+adjacency — the layout for memory-resident serving
    * shards. When the index must stay on disk and prune IO,
    * [[buildIvf]]'s cell partitioning is the recommended operating
    * point (probes open only their directories). */
  def buildHnsw(spark: SparkSession, docs: DataFrame, path: String,
                numShards: Int = 0, m: Int = HnswM,
                efConstruction: Int = HnswEfConstruction,
                dim: Int = Embed.DefaultDim,
                targetNodesPerShard: Long = HnswTargetNodesPerShard,
                metadata: Map[String, String] = Map.empty): Unit = {
    buildHnswFromRows(spark, indexRows(docs, dim).localCheckpoint(), path,
      numShards, m, efConstruction, dim, targetNodesPerShard)
    writeCollectionMetadata(spark, path, metadata)
  }

  /** [[buildHnsw]] from already-computed MATERIALIZED [[indexRows]]
    * (read for the count, the adjacency build and the write) — the
    * seam that lets one chunk+embed pass feed several layouts. */
  private[graft] def buildHnswFromRows(spark: SparkSession, base: DataFrame,
                path: String,
                numShards: Int = 0, m: Int = HnswM,
                efConstruction: Int = HnswEfConstruction,
                dim: Int = Embed.DefaultDim,
                targetNodesPerShard: Long = HnswTargetNodesPerShard): Unit = {
    // numShards = 0 (the default) auto-sizes from the corpus: shard
    // count, not shard size, is the free variable — a shard must fit
    // one task's memory. The explicit override remains for layouts
    // tuned by hand. The count is one cheap job over the checkpointed
    // rows (already materialized for the adjacency build).
    val shards =
      if (numShards > 0) numShards
      else hnswNumShards(base.count(), targetNodesPerShard)
    val rows = base.withColumn("shard", shardOf(shards))
    rows.join(hnswAdjacency(rows, shards, m, efConstruction), Seq("chunk_id"))
      // one writer task per shard -> one file per shard directory
      .repartition(shards, col("shard"))
      .write.mode(SaveMode.Overwrite)
      // full rebuild: truncate the whole layout (see buildIvf)
      .option("partitionOverwriteMode", "static")
      .partitionBy("shard")
      .parquet(path)
    // after the data write: the static overwrite above truncates the
    // whole directory, sidecar included
    writeHnswMeta(spark, path,
      HnswMeta(shards, m, efConstruction, dim, targetNodesPerShard))
    evictHnswShards(spark, path)
  }

  /** Per-shard deterministic graph build over (shard, chunk_id,
    * embedding) rows -> one adjacency row per chunk (in-shard
    * ordinal, level, level->neighbors). Shared by [[buildHnsw]] and
    * [[appendHnsw]] so a rebuilt shard's bits can never diverge
    * between the two paths. */
  private def hnswAdjacency(rows: DataFrame, numShards: Int,
                            m: Int, efConstruction: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    import graft.functions.HnswGraph
    rows.select(col("shard"), col("chunk_id"), col("embedding"))
      .repartition(numShards, col("shard"))
      .mapPartitions { it =>
        // a task may hold several shard keys (hash-of-hash): build one
        // graph per shard value, never across them
        it.toArray.groupBy(_.getInt(0)).iterator.flatMap { case (_, rws) =>
          val sorted = rws.map(r => (r.getString(1), r.getSeq[Float](2).toArray))
            .sortBy(_._1)
          val g = HnswGraph.build(
            Array.tabulate(sorted.length)(_.toLong), sorted.map(_._2),
            m, efConstruction)
          sorted.indices.iterator.map { i =>
            (sorted(i)._1, i, g.levelOfNode(i),
              g.linksOf(i).map(_.toSeq).toSeq)
          }
        }
      }
      .toDF("chunk_id", "hnsw_node", "hnsw_level", "hnsw_links")
  }

  /** [[buildHnsw]], executed at most once per (session, path, build
    * parameters) — the build is deterministic, so Verify's aux
    * materialization and the q103 query share one physical build. The
    * parameters are part of the key: a second call with DIFFERENT
    * parameters is a real rebuild, never a silent no-op serving an
    * index built with the old parameters. */
  private val builtHnswOnce =
    scala.collection.concurrent.TrieMap.empty[(String, String, Int, Int, Int, Int), Unit]
  def buildHnswOnce(spark: SparkSession, docs: => DataFrame, path: String,
                    numShards: Int = 0, m: Int = HnswM,
                    efConstruction: Int = HnswEfConstruction,
                    dim: Int = Embed.DefaultDim): Unit =
    builtHnswOnce.getOrElseUpdate(
      (sessionKey(spark), path, numShards, m, efConstruction, dim),
      buildHnsw(spark, docs, path, numShards, m, efConstruction, dim))

  /** [[buildHnswOnce]] fed from pre-computed materialized rows (same
    * memo as the docs-fed form; identical artifacts either way). */
  private[graft] def buildHnswOnceRows(spark: SparkSession, rows: => DataFrame,
                    path: String,
                    numShards: Int = 0, m: Int = HnswM,
                    efConstruction: Int = HnswEfConstruction,
                    dim: Int = Embed.DefaultDim): Unit =
    builtHnswOnce.getOrElseUpdate(
      (sessionKey(spark), path, numShards, m, efConstruction, dim),
      buildHnswFromRows(spark, rows, path, numShards, m, efConstruction, dim))

  /** Incrementally add documents to an EXISTING HNSW index: new rows
    * hash to their shards and ONLY those shards rebuild their graph
    * (old rows + new rows, one deterministic build per touched
    * shard); untouched shard directories are never rewritten (dynamic
    * partition overwrite). Graph insertion is inherently a mutation —
    * there is no append-only adjacency — so the honest distributed
    * maintenance unit is the shard rebuild: with S shards an append
    * touching one source rewrites ~|touched shards|/S of the index,
    * and shard count bounds the blast radius. Contrast [[appendIvf]]
    * (append-only cell files, no rewrite — the cheaper maintenance
    * flow when rebuild cost matters more than graph recall). Caller
    * owns dedup semantics, as with appendIvf. */
  def appendHnsw(spark: SparkSession, docs: DataFrame, path: String): Unit = {
    // every layout parameter comes from the index's own _meta sidecar
    // — an append can never hash new chunks with a different shard
    // count (or rebuild touched graphs with a different m/efC) than
    // the layout it extends
    val meta = readHnswMeta(spark, path)
    val newRows = indexRows(docs, meta.dim).localCheckpoint()
    // Append-forever erodes the sizing invariant: the shard count was
    // chosen for the BUILD-time corpus, and every append grows the
    // average shard toward the task-memory cliff auto-sharding exists
    // to prevent. When the average shard passes 2x target, reshard —
    // a full deterministic rebuild at the count the grown corpus
    // needs. The 2x hysteresis makes rewrites geometric (each reshard
    // roughly doubles capacity), so total reshard IO amortizes to
    // O(corpus) over any append history; between reshards, appends
    // keep touching only their hash shards. (Size target accordingly:
    // a shard may reach 2x targetNodesPerShard before resharding.)
    val total = Relations.parquet(spark, path).count() + newRows.count()
    if (total > 2L * meta.targetNodesPerShard * meta.numShards) {
      val shards = hnswNumShards(total, meta.targetNodesPerShard)
      val all = Relations.parquet(spark, path)
        .drop("hnsw_node", "hnsw_level", "hnsw_links", "shard")
        .unionByName(newRows)
        .withColumn("shard", shardOf(shards))
        .localCheckpoint() // read everything before the truncating write
      all.join(hnswAdjacency(all, shards, meta.m, meta.efConstruction),
          Seq("chunk_id"))
        .repartition(shards, col("shard"))
        .write.mode(SaveMode.Overwrite)
        // full reshard: truncate the whole layout (stale high-numbered
        // shard directories must not survive a count change)
        .option("partitionOverwriteMode", "static")
        .partitionBy("shard")
        .parquet(path)
      writeHnswMeta(spark, path, meta.copy(numShards = shards))
      evictHnswShards(spark, path)
      return
    }
    // the touched-shard rebuild of the maintenance core, without its
    // touched/present collects: an append dooms nothing, and the
    // shards it touches stay a broadcast semi-join
    val layout = shardLayout(spark, path, meta)
    val hashed = layout.place(newRows)
    val touched = hashed.select("shard").distinct()
    val existing = Relations.parquet(spark, path)
      .join(broadcast(touched), Seq("shard"), "left_semi")
      .drop(layout.derived: _*)
    // the localCheckpoint here is LOAD-BEARING, not an optimization:
    // it materializes the read of the existing shards BEFORE the
    // dynamic overwrite below starts truncating those directories —
    // without it the write would consume its own input mid-overwrite
    // (read-own-writes corruption). Pinned by HnswSpec's
    // "append reads existing rows before the overwrite" case.
    val rows = existing.unionByName(hashed).localCheckpoint()
    layout.rebuild(rows)
      .repartition(meta.numShards, col("shard"))
      .write.mode(SaveMode.Overwrite)
      // dynamic: replace ONLY the shards present in `rows` (per-write
      // option — see build())
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard")
      .parquet(path)
    layout.after()
  }

  /** Session-pinned, shard-co-located view of a persisted HNSW index:
    * a graph traversal needs its WHOLE shard in one task, and parquet
    * file-split packing gives no such guarantee (a shard directory
    * with several files, e.g. after [[appendHnsw]], can land across
    * tasks), so the first search per (session, path) pays one
    * repartition-by-shard shuffle and persists the result eagerly —
    * the batch analogue of a serving deployment loading its shards
    * memory-resident once. [[buildHnsw]]/[[appendHnsw]] evict the
    * entry so a search never traverses a stale pin.
    *
    * Memory contract: each pin holds ~the index size (vectors +
    * adjacency) in the session's storage memory. The cache is a
    * size-bounded LRU ([[HnswPinnedMax]] entries JVM-wide) that
    * unpersists what it evicts, so a long-lived service session
    * searching many distinct index paths cannot accumulate pins
    * forever; [[unpinHnsw]] releases a pin explicitly. Keys are
    * session UUIDs, never identity hashes (which can collide after a
    * session is GC'd and would serve another session's pins). */
  val HnswPinnedMax = 8
  private final case class HnswPin(frame: DataFrame, meta: HnswMeta)

  /** One cache entry: the pin load (full Spark jobs — meta read,
    * parquet scan, eager persist) runs under the SLOT's monitor, never
    * the cache-wide one, so a cold load of one path cannot serialize
    * searches of every other path behind it; only map mutation holds
    * the global lock. Eviction and explicit unpin release the
    * persisted frame best-effort (an unpin failure of a dead session's
    * frame must never fail the search that triggered the eviction) —
    * and a slot evicted WHILE its load is still running releases
    * itself when the load completes, so the frame can't leak
    * persisted-but-unreachable. */
  private final class HnswPinSlot(loader: () => HnswPin) {
    @volatile private var loaded: HnswPin = _
    @volatile private var evicted = false
    def get: HnswPin = {
      val l = loaded
      if (l != null) l
      else this.synchronized {
        if (loaded == null) {
          loaded = loader()
          if (evicted) release() // lost the race with LRU eviction
        }
        loaded
      }
    }
    def markEvicted(): Unit = {
      evicted = true
      if (loaded != null) release()
    }
    private def release(): Unit =
      try loaded.frame.unpersist(false)
      catch { case e: Throwable =>
        System.err.println(s"[graft] hnsw pin release failed (ignored): ${e.getMessage}")
      }
  }
  private val hnswPinCache =
    new java.util.LinkedHashMap[(String, String), HnswPinSlot](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), HnswPinSlot]): Boolean =
        if (size > HnswPinnedMax) { e.getValue.markEvicted(); true }
        else false
    }
  private def hnswPin(spark: SparkSession, path: String): HnswPin = {
    requireRows(spark, path)
    val slot = hnswPinCache.synchronized {
      val key = (sessionKey(spark), path)
      val hit = hnswPinCache.get(key)
      if (hit != null) hit
      else {
        val s = new HnswPinSlot(() => {
          val meta = readHnswMeta(spark, path)
          val frame = Relations.parquet(spark, path)
            .select(col("shard"), col("chunk_id"), col("hnsw_node"),
              col("hnsw_level"), col("hnsw_links"), col("embedding"))
            .repartition(col("shard"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          frame.count() // eager: the pin IS the serving load
          HnswPin(frame, meta)
        })
        hnswPinCache.put(key, s)
        s
      }
    }
    slot.get
  }
  private[graft] def hnswShards(spark: SparkSession, path: String): DataFrame =
    hnswPin(spark, path).frame
  /** Release the session's pin on `path` (a no-op if none). Rebuilds
    * and appends call this themselves; a serving loop cycling many
    * indexes can call it to return storage memory ahead of the LRU. */
  def unpinHnsw(spark: SparkSession, path: String): Unit = {
    val old = hnswPinCache.synchronized {
      hnswPinCache.remove((sessionKey(spark), path))
    }
    if (old != null) old.markEvicted()
  }
  /** Mutation-side eviction: drop EVERY session's pin on `path` — a
    * delete/append/upsert/rename changed the layout for all readers,
    * and a surviving pin in any other session would keep serving
    * pre-mutation rows forever (the pin contract: a search never
    * traverses a stale pin). */
  private def evictHnswShards(spark: SparkSession, path: String): Unit = {
    val stale = hnswPinCache.synchronized {
      hnswPinCache.keySet().toArray(Array.empty[(String, String)])
        .filter(_._2 == path)
        .map(hnswPinCache.remove)
    }
    stale.filter(_ != null).foreach(_.markEvicted())
  }
  /** Test hook: the number of live pins (across sessions). */
  private[graft] def hnswPinnedCount: Int =
    hnswPinCache.synchronized(hnswPinCache.size)

  /** Graph-traverse the persisted shards for the candidate chunk ids
    * of `queryText` (per-shard approximate top-`k`) — the traversal
    * half of [[searchTopKHnsw]], public so the q103 oracle can dump
    * the exact candidate set the search used (deterministic: same
    * index + query => same candidates). */
  def hnswCandidates(spark: SparkSession, path: String, queryText: String,
                     k: Int = 10, efSearch: Int = 48): DataFrame =
    hnswCandidatesBatch(spark, path, Seq(0L -> queryText), k, efSearch)
      .select(col("cid"))

  /** [[hnswCandidates]] for a BATCH of queries: every query rides the
    * plan as a constant (quantizer-sized, like annHnsw's query array)
    * and ONE pass over the pinned shards answers them all — per shard
    * the graph reconstructs once per task, so each additional query
    * costs only its beam walk, never another shard load. Returns
    * (query_id, cid). */
  def hnswCandidatesBatch(spark: SparkSession, path: String,
                          queries: Seq[(Long, String)],
                          k: Int = 10, efSearch: Int = 48): DataFrame = {
    // the persisted layout is authoritative for the embedding dim —
    // a query embedded at any other dim would silently score garbage
    val dim = hnswPin(spark, path).meta.dim
    hnswCandidatesBatchVec(spark, path,
      queries.map { case (qid, t) => (qid, Embed.embed(t, dim)) },
      k, efSearch)
  }

  /** [[hnswCandidatesBatch]] for caller-supplied query vectors. */
  def hnswCandidatesBatchVec(spark: SparkSession, path: String,
                             queries: Seq[(Long, Array[Float])],
                             k: Int = 10, efSearch: Int = 48): DataFrame = {
    import spark.implicits._
    import graft.functions.HnswGraph
    val pin = hnswPin(spark, path)
    val qArr: Array[(Long, Array[Float])] = queries.sortBy(_._1).toArray
    pin.frame
      .mapPartitions { it =>
        it.toArray.groupBy(_.getInt(0)).iterator.flatMap { case (shard, rws) =>
          val sorted = rws.sortBy(_.getString(1))
          sorted.iterator.zipWithIndex.foreach { case (r, i) =>
            require(r.getInt(2) == i,
              s"hnsw shard $shard ordering drifted at ordinal $i (stored ${r.getInt(2)})")
          }
          val g = HnswGraph.fromAdjacency(
            Array.tabulate(sorted.length)(_.toLong),
            sorted.map(_.getSeq[Float](5).toArray),
            sorted.map(_.getInt(3)),
            sorted.map(_.getSeq[scala.collection.Seq[Int]](4).map(_.toArray).toArray))
          qArr.iterator.flatMap { case (qid, qvec) =>
            val (top, _) = g.search(qvec, k, efSearch)
            top.iterator.map { case (ord, _) => (qid, sorted(ord.toInt).getString(1)) }
          }
        }
      }
      .toDF("query_id", "cid")
  }

  /** The widened traversal a FILTERED graph search runs:
    * `overfetchFactor` x the requested k per shard (beam at least as
    * wide), because the metadata predicate is applied after the
    * traversal and must be given enough survivors. Public so the q105
    * oracle can dump the exact candidate sets the filtered search
    * post-filters (at factor 4 and at the naive factor 1 the meter
    * contrasts it with). */
  def hnswFilteredCandidates(spark: SparkSession, path: String,
                             queryText: String, k: Int = 10,
                             efSearch: Int = 48,
                             overfetchFactor: Int = 4): DataFrame =
    hnswCandidates(spark, path, queryText, k * overfetchFactor,
      math.max(efSearch, k * overfetchFactor))

  /** ANN search over the HNSW-persisted layout: the per-shard graph
    * traversal ([[hnswCandidates]]) is the candidate source, so the
    * oracle can re-derive everything downstream of it.
    *
    * `where` on the graph path: the stored adjacency knows nothing of
    * metadata, so the traversal cannot pre-filter — instead it
    * overfetches `whereOverfetch`x per shard and the predicate applies
    * at the rerank (chroma's own where= makes the same fetch-then-filter
    * trade on its HNSW; a highly selective predicate belongs on
    * [[searchTopKIvf]]/[[searchTopK]], where it prunes IO instead of
    * discarding traversal work). May return fewer than k rows when
    * the filter kills most of the widened candidate set. */
  def searchTopKHnsw(spark: SparkSession, path: String, queryText: String,
                     k: Int = 10, efSearch: Int = 48,
                     where: Option[Column] = None,
                     whereOverfetch: Int = 4,
                     includeDistance: Boolean = false,
                     include: Seq[String] = Nil): DataFrame =
    searchTopKHnswVec(spark, path,
      Embed.embed(queryText, hnswPin(spark, path).meta.dim),
      k, efSearch, where, whereOverfetch, includeDistance, include)

  /** [[searchTopKHnsw]] for a caller-supplied query vector (the
    * `query_embeddings` form on the graph layout; the vector must be
    * at the layout's stored dim — the `_meta` sidecar is
    * authoritative). */
  def searchTopKHnswVec(spark: SparkSession, path: String, qvec: Array[Float],
                        k: Int = 10, efSearch: Int = 48,
                        where: Option[Column] = None,
                        whereOverfetch: Int = 4,
                        includeDistance: Boolean = false,
                        include: Seq[String] = Nil): DataFrame = {
    val dim = hnswPin(spark, path).meta.dim
    require(qvec.length == dim,
      s"$path stores dim=$dim vectors, query vector has dim=${qvec.length}")
    val cands = hnswTraversal(spark, path, Seq(0L -> qvec), k, efSearch,
      where, whereOverfetch).select(col("cid"))
    rerankPresent(spark, path,
      candidates(spark, path, where,
        _.join(broadcast(cands), col("chunk_id") === col("cid"))),
      qvec, k, includeDistance, include)
  }

  /** Stage 2 for the graph layout: the traversal's (query_id, cid)
    * candidates. The stored adjacency knows nothing of metadata, so
    * with a `where` each beam widens `whereOverfetch`-fold and the
    * predicate filters the survivors (see [[searchTopKHnsw]]). */
  private def hnswTraversal(spark: SparkSession, path: String,
                            queries: Seq[(Long, Array[Float])], k: Int,
                            efSearch: Int, where: Option[Column],
                            whereOverfetch: Int): DataFrame = {
    val widen = if (where.isDefined) whereOverfetch else 1
    hnswCandidatesBatchVec(spark, path, queries, k * widen,
      math.max(efSearch, k * widen))
  }

  /** Multi-query search over the persisted HNSW layout — the
    * reference's batch surface (`query_texts=[...]`, SURVEY V4) on
    * the persisted graph. One traversal pass serves every query
    * ([[hnswCandidatesBatch]]).
    *
    * `where` carries [[searchTopKHnsw]]'s fetch-then-filter semantics
    * to every query in the batch: the traversal is metadata-blind, so
    * the candidate beams widen by `whereOverfetch` and the predicate
    * filters the survivors BENEATH the per-query rank (the q105 meter
    * documents the recall trade this makes). */
  def searchTopKHnswBatch(spark: SparkSession, path: String,
                          queries: Seq[(Long, String)],
                          k: Int = 10, efSearch: Int = 48,
                          where: Option[Column] = None,
                          whereOverfetch: Int = 4): DataFrame = {
    val dim = hnswPin(spark, path).meta.dim
    searchTopKHnswBatchVec(spark, path,
      queries.map { case (qid, t) => (qid, Embed.embed(t, dim)) },
      k, efSearch, where, whereOverfetch)
  }

  /** [[searchTopKHnswBatch]] for caller-supplied query vectors —
    * the batch `query_embeddings` form on the graph layout. */
  def searchTopKHnswBatchVec(spark: SparkSession, path: String,
                             queries: Seq[(Long, Array[Float])],
                             k: Int = 10, efSearch: Int = 48,
                             where: Option[Column] = None,
                             whereOverfetch: Int = 4): DataFrame =
    rerankPresentBatch(spark, path, candidates(spark, path, where),
      Relations.parquet(spark, path),
      hnswTraversal(spark, path, queries, k, efSearch, where, whereOverfetch),
      queries, k)

  /** Bucket-PARTITIONED index: one row per (table-bucket, chunk),
    * parquet-partitioned by the bucket key — the full 100 TB layout
    * where an ANN probe prunes FILES (partition pruning on
    * bucket IN (...)), not rows. Costs nTables x storage (the classic
    * multi-table LSH space/time trade); [[searchTopKAnnPartitioned]]
    * deduplicates collisions across tables before the exact rerank. */
  def buildBucketed(spark: SparkSession, docs: DataFrame, path: String,
                    dim: Int = Embed.DefaultDim,
                    metadata: Map[String, String] = Map.empty): Unit = {
    indexRows(docs, dim)
      .withColumn("bucket", explode(col("lsh_buckets")))
      .drop("lsh_buckets")
      .write.mode(SaveMode.Overwrite)
      // full rebuild: truncate the whole layout (see buildIvf)
      .option("partitionOverwriteMode", "static")
      .partitionBy("bucket")
      .parquet(path)
    writeCollectionMetadata(spark, path, metadata)
  }

  /** ANN search over the bucket-partitioned layout: the bucket
    * predicate resolves to partition directories at planning time, so
    * non-colliding files are never opened. `multiprobe` additionally
    * probes each bucket's Hamming-1 neighbors (query-side only — the
    * persisted layout serves both operating points), trading more
    * partitions read for recall. */
  def searchTopKAnnPartitioned(spark: SparkSession, path: String, queryText: String,
                               k: Int = 10, dim: Int = Embed.DefaultDim,
                               multiprobe: Boolean = false,
                               where: Option[Column] = None,
                               includeDistance: Boolean = false,
                               include: Seq[String] = Nil): DataFrame =
    searchTopKAnnPartitionedVec(spark, path, Embed.embed(queryText, dim),
      k, multiprobe, where, includeDistance, include)

  /** [[searchTopKAnnPartitioned]] for a caller-supplied query vector
    * (the `query_embeddings` form on the bucket-partitioned layout). */
  def searchTopKAnnPartitionedVec(spark: SparkSession, path: String,
                                  qvec: Array[Float],
                                  k: Int = 10, multiprobe: Boolean = false,
                                  where: Option[Column] = None,
                                  includeDistance: Boolean = false,
                                  include: Seq[String] = Nil): DataFrame = {
    val qBuckets =
      if (multiprobe) Lsh.queryBucketsMultiprobe(qvec, qvec.length, LshBits, LshTables)
      else Lsh.queryBuckets(qvec, qvec.length, LshBits, LshTables)
    // a chunk has one row per LSH table: collisions dedup before the rerank
    rerankPresent(spark, path,
      candidates(spark, path, where, _.filter(col("bucket").isin(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(qBuckets): _*)))
        .dropDuplicates("chunk_id"),
      qvec, k, includeDistance, include)
  }
}
