package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Tables}

/** Multimodal column handling for training-data pipelines: media as
  * opaque BINARY columns + a typed metadata struct, with
  * decode / feature-extraction / resize / frame-sampling as
  * *batched per-partition* transforms (the Scala analog of
  * mapInPandas: one iterator pass per partition, constant memory,
  * no per-row JVM<->library round trips).
  *
  * The image/audio codecs are NOT available in this environment, so
  * `FakeCodec` is a clearly-marked deterministic STUB: it treats the
  * blob bytes as "pixels". The Spark-side plumbing — schema, batch
  * shape, partition iteration, feature vectors, metadata pruning —
  * is real and is what carries to a cluster; swapping FakeCodec for
  * a JNI/FFI codec touches nothing else.
  */
object Multimodal {

  /** Typed row for the media table. */
  case class Media(media_id: Long, format: String, width: Int, height: Int,
                   blob: Array[Byte])

  /** Decoded features per media item. */
  case class MediaFeatures(media_id: Long, format: String, n_bytes: Int,
                           byte_sum: Long, mean_byte: Double,
                           histogram: Array[Long])

  /** STUB decoder — deterministic stand-in for an image/audio codec.
    * Real implementation would decode `blob` into pixels/samples; this
    * one uses the raw bytes directly so every value is reproducible. */
  object FakeCodec {
    val HistBins = 16

    def features(m: Media): MediaFeatures = {
      val hist = new Array[Long](HistBins)
      var sum = 0L
      var i = 0
      while (i < m.blob.length) {
        val b = m.blob(i) & 0xff
        hist(b * HistBins / 256) += 1
        sum += b
        i += 1
      }
      MediaFeatures(m.media_id, m.format, m.blob.length, sum,
        if (m.blob.length == 0) 0.0 else sum.toDouble / m.blob.length, hist)
    }

    /** "Resize": deterministic re-sampling of the byte plane. */
    def resize(blob: Array[Byte], outLen: Int): Array[Byte] =
      if (blob.isEmpty) new Array[Byte](outLen)
      else Array.tabulate(outLen)(i => blob((i.toLong * blob.length / outLen).toInt))

    /** "Frame sampling": every `stride`-th window of `frameLen` bytes. */
    def sampleFrames(blob: Array[Byte], frameLen: Int, stride: Int): Seq[Array[Byte]] =
      (0 until math.max(0, blob.length - frameLen + 1) by stride)
        .map(off => blob.slice(off, off + frameLen))
  }

  /** Synthesize the media table from the documents fixture: text bytes
    * play the blob role; format/width/height are deterministic typed
    * metadata. */
  def mediaTable(s: SparkSession, d: String): Dataset[Media] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("png"), lit("jpeg"), lit("webp")),
          (col("doc_id") % 3 + 1).cast(IntegerType)).as("format"),
        (col("n_chars") % 64 + 16).cast(IntegerType).as("width"),
        (col("n_chars") % 48 + 12).cast(IntegerType).as("height"),
        col("text").cast(BinaryType).as("blob"))
      .as[Media]
  }

  private def featuresDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).mapPartitions(_.map(FakeCodec.features)).toDF()
  }

  private def framesDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).flatMap { m =>
      val resized = FakeCodec.resize(m.blob, 128)
      FakeCodec.sampleFrames(resized, 32, 24).zipWithIndex.map {
        case (f, i) => (m.media_id, m.format, i, f.length,
          f.foldLeft(0L)((a, b) => a + (b & 0xff)))
      }
    }.toDF("media_id", "format", "frame_idx", "frame_bytes", "byte_sum")
  }

  /** Materialize the codec outputs (features + sampled frames) for
    * the DuckDB oracles: the stub codec runs in Spark once, and the
    * oracles re-aggregate independently (Verify-only). */
  def materializeMediaAux(s: SparkSession, d: String, auxDir: String): Unit = {
    featuresDf(s, d).drop("histogram")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/media_features.parquet")
    framesDf(s, d)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/media_frames.parquet")
  }

  /** q90: batched decode + feature extraction, aggregated per format.
    * mapPartitions = one codec context per partition (the expensive
    * init a real decoder would amortize across its batch). The mean
    * byte value is the size-weighted mean computed from exact integer
    * sums — no double quantization anywhere, so the oracle divides
    * the same two BIGINTs (a decimal-cast mean-of-means hit a
    * double->DECIMAL tie-rounding divergence at sf0.1). Oracle:
    * re-aggregated from the materialized feature table. */
  private def q90(s: SparkSession, d: String): DataFrame =
    featuresDf(s, d)
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        (sum(col("byte_sum")) / sum(col("n_bytes"))).as("avg_byte"))
      .orderBy("format")

  private val q90Sql = s"""
    SELECT format, COUNT(*) AS n_media,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(byte_sum) AS BIGINT) / CAST(SUM(n_bytes) AS BIGINT) AS avg_byte
    FROM read_parquet('${graft.SparkEntry.AuxToken}/media_features.parquet/*.parquet')
    GROUP BY format ORDER BY format"""

  /** q91: resize + frame-sample the blobs, explode frames with index,
    * count frames and bytes per format (all deterministic). Oracle:
    * re-aggregated from the materialized frame table. */
  private def q91(s: SparkSession, d: String): DataFrame =
    framesDf(s, d).groupBy(col("format"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("media_id")).as("n_media"),
        sum(col("byte_sum")).as("total_byte_sum"))
      .orderBy("format")

  private val q91Sql = s"""
    SELECT format, COUNT(*) AS n_frames, COUNT(DISTINCT media_id) AS n_media,
           CAST(SUM(byte_sum) AS BIGINT) AS total_byte_sum
    FROM read_parquet('${graft.SparkEntry.AuxToken}/media_frames.parquet/*.parquet')
    GROUP BY format ORDER BY format"""

  // ---- perceptual-hash near-duplicate detection ---------------------

  /** Decoded fixed-size byte plane per media item — the codec-seam
    * output the perceptual hash is computed from. Real codec: decode
    * + grayscale + resize to 8x8; here FakeCodec.resize plays that
    * role (deterministic, so the gate hash-matches). */
  case class MediaPlane(media_id: Long, plane: Array[Int])

  val PlaneLen = 64
  val NBands = 4
  val BandBits = PlaneLen / NBands

  /** The codec pass: one batched mapPartitions (per-partition codec
    * init amortized), emitting the 64-value plane. Everything after
    * this is declarative Spark over the plane array. */
  def mediaPlanes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).mapPartitions(_.map(m =>
      MediaPlane(m.media_id, FakeCodec.resize(m.blob, PlaneLen).map(_ & 0xff))))
      .toDF()
  }

  /** Near-duplicate media pairs by average-hash (aHash): bit i of the
    * 64-bit fingerprint is `plane[i]*64 > sum(plane)` (strictly
    * greater — integer compare, no mean division), candidate pairs
    * come from 4x16-bit band-equality buckets (pigeonhole: hamming
    * <= 8 over 64 bits forces at least one of 4 bands identical when
    * the 8 flips hit <= 3 bands; like SimHash banding it is a recall
    * heuristic made honest by the exact hamming verify step), and
    * only candidates pay the exact 64-bit hamming check.
    *
    * Scale shape (the SimHash-banding shape, Dedup.scala): the band
    * shuffle carries (media_id, band, key) only — never the plane;
    * degenerate buckets (uniform planes all hashing to the same band
    * key) are capped at `maxBucket` members so no reduce task goes
    * quadratic; the plane/bits arrays join back by id only for the
    * surviving candidate pairs. */
  def perceptualHashPairs(planes: DataFrame, hammingMax: Int = 8,
                          maxBucket: Int = 64): DataFrame = {
    // materialize once: the codec pass + bit extraction feed the band
    // aggregate, the band join, and both sides of the candidate
    // verify — without the checkpoint each consumer re-runs the codec
    val withBits = planes
      .withColumn("psum", aggregate(col("plane"), lit(0L), (a, x) => a + x))
      .withColumn("bits", transform(col("plane"),
        p => when(p.cast(LongType) * PlaneLen > col("psum"), 1).otherwise(0)))
      .localCheckpoint()
    val bandKeys = (0 until NBands).map { b =>
      aggregate(slice(col("bits"), b * BandBits + 1, BandBits),
        lit(0L), (acc, x) => acc * 2 + x)
    }
    val bands = withBits.select(col("media_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
    // bucket cap as a partial-agg size table joined back, never a
    // per-bucket window: a window would colocate a degenerate
    // bucket's full membership in one task before the cap could drop
    // it (the Dedup stop-fingerprint lesson). The join is skew-free:
    // kept keys carry <= maxBucket rows by construction.
    // the size table is key-space-bounded (4 bands x 2^16 keys) at ANY
    // corpus size, so the join side broadcasts
    val smallBuckets = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucket)
      .select(col("band"), col("key"))
    val kept = bands.join(broadcast(smallBuckets), Seq("band", "key"))
      .select(col("media_id"), col("band"), col("key"))
    val cand = kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"))
      .distinct()
    val bitsDf = withBits.select(col("media_id"), col("bits"))
    cand
      .join(bitsDf.select(col("media_id").as("media_a"), col("bits").as("bits_a")),
        "media_a")
      .join(bitsDf.select(col("media_id").as("media_b"), col("bits").as("bits_b")),
        "media_b")
      .withColumn("hamming", aggregate(
        zip_with(col("bits_a"), col("bits_b"),
          (x, y) => when(x =!= y, 1).otherwise(0)),
        lit(0L), (a, x) => a + x))
      .filter(col("hamming") <= hammingMax)
      .select(col("media_a"), col("media_b"), col("hamming"))
  }

  /** Materialize the codec output (the planes) so the oracle can
    * re-derive the ENTIRE downstream — bit extraction, band keys,
    * bucket cap, candidate join, exact hamming — independently in
    * SQL. The codec stub is the only part the oracle trusts. */
  def materializePhashAux(s: SparkSession, d: String, auxDir: String): Unit =
    mediaPlanes(s, d)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$auxDir/q160_planes.parquet")

  private def q160(s: SparkSession, d: String): DataFrame =
    perceptualHashPairs(mediaPlanes(s, d))
      .orderBy("media_a", "media_b")

  private val q160Sql = s"""
    WITH p AS (
      SELECT media_id, plane, CAST(list_sum(plane) AS BIGINT) AS psum
      FROM read_parquet('${graft.SparkEntry.AuxToken}/q160_planes.parquet/*.parquet')
    ), b AS (
      SELECT media_id,
             list_transform(plane,
               x -> CASE WHEN CAST(x AS BIGINT) * $PlaneLen > psum
                         THEN 1 ELSE 0 END) AS bits
      FROM p
    ), bands AS (
      SELECT media_id, band,
             CAST(list_sum(list_transform(generate_series(1, $BandBits),
               i -> CAST(bits[band * $BandBits + i] AS BIGINT)
                    * (CAST(1 AS BIGINT) << ($BandBits - i)))) AS BIGINT) AS key
      FROM b, (SELECT unnest([0, 1, 2, 3]) AS band)
    ), kept AS (
      SELECT media_id, band, key FROM (
        SELECT media_id, band, key,
               COUNT(*) OVER (PARTITION BY band, key) AS bsz
        FROM bands)
      WHERE bsz <= 64
    ), cand AS (
      SELECT DISTINCT a.media_id AS media_a, b2.media_id AS media_b
      FROM kept a JOIN kept b2
        ON a.band = b2.band AND a.key = b2.key AND a.media_id < b2.media_id
    ), ham AS (
      SELECT c.media_a, c.media_b,
             CAST(list_sum(list_transform(generate_series(1, $PlaneLen),
               i -> CASE WHEN ba.bits[i] <> bb.bits[i] THEN 1 ELSE 0 END))
               AS BIGINT) AS hamming
      FROM cand c
      JOIN b ba ON ba.media_id = c.media_a
      JOIN b bb ON bb.media_id = c.media_b)
    SELECT media_a, media_b, hamming FROM ham
    WHERE hamming <= 8 ORDER BY media_a, media_b"""

  // ---- cross-modal retrieval: media vectors in the text vector space

  /** A cross-modal media encoder: media blob -> a vector in the SAME
    * space the text tower ([[graft.functions.Embed]]) embeds queries
    * into — the CLIP contract (one shared space, two towers). Loaded
    * reflectively like [[graft.functions.EmbedBackend]]; a real ONNX
    * image tower swaps in via `-D`[[MediaEmbed.BackendProp]] with no
    * call-site changes. */
  trait MediaEmbedBackend extends Serializable {
    def embed(format: String, blob: Array[Byte], dim: Int): Array[Float]
  }

  /** The image-tower seam ([[graft.functions.Embed]]'s loader
    * pattern, cross-modal edition). The default STUB exploits the
    * synthetic fixture's construction — the media blob IS its own
    * caption bytes ([[mediaTable]]) — so "decode + caption + embed
    * through the text tower" is implementable deterministically and
    * gives exactly the aligned-space behavior a TRAINED two-tower
    * model provides: a text query and its matching media land on the
    * same point. On a real corpus this stub is wrong by definition
    * (captioning needs a model); the seam is the product, the stub
    * is the environment-blocked stand-in, same status as
    * `EmbedBackend`'s MiniLM slot. */
  object MediaEmbed {
    val BackendProp = "graft.media.embed.backend"

    object CaptionRecoveryStub extends MediaEmbedBackend {
      override def embed(format: String, blob: Array[Byte], dim: Int): Array[Float] =
        graft.functions.Embed.embed(
          new String(blob, java.nio.charset.StandardCharsets.UTF_8), dim)
    }

    /** Fail-fast reflective load — a typo'd property must surface at
      * first embed, never fall back silently to the stub's vectors. */
    def loadBackend(className: String): MediaEmbedBackend = {
      def moduleOrNew(cls: Class[_]): AnyRef =
        try cls.getField("MODULE$").get(null)
        catch { case _: NoSuchFieldException =>
          cls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef] }
      val inst =
        try moduleOrNew(Class.forName(className))
        catch {
          // LinkageError too: a backend whose static initializer
          // throws (ExceptionInInitializerError / NoClassDefFoundError)
          // must get the same diagnostic wrapper as a missing class,
          // not escape raw — mirrors the second attempt's handler
          case first @ (_: ReflectiveOperationException | _: LinkageError) =>
            try moduleOrNew(Class.forName(className + "$"))
            catch {
              case second if scala.util.control.NonFatal(second) ||
                  second.isInstanceOf[LinkageError] =>
                val e = new IllegalArgumentException(
                  s"$BackendProp=$className could not be instantiated: provide a " +
                    "Scala object or a class with a public no-arg constructor " +
                    "implementing graft.operators.Multimodal.MediaEmbedBackend", first)
                e.addSuppressed(second)
                throw e
            }
        }
      inst match {
        case b: MediaEmbedBackend => b
        case other => throw new IllegalArgumentException(
          s"$BackendProp=$className (${other.getClass.getName}) does not " +
            "implement graft.operators.Multimodal.MediaEmbedBackend")
      }
    }

    private[graft] def resolveBackend(prop: Option[String]): MediaEmbedBackend =
      prop.map(_.trim).filter(_.nonEmpty).map(loadBackend)
        .getOrElse(CaptionRecoveryStub)

    /** The active image tower, resolved once per JVM. */
    lazy val backend: MediaEmbedBackend = resolveBackend(sys.props.get(BackendProp))
  }

  /** Media corpus as STANDARD index rows — media vectors ride the
    * same physical layout family as text chunks, so every persisted
    * machine (IVF partitioning + `_centroids`, SQ8 pre-rank columns,
    * LSH buckets, the search paths, the maintenance verbs, the
    * pruning plan audits) applies unchanged: chunk_id = `media_<id>`,
    * doc_id = media_id, source = format (the partition/metadata key),
    * chunk = '' (the payload is the media — callers join back to the
    * media table by id). The encoder runs per-partition (a real
    * image tower loads its weights once per task, not per row). */
  def mediaIndexRows(s: SparkSession, d: String,
                     dim: Int = graft.functions.Embed.DefaultDim): DataFrame = {
    import s.implicits._
    import graft.functions.{hashExprs, vecIndexExprs}
    import graft.sources.IndexStore
    val vecs = mediaTable(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val tower = MediaEmbed.backend
        it.map(m => (m.media_id, m.format, tower.embed(m.format, m.blob, dim).toSeq))
      }.toDF("media_id", "format", "embedding")
    vecs.select(
      concat(lit("media_"), col("media_id")).as("chunk_id"),
      col("media_id").as("doc_id"),
      col("format").as("source"),
      lit("").as("chunk"),
      (col("media_id") + 2).as("sheet_row"),
      col("embedding"))
      .withColumn("lsh_buckets", hashExprs.lshBuckets(col("embedding"), dim,
        IndexStore.LshBits, IndexStore.LshTables))
      .withColumn("sq8_code", vecIndexExprs.sq8Code(col("embedding")))
      .withColumn("sq8_factor", vecIndexExprs.sq8Factor(col("embedding")))
  }

  private val mediaRowsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
  private def mediaRowsCached(s: SparkSession, d: String): DataFrame =
    mediaRowsCache.getOrElseUpdate(
      (graft.sources.IndexStore.sessionKey(s), d),
      mediaIndexRows(s, d).localCheckpoint())

  private def q177IndexPath(d: String): String =
    VectorSearch.idxPath("q177_media_ivf", d)

  private val Q177QueryDoc = 7L
  private val Q177Probes = 3
  private val Q177Overfetch = 32

  /** q177: TEXT -> IMAGE retrieval over a persisted IVF layout of
    * cross-modal media vectors — the q98 lifecycle with the corpus
    * side swapped to the image tower: media embedded through the
    * [[MediaEmbed]] seam, IVF-partitioned (bit-exact build,
    * `_centroids` sidecar, SQ8 codes), then ONE free-text query (a
    * document's text — the "describe what you want" box) searched by
    * the UNMODIFIED [[graft.sources.IndexStore.searchTopKIvf]]: the
    * text tower embeds the query, partition pruning opens only the
    * probed cells (the q98 plan-audit machinery, inherited — same
    * layout, same path), SQ8 pre-ranks, exact cosine reranks. The
    * matching media lands at rank 1 (the aligned-space contract the
    * stub provides deterministically). Oracle: the parameterized
    * persisted-IVF mirror over the dumped media-vector index. */
  private def q177(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexStore
    val path = q177IndexPath(d)
    IndexStore.buildIvfOnceRows(s, mediaRowsCached(s, d), path, bitExact = true)
    IndexStore.searchTopKIvf(s, path, q177QueryText(s, d), k = 10,
      probes = Q177Probes, overfetch = Q177Overfetch)
  }

  /** The gate's query text: document 7's own text — driver-side
    * single-row fetch, metadata-bounded. */
  private def q177QueryText(s: SparkSession, d: String): String =
    Tables.documents(s, d).filter(col("doc_id") === Q177QueryDoc)
      .select(col("text")).head().getString(0)

  /** Dump the media-vector index (rows + centroids + query
    * vector/code) — the q98 aux idiom pointed at the cross-modal
    * layout. */
  def materializeCrossModalAux(s: SparkSession, d: String, auxDir: String): Unit = {
    import graft.sources.IndexStore
    val path = q177IndexPath(d)
    IndexStore.buildIvfOnceRows(s, mediaRowsCached(s, d), path, bitExact = true)
    graft.sources.Relations.parquet(s, path)
      .select(col("chunk_id"), col("doc_id"), col("source"), col("chunk"),
        col("cell").cast("long").as("cell"),
        VectorSearch.bytesToInts(col("sq8_code")).as("sq8"),
        col("sq8_factor").as("fac"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q177_index.parquet")
    graft.sources.Relations.parquet(s, s"$path/_centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q177_cents.parquet")
    val qvec = graft.functions.Embed.embed(q177QueryText(s, d),
      graft.functions.Embed.DefaultDim)
    val qData = new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec)
    import s.implicits._
    Seq((qvec.toSeq,
        graft.functions.VecIndex.sq8Code(qData).map(_.toInt).toSeq,
        graft.functions.VecIndex.sq8Factor(qData)))
      .toDF("qvec", "qcode", "qfac")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q177_query.parquet")
  }

  private def auxT(name: String) =
    s"read_parquet('${graft.SparkEntry.AuxToken}/$name.parquet/*.parquet')"

  private val q177Sql = VectorSearch.ivfSearchMirrorSqlFor(
    auxT("q177_index"), auxT("q177_cents"), auxT("q177_query"),
    Q177Probes, Q177Overfetch, "TRUE")

  val queries: Seq[Query] = Seq(
    Query("q90_media_features", q90, Some(q90Sql)),
    Query("q91_frame_sample",   q91, Some(q91Sql)),
    Query("q160_phash_neardup", q160, Some(q160Sql)),
    Query("q177_crossmodal_search", q177, Some(q177Sql)))
}
