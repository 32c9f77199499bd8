package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecIndex
import graft.operators.VectorSearch
import graft.sources.IndexStore

/** Product quantization (IVF-PQ fine codes): kernel conventions,
  * deterministic training, and the persisted layout's search path. */
class PqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val d = "/root/testdata/sf0.001"

  private def vec(xs: Float*): GenericArrayData = new GenericArrayData(xs.toArray)

  // two 2-dim subspaces, 2 codes each
  private val books: Array[Array[Array[Float]]] = Array(
    Array(Array(0f, 0f), Array(1f, 1f)),
    Array(Array(0f, 1f), Array(1f, 0f)))

  test("pqEncode picks the nearest code per subspace slice") {
    val code = VecIndex.pqEncode(vec(0.9f, 0.8f, 0.1f, 0.9f), books)
    assert(code.toSeq == Seq[Byte](1, 0))
  }

  test("pqEncode ties break to the smaller code (nearestCell's convention)") {
    // equidistant from both codes in both subspaces
    val code = VecIndex.pqEncode(vec(0.5f, 0.5f, 0.5f, 0.5f), books)
    assert(code.toSeq == Seq[Byte](0, 0))
  }

  test("pqAdc sums the LUT entries of the code bytes, unsigned") {
    val lut = Array(Array(10L, 20L), Array(300L, 4000L))
    assert(VecIndex.pqAdc(Array[Byte](1, 0), lut) == 20L + 300L)
    // a code byte of 200 must read as 200, not -56
    val wide = Array(Array.tabulate(256)(_.toLong))
    assert(VecIndex.pqAdc(Array(200.toByte), wide) == 200L)
  }

  test("pqAdc refuses a code whose m disagrees with the LUT (stale sidecar)") {
    val lut = Array(Array(10L, 20L), Array(300L, 4000L))
    val e = intercept[IllegalArgumentException](
      VecIndex.pqAdc(Array[Byte](1), lut))
    assert(e.getMessage.contains("geometry mismatch"))
  }

  test("signBits refuses dims beyond one 64-bit word (mirror divergence guard)") {
    val big = new GenericArrayData(Array.fill(65)(1f))
    val e = intercept[IllegalArgumentException](VecIndex.signBits(big))
    assert(e.getMessage.contains("64"))
  }

  test("signBits sets bit i iff dim i is strictly positive; Hamming via xor") {
    val bits = VecIndex.signBits(vec(1f, -1f, 0f, 0.001f))
    assert(bits == ((1L << 0) | (1L << 3)), "zero clears the bit, sign sets it")
    val other = VecIndex.signBits(vec(1f, 1f, 0f, -0.5f))
    assert(java.lang.Long.bitCount(bits ^ other) == 2)
  }

  test("pqLut micro-quantizes the per-subspace query dots") {
    val lut = VectorSearch.pqLut(Array(1f, 0f, 0f, 1f), books)
    assert(lut.length == 2 && lut.forall(_.length == 2))
    assert(lut(0).toSeq == Seq(0L, 1000000L)) // dot with (0,0)=0, (1,1)=1
    assert(lut(1).toSeq == Seq(1000000L, 0L)) // dot with (0,1)=1, (1,0)=0
  }

  test("pqCodebooks: deterministic across runs, shape m x ksub x dsub, " +
       "and assignment-consistent") {
    val emb = Tables.embeddings(spark, d)
    val b1 = VectorSearch.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 4, iters = 2)
    val b2 = VectorSearch.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 4, iters = 2)
    assert(b1.length == 8 && b1.forall(_.length == 4) &&
      b1.forall(_.forall(_.length == 8)))
    assert(b1.flatten.flatten.toSeq == b2.flatten.flatten.toSeq,
      "decimal Lloyd training must be bit-identical across executions")
  }

  test("buildIvfPq + searchTopKIvfPq: lifecycle, where=, and vec-form parity") {
    val path = s"${Sessions.workDir}/test_pq_idx"
    val docs = Tables.documents(spark, d).limit(60)
    IndexStore.buildIvfPq(spark, docs, path, nCells = 4)
    // the sidecars both persisted
    assert(spark.read.parquet(s"$path/_pq").count() ==
      IndexStore.PqM * IndexStore.PqKsub)
    val r = IndexStore.searchTopKIvfPq(spark, path, "alpha beta", k = 5,
      probes = 2, overfetch = 16).collect()
    assert(r.length == 5 && r.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4, 5))
    // query_embeddings form returns the identical ranking
    val qvec = graft.functions.Embed.embed("alpha beta", graft.functions.Embed.DefaultDim)
    val rv = IndexStore.searchTopKIvfPqVec(spark, path, qvec, k = 5,
      probes = 2, overfetch = 16).collect()
    assert(r.map(_.getAs[String]("chunk_id")).toSeq ==
      rv.map(_.getAs[String]("chunk_id")).toSeq)
    // where= restricts the result set beneath the ranks
    val rw = IndexStore.searchTopKIvfPq(spark, path, "alpha beta", k = 5,
      probes = 2, overfetch = 16, where = Some(col("doc_id") < 10)).collect()
    assert(rw.forall(_.getAs[Long]("doc_id") < 10))
    // a wrong-dim query vector fails fast against the stored quantizer
    intercept[IllegalArgumentException] {
      IndexStore.searchTopKIvfPqVec(spark, path, qvec.take(8), k = 5)
    }
    // the batch path reproduces the single-query ranking per query
    val rb = IndexStore.searchTopKIvfPqBatch(spark, path,
      Seq(0L -> "alpha beta", 1L -> "gamma delta"), k = 5,
      probes = 2, overfetch = 16).collect()
    assert(rb.filter(_.getAs[Long]("query_id") == 0L)
      .map(_.getAs[String]("chunk_id")).toSeq ==
      r.map(_.getAs[String]("chunk_id")).toSeq,
      "batch must equal the single-query path for the same query")
  }

  test("maintenance on the PQ layout keeps codes: append and upsert encode " +
       "through the persisted books, delete composes") {
    val path = s"${Sessions.workDir}/test_pq_maint"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = Tables.documents(spark, d)
    IndexStore.buildIvfPq(spark, docs.filter(col("doc_id") < 40), path, nCells = 4)
    IndexStore.appendIvf(spark,
      docs.filter(col("doc_id") >= 40 && col("doc_id") < 50), path)
    IndexStore.upsertIvf(spark,
      docs.filter(col("doc_id") === 5)
        .withColumn("text", concat(lit("revised "), col("text"))), path)
    val layout = spark.read.parquet(path)
    assert(layout.filter(col("pq_code").isNull).count() == 0,
      "no maintenance verb may leave a null pq_code behind")
    // appended/upserted rows carry codes the persisted books would
    // assign — re-encode and compare
    val books = IndexStore.readPqBooks(spark, path)
    val mismatches = layout
      .withColumn("expect",
        graft.functions.vecIndexExprs.pqEncode(col("embedding"), books))
      .filter(not(col("pq_code") === col("expect"))).count()
    assert(mismatches == 0, "stored codes must match the persisted books' encode")
    // the ADC search path serves the maintained corpus
    val r = IndexStore.searchTopKIvfPq(spark, path, "alpha beta", k = 5,
      probes = 4, overfetch = 32).collect()
    assert(r.length == 5)
    IndexStore.deleteIdsIvf(spark, path,
      layout.filter(col("doc_id") === 7).select("chunk_id")
        .collect().map(_.getString(0)).toSeq)
    assert(spark.read.parquet(path).filter(col("doc_id") === 7).count() == 0)
  }

  test("residual layout: lifecycle, maintenance re-encode through the " +
       "stored contract, and exact rerank parity with the raw layout") {
    val path = s"${Sessions.workDir}/test_pqr_maint"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = Tables.documents(spark, d)
    IndexStore.buildIvfPq(spark, docs.filter(col("doc_id") < 40), path,
      nCells = 4, residual = true)
    assert(IndexStore.pqEncoding(spark, path) == "residual",
      "the _pqmeta contract must record the encoding")
    IndexStore.appendIvf(spark,
      docs.filter(col("doc_id") >= 40 && col("doc_id") < 50), path)
    IndexStore.upsertIvf(spark,
      docs.filter(col("doc_id") === 5)
        .withColumn("text", concat(lit("revised "), col("text"))), path)
    val layout = spark.read.parquet(path)
    assert(layout.filter(col("pq_code").isNull).count() == 0)
    // every stored code — built, appended, upserted — must equal the
    // books' encode of the RESIDUAL to the row's own cell centroid
    val cents = spark.read.parquet(s"$path/_centroids")
      .withColumnRenamed("cent_id", "cell").withColumnRenamed("cvec", "ccvec")
    val books = IndexStore.readPqBooks(spark, path)
    val mismatches = layout.join(cents, "cell")
      .withColumn("expect", graft.functions.vecIndexExprs.pqEncode(
        zip_with(col("embedding"), col("ccvec"), (a, b) => a - b), books))
      .filter(not(col("pq_code") === col("expect"))).count()
    assert(mismatches == 0,
      "stored codes must be residual encodes under the stored contract")
    // the residual ADC search path serves the maintained corpus, and
    // the exact rerank makes single and batch agree with each other
    val r = IndexStore.searchTopKIvfPq(spark, path, "alpha beta", k = 5,
      probes = 4, overfetch = 32).collect()
    assert(r.length == 5 && r.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4, 5))
    val rb = IndexStore.searchTopKIvfPqBatch(spark, path,
      Seq(0L -> "alpha beta"), k = 5, probes = 4, overfetch = 32).collect()
    assert(rb.map(_.getAs[String]("chunk_id")).toSeq ==
      r.map(_.getAs[String]("chunk_id")).toSeq,
      "residual batch must equal the residual single-query path")
  }

  test("q123: the PQ search scan prunes cell partitions and reads codes, not buckets") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def leafScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => leafScans(a.executedPlan)
      case q: QueryStageExec => leafScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(leafScans)
    }
    val df = SparkEntry.queries("q123_ivfpq_search")(spark, d)
    df.collect()
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q123_pq_index")))
    assert(idxScans.nonEmpty, "expected scans of the q123 index:\n" +
      df.queryExecution.executedPlan)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"PQ search scan must carry a cell partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= 3,
        s"probe must open at most probes=3 cell directories, read $read: $f")
      assert(!f.requiredSchema.fieldNames.contains("lsh_buckets"),
        s"PQ scan must prune the unused lsh_buckets column: ${f.requiredSchema}")
    }
  }

  test("residual PQ reconstructs a clustered corpus better than raw PQ " +
      "at equal bytes (the q133 premise)") {
    import spark.implicits._
    // more tight clusters than PQ codes per subspace: raw PQ cannot
    // even place one code per cluster, residual PQ only needs to
    // cover the within-cluster ball
    val rnd = new scala.util.Random(7)
    val dim = 8
    val nClusters = 8
    val centers = Seq.fill(nClusters)(
      Array.fill(dim)((rnd.nextInt(11) - 5).toFloat))
    val corpus = (0 until 64).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, (i % nClusters).toLong,
        c.zip(Array.fill(dim)(rnd.nextGaussian().toFloat * 0.3f))
          .map { case (a, b) => a + b }.toSeq)
    }
    val df = corpus.toDF("vec_id", "cell", "embedding")
    val cents = centers.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toDF("cell", "cvec")
    val resid = df.join(cents, "cell")
      .select(col("vec_id"), col("cell"), col("embedding"),
        zip_with(col("embedding"), col("cvec"), (a, b) => a - b).as("resid"))
      .localCheckpoint()
    val m = 4; val ksub = 4
    val rawBooks = VectorSearch.pqCodebooks(df, "vec_id", "embedding",
      m, ksub, iters = 2, dim = dim)
    val resBooks = VectorSearch.pqCodebooks(resid, "vec_id", "resid",
      m, ksub, iters = 2, dim = dim)
    def sqErr(v: Array[Float], code: Array[Byte],
              books: Array[Array[Array[Float]]], base: Array[Float]): Double =
      v.indices.map { i =>
        val s = i / (dim / m)
        val rec = base(i) + books(s)(code(s) & 0xFF)(i % (dim / m))
        val e = v(i) - rec; e * e
      }.sum
    val zero = Array.fill(dim)(0f)
    val errs = corpus.map { case (_, cell, emb) =>
      val v = emb.toArray
      val c = centers(cell.toInt)
      val r = v.zip(c).map { case (a, b) => a - b }
      val raw = sqErr(v, VecIndex.pqEncode(new GenericArrayData(v), rawBooks),
        rawBooks, zero)
      val res = sqErr(v, VecIndex.pqEncode(new GenericArrayData(r), resBooks),
        resBooks, c)
      (raw, res)
    }
    val (rawTot, resTot) = errs.foldLeft((0.0, 0.0)) {
      case ((a, b), (x, y)) => (a + x, b + y)
    }
    assert(resTot < rawTot / 2,
      s"residual reconstruction must at least halve the error on a " +
        s"clustered corpus: raw=$rawTot res=$resTot")
  }
}
