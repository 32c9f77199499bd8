package graft

import graft.functions.{exprs, Registry, TypeInference}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Integration of the native expressions inside real Spark plans. */
class ExpressionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("a1_col / a1_index as Catalyst expressions (codegen path)") {
    import spark.implicits._
    val df = (0 until 1000).toDF("i")
      .withColumn("letter", exprs.a1Col(col("i")))
      .withColumn("back", exprs.a1Index(col("letter")))
    assert(df.filter(col("back") =!= col("i")).count() == 0)
    val row702 = df.filter(col("i") === 702).select("letter").head.getString(0)
    assert(row702 == "AAA")
  }

  test("a1 functions usable from SQL after registration") {
    Registry.ensure(spark)
    val got = spark.sql("SELECT a1_col(27) AS c, a1_index('AB') AS i").head
    assert(got.getString(0) == "AB" && got.getInt(1) == 27)
  }

  test("chunk_text generator explodes rows with positions") {
    import spark.implicits._
    val text = (1 to 50).map(i => s"tok$i").mkString(" ") // ~350 chars
    val df = Seq((1L, text), (2L, "short")).toDF("id", "text")
      .select(col("id"), exprs.chunkText(col("text"), 100, 20).as(Seq("pos", "chunk")))
    val rows = df.collect()
    assert(rows.count(_.getLong(0) == 2L) == 1) // short text: 1 chunk
    val posForId1 = rows.filter(_.getLong(0) == 1L).map(_.getInt(1)).sorted
    assert(posForId1.head == 0 && posForId1.length > 1)
    assert(rows.forall(_.getString(2).length <= 100))
  }

  test("chunk_text codegen path equals the Chunker kernel exactly") {
    import spark.implicits._
    // varied shapes: multi-separator text, exact-boundary, empty-ish
    val texts = Seq(
      ("p1 " * 100).trim + "\n\n" + ("p2 " * 80).trim + "\nline\nlast words here",
      "a" * 260,
      (1 to 60).map(i => s"w$i").mkString(" "),
      "tiny")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"), exprs.chunkText(col("text"), 120, 24).as(Seq("pos", "chunk")))
    // the Generate node must be codegen'd (star marker), and its rows
    // must equal Chunker.split run directly
    df.collect() // finalize AQE plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("Generate") && l.contains("*(")),
      s"Generate must be inside whole-stage codegen:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val want = texts.zipWithIndex.flatMap { case (t, i) =>
      graft.functions.Chunker.split(t, 120, 24).zipWithIndex.map {
        case (c, p) => (i.toLong, p, c)
      }
    }.toSet
    assert(got == want)
  }

  test("chunk_text via SQL (LATERAL VIEW-style)") {
    Registry.ensure(spark)
    import spark.implicits._
    Seq((1L, ("x " * 200).trim)).toDF("id", "text").createOrReplaceTempView("t")
    val n = spark.sql(
      "SELECT id, pos, chunk FROM t LATERAL VIEW chunk_text(text, 50, 10) AS pos, chunk")
      .count()
    assert(n > 1)
  }

  test("VecKernels match the declarative zip_with/aggregate forms bit-exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => d(x) * d(y)),
      lit(0.0), (acc, x) => acc + x)
    val hofL2 = aggregate(zip_with(col("a"), col("b"),
      (x, y) => (d(x) - d(y)) * (d(x) - d(y))), lit(0.0), (acc, x) => acc + x)
    val cmp = df.select(
      graft.functions.VectorOps.vecDot(col("a"), col("b")).as("kd"),
      hofDot.as("hd"),
      graft.functions.VectorOps.vecL2Sq(col("a"), col("b")).as("kl"),
      hofL2.as("hl"))
    assert(cmp.filter(col("kd") =!= col("hd") || col("kl") =!= col("hl")).count() == 0)
  }

  test("vec functions usable from SQL") {
    Registry.ensure(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head
    assert(r.getDouble(0) == 11.0)
  }

  test("SimplifyA1Roundtrips cancels codec roundtrips in the optimized plan") {
    import spark.implicits._
    spark.experimental.extraOptimizations =
      Seq(graft.functions.SimplifyA1Roundtrips)
    val df = (0 until 10).toDF("i")
      .withColumn("back", exprs.a1Index(exprs.a1Col(col("i"))))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("a1col") && !optimized.contains("A1Col"),
      s"roundtrip not eliminated:\n$optimized")
    assert(df.filter(col("back") =!= col("i")).count() == 0)
  }

  test("GraftExtensions installs the functions via spark.sql.extensions") {
    spark // force the shared session/context first
    // build a sibling session over the same context (never stop it —
    // that would kill the suite's SparkContext)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // (spark.sql.extensions=graft.GraftExtensions does the same at
      // cluster level; it is a static conf, so in-JVM we pass the
      // instance through the builder instead). The builder's
      // withExtensions entry point is what this test covers, so this
      // is the one session not opened through Sessions.local.
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val r = s2.sql("SELECT a1_col(702) AS c").head
      assert(r.getString(0) == "AAA")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("native hash expressions match the ScalaUDF kernels bit-for-bit") {
    import spark.implicits._
    import graft.functions.{hashExprs, Hashes}
    val rnd = new scala.util.Random(41)
    val texts = (0 until 60).map { i =>
      (i.toLong, (1 to 40 + rnd.nextInt(200)).map(_ => s"w${rnd.nextInt(300)}").mkString(" "))
    } ++ Seq(
      (999L, ""),
      // non-ASCII: multibyte UTF-8, surrogate pairs, combining marks —
      // the UTF8String -> String conversion must agree between the
      // codegen kernel call and the ScalaUDF path
      (1000L, "đúng tiếng việt nội dung văn bản đúng tiếng việt"),
      (1001L, "日本語のテキスト 数据处理 日本語のテキスト 数据处理 été déjà"),
      (1002L, "emoji 🎉 test 🚀🎉 emoji tab\tand\nnewline mixed 🎉"))
    val df = texts.toDF("id", "text").repartition(4)
    val cmp = df.select(
      hashExprs.minhashBands(col("text"), 64, 3, 16).as("mb_n"),
      Hashes.minhashBandsUdf(64, 3, 16)(col("text")).as("mb_u"),
      hashExprs.simhash64(col("text")).as("sh_n"),
      Hashes.simhashUdf(col("text")).as("sh_u"),
      sort_array(hashExprs.shingleHashes(col("text"), 3)).as("sg_n"),
      sort_array(Hashes.shingleHashesUdf(3)(col("text"))).as("sg_u"),
      hashExprs.winnowFp(col("text"), 8, 4).as("wf_n"),
      Hashes.winnowUdf(8, 4)(col("text")).as("wf_u"))
    assert(cmp.filter(col("mb_n") =!= col("mb_u") || col("sh_n") =!= col("sh_u") ||
      col("sg_n") =!= col("sg_u") || col("wf_n") =!= col("wf_u")).count() == 0)
  }

  test("native lsh_buckets matches the UDF kernel bit-for-bit") {
    import spark.implicits._
    import graft.functions.{hashExprs, Lsh}
    val rnd = new scala.util.Random(43)
    val df = (0 until 100).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "v")
    val cmp = df.select(
      hashExprs.lshBuckets(col("v"), 64, 6, 16).as("n"),
      Lsh.bucketsUdf(64, 6, 16)(col("v")).as("u"))
    assert(cmp.filter(col("n") =!= col("u")).count() == 0)
  }

  test("hash/sq8 kernels usable from SQL after registration") {
    Registry.ensure(spark)
    val r = spark.sql("""
      SELECT simhash64('alpha beta gamma') AS sh,
             size(minhash_bands('alpha beta gamma delta', 64, 3, 16)) AS nb,
             size(shingle_hashes('a b c d', 2)) AS ns,
             size(winnow_fp('abcdefghijklmnop', 8, 4)) AS nw,
             size(lsh_buckets(array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT)), 2, 4, 3)) AS nl,
             sq8_dot(sq8_code(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))),
                     sq8_code(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))) AS d
      """).head
    assert(r.getLong(0) == graft.functions.Hashes.simhash64("alpha beta gamma"))
    assert(r.getInt(1) == 16 && r.getInt(2) == 3 && r.getInt(3) > 0 && r.getInt(4) == 3)
    assert(r.getInt(5) == 127 * 127)
  }

  test("MinHashBands rejects bad band constants at construction, not per row") {
    import graft.functions.hashExprs
    intercept[IllegalArgumentException] {
      hashExprs.minhashBands(col("text"), 64, 3, 7) // 7 does not divide 64
    }
  }

  test("NearestCell/NearestCells/MinCentDist match a driver-side argmin") {
    import spark.implicits._
    import graft.functions.vecIndexExprs
    val rnd = new scala.util.Random(47)
    def v(): Array[Float] = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val cents = Array.fill(9)(v())
    val ids = Array.tabulate(9)(i => (i * 10).toLong)
    val df = (0 until 120).map(i => (i.toLong, v())).toDF("id", "x")
    val got = df.select(col("id"),
        vecIndexExprs.nearestCell(col("x"), ids, cents).as("cell"),
        vecIndexExprs.nearestCells(col("x"), ids, cents, 3).as("cells"),
        vecIndexExprs.minCentDist(col("x"), cents).as("dmin"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Long](2), r.getDouble(3)))).toMap
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    rows.foreach { case (id, x) =>
      val ds = cents.indices.map { i =>
        var s = 0.0
        (0 until 16).foreach(j => { val d = x(j).toDouble - cents(i)(j).toDouble; s += d * d })
        (math.sqrt(s), ids(i))
      }
      val want = ds.sortBy(identity).map(_._2)
      assert(got(id)._1 == want.head, s"nearestCell mismatch at $id")
      assert(got(id)._2 == want.take(3), s"nearestCells mismatch at $id")
      assert(got(id)._3 == ds.map(_._1).min, s"minCentDist mismatch at $id")
    }
  }

  test("sq8 code/dot approximates cosine rank on unit-ish vectors") {
    import graft.functions.VecIndex
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(53)
    def v(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val q = v()
    val xs = Array.fill(50)(v())
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until 64).foreach { i =>
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    def ad(a: Array[Float]) = new GenericArrayData(a)
    val qc = VecIndex.sq8Code(ad(q)); val qf = VecIndex.sq8Factor(ad(q))
    val approx = xs.map { x =>
      VecIndex.sq8Dot(qc, VecIndex.sq8Code(ad(x))) * qf * VecIndex.sq8Factor(ad(x))
    }
    val exact = xs.map(cos(q, _))
    // SQ8 with 127 levels: tiny quantization error
    xs.indices.foreach(i => assert(math.abs(approx(i) - exact(i)) < 0.01,
      s"sq8 error too large at $i: ${approx(i)} vs ${exact(i)}"))
    // and the top-5 by approx contains the top-3 by exact
    val topA = approx.zipWithIndex.sortBy(-_._1).take(5).map(_._2).toSet
    val topE = exact.zipWithIndex.sortBy(-_._1).take(3).map(_._2).toSet
    assert(topE.subsetOf(topA))
  }

  test("binary sign code packs the expected bits; knnBinary recalls exact top-k") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.VectorSearch
    // known pattern: bits 0, 2, 63 positive -> exactly those bits set
    // (bit 63 makes the code negative — the signed wrap the oracle
    // mirrors in HUGEINT)
    val v = Array.tabulate(64)(i =>
      if (i == 0 || i == 2) 1.0f else if (i == 63) 0.5f else -1.0f)
    val code = Seq(Tuple1(v.toSeq)).toDF("embedding")
      .select(expr("aggregate(sequence(0, 63), 0L, (acc, i) -> " +
        "acc | IF(element_at(embedding, i + 1) > 0F, shiftleft(1L, i), 0L))"))
      .head().getLong(0)
    assert(code == (1L | (1L << 2) | (1L << 63)), s"got $code")
    // a zero coordinate is NOT positive: contributes no bit
    val z = Seq(Tuple1(Array.fill(64)(0.0f).toSeq)).toDF("embedding")
      .select(expr("aggregate(sequence(0, 63), 0L, (acc, i) -> " +
        "acc | IF(element_at(embedding, i + 1) > 0F, shiftleft(1L, i), 0L))"))
      .head().getLong(0)
    assert(z == 0L)
    // exact top-k recovery in the regime the method is FOR: a
    // sign-structured corpus (every coordinate decisively + or -,
    // the shape binarization-aware embedding models produce). Each
    // vector is a deterministic ±1 pattern with small magnitude
    // jitter; cosine neighbors are exactly the low-Hamming codes, so
    // the binary pre-rank at a tiny overfetch must recover the exact
    // cosine top-3. (On the isotropic fixture the same call is
    // oracle-pinned by q185 but recall vs exact degrades with corpus
    // size — the operator doc records the measured curve.)
    val rnd = new scala.util.Random(97)
    val base = Array.fill(64)(if (rnd.nextBoolean()) 1.0f else -1.0f)
    val corpus = (0L until 120L).map { id =>
      val flips = (0 until (id % 24).toInt)
        .map(j => (id * 31 + j * 7) % 64).toSet
      val v = base.indices.map { i =>
        val sign = if (flips.contains(i.toLong)) -base(i) else base(i)
        sign * (0.8f + 0.4f * (((id + i) % 5) / 5.0f))
      }.toArray
      (id, v.toSeq)
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def tops(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exactTop = tops(VectorSearch.knnCosine(corpus, "vec_id", "embedding", qs, 3)
      .select(col("query_id"), col("rank").cast("int"), col("vec_id")))
    val binTop = tops(VectorSearch.knnBinary(corpus, "vec_id", "embedding", qs,
        k = 3, overfetch = 8)
      .select(col("query_id"), col("rank").cast("int"), col("vec_id")))
    assert(binTop == exactTop,
      "binary pre-rank must recover the exact top-3 on sign-structured vectors")
  }

  test("suggest_data_type classifies like the reference") {
    import spark.implicits._
    val df = Seq(
      "42" -> "integer", "-7" -> "integer", "3.14" -> "float",
      "true" -> "boolean", "Sai" -> "boolean", "đúng" -> "boolean",
      "25/12/2024" -> "date", "2024-12-25" -> "date",
      "hello" -> "string", "12a" -> "string")
      .toDF("v", "expected")
      .withColumn("got", TypeInference.suggestDataType(col("v")))
    assert(df.filter(col("got") =!= col("expected")).count() == 0)
  }
}
