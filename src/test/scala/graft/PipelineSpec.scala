package graft

import java.nio.file.Files

import graft.operators.Multimodal
import graft.sources.IndexStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden pipeline tests (SURVEY.md §5.4): build the index from a
  * tiny in-memory grid, search it, and check ids/links/idempotence.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def tinyDocs = {
    import spark.implicits._
    Seq(
      (0L, "alpha beta gamma delta epsilon", "sheetA"),
      (1L, ("long cell content " * 80).trim, "sheetA"), // >1000 chars => multi-chunk
      (2L, "spark sql window aggregation", "sheetB"))
      .toDF("doc_id", "text", "source")
  }

  test("index build + search roundtrip with deterministic ids and links") {
    val dir = Files.createTempDirectory("graft_idx").toString + "/index"
    IndexStore.build(spark, tinyDocs, dir)
    val idx = spark.read.parquet(dir)
    // multi-chunk doc got chunked; ids are source_doc_pos
    assert(idx.filter(col("doc_id") === 1L).count() >= 2)
    assert(idx.filter(col("chunk_id") === "sheetA_0_0").count() == 1)
    // embeddings are unit-norm 64-dim
    val emb = idx.select("embedding").head.getSeq[Float](0)
    assert(emb.length == 64)

    val hits = IndexStore.searchTopK(spark, dir, "spark sql window", k = 3).collect()
    assert(hits.length == 3)
    assert(hits.head.getAs[Long]("doc_id") == 2L) // the on-topic doc wins
    val link = hits.head.getAs[String]("link")
    assert(link == "https://docs.google.com/spreadsheets/d/sheetB/edit#gid=0&range=A4")
  }

  test("retrainAdvice on a persisted IVF layout: in-distribution appends " +
      "pass, a shifted batch triggers the retrain decision") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_retrain").toString + "/ivf"
    val docs = (0L until 60L).map(i =>
        (i, s"retrain policy corpus document number $i topic ${i % 5}", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    IndexStore.buildIvf(spark, docs, dir, nCells = 4)
    // recent batch drawn from the SAME distribution: the layout's own
    // vectors — sits under the p95 bar, no retrain
    val layout = spark.read.parquet(dir)
    val inDist = IndexStore.retrainAdvice(spark, dir,
      layout.limit(20), quantile = 0.95, driftFrac = 0.5)
    val inRow = inDist.collect().head
    assert(!inRow.getAs[Boolean]("should_retrain"),
      s"in-distribution sample must not trigger: $inRow")
    assert(inRow.getAs[Long]("n_recent") == 20L)
    // drifted batch: the same vectors shifted far outside the trained
    // cells — every distance lands over the bar
    val shifted = layout.limit(20)
      .select(col("chunk_id"),
        transform(col("embedding"), v => v + lit(10.0f)).as("embedding"))
    val out = IndexStore.retrainAdvice(spark, dir, shifted).collect().head
    assert(out.getAs[Boolean]("should_retrain"),
      s"a fully drifted sample must trigger: $out")
    assert(out.getAs[Long]("n_over") == 20L)
    // the train-side sample knob keeps the decision stable (the rank
    // statistic moves, the verdicts must not, on this easy geometry)
    val sampled = IndexStore.retrainAdvice(spark, dir, shifted,
      trainSample = 0.5).collect().head
    assert(sampled.getAs[Boolean]("should_retrain"))
    assert(sampled.getAs[Long]("n_train") < out.getAs[Long]("n_train"))
  }

  test("ANN search probes persisted LSH buckets and finds the on-topic doc") {
    val dir = Files.createTempDirectory("graft_idx_ann").toString + "/index"
    IndexStore.build(spark, tinyDocs, dir)
    val idx = spark.read.parquet(dir)
    assert(idx.schema.fieldNames.contains("lsh_buckets"))
    assert(idx.select("lsh_buckets").head.getSeq[Long](0).length == IndexStore.LshTables)
    val exact = IndexStore.searchTopK(spark, dir, "spark sql window", k = 3).collect()
    val ann = IndexStore.searchTopKAnn(spark, dir, "spark sql window", k = 3).collect()
    // ANN candidates are a subset of the corpus ranked by the same
    // exact score, so its hits appear in exact order; the strongly
    // on-topic doc must survive the bucket probe at rank 1
    assert(ann.nonEmpty)
    assert(ann.head.getAs[Long]("doc_id") == 2L)
    val exactIds = exact.map(_.getAs[String]("chunk_id")).toSeq
    val annIds = ann.map(_.getAs[String]("chunk_id")).toSeq
    val shared = annIds.filter(exactIds.contains)
    assert(shared == exactIds.filter(annIds.contains),
      s"ann must preserve exact relative order: $annIds vs $exactIds")
  }

  test("SQ8 compressed search equals exact search on the persisted index") {
    val dir = Files.createTempDirectory("graft_idx_sq8").toString + "/index"
    IndexStore.build(spark, tinyDocs, dir)
    val idx = spark.read.parquet(dir)
    assert(idx.schema.fieldNames.contains("sq8_code"))
    assert(idx.select("sq8_code").head.getAs[Array[Byte]](0).length == 64)
    val exact = IndexStore.searchTopK(spark, dir, "spark sql window", k = 3).collect()
    val sq8 = IndexStore.searchTopKSq8(spark, dir, "spark sql window", k = 3).collect()
    // overfetch covers the whole tiny corpus => identical result rows
    assert(sq8.map(_.getAs[String]("chunk_id")).toSeq ==
      exact.map(_.getAs[String]("chunk_id")).toSeq)
    assert(sq8.head.getAs[Long]("doc_id") == 2L)
  }

  test("bucket-partitioned index prunes partitions at plan time") {
    val dir = Files.createTempDirectory("graft_idx_bp").toString + "/index"
    IndexStore.buildBucketed(spark, tinyDocs, dir)
    val df = IndexStore.searchTopKAnnPartitioned(spark, dir, "spark sql window", k = 3)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("bucket"), s"bucket predicate must prune partitions: $scan")
    val hits = df.collect()
    assert(hits.nonEmpty && hits.head.getAs[Long]("doc_id") == 2L)
    // agrees with the row-pruned ANN over the flat layout
    val flatDir = Files.createTempDirectory("graft_idx_fl").toString + "/index"
    IndexStore.build(spark, tinyDocs, flatDir)
    val flat = IndexStore.searchTopKAnn(spark, flatDir, "spark sql window", k = 3).collect()
    assert(hits.map(_.getAs[String]("chunk_id")).toSeq ==
      flat.map(_.getAs[String]("chunk_id")).toSeq)
  }

  test("IVF-partitioned index prunes cell partitions and finds the on-topic doc") {
    val dir = Files.createTempDirectory("graft_idx_ivf").toString + "/index"
    IndexStore.buildIvf(spark, tinyDocs, dir, nCells = 2, lloydIters = 1)
    // sidecar centroid table persisted and hidden from the table read
    assert(spark.read.parquet(s"$dir/_centroids").count() >= 1)
    assert(!spark.read.parquet(dir).columns.contains("cent_id"))
    val df = IndexStore.searchTopKIvf(spark, dir, "spark sql window",
      k = 3, probes = 1, overfetch = 10)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("cell"), s"cell predicate must prune partitions: $scan")
    val hits = df.collect()
    assert(hits.nonEmpty && hits.head.getAs[Long]("doc_id") == 2L)
    // probing every cell with full overfetch recovers the exact ranking
    val all = IndexStore.searchTopKIvf(spark, dir, "spark sql window",
      k = 3, probes = 2, overfetch = 100).collect()
    val exactDir = Files.createTempDirectory("graft_idx_ex").toString + "/index"
    IndexStore.build(spark, tinyDocs, exactDir)
    val exact = IndexStore.searchTopK(spark, exactDir, "spark sql window", k = 3).collect()
    assert(all.map(_.getAs[String]("chunk_id")).toSeq ==
      exact.map(_.getAs[String]("chunk_id")).toSeq)
  }

  test("appendIvf assigns new docs with the existing quantizer, search finds them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_idx_app").toString + "/index"
    IndexStore.buildIvf(spark, tinyDocs, dir, nCells = 2, lloydIters = 1)
    val centsBefore = spark.read.parquet(s"$dir/_centroids").collect().toSeq
    val nBefore = spark.read.parquet(dir).count()
    val late = Seq((9L, "spark sql window aggregation shuffle partitions", "sheetC"))
      .toDF("doc_id", "text", "source")
    IndexStore.appendIvf(spark, late, dir)
    // append adds rows without touching the quantizer or old rows
    assert(spark.read.parquet(dir).count() > nBefore)
    assert(spark.read.parquet(s"$dir/_centroids").collect().toSeq == centsBefore)
    // the appended row's cell matches a fresh assignment by the sidecar
    val ids = centsBefore.map(_.getLong(0)).sorted
    val hits = IndexStore.searchTopKIvf(spark, dir, "spark sql window",
      k = 2, probes = 2, overfetch = 20).collect()
    assert(hits.map(_.getAs[Long]("doc_id")).toSet == Set(2L, 9L),
      s"search must surface the appended on-topic doc: ${hits.toSeq}")
    val cell = spark.read.parquet(dir).filter(col("doc_id") === 9L)
      .select(col("cell").cast("long")).head().getLong(0)
    assert(ids.contains(cell), s"appended row landed in unknown cell $cell")
  }

  test("appendIvf writes exactly one file per touched cell") {
    import spark.implicits._
    // the append-forever small-files contract: without the cell
    // coalesce every upstream task wrote a sliver into every cell it
    // held rows for (measured: 1138 files after 8 small appends)
    val dir = Files.createTempDirectory("graft_idx_one").toString + "/index"
    IndexStore.buildIvf(spark, tinyDocs, dir, nCells = 2, lloydIters = 1)
    def filesPerCell(): Map[String, Int] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(f => f.getName ->
          f.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val before = filesPerCell()
    // a many-doc wave spread across many upstream tasks
    val wave = (100L until 140L).map(i =>
        (i, s"append wave document number $i about window shuffles", "sheetD"))
      .toDF("doc_id", "text", "source")
    IndexStore.appendIvf(spark, wave, dir)
    val after = filesPerCell()
    after.foreach { case (cellDir, n) =>
      assert(n - before.getOrElse(cellDir, 0) <= 1,
        s"$cellDir grew by ${n - before.getOrElse(cellDir, 0)} files in ONE append")
    }
  }

  test("compactIvf merges only the crowded cells and changes no row or result") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_idx_cmp").toString + "/index"
    IndexStore.buildIvf(spark, tinyDocs, dir, nCells = 2, lloydIters = 1)
    // a stream of small appends: each adds one file to its cells
    (10L until 16L).foreach { i =>
      IndexStore.appendIvf(spark,
        Seq((i, s"spark sql window aggregation batch $i", "sheetC"))
          .toDF("doc_id", "text", "source"), dir)
    }
    def cellFiles(): Map[String, Seq[String]] =
      new java.io.File(dir).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq)
        .toMap
    val before = cellFiles()
    assert(before.values.exists(_.size > 2), s"fixture must produce a crowded cell: $before")
    val rowsBefore = spark.read.parquet(dir)
      .select("chunk_id", "cell").collect()
      .map(r => (r.getString(0), r.get(1).toString)).sorted.toSeq
    val resBefore = IndexStore.searchTopKIvf(spark, dir, "spark sql window",
      k = 3, probes = 2, overfetch = 50).collect().map(_.getAs[String]("chunk_id")).toSeq
    IndexStore.compactIvf(spark, dir, maxFilesPerCell = 2)
    val after = cellFiles()
    // crowded cells collapsed to one file; quiet cells byte-untouched
    before.foreach { case (cell, files) =>
      if (files.size > 2) assert(after(cell).size == 1, s"$cell not compacted: ${after(cell)}")
      else assert(after(cell) == files, s"quiet $cell must keep its exact files")
    }
    // rows and search results unchanged — compaction is layout-only
    val rowsAfter = spark.read.parquet(dir)
      .select("chunk_id", "cell").collect()
      .map(r => (r.getString(0), r.get(1).toString)).sorted.toSeq
    assert(rowsAfter == rowsBefore)
    val resAfter = IndexStore.searchTopKIvf(spark, dir, "spark sql window",
      k = 3, probes = 2, overfetch = 50).collect().map(_.getAs[String]("chunk_id")).toSeq
    assert(resAfter == resBefore)
    // idempotent: nothing left over the threshold -> second call no-ops
    val snapshot = cellFiles()
    IndexStore.compactIvf(spark, dir, maxFilesPerCell = 2)
    assert(cellFiles() == snapshot)
  }

  private def partFiles(dir: String, part: String): Seq[(String, Long)] = {
    val d = new java.io.File(dir, part)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length)).sortBy(_._1)
  }

  test("deleteIds rewrites only the touched source partition") {
    val dir = Files.createTempDirectory("graft_del_src").toString + "/index"
    IndexStore.build(spark, tinyDocs, dir)
    val beforeB = partFiles(dir, "source=sheetB")
    assert(beforeB.nonEmpty)
    IndexStore.deleteIds(spark, dir, Seq("sheetA_1_0"))
    val idx = spark.read.parquet(dir)
    assert(idx.filter(col("chunk_id") === "sheetA_1_0").count() == 0)
    // the doc's OTHER chunks and the other sheetA doc survive
    assert(idx.filter(col("doc_id") === 1L).count() >= 1)
    assert(idx.filter(col("chunk_id") === "sheetA_0_0").count() == 1)
    // untouched partition keeps its exact files
    assert(partFiles(dir, "source=sheetB") == beforeB)
    // search never returns a deleted id
    val hits = IndexStore.searchTopK(spark, dir, "long cell content", k = 10)
      .collect().map(_.getAs[String]("chunk_id"))
    assert(!hits.contains("sheetA_1_0"))
    // deleting an unknown id is a no-op, not an error
    val files = partFiles(dir, "source=sheetA")
    IndexStore.deleteIds(spark, dir, Seq("nope_0_0"))
    assert(partFiles(dir, "source=sheetA") == files)
  }

  test("deleteIdsIvf removes an emptied cell directory entirely") {
    val dir = Files.createTempDirectory("graft_del_ivf").toString + "/index"
    IndexStore.buildIvf(spark, tinyDocs, dir, nCells = 2, lloydIters = 1)
    val byCell = spark.read.parquet(dir)
      .select(col("cell").cast("long"), col("chunk_id")).collect()
      .groupBy(_.getLong(0)).map { case (c, rs) => c -> rs.map(_.getString(1)).toSeq }
    assert(byCell.size == 2, s"fixture must fill both cells: $byCell")
    val (doomedCell, doomedIds) = byCell.minBy(_._2.size)
    val otherCell = byCell.keys.filter(_ != doomedCell).head
    val otherFiles = partFiles(dir, s"cell=$otherCell")
    IndexStore.deleteIdsIvf(spark, dir, doomedIds)
    // the emptied directory is GONE (dynamic overwrite alone cannot
    // truncate a partition it writes no rows into)
    assert(!new java.io.File(dir, s"cell=$doomedCell").exists(),
      s"emptied cell=$doomedCell must be removed")
    assert(partFiles(dir, s"cell=$otherCell") == otherFiles)
    val left = spark.read.parquet(dir).select("chunk_id")
      .collect().map(_.getString(0)).toSet
    assert(left == byCell(otherCell).toSet)
    // quantizer untouched; search still serves
    assert(spark.read.parquet(s"$dir/_centroids").count() == 2)
    assert(IndexStore.searchTopKIvf(spark, dir, "spark sql window",
      k = 3, probes = 2, overfetch = 10).count() > 0)
  }

  test("deleteIds accepts a DataFrame id list (mass-takedown form) on " +
      "source and cell layouts, matching the Seq form's end state") {
    import spark.implicits._
    // source layout: delete via a DataFrame (with an extra column to
    // prove projection), compare against a Seq-form twin
    val dirA = Files.createTempDirectory("graft_del_df_src").toString + "/index"
    val dirB = Files.createTempDirectory("graft_del_df_src2").toString + "/index"
    IndexStore.build(spark, tinyDocs, dirA)
    IndexStore.build(spark, tinyDocs, dirB)
    val beforeB = partFiles(dirA, "source=sheetB")
    val idsDf = Seq(("sheetA_1_0", "takedown-42")).toDF("chunk_id", "reason")
    IndexStore.deleteIds(spark, dirA, idsDf)
    IndexStore.deleteIds(spark, dirB, Seq("sheetA_1_0"))
    def state(d: String): Seq[String] = spark.read.parquet(d)
      .select("chunk_id").collect().map(_.getString(0)).sorted.toSeq
    assert(state(dirA) == state(dirB))
    assert(!state(dirA).contains("sheetA_1_0"))
    // untouched partition byte-identical — the DataFrame form keeps
    // the partition-scoped rewrite discipline
    assert(partFiles(dirA, "source=sheetB") == beforeB)
    // cell layout: DataFrame form removes an emptied cell directory
    val dirC = Files.createTempDirectory("graft_del_df_ivf").toString + "/index"
    IndexStore.buildIvf(spark, tinyDocs, dirC, nCells = 2, lloydIters = 1)
    val byCell = spark.read.parquet(dirC)
      .select(col("cell").cast("long"), col("chunk_id")).collect()
      .groupBy(_.getLong(0)).map { case (c, rs) => c -> rs.map(_.getString(1)).toSeq }
    val (doomedCell, doomedIds) = byCell.minBy(_._2.size)
    IndexStore.deleteIdsIvf(spark, dirC,
      doomedIds.toDF("chunk_id"))
    assert(!new java.io.File(dirC, s"cell=$doomedCell").exists())
    val left = spark.read.parquet(dirC).select("chunk_id")
      .collect().map(_.getString(0)).toSet
    assert(left == byCell.filter(_._1 != doomedCell).values.flatten.toSet)
    // a frame without chunk_id fails loudly before touching the layout
    intercept[IllegalArgumentException] {
      IndexStore.deleteIds(spark, dirA, Seq("x").toDF("not_an_id"))
    }
  }

  test("an HNSW mutation evicts EVERY session's pin, not just the caller's") {
    import spark.implicits._
    // a pin surviving in another session would keep serving deleted
    // rows forever — the takedown must invalidate all readers
    val dir = Files.createTempDirectory("graft_del_pins").toString + "/index"
    val docs = (0L until 24L).map(i =>
        (i, s"pinned eviction document $i", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    IndexStore.buildHnsw(spark, docs, dir)
    val other = spark.newSession()
    IndexStore.searchTopKHnsw(spark, dir, "pinned eviction", k = 3).collect()
    IndexStore.searchTopKHnsw(other, dir, "pinned eviction", k = 3).collect()
    val pinned = IndexStore.hnswPinnedCount
    val doomed = spark.read.parquet(dir).filter(col("doc_id") === 0L)
      .select("chunk_id").collect().map(_.getString(0)).toSeq
    IndexStore.deleteIdsHnsw(spark, dir, doomed)
    assert(IndexStore.hnswPinnedCount == pinned - 2,
      "both sessions' pins on the mutated path must be evicted")
    // the OTHER session re-pins post-delete state and no longer sees the id
    val after = IndexStore.searchTopKHnsw(other, dir, "pinned eviction", k = 24)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!after.contains(0L), s"other session must not serve deleted rows: $after")
  }

  test("deleteIds removes an emptied partition whose value needs path escaping") {
    import spark.implicits._
    // Spark Hive-escapes special chars in partition DIRECTORY names
    // ('a:b' → 'a%3Ab'); the explicit emptied-directory delete must
    // target the escaped name or the "deleted" rows resurrect
    val dir = Files.createTempDirectory("graft_del_esc").toString + "/index"
    val docs = Seq(
      (0L, "colon source doc one", "a:b"),
      (1L, "plain source doc two", "plain"))
      .toDF("doc_id", "text", "source")
    IndexStore.build(spark, docs, dir)
    val doomed = spark.read.parquet(dir).filter(col("source") === "a:b")
      .select("chunk_id").collect().map(_.getString(0)).toSeq
    assert(doomed.nonEmpty)
    IndexStore.deleteIds(spark, dir, doomed)
    val left = spark.read.parquet(dir).select("source")
      .collect().map(_.getString(0)).toSet
    assert(left == Set("plain"),
      s"every a:b row died, so the source must vanish from reads: $left")
    assert(!new java.io.File(dir, "source=a%3Ab").exists() &&
      !new java.io.File(dir, "source=a:b").exists(),
      "the emptied escaped directory must be removed from disk")
  }

  test("deleteIdsHnsw rebuilds only the touched shard and search excludes the id") {
    import spark.implicits._
    val docs = (0L until 24L)
      .map(i => (i, s"topic $i " + (s"filler words about subject $i " * 12).trim,
        s"sheet${i % 3}"))
      .toSeq.toDF("doc_id", "text", "source")
    val dir = Files.createTempDirectory("graft_del_hnsw").toString + "/index"
    IndexStore.buildHnsw(spark, docs, dir)
    val target = "sheet2_5_0"
    val before = IndexStore.searchTopKHnsw(spark, dir, "topic 5 filler words about subject 5",
      k = 3).collect().map(_.getAs[String]("chunk_id"))
    assert(before.head == target, s"fixture must rank the target first: ${before.toSeq}")
    val targetShard = spark.read.parquet(dir)
      .filter(col("chunk_id") === target).select(col("shard").cast("int"))
      .head().getInt(0)
    val meta = IndexStore.readHnswMeta(spark, dir)
    val quiet = (0 until meta.numShards).filter(_ != targetShard)
      .map(sh => sh -> partFiles(dir, s"shard=$sh"))
    IndexStore.deleteIdsHnsw(spark, dir, Seq(target))
    // untouched shards byte-untouched; touched shard rebuilt
    quiet.foreach { case (sh, files) =>
      assert(partFiles(dir, s"shard=$sh") == files, s"shard=$sh must keep its files")
    }
    val after = IndexStore.searchTopKHnsw(spark, dir, "topic 5 filler words about subject 5",
      k = 3).collect().map(_.getAs[String]("chunk_id"))
    assert(!after.contains(target), s"deleted id still returned: ${after.toSeq}")
    assert(after.nonEmpty)
    // the rebuilt shard's graph is traversable and complete
    val shardRows = spark.read.parquet(dir)
      .filter(col("shard") === targetShard).count()
    assert(spark.read.parquet(dir).count() == 24 - 1)
    assert(shardRows >= 1)
  }

  test("deleteWhere dooms definite matches only (3VL) and keeps quiet partitions") {
    import org.apache.spark.sql.functions.when
    val dir = Files.createTempDirectory("graft_delw").toString + "/index"
    IndexStore.build(spark, tinyDocs, dir)
    val beforeB = partFiles(dir, "source=sheetB")
    // null for doc 0, true for doc 1 — chroma's where= three-valued
    // logic: only a DEFINITE match is doomed, null keeps the row
    val pred = when(col("doc_id") === 0L, lit(null).cast("boolean"))
      .otherwise(col("doc_id") === 1L)
    IndexStore.deleteWhere(spark, dir, pred)
    val left = spark.read.parquet(dir)
    assert(left.filter(col("doc_id") === 1L).count() == 0)
    assert(left.filter(col("doc_id") === 0L).count() == 1,
      "a null predicate must keep the row")
    // sheetB held no matching row: byte-untouched
    assert(partFiles(dir, "source=sheetB") == beforeB)
    // predicate-delete on the IVF layout, with a where_document-style
    // substring predicate; the emptied-cell cleanup still applies
    val ivfDir = Files.createTempDirectory("graft_delw_ivf").toString + "/index"
    IndexStore.buildIvf(spark, tinyDocs, ivfDir, nCells = 2, lloydIters = 1)
    IndexStore.deleteWhereIvf(spark, ivfDir, col("chunk").contains("long cell content"))
    val ivfLeft = spark.read.parquet(ivfDir)
    assert(ivfLeft.filter(col("doc_id") === 1L).count() == 0)
    assert(ivfLeft.filter(col("doc_id") =!= 1L).count() == 2)
  }

  test("upsertDocs replaces every old chunk of a doc, including stale tails") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ups_src").toString + "/index"
    IndexStore.build(spark, tinyDocs, dir)
    // doc 1 is multi-chunk; its revision is ONE short chunk — the old
    // tail chunks (pos >= 1) must not survive under their old ids
    assert(spark.read.parquet(dir).filter(col("doc_id") === 1L).count() >= 2)
    val beforeB = partFiles(dir, "source=sheetB")
    val revised = Seq((1L, "revised concise content", "sheetA"))
      .toDF("doc_id", "text", "source")
    IndexStore.upsertDocs(spark, revised, dir)
    val idx = spark.read.parquet(dir)
    val doc1 = idx.filter(col("doc_id") === 1L)
      .select("chunk_id", "chunk").collect()
    assert(doc1.length == 1, s"stale tail chunks survived: ${doc1.toSeq}")
    assert(doc1.head.getString(0) == "sheetA_1_0")
    assert(doc1.head.getString(1) == "revised concise content")
    // sibling doc in the same partition survives; other partition untouched
    assert(idx.filter(col("doc_id") === 0L).count() == 1)
    assert(partFiles(dir, "source=sheetB") == beforeB)
    assert(idx.groupBy("chunk_id").count().filter(col("count") > 1).count() == 0)
  }

  test("upsertIvf replaces rather than duplicates, via the persisted quantizer") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ups_ivf").toString + "/index"
    IndexStore.buildIvf(spark, tinyDocs, dir, nCells = 2, lloydIters = 1)
    val centsBefore = spark.read.parquet(s"$dir/_centroids").collect().toSeq
    val revised = Seq((2L, "completely different corpus maintenance text", "sheetB"))
      .toDF("doc_id", "text", "source")
    IndexStore.upsertIvf(spark, revised, dir)
    val idx = spark.read.parquet(dir)
    val doc2 = idx.filter(col("doc_id") === 2L).select("chunk").collect()
    assert(doc2.length == 1)
    assert(doc2.head.getString(0) == "completely different corpus maintenance text")
    assert(idx.groupBy("chunk_id").count().filter(col("count") > 1).count() == 0)
    // upsert never retrains the quantizer
    assert(spark.read.parquet(s"$dir/_centroids").collect().toSeq == centsBefore)
    // a second identical upsert is idempotent
    val n = idx.count()
    IndexStore.upsertIvf(spark, revised, dir)
    assert(spark.read.parquet(dir).count() == n)
    val hits = IndexStore.searchTopKIvf(spark, dir, "corpus maintenance",
      k = 2, probes = 2, overfetch = 20).collect()
    assert(hits.head.getAs[Long]("doc_id") == 2L)
  }

  test("updateDocs modifies existing identities and silently skips unknown ones") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upd_src").toString + "/index"
    IndexStore.build(spark, tinyDocs, dir)
    val before = spark.read.parquet(dir)
    val nBefore = before.count()
    val batch = Seq(
      (0L, "updated alpha text", "sheetA"),          // exists -> replaced
      (7L, "phantom new doc", "sheetA"),             // unknown id -> skipped
      (0L, "phantom new source", "ghost"))           // unknown source -> skipped
      .toDF("doc_id", "text", "source")
    IndexStore.updateDocs(spark, batch, dir)
    val idx = spark.read.parquet(dir)
    assert(idx.filter(col("doc_id") === 0L).select("chunk").head().getString(0)
      == "updated alpha text")
    assert(idx.filter(col("doc_id") === 7L).count() == 0, "update must not insert")
    assert(idx.filter(col("source") === "ghost").count() == 0,
      "update must not create a partition")
    assert(idx.count() == nBefore)
    // an all-phantom batch is a complete no-op
    IndexStore.updateDocs(spark,
      Seq((9L, "x", "sheetA")).toDF("doc_id", "text", "source"), dir)
    assert(spark.read.parquet(dir).count() == nBefore)
  }

  test("updateIvf skips unknown identities but replaces known ones") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upd_ivf").toString + "/index"
    IndexStore.buildIvf(spark, tinyDocs, dir, nCells = 2, lloydIters = 1)
    val nBefore = spark.read.parquet(dir).count()
    val batch = Seq(
      (2L, "updated window aggregation text", "sheetB"),
      (5L, "phantom doc", "sheetB"))
      .toDF("doc_id", "text", "source")
    IndexStore.updateIvf(spark, batch, dir)
    val idx = spark.read.parquet(dir)
    assert(idx.filter(col("doc_id") === 2L).select("chunk").head().getString(0)
      == "updated window aggregation text")
    assert(idx.filter(col("doc_id") === 5L).count() == 0)
    assert(idx.count() == nBefore)
  }

  test("upsertHnsw replaces a doc and rebuilds only its shard's graph") {
    import spark.implicits._
    val docs = (0L until 24L)
      .map(i => (i, s"topic $i " + (s"filler words about subject $i " * 12).trim,
        s"sheet${i % 3}"))
      .toSeq.toDF("doc_id", "text", "source")
    val dir = Files.createTempDirectory("graft_ups_hnsw").toString + "/index"
    IndexStore.buildHnsw(spark, docs, dir)
    val target = "sheet2_5_0"
    val targetShard = spark.read.parquet(dir)
      .filter(col("chunk_id") === target).select(col("shard").cast("int"))
      .head().getInt(0)
    val meta = IndexStore.readHnswMeta(spark, dir)
    val quiet = (0 until meta.numShards).filter(_ != targetShard)
      .map(sh => sh -> partFiles(dir, s"shard=$sh"))
    val revised = Seq((5L, "entirely rewritten maintenance procedures handbook", "sheet2"))
      .toDF("doc_id", "text", "source")
    IndexStore.upsertHnsw(spark, revised, dir)
    // same chunk id, new content; corpus size unchanged; no duplicates
    val idx = spark.read.parquet(dir)
    assert(idx.count() == 24)
    assert(idx.filter(col("chunk_id") === target).select("chunk")
      .head().getString(0) == "entirely rewritten maintenance procedures handbook")
    assert(idx.groupBy("chunk_id").count().filter(col("count") > 1).count() == 0)
    // only the target's shard rewrote
    quiet.foreach { case (sh, files) =>
      assert(partFiles(dir, s"shard=$sh") == files, s"shard=$sh must keep its files")
    }
    // the rebuilt graph serves the new content and forgets the old
    val hits = IndexStore.searchTopKHnsw(spark, dir,
      "entirely rewritten maintenance procedures handbook", k = 3).collect()
    assert(hits.head.getAs[String]("chunk_id") == target)
    val old = IndexStore.searchTopKHnsw(spark, dir,
      "topic 5 filler words about subject 5", k = 3).collect()
    assert(old.head.getAs[String]("chunk_id") != target,
      "old content must no longer win its old query")
  }

  test("bit-exact IVF builds are bit-identical across executions") {
    // the property q98's oracle design rests on: with bitExact = true
    // the whole artifact (cell assignments, embeddings, codes,
    // centroid sidecar) reproduces exactly on an independent build
    def build(): (Seq[(String, Long, Seq[Float])], Seq[(Long, Seq[Float])]) = {
      val dir = Files.createTempDirectory("graft_idx_bx").toString + "/index"
      IndexStore.buildIvf(spark, tinyDocs, dir, nCells = 2, lloydIters = 2,
        bitExact = true)
      val rows = spark.read.parquet(dir)
        .select(col("chunk_id"), col("cell").cast("long"), col("embedding"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[Float](2)))
        .sortBy(_._1).toSeq
      val cents = spark.read.parquet(s"$dir/_centroids")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
      (rows, cents)
    }
    val (r1, c1) = build()
    val (r2, c2) = build()
    assert(r1 == r2, "index rows must reproduce bit-for-bit")
    assert(c1 == c2, "centroid sidecar must reproduce bit-for-bit")
  }

  test("bucketed re-build is idempotent (no duplicate chunk per bucket)") {
    val dir = Files.createTempDirectory("graft_idx_bp2").toString + "/index"
    IndexStore.buildBucketed(spark, tinyDocs, dir)
    val n1 = spark.read.parquet(dir).count()
    IndexStore.buildBucketed(spark, tinyDocs, dir)
    val again = spark.read.parquet(dir)
    assert(again.count() == n1)
    assert(again.groupBy("bucket", "chunk_id").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("re-build is idempotent (partition overwrite, no duplicate ids)") {
    val dir = Files.createTempDirectory("graft_idx2").toString + "/index"
    IndexStore.build(spark, tinyDocs, dir)
    val n1 = spark.read.parquet(dir).count()
    IndexStore.build(spark, tinyDocs, dir) // re-index same content
    val again = spark.read.parquet(dir)
    assert(again.count() == n1)
    assert(again.groupBy("chunk_id").count().filter(col("count") > 1).count() == 0)
  }

  test("multimodal fake codec: deterministic features and frames") {
    val m = Multimodal.Media(7L, "png", 32, 24, "hello multimodal world".getBytes)
    val f1 = Multimodal.FakeCodec.features(m)
    val f2 = Multimodal.FakeCodec.features(m)
    assert(f1.histogram.toSeq == f2.histogram.toSeq)
    assert(f1.n_bytes == 22)
    assert(f1.histogram.sum == 22)
    val rs = Multimodal.FakeCodec.resize(m.blob, 128)
    assert(rs.length == 128)
    val frames = Multimodal.FakeCodec.sampleFrames(rs, 32, 24)
    assert(frames.nonEmpty && frames.forall(_.length == 32))
  }

  test("VecMeanAgg computes exact centroids") {
    import spark.implicits._
    val df = Seq(
      (0, Array(1.0f, 2.0f, 3.0f, 0.0f)),
      (0, Array(3.0f, 0.0f, 1.0f, 0.0f)),
      (1, Array(10.0f, 10.0f, 10.0f, 10.0f)))
      .toDF("label", "v")
    val cents = df.groupBy(col("label"))
      .agg(graft.functions.VecMeanAgg.vecMean(col("v"), 4).as("c"))
      .orderBy("label").collect()
    assert(cents(0).getSeq[Float](1) == Seq(2.0f, 1.0f, 2.0f, 0.0f))
    assert(cents(1).getSeq[Float](1) == Seq(10.0f, 10.0f, 10.0f, 10.0f))
  }

  test("ann lsh recall: bucketed candidates overlap exact top-k") {
    // sanity on the fixture: at least the queries return candidates
    val df = SparkEntry.queries("q62_ann_lsh")(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
  }
}
