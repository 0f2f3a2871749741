package graft

/** Physical-plan regression checks: the plans the engine relies on for
  * scale must actually materialize — filters reach the parquet scan,
  * tiny selection sides broadcast, top-k avoids a global sort.
  */
class PlanSuite extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("s1 scan pushes filters and prunes columns") {
    val p = plan("s1_scan_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag)"), p.take(2000))
    assert(p.contains("EqualTo(l_returnflag,R)"), p.take(2000))
    // projection pruning: untouched wide columns never leave the scan
    assert(!p.contains("l_comment") && !p.contains("l_shipdate"))
  }

  test("c6 select joins results against a broadcast selection side") {
    val p = plan("c6_select")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q3 join-topk broadcasts the dimension side and takes ordered top-k") {
    val p = plan("q3_join_topk")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q1 agg does partial (map-side) aggregation before the shuffle") {
    val p = plan("q1_lineitem_agg")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(3000))
    assert(p.contains("ReadSchema") && !p.contains("l_partkey"))
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    // under AQE the codegen stages (the "*(n)" markers) only appear in
    // the final plan, so execute first
    val df = SparkEntry.queries("s1_scan_filter_project")(spark, sf("sf0.001"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.take(2000))
  }

  test("ngram df cap tokenizes the corpus exactly once") {
    // the stop-shingle cap must not re-run the explode+shingle pass
    // for the df count (two full corpus tokenizations at scale): the
    // shingle Generate appears once, inside the persisted subtree
    // that the df window, the counts agg, and both self-join sides
    // all read back from
    val df = graft.operators.Dedup.ngramJaccardPairs(
      Tables.documents(spark, sf("sf0.001")), minJaccard = 0.5,
      maxDocFreq = Some(5))
    // tree walk, not string match: the cached subtree PRINTS once per
    // scan but EXECUTES once. InMemoryRelation is a leaf of the
    // optimized plan, so any Generate found by collect() runs outside
    // the cache — there must be none.
    val lp = df.queryExecution.optimizedPlan
    val outside = lp.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.size
    val cacheReads = lp.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.size
    assert(outside == 0, s"$outside Generate(s) outside the cache:\n${lp.toString.take(3000)}")
    assert(cacheReads >= 3, s"expected >=3 cache reads, got $cacheReads:\n${lp.toString.take(3000)}")
    spark.catalog.clearCache()
  }

  test("bernoulli sample plans as a shuffle-free scan-filter") {
    val p = graft.operators.Sampling.bernoulliSample(
      Tables.documents(spark, sf("sf0.001")), "doc_id", 0.25)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
    assert(p.contains("md5pair"), p.take(2000))
  }

  test("stratified sample does partial top_k aggregation before the shuffle") {
    val p = graft.operators.Sampling.stratifiedSample(
      Tables.documents(spark, sf("sf0.001")), Seq("lang"), "doc_id", 50)
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate partial_top_k on the map side: each task
    // ships at most k (id, hash) pairs per stratum
    assert(p.contains("partial_top_k") || p.contains("partial_topk") ||
      "partial.*top_k".r.findFirstIn(p).isDefined, p.take(3000))
  }

  test("native dot product and shingle kernel stay inside codegen") {
    import org.apache.spark.sql.functions._
    val p = Tables.embeddings(spark, sf("sf0.001"))
      .select(graft.functions.VectorFunctions.dot_long(
        graft.operators.Similarity.quantize(col("embedding")),
        graft.operators.Similarity.quantize(col("embedding"))).as("n2"))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(") && p.contains("dotlong"), p.take(2000))
    val p2 = Tables.documents(spark, sf("sf0.001"))
      .select(graft.functions.TextFunctions.wordShingles(col("text"), 3))
      .queryExecution.executedPlan.toString
    assert(p2.contains("*(") && p2.contains("wordshingles"), p2.take(2000))
  }

  test("lang_id and quality_score plans carry zero regex tokenizations") {
    // the declarative forms embedded one CodegenFallback split per
    // stopword list (24 split( subtrees probe-measured in the lang_id
    // physical plan); the native kernel removes the tokenize from the
    // plan entirely — one byte walk per row inside codegen
    for (q <- Seq("lang_id", "quality_score")) {
      val p = plan(q)
      val splits = "split\\(".r.findAllIn(p).size
      assert(splits == 0, s"$q plan still tokenizes ($splits split( subtrees):\n${p.take(2000)}")
      assert(!p.contains("regexp"), s"$q plan still carries a regex:\n${p.take(2000)}")
    }
    val p = plan("lang_id")
    assert(p.contains("langid"), p.take(2000))
  }

  test("native hash expressions stay inside codegen (no fallback)") {
    import graft.functions.HashFunctions._
    import org.apache.spark.sql.functions._
    val p = Tables.documents(spark, sf("sf0.001"))
      .select(rolling_hash(col("text")), simhash64(col("text")))
      .queryExecution.executedPlan.toString
    // "*(1) Project [rollinghash(...)" = the expressions sit inside a
    // whole-stage-codegen stage rather than forcing a fallback Project
    assert(p.contains("*(") && p.contains("rollinghash"), p.take(2000))
  }

  test("weighted sample plans as a shuffle-free scan-filter") {
    import org.apache.spark.sql.functions._
    val p = graft.operators.Sampling.weightedSample(
      Tables.documents(spark, sf("sf0.001")), "doc_id",
      least(graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("double") / lit(100.0), lit(1.0)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("bm25 prunes the token stream with a broadcast semi-join before the tf shuffle") {
    val p = plan("bm25_topk")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(4000))
    // the corpus scan reads only (doc_id, text)
    assert(p.contains("ReadSchema") && !p.contains("n_chars"), p.take(4000))
  }

  test("pq ADC scan carries no join: distance tables are literal lookups") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val p = graft.operators.Pq.pqTopK(e, e.filter(col("vec_id") < 8), 5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(4000))
    // the bounded top-k aggregation is partial (map-side) first
    assert(p.contains("partial_top_k") ||
      "partial.*top_k".r.findFirstIn(p).isDefined, p.take(4000))
  }

  test("contamination check broadcasts the benchmark n-gram side") {
    val p = plan("contamination_check")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("bloom contamination prunes map-side before the exact join") {
    val p = plan("contamination_check_bloom")
    // the might_contain filter must sit in the scan-side stage, and
    // the exact join still broadcasts the benchmark grams
    assert(p.contains("might_contain"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    spark.catalog.clearCache()
  }

  test("ivf+pq index build is one map-side pass: no assignment join, one agg exchange") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val df = graft.operators.Pq.ivfPqTopK(e, e.filter(col("vec_id") < 8), 5,
      numCentroids = 16, nprobe = 4)
    val p = df.queryExecution.executedPlan.toString
    // cell ids come from the literal argmin fused into the encode
    // projection — the only joins are the broadcast probe join, the
    // only shuffle the bounded top-k aggregation
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(4000))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n${p.take(4000)}")
    spark.catalog.clearCache()
  }

  test("two-level assignment: one vector-payload exchange in both coarse forms") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val prep = graft.operators.Similarity.prepared(e, "embedding", "vec_id")
    val cent = graft.operators.Similarity.centroidSample(prep, 16, "vec_id")
    val sup = graft.operators.Similarity.collectSuperRows(cent, 4)
    val lit = graft.operators.Similarity.nearestCentroidsTwoLevelShared(
      prep, cent, 1, "vec_id", numSuper = 4, superProbes = 2, sup)
    val pLit = lit.queryExecution.executedPlan.toString
    // literal coarse level: a map-side projection; the one exchange
    // is the fine assignment's bounded top-k aggregation, and the
    // coarse n x S BroadcastNestedLoopJoin expansion is gone
    val litShuffles = "Exchange hashpartitioning".r.findAllIn(pLit).size
    assert(litShuffles == 1,
      s"expected 1 shuffle in literal form, got $litShuffles:\n${pLit.take(4000)}")
    assert(!pLit.contains("BroadcastNestedLoopJoin"), pLit.take(4000))
    // joined fallback: ALSO one payload exchange — the fine
    // aggregation reuses the coarse aggregation's (id, v, n2)
    // partitioning; the literal form's saving is the coarse heap-agg
    // passes and row expansion, not a shuffle. Pin both counts so a
    // future change that breaks the partitioning reuse fails loudly.
    val joined = graft.operators.Similarity.nearestCentroidsTwoLevelShared(
      prep, cent, 1, "vec_id", numSuper = 4, superProbes = 2, None)
    val pJoined = joined.queryExecution.executedPlan.toString
    val joinedShuffles = "Exchange hashpartitioning".r.findAllIn(pJoined).size
    assert(joinedShuffles == 1,
      s"joined fallback lost its partitioning reuse: $joinedShuffles shuffles:\n${pJoined.take(4000)}")
    assert(pJoined.contains("BroadcastNestedLoopJoin"), pJoined.take(4000))
    spark.catalog.clearCache()
  }

  test("literal assignment routes on the payload bound (4096 rows / 262144 dot terms)") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val prep = graft.operators.Similarity.prepared(e, "embedding", "vec_id")
    // r21 re-gate: the old 8192-term codegen budget guarded the
    // least(struct)-chain form; the fused kernel is O(1) in C, so the
    // gate now prices the shipped table (4096 rows / 2 MiB of dot
    // terms). C=160 at dim 64 (10240 terms) is literal — a fused
    // nearest_cells projection, no join in the assignment subtree.
    val under = graft.operators.Similarity.nearestCentroids(prep,
      graft.operators.Similarity.centroidSample(prep, 160, "vec_id"),
      1, "vec_id")
    val pUnder = under.queryExecution.executedPlan.toString
    assert(!pUnder.contains("Join"), pUnder.take(4000))
    assert(pUnder.contains("nearest_cells"), pUnder.take(4000))
    // past MaxLiteralCentroids (4096 rows) the collect never
    // materializes the table on the driver and assignment falls back
    // to the broadcast-join + bounded-heap shape — the pin that keeps
    // corpus-scale centroid tables off the driver and out of task
    // closures
    val wide = spark.range(4097).select(
      col("id").as("cent_id"),
      array((0 until 64).map(i => col("id") + lit(i)): _*).as("cv"),
      lit(1L).as("cn2"))
    val over = graft.operators.Similarity.nearestCentroids(prep, wide, 1, "vec_id")
    val pOver = over.queryExecution.executedPlan.toString
    assert(pOver.contains("Join"), pOver.take(4000))
    spark.catalog.clearCache()
  }

  test("bm25 document frequencies come from an aggregate, not a per-term window") {
    // the per-term window routed every (doc, term) row of one term to
    // a single task — a corpus-scale partition for a stopword-like
    // query term; the fix aggregates (map-side combined) + broadcasts
    val p = plan("bm25_topk")
    assert(!p.contains("Window"), p.take(4000))
    spark.catalog.clearCache()
  }

  test("bounded finals sort in a single partition; corpus-sized finals keep the range sort") {
    // bounded |Q| x k / matrix outputs: single-partition presentation
    // sort, no range-exchange sampling job (SCALING.md round 11)
    for (name <- Seq("ann_pq_topk", "bm25_topk", "c2_evaluate", "c9_to_trec")) {
      val p = plan(name)
      assert(!p.toLowerCase.contains("rangepartitioning"),
        s"$name regained a range sort: ${p.take(3000)}")
    }
    // corpus-sized outputs: a DISTRIBUTED total-order exchange is the
    // right plan at 100 TB — losing it to a single partition IS the
    // scale bug. Since round 13 the selection family routes on the
    // known query domain (shufflepartitionidpassthrough, StaticRange:
    // same multi-partition shuffle + local sort, no sampling job);
    // a sampled rangepartitioning would also be acceptable, a
    // single-partition sort would not.
    // the pair lists ride the same probed-bounds route since r18: a
    // sampling orderBy re-executes the whole pair expansion once to
    // pick range splits (copy-quadratic output: 152M rows at the 100x
    // corpus, 24.6 s sampled vs 5.8 s unsorted)
    for (name <- Seq("c6_select", "u1_union_all",
        "simhash_pairs", "minhash_lsh_pairs")) {
      val p = plan(name).toLowerCase
      assert(p.contains("rangepartitioning") ||
          p.contains("shufflepartitionidpassthrough"),
        s"$name lost its distributed total-order sort: ${p.take(3000)}")
      assert(!p.contains("singlepartition"),
        s"$name collapsed to a single-partition sort: ${p.take(3000)}")
    }
    spark.catalog.clearCache()
  }

  test("c6 routes its known query domain to at most defaultParallelism ranges") {
    // one contiguous query range per core, not one partition per query
    val p = plan("c6_select")
    val parts = """(?i)Exchange shufflepartitionidpassthrough.*?, (\d+)\), REPARTITION_BY_NUM"""
      .r.findAllMatchIn(p).map(_.group(1).toInt).toSeq
    assert(parts.size == 1, p.take(3000))
    assert(parts.head <= spark.sparkContext.defaultParallelism, p.take(3000))
  }

  test("evaluate walks a query-windowed input without a second exchange") {
    import org.apache.spark.sql.execution.{MapPartitionsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val dir = sf("sf0.001")
    // evalResults ends in its Window.partitionBy(query) global_rank
    val df = graft.selectivesearch.SelectiveSearch.evaluate(
      Tables.selection(spark, dir), Tables.evalResults(spark, dir),
      Seq(graft.selectivesearch.SelectiveSearch.precisionAt(10)), Tables.NumShards)
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // the nodes from the arrival walk down to the results-side window
    def toWindow(p: SparkPlan): Option[Seq[SparkPlan]] = p match {
      case w: WindowExec => Some(Seq(w))
      case _: BroadcastExchangeExec => None
      case _ => p.children.iterator.map(toWindow).collectFirst { case Some(ps) => p +: ps }
    }
    val walk = root.collectFirst { case m: MapPartitionsExec => m }
    assert(walk.isDefined, root.toString.take(3000))
    val path = toWindow(walk.get)
    assert(path.isDefined, s"no Window under the walk: ${root.toString.take(3000)}")
    assert(!path.get.exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"exchange between the window and the walk: ${root.toString.take(3000)}")
  }

  test("select family and evaluate broadcast loader selections straight from a LocalTableScan") {
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.functions.col
    import graft.selectivesearch.SelectiveSearch
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-sel").toString
    val (nq, ns, nb) = (3, 4, 2)
    def scores(name: String, n: Int) = {
      val path = s"$dir/$name"
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (0 until n).map(i => ((i * 37) % 11).toString).mkString("\n").getBytes)
      path
    }
    val queries = (0L until nq.toLong)
    val shardSel = SelectiveSearch.loadShardSelection(spark, queries, ns, scores("s.csv", nq * ns))
    val bucketSel = SelectiveSearch.loadBucketSelection(spark, queries, ns, nb,
      scores("b.csv", nq * ns * nb))
    (for (q <- 0 until nq; s <- 0 until ns; b <- 0 until nb; d <- 0 until 3)
      yield (q, s, b, (q * 7 + s * 5 + d) % 13 * 1.0, q * 1000L + s * 100 + b * 10 + d, d % 2))
      .toDF("query", "shard", "bucket", "score", "gdocid", "rel")
      .write.mode("overwrite").parquet(s"$dir/results")
    val results = spark.read.parquet(s"$dir/results")
    val ranked = results.withColumn("global_rank", org.apache.spark.sql.functions.row_number()
      .over(org.apache.spark.sql.expressions.Window.partitionBy(col("query"))
        .orderBy(col("score").desc, col("gdocid").asc)))
    val frames = Seq(
      "select" -> SelectiveSearch.select(shardSel, results, 2, Some(nq)),
      "selectBuckets" -> SelectiveSearch.selectBuckets(bucketSel, results, 3, Some(nq)),
      "evaluate" -> SelectiveSearch.evaluate(shardSel, ranked,
        Seq(SelectiveSearch.precisionAt(2)), ns),
      "evaluate buckets" -> SelectiveSearch.evaluate(bucketSel, ranked,
        Seq(SelectiveSearch.precisionAt(2)), ns, numBuckets = Some(nb)))
    frames.foreach { case (name, df) =>
      val root: SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val broadcasts = root.collect { case b: BroadcastExchangeExec => b }
      assert(broadcasts.nonEmpty, s"$name: ${root.toString.take(3000)}")
      broadcasts.foreach(b => assert(b.child.isInstanceOf[LocalTableScanExec],
        s"$name: broadcast over ${b.child.nodeName}: ${root.toString.take(3000)}"))
      assert(df.collect().nonEmpty, name)
    }
  }

  test("sorted-first rows keep expensive projections ABOVE the final sort") {
    // a global orderBy's range-exchange sampling pass re-executes its
    // child, so map-only compute under the sort runs twice (SCALING.md
    // round 11; JsonProbe 0.90 -> 0.42 s). Pin that the expensive
    // expression sits above the top Sort in the optimized plan — a
    // collapse back under it silently doubles the row's cost.
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    for ((name, marker) <- Seq(
        "json_extract" -> "get_json_object",
        "text_stats" -> "regexp_extract_all",
        "repetition_stats" -> "repetitionprofile",
        "quality_score" -> "qualityscore")) {
      val lp = SparkEntry.queries(name)(spark, sf("sf0.001"))
        .queryExecution.optimizedPlan
      val topSort = lp.collectFirst { case s: Sort => s }
      assert(topSort.nonEmpty, s"$name lost its final sort")
      assert(!topSort.get.child.toString.toLowerCase.contains(marker),
        s"$name: $marker collapsed back under the final Sort")
      assert(lp.toString.toLowerCase.contains(marker),
        s"$name: $marker missing from the plan entirely")
    }
  }

  test("winnow plan carries exactly one md5 transform (no inferred-filter inlining)") {
    // A plain explode above the winnowing HOF chain lets
    // InferFiltersFromGenerate + pushdown inline the whole aliased
    // chain into an interpreted Filter under the scan — the md5
    // transform then appears 6+ times and re-runs per input row
    // (measured 37 s vs 0.4 s at sf0.01, SCALING.md round 12). The
    // operator uses explode_outer to suppress the inference; pin
    // that the optimized plan keeps a single md5 subtree so an
    // optimizer change (or an edit back to plain explode) fails
    // loudly instead of 100x-ing the row.
    val lp = SparkEntry.queries("winnow_fingerprints")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan.toString
    val kernelCount = "winnowfps".r.findAllIn(lp).length
    assert(kernelCount == 1,
      s"winnow plan has $kernelCount winnowfps subtrees: ${lp.take(3000)}")
  }

  test("q5 star join broadcasts the whole dim chain; the fact side never hash-exchanges for a join") {
    val p = plan("q5_star_join")
    // region -> nation -> customer all collapse into broadcasts
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2, s"expected a broadcast dim chain, got $bhj BHJs: ${p.take(3000)}")
    // lineitem reads only the join/measure columns
    assert(!p.contains("l_comment") && !p.contains("l_shipdate"), p.take(2000))
    spark.catalog.clearCache()
  }

  test("ohlc resample aggregates with map-side partials and no window") {
    // struct min/max open/close must plan as ONE hash aggregate pair
    // (partial + final) on the bucket shuffle — a rewrite through
    // first()/last() or row_number would reintroduce a corpus-wide
    // Window and lose map-side combine
    val p = plan("events_resample_ohlc")
    assert(!p.contains("Window"), p.take(3000))
    // the struct-min open specifically must partial-aggregate (a
    // first()/last() rewrite would keep other partial aggs around
    // while losing exactly this one)
    assert(p.contains("partial_min"), p.take(3000))
    // exactly one hash shuffle (the group-by); the final sort is a
    // range exchange, not a second hash
    val hashEx = "hashpartitioning".r.findAllIn(p.toLowerCase).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx: ${p.take(3000)}")
  }

  test("knn_join explodes directions exactly once over the scored pairs") {
    // both neighbor directions come from ONE 2-element explode of the
    // scored frame: a self-union would re-run the whole candidate +
    // cosine stage per branch (two Generates / doubled dot kernels)
    val lp = SparkEntry.queries("knn_join")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Union}
    val gens = lp.collect { case g: Generate => g }
    assert(lp.collect { case u: Union => u }.isEmpty,
      "knn_join regained a self-union over the scored stage")
    // exactly ONE direction explode (the 2-struct array): a
    // self-union rewrite would have zero of these and a Union, and
    // would re-run the candidate + exact-cosine stage per branch (the
    // assignment stage below keeps its own explodes — the per-
    // centroid literal dot kernels make a global kernel count
    // meaningless here)
    val s = lp.toString.toLowerCase
    val dirExplodes = "explode\\(array\\(struct\\(src".r.findAllIn(s).size
    assert(dirExplodes == 1,
      s"expected 1 direction explode, got $dirExplodes " +
        s"(${gens.map(_.generator.prettyName)})")
    spark.catalog.clearCache()
  }

  test("registered resample rows carry no full-stratum window exchange") {
    // quality_topp and dsir_select are registered on the bounded
    // top-k form: per-stratum counts + heaps + a semi-join. A Window
    // in either plan means the full-stratum row_number is back — the
    // one shape that serializes a hot stratum through a single task
    // at 100x scale (the round-13 verdict's scale-killer)
    for (name <- Seq("quality_topp", "dsir_select")) {
      val p = plan(name)
      assert(!p.contains("Window"),
        s"$name regained a full-stratum window: ${p.take(3000)}")
      // the bounded heap aggregation is partial (map-side) first
      assert(p.contains("partial_top_k") ||
        "partial.*top_k".r.findFirstIn(p).isDefined, p.take(3000))
    }
  }

  test("embedding_pool broadcasts the norm frame and skips the sampling sort") {
    val p = plan("embedding_pool")
    // |groups|-row norms broadcast back onto the component sums
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // bounded |groups| x dim output: presentation sort, no range
    // exchange sampling job
    assert(!p.toLowerCase.contains("rangepartitioning"), p.take(3000))
  }

  test("neardup_clusters routes direct on duplicate-light corpora, collapsed plan pinned") {
    // sf0.001 documents are duplicate-light, so the r18 duplicate-mass
    // gate must route the REGISTERED query to the direct composition:
    // no exact-dup collapse machinery (rep_id) in the plan. At this
    // pair count the components resolve on the DRIVER (fast path), so
    // the final plan is just the doc scan broadcast-joined against the
    // label literal — the minhash work ran in the eager sub-jobs.
    val p = plan("neardup_clusters")
    assert(!p.contains("rep_id"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))

    // the collapse route (forced) keeps its r17 shape: the (fp, can)
    // corpus pass persisted and consumed from cache — tokenize+md5
    // must not re-run per consumer (the regression the persist closed:
    // 4.04 -> 1.90 s on the skew corpus) — broadcast expansion joins,
    // and the singleton remainder attached by union, not a second
    // corpus join
    val pc = graft.operators.Dedup.neardupComponents(
        Tables.documents(spark, sf("sf0.001")), dupGate = -1.0)
      .queryExecution.executedPlan.toString
    assert(pc.contains("rep_id"), pc.take(3000))
    assert(pc.contains("InMemoryTableScan"), pc.take(3000))
    assert(pc.contains("BroadcastHashJoin"), pc.take(3000))
    assert(pc.contains("Union"), pc.take(3000))
  }

  test("kernelFloor reads an RDD-backed input's real split count") {
    // an RDD-backed leaf reports the spark.sql.defaultSizeInBytes
    // sentinel as its size, which read as a wide input and left a
    // one-partition heavy kernel pass on one task
    val rows = spark.sparkContext.parallelize(1 to 100, 1)
    val df = spark.createDataFrame(rows.map(Tuple1(_))).toDF("x")
    assert(df.rdd.getNumPartitions == 1)
    val floored = graft.core.Parallelism.kernelFloor(df, heavy = true)
    assert(floored.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }
}
