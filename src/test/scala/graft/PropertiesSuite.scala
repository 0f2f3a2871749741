package graft

import org.apache.spark.sql.functions._

import graft.selectivesearch.{BucketResolver, SelectiveSearch}

/** Grid-based invariants the reference only implies (SURVEY.md §5):
  * decay-sequence shape, select identity at full budget, greedy-
  * resolution budget and contiguity. Deterministic parameter sweeps
  * rather than random generators — same coverage, reproducible runs.
  */
class PropertiesSuite extends SparkSuite {
  import spark.implicits._

  test("decayedBuckets: length, head, monotone non-increasing, all >= 1") {
    for {
      nb <- Seq(1, 2, 7, 64)
      ns <- Seq(0, 1, 5, 20)
      decay <- Seq(0.01, 0.3, 0.5, 0.77, 0.9, 1.0)
    } {
      val seq = SelectiveSearch.decayedBuckets(nb.toDouble, ns, decay)
      assert(seq.length == ns)
      assert(seq.zip(seq.drop(1)).forall { case (a, b) => a >= b },
        s"not monotone: $seq (nb=$nb ns=$ns d=$decay)")
      assert(seq.forall(_ >= 1))
      if (ns > 0) assert(seq.head == nb)
    }
  }

  test("in-plan budget fold replays decayedBuckets bit-for-bit") {
    // selectWithDecay builds its rank -> budget lookup as a sequence
    // fold inside the plan; it must equal the driver recurrence for
    // every knob (same repeated multiplication in the same order)
    for {
      nb <- Seq(1, 2, 7, 64, 1000)
      t <- Seq(1, 5, 20)
      decay <- Seq(0.01, 0.3, 0.5, 0.77, 0.9, 0.999)
    } {
      val driver = SelectiveSearch.decayedBuckets(nb.toDouble, t, decay)
      val nbDf = Seq(nb.toDouble).toDF("__nb")
      val planned = SelectiveSearch.decayBudgetLookup(spark, nbDf, t, decay)
        .orderBy("rank").select("buckets").as[Int].collect().toSeq
      assert(planned == driver,
        s"fold diverges (nb=$nb t=$t d=$decay): $planned vs $driver")
    }
  }

  test("select with t > max rank is identity modulo sort") {
    for { nq <- Seq(1, 3); ns <- Seq(1, 4) } {
      val results = (for {
        q <- 0 until nq; s <- 0 until ns; d <- 0 until 3
      } yield (q, s, (q * 131 + s * 17 + d * 7) % 97 * 1.0, q * 100 + s * 10 + d))
        .toDF("query", "shard", "score", "gdocid")
      val selection = (for { q <- 0 until nq; s <- 0 until ns }
        yield (q, s, (s + q) % ns)).toDF("query", "shard", "rank")
      val selected = SelectiveSearch.select(selection, results, ns + 1)
      assert(selected.count() == results.count())
    }
  }

  test("resolveBucketSelection: cost <= threshold, contiguous prefixes") {
    for {
      threshold <- Seq(0, 1, 3, 7, 12)
      ns <- Seq(1, 2, 3)
      nb <- Seq(1, 2, 3)
    } {
      val sel = (for { q <- 0 until 2; s <- 0 until ns; b <- 0 until nb }
        yield (q, s, b, (q * 7 + s * 3 + b * 5) % (ns * nb))
        ).toDF("query", "shard", "bucket", "rank")
      val resolved = BucketResolver.resolveBucketSelection(sel, threshold)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      resolved.groupBy(_._1).foreach { case (q, rows) =>
        assert(rows.length <= threshold,
          s"query $q selected ${rows.length} > $threshold buckets")
      }
      resolved.groupBy(r => (r._1, r._2)).foreach { case (_, rows) =>
        val buckets = rows.map(_._3).sorted
        assert(buckets.toSeq == (0 until buckets.length),
          s"non-contiguous bucket prefix: ${buckets.toSeq}")
      }
    }
  }

  test("word_shingles kernel equals the declarative HOF form (randomized)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // strings over a whitespace-heavy alphabet: multi-byte UTF-8,
    // every Java-regex \s separator, leading/trailing runs, empties.
    // The trailing escaped pieces (r17, mirrored on all six alphabets
    // in this suite): \u000b is \s (explicit twin of the raw VT char
    // already present), \u0001 is a control char that is NOT \s, NBSP
    // is multi-byte non-space, and the emoji is 4-byte UTF-8 — the
    // byte-walk edges a `b <= 0x20` shortcut would get wrong.
    val piece = Gen.oneOf("a", "bb", "ccc", "Ω≈", "x1", " ", "  ",
      "\t", "\n", "", "\f", "\r", "\r\n", "",
      "\u000b", "\u0001", "\u00a0", "\ud83d\ude00")
    val genText = Gen.choose(0, 12).flatMap(k =>
      Gen.listOfN(k, piece).map(_.mkString))
    val params = Gen.Parameters.default
    val texts = (0 until 400).flatMap(i =>
      genText.apply(params, Seed(42L + i)))
    import graft.functions.TextFunctions
    val df = texts.toDF("text")
    for (n <- Seq(1, 2, 3, 4)) {
      val diff = df.select(
          TextFunctions.wordShingles(col("text"), n).as("kernel"),
          TextFunctions.wordShinglesDeclarative(col("text"), n).as("decl"),
          col("text"))
        .filter(not(col("kernel") === col("decl")))
        .collect()
      assert(diff.isEmpty,
        s"n=$n kernel != declarative for: ${diff.take(3).mkString("; ")}")
    }
  }

  test("ws_ngram kernels equal the declarative HOF forms (randomized)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val piece = Gen.oneOf("a", "bb", "ccc", "Ω≈", "x1", " ", "  ",
      "\t", "\n", "", "\f", "\r", "\r\n", "",
      "\u000b", "\u0001", "\u00a0", "\ud83d\ude00")
    val genText = Gen.choose(0, 12).flatMap(k =>
      Gen.listOfN(k, piece).map(_.mkString))
    val params = Gen.Parameters.default
    val texts = (0 until 400).flatMap(i =>
      genText.apply(params, Seed(2718L + i)))
    val df = texts.toDF("text")
    val kn = filter(split(btrim(col("text")), "\\s+"), t => t =!= lit(""))
    for (n <- Seq(2, 3, 5)) {
      def gramsDecl(ws: org.apache.spark.sql.Column) =
        when(size(ws) >= n, transform(sequence(lit(1), size(ws) - n + 1),
          i => concat_ws(" ", slice(ws, i, lit(n)))))
          .otherwise(array().cast("array<string>"))
      val diff = df.select(col("text"),
          graft.functions.TokenizeFunctions
            .ws_ngram_features(col("text"), n).as("kf"),
          concat(kn, gramsDecl(kn)).as("df_"),
          graft.functions.TokenizeFunctions.ws_ngrams(col("text"), n).as("kg"),
          gramsDecl(kn).as("dg"))
        .filter(not(col("kf") === col("df_")) || not(col("kg") === col("dg")))
        .collect()
      assert(diff.isEmpty,
        s"n=$n ngram kernel != declarative for: ${diff.take(3).mkString("; ")}")
    }
    // null propagates
    val nulls = Seq[(Integer, String)]((1, null)).toDF("i", "text")
      .select(graft.functions.TokenizeFunctions.ws_ngram_features(col("text"), 2),
        graft.functions.TokenizeFunctions.ws_ngrams(col("text"), 2))
      .collect()
    assert(nulls.head.isNullAt(0) && nulls.head.isNullAt(1))
  }

  test("ws_term_counts equals grouped nonempty tokens (randomized)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the same whitespace-heavy alphabet as the other kernel pins,
    // plus repeated pieces so counts exceed 1
    val piece = Gen.oneOf("a", "bb", "a", "ccc", "Ω≈", "x1", " ", "  ",
      "\t", "\n", "", "\f", "\r", "\r\n", "bb",
      "\u000b", "\u0001", "\u00a0", "\ud83d\ude00")
    val genText = Gen.choose(0, 14).flatMap(k =>
      Gen.listOfN(k, piece).map(_.mkString(" ")))
    val params = Gen.Parameters.default
    val texts = (0 until 400).flatMap(i =>
      genText.apply(params, Seed(5417L + i)))
    val got = texts.toDF("text")
      .select(col("text"),
        graft.functions.TokenizeFunctions.ws_term_counts(col("text")).as("m"))
      .collect()
      .map(r => r.getString(0) -> r.getMap[String, Long](1).toMap)
    got.foreach { case (text, m) =>
      val want = text.split("[ \t\n\f\r]+").filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      assert(m == want, s"term counts diverge for <$text>: $m vs $want")
    }
    // null propagates
    val nulls = Seq[(Integer, String)]((1, null)).toDF("i", "text")
      .select(graft.functions.TokenizeFunctions.ws_term_counts(col("text")))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("ws_ngram_counts equals grouped ws_ngrams (randomized)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val piece = Gen.oneOf("a", "bb", "a", "ccc", "Ω≈", "a", "x1", " ",
      "  ", "\t", "\n", "", "\f", "\r", "\r\n", "bb",
      "\u000b", "\u0001", "\u00a0", "\ud83d\ude00")
    val genText = Gen.choose(0, 14).flatMap(k =>
      Gen.listOfN(k, piece).map(_.mkString(" ")))
    val params = Gen.Parameters.default
    val texts = (0 until 300).flatMap(i =>
      genText.apply(params, Seed(8311L + i)))
    for (n <- Seq(2, 3)) {
      val got = texts.toDF("text")
        .select(col("text"),
          graft.functions.TokenizeFunctions.ws_ngram_counts(col("text"), n).as("m"),
          graft.functions.TokenizeFunctions.ws_ngrams(col("text"), n).as("g"))
        .collect()
      got.foreach { r =>
        val m = r.getMap[String, Long](1).toMap
        val want = r.getSeq[String](2)
          .groupBy(identity).view.mapValues(_.length.toLong).toMap
        assert(m == want, s"n=$n diverges for <${r.getString(0)}>: $m vs $want")
      }
    }
    // null propagates
    val nulls = Seq[(Integer, String)]((1, null)).toDF("i", "text")
      .select(graft.functions.TokenizeFunctions.ws_ngram_counts(col("text"), 2))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("ws_feature_counts equals the merged term + ngram count maps (randomized)") {
    // the one-pass LM/DSIR model emission: unigram and n-gram counts
    // in one map, separable by `contains ' '` (a token can never
    // contain whitespace; an n>=2 gram always does)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val piece = Gen.oneOf("a", "bb", "a", "ccc", "Ω≈", "a", "x1", " ",
      "  ", "\t", "\n", "", "\f", "\r", "\r\n", "bb",
      "", "", " ", "😀")
    val genText = Gen.choose(0, 14).flatMap(k =>
      Gen.listOfN(k, piece).map(_.mkString(" ")))
    val params = Gen.Parameters.default
    val texts = (0 until 300).flatMap(i =>
      genText.apply(params, Seed(9473L + i)))
    for (n <- Seq(2, 3)) {
      val got = texts.toDF("text")
        .select(col("text"),
          graft.functions.TokenizeFunctions.ws_feature_counts(col("text"), n).as("fc"),
          graft.functions.TokenizeFunctions.ws_term_counts(col("text")).as("tc"),
          graft.functions.TokenizeFunctions.ws_ngram_counts(col("text"), n).as("nc"))
        .collect()
      got.foreach { r =>
        val fc = r.getMap[String, Long](1).toMap
        val want = r.getMap[String, Long](2).toMap ++ r.getMap[String, Long](3).toMap
        assert(fc == want, s"n=$n diverges for <${r.getString(0)}>: $fc vs $want")
        val (grams, unis) = fc.keySet.partition(_.contains(" "))
        assert(unis == r.getMap[String, Long](2).toMap.keySet &&
          grams == r.getMap[String, Long](3).toMap.keySet,
          s"n=$n key populations not separable by space for <${r.getString(0)}>")
      }
    }
    // null propagates
    val nulls = Seq[(Integer, String)]((1, null)).toDF("i", "text")
      .select(graft.functions.TokenizeFunctions.ws_feature_counts(col("text"), 2))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("ws_tokens family equals the regex split forms (randomized)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // same whitespace-heavy alphabet as the shingle pin: multi-byte
    // UTF-8, every Java-regex \s separator, leading/trailing runs,
    // empties — the edge cases where Pattern.split semantics bite
    val piece = Gen.oneOf("a", "bb", "ccc", "Ω≈", "x1", " ", "  ",
      "\t", "\n", "", "\f", "\r", "\r\n", "", "",
      "\u000b", "\u0001", "\u00a0", "\ud83d\ude00")
    val genText = Gen.choose(0, 12).flatMap(k =>
      Gen.listOfN(k, piece).map(_.mkString))
    val params = Gen.Parameters.default
    val texts = (0 until 500).flatMap(i =>
      genText.apply(params, Seed(1913L + i)))
    val df = texts.toDF("text")
    val declTokens = split(btrim(col("text")), "\\s+")
    val diff = df.select(col("text"),
        graft.functions.TokenizeFunctions.ws_tokens(col("text")).as("kt"),
        declTokens.as("dt"),
        graft.functions.TokenizeFunctions.ws_tokens_nonempty(col("text")).as("kn"),
        filter(declTokens, t => t =!= lit("")).as("dn"),
        graft.functions.TokenizeFunctions.ws_token_count(col("text")).as("kc"),
        when(length(btrim(col("text"))) === 0, lit(0))
          .otherwise(size(declTokens)).as("dc"))
      .filter(not(col("kt") === col("dt")) ||
        not(col("kn") === col("dn")) || not(col("kc") === col("dc")))
      .collect()
    assert(diff.isEmpty,
      s"native != regex for: ${diff.take(5).mkString("; ")}")
    // null propagates like the declarative forms
    val nulls = Seq[(Integer, String)]((1, null)).toDF("i", "text")
      .select(graft.functions.TokenizeFunctions.ws_tokens(col("text")),
        graft.functions.TokenizeFunctions.ws_token_count(col("text")))
      .collect()
    assert(nulls.head.isNullAt(0) && nulls.head.isNullAt(1))
  }

  test("text-profile kernel: langId/qualityScore/counts equal the declarative forms (randomized)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.functions.{TextFunctions, TextProfileFunctions}
    // pieces: stopwords of every language (tie + argmax paths), near-miss
    // words, punctuation, digits, multi-byte UTF-8, every \s separator,
    // leading/trailing runs, blanks
    val piece = Gen.oneOf(
      "the", "of", "la", "de", "le", "und", "der", "est", "en", "y",
      "thee", "d", "xyz", "a1!", "Ω≈…", "...", "?!", "42", "",
      " ", "  ", "\t", "\n", "\f", "\r", "", "\r\n",
      "\u000b", "\u0001", "\u00a0", "\ud83d\ude00")
    val genText = Gen.choose(0, 16).flatMap(k =>
      Gen.listOfN(k, piece).map(_.mkString(" ")))
    val params = Gen.Parameters.default
    val texts = (0 until 500).flatMap(i => genText.apply(params, Seed(77L + i))) ++
      Seq("", " ", "\t", "the the the", "el la de", "le est un", "der die das")
    val df = texts.toDF("text")
    val diff = df.select(col("text"),
        TextFunctions.langId(col("text")).as("k_lang"),
        TextFunctions.langIdDeclarative(col("text")).as("d_lang"),
        TextFunctions.qualityScore(col("text")).as("k_q"),
        TextFunctions.qualityScoreDeclarative(col("text")).as("d_q"),
        element_at(TextProfileFunctions.text_profile(col("text")), 1).as("k_ntok"),
        TextFunctions.tokenCount(col("text")).as("d_ntok"),
        element_at(TextProfileFunctions.text_profile(col("text")), 6).as("k_punct"),
        TextFunctions.punctCount(col("text")).as("d_punct"))
      .filter(not(col("k_lang") === col("d_lang") &&
        col("k_q") === col("d_q") &&
        col("k_ntok") === col("d_ntok") &&
        col("k_punct") === col("d_punct")))
      .collect()
    assert(diff.isEmpty,
      s"kernel != declarative for: ${diff.take(5).mkString("; ")}")
  }

  test("randomized evaluate == evaluateStepwise (mixed k, buckets, " +
      "rank >= numSteps, string ids, sort=true)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.selectivesearch.SelectiveSearch
    import graft.selectivesearch.SelectiveSearch.precisionAt

    case class Case(nQ: Int, nS: Int, nB: Option[Int], stringIds: Boolean,
        sort: Boolean, ks: Seq[Int], ranks: Seq[Int], scores: Seq[Int],
        sizes: Seq[Int], rels: Seq[Int], prios: Seq[Int],
        rel2Measure: Option[Int], rels2: Seq[Int])

    val genCase = for {
      nQ <- Gen.choose(1, 3)
      nS <- Gen.choose(1, 3)
      nB <- Gen.oneOf(None, Some(2), Some(4))
      stringIds <- Gen.oneOf(false, true)
      sort <- Gen.oneOf(false, true)
      ks <- Gen.pick(2, Seq(1, 2, 3, 5, 8, 13, 21, 30)).map(_.toSeq)
      cells = nQ * nS * nB.getOrElse(1)
      numSteps = nS * nB.getOrElse(1)
      // rank can land AT or ABOVE numSteps (the degenerate case both
      // paths must drop identically); duplicates allowed
      ranks <- Gen.listOfN(cells, Gen.choose(0, numSteps + 1))
      scores <- Gen.listOfN(cells, Gen.choose(0, 1000))
      // mostly small cells, so early steps stay below k while later
      // steps fill, plus some cells holding more rows than k
      sizes <- Gen.listOfN(cells,
        Gen.frequency(3 -> Gen.choose(0, 3), 1 -> Gen.choose(4, 35)))
      rels <- Gen.listOfN(sizes.sum, Gen.choose(0, 1))
      prios <- Gen.listOfN(sizes.sum, Gen.choose(0, 1000000))
      // which measure, if any, reads the second relevance column
      rel2Measure <- Gen.oneOf(None, Some(0), Some(1))
      rels2 <- Gen.listOfN(sizes.sum, Gen.choose(0, 1))
    } yield Case(nQ, nS, nB, stringIds, sort, ks, ranks, scores, sizes,
      rels, prios, rel2Measure, rels2)

    val params = Gen.Parameters.default
    val cases = (0 until 16).flatMap(i => genCase.apply(params, Seed(1234L + i)))
    assert(cases.size >= 12)
    assert(cases.exists(_.nB.contains(4)))
    assert(cases.exists(_.rel2Measure.isDefined))
    assert(cases.exists(c => c.sizes.max > c.ks.min), "no cell holds more than k rows")
    // some query whose first step stays below k while a later step
    // reaches it: the walk's stop-at-first-full-step must both stop
    // and keep filling there (sort=false: ranks are the given ones)
    assert(cases.exists(c => !c.sort && (0 until c.nQ).exists { q =>
      // (rank, rows) of query q's cells; numSteps cells per query
      val numSteps = c.nS * c.nB.getOrElse(1)
      val cells = (q * numSteps until (q + 1) * numSteps).map(i => (c.ranks(i), c.sizes(i)))
      val first = cells.filter(_._1 == 0).map(_._2).sum
      val last = cells.filter(_._1 < numSteps).map(_._2).sum
      c.ks.exists(k => first < k && last >= k)
    }), "no case has an early step below k and a later step at k")

    for ((c, ci) <- cases.zipWithIndex) {
      val nb = c.nB.getOrElse(1)
      val cellsIdx = for {
        q <- 0 until c.nQ; s <- 0 until c.nS; b <- 0 until nb
      } yield (q, s, b)
      val qid: Int => String =
        if (c.stringIds) i => s"q$i" else i => i.toString
      val shardRows = cellsIdx.zipWithIndex.map { case ((q, s, b), i) =>
        (qid(q), s, b, c.ranks(i), c.scores(i).toDouble)
      }
      val offsets = c.sizes.scanLeft(0)(_ + _)
      val resultRows = cellsIdx.zipWithIndex.flatMap { case ((q, s, b), i) =>
        (0 until c.sizes(i)).map { d =>
          val j = offsets(i) + d
          (qid(q), s, b, c.rels(j), c.rels2(j), c.prios(j), j)
        }
      }
      val spark2 = spark
      import spark2.implicits._
      def castQ(df: org.apache.spark.sql.DataFrame) =
        if (c.stringIds) df
        else df.withColumn("query", col("query").cast("int"))
      val shardCols =
        if (c.nB.isDefined) Seq("query", "shard", "bucket") else Seq("query", "shard")
      val shardsDf = castQ(shardRows.toDF("query", "shard", "bucket", "rank", "shard_score"))
        .select((shardCols ++ (if (c.sort) Seq("shard_score") else Seq("rank"))).map(col): _*)
      val resultsDf = castQ(resultRows
        .toDF("query", "shard", "bucket", "rel", "rel2", "prio", "idx"))
        .withColumn("global_rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("query"))
            .orderBy(col("prio"), col("idx"))))
        .drop("prio", "idx")
      val measures = c.ks.zipWithIndex.map { case (k, m) =>
        precisionAt(k, if (c.rel2Measure.contains(m)) "rel2" else "rel")
      }
      val fast = SelectiveSearch.evaluate(
        shardsDf, resultsDf, measures, c.nS, sort = c.sort, numBuckets = c.nB)
        .collect().toSeq
      val loop = SelectiveSearch.evaluateStepwise(
        shardsDf, resultsDf, measures, c.nS, sort = c.sort, numBuckets = c.nB)
        .collect().toSeq
      assert(fast == loop, s"case #$ci diverged: $c\nfast=$fast\nloop=$loop")
    }
  }

  test("tokenBudget: budget sweep is monotone, nested, and exact at the edges") {
    val rnd = new scala.util.Random(23)
    val docs = (0L until 60L).map(i =>
      (i, s"g${i % 3}", rnd.nextDouble() * 10, 1L + rnd.nextInt(20)))
      .toDF("doc_id", "grp", "score", "tok")
    val totalByGrp = docs.groupBy("grp").agg(sum("tok").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def kept(budget: Long): Set[Long] =
      graft.operators.Curation.tokenBudget(docs, col("score"), col("tok"),
        Seq("grp"), "doc_id", budget)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val sweep = Seq(1L, 20L, 50L, 120L, 1000L).map(b => b -> kept(b))
    // nested: a bigger budget never drops a kept row
    sweep.zip(sweep.tail).foreach { case ((b1, k1), (b2, k2)) =>
      assert(k1.subsetOf(k2), s"budget $b1 -> $b2 lost rows")
    }
    // a budget >= every stratum total keeps everything
    assert(sweep.last._2.size == 60)
    assert(totalByGrp.values.max <= 1000L)
  }

  test("bm25: k sweep is a ranked prefix chain; scores within a query are non-increasing") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val q = Seq((1L, "spark"), (1L, "join"), (2L, "hash")).toDF("query_id", "term")
    def run(k: Int) = graft.operators.Retrieval.bm25TopK(docs, q, k)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val k5 = run(5); val k10 = run(10)
    // k=5 is exactly the first five ranks of k=10 per query
    val k10prefix = k10.filter(_._2 <= 5)
    assert(k5.toSeq == k10prefix.toSeq)
    k10.groupBy(_._1).values.foreach { rows =>
      val ordered = rows.sortBy(_._2)
      ordered.zip(ordered.tail).foreach { case (a, b) =>
        assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
          s"rank order violates (score desc, doc_id asc): $a then $b")
      }
    }
  }

  test("weightedSample: acceptance rate tracks the weight (law of large numbers)") {
    val docs = (0L until 4000L).map(i => (i, i)).toDF("doc_id", "v")
    for (w <- Seq(0.1, 0.5, 0.9)) {
      val got = graft.operators.Sampling.weightedSample(docs, "doc_id", lit(w)).count()
      val expect = 4000 * w
      assert(math.abs(got - expect) < 4000 * 0.05,
        s"weight $w: got $got, expected ~$expect")
    }
  }

  test("TopKTagBuffer: insert/merge/serde equal sort-truncate on adversarial grids") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{TopKByScoreTag, TopKTagBuffer}
    // deterministic pseudo-random stream with heavy score/tag ties
    def rows(seed: Long, n: Int): Seq[(Double, String)] =
      (0 until n).map { i =>
        val h = (seed * 6364136223846793005L + i * 1442695040888963407L)
        ((h % 7).toDouble, s"t${(h >>> 32) % 11}")
      }
    def reference(xs: Seq[(Double, String)], k: Int): Seq[(Double, String)] =
      xs.sortWith { case ((s1, t1), (s2, t2)) =>
        s1 > s2 || (s1 == s2 && t1 < t2)
      }.take(k)
    val agg = TopKByScoreTag(null, null, 1) // instance only for serde methods
    for {
      n <- Seq(0, 1, 3, 17, 200)
      k <- Seq(1, 2, 5, 64)
      seed <- Seq(1L, 99L)
    } {
      val xs = rows(seed, n)
      // single-buffer insert stream
      val b = new TopKTagBuffer(k)
      xs.foreach { case (s, t) => b.insert(s, UTF8String.fromString(t)) }
      def got(buf: TopKTagBuffer) =
        buf.sortedPairs.map { case (s, t) => (s, t.toString) }.toSeq
      assert(got(b) == reference(xs, k), s"insert n=$n k=$k seed=$seed")
      // arbitrary split + merge (partial aggregation across tasks)
      for (cut <- Seq(0, n / 3, n / 2, n)) {
        val (l, r) = xs.splitAt(cut)
        val bl = new TopKTagBuffer(k); val br = new TopKTagBuffer(k)
        l.foreach { case (s, t) => bl.insert(s, UTF8String.fromString(t)) }
        r.foreach { case (s, t) => br.insert(s, UTF8String.fromString(t)) }
        // serde round-trip each side first (shuffle-exchange shape)
        val blr = agg.deserialize(agg.serialize(bl))
        val brr = agg.deserialize(agg.serialize(br))
        assert(got(agg.merge(blr, brr)) == reference(xs, k),
          s"merge n=$n k=$k seed=$seed cut=$cut")
      }
    }
  }

  test("top_k/top_k_tag update: lazy score-gate equals eager insert (ties, nulls, NaN)") {
    // Drives the aggregates' update() directly (not the buffer), the one
    // path PropertiesSuite previously bypassed: the r16 lazy gate
    // `buf.size < k || sd >= scores(0)` must admit exactly the rows the
    // pre-gate eager path admitted — including heap-min score ties
    // (>= not >), null score/id rows, and NaN scores — and must skip
    // evaluating the id/tag child on score-rejected rows.
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnaryExpression}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{TopKBuffer, TopKByScore, TopKByScoreTag, TopKTagBuffer}

    // counts eval() calls so the test can assert the gate really skips
    case class CountingRef(child: Expression, hits: AtomicInteger)
      extends UnaryExpression with CodegenFallback {
      override def dataType: DataType = child.dataType
      override def eval(input: InternalRow): Any = {
        hits.incrementAndGet(); child.eval(input)
      }
      override protected def withNewChildInternal(c: Expression): CountingRef =
        copy(child = c)
    }

    // deterministic stream: 5 distinct scores (constant heap-min ties),
    // null scores, null ids, optional NaN
    def rows(seed: Long, n: Int, withNaN: Boolean): Seq[(java.lang.Double, java.lang.Long)] =
      (0 until n).map { i =>
        val h = seed * 6364136223846793005L + i * 1442695040888963407L
        val m = ((h >>> 16) % 13).toInt
        val s: java.lang.Double =
          if (m == 0) null
          else if (withNaN && m == 1) Double.NaN
          else (h % 5).toDouble
        val id: java.lang.Long =
          if (m == 2) null else java.lang.Long.valueOf((h >>> 32) % 9)
        (s, id)
      }

    for {
      n <- Seq(0, 1, 3, 17, 300)
      k <- Seq(1, 2, 5, 64)
      seed <- Seq(1L, 7L, 99L)
      withNaN <- Seq(false, true)
    } {
      val xs = rows(seed, n, withNaN)

      // --- long-id aggregate ---
      val idHits = new AtomicInteger(0)
      val agg = TopKByScore(
        BoundReference(0, DoubleType, nullable = true),
        CountingRef(BoundReference(1, LongType, nullable = true), idHits), k)
      val viaUpdate = xs.foldLeft(agg.createAggregationBuffer()) { (b, r) =>
        agg.update(b, InternalRow(r._1, r._2))
      }
      // eager reference: the pre-r16 update body — eval score, eval id
      // unconditionally, insert when both non-null
      val viaEagerInsert = new TopKBuffer(k)
      xs.foreach { case (s, id) =>
        if (s != null && id != null) viaEagerInsert.insert(s, id)
      }
      // NaN-tolerant pair equality: compare canonical score bits
      def got(b: TopKBuffer) = b.sortedPairs.toSeq.map { case (s, i) =>
        (java.lang.Double.doubleToLongBits(s), i)
      }
      assert(got(viaUpdate) == got(viaEagerInsert),
        s"update != eager insert: n=$n k=$k seed=$seed nan=$withNaN")
      // pinned against a plain sort-truncate in ALL cases: NaN scores
      // are rejected at admission (like null scores), so the reference
      // drops them too — this pins the r18 fix for the frozen-heap
      // hazard (a NaN admitted while filling could reach the heap root
      // and permanently reject every later row)
      val ref = xs.collect {
        case (s, id) if s != null && !s.isNaN && id != null =>
          (s.doubleValue(), id.longValue())
      }.sortWith { case ((s1, i1), (s2, i2)) =>
        s1 > s2 || (s1 == s2 && i1 < i2)
      }.take(k).map { case (s, i) => (java.lang.Double.doubleToLongBits(s), i) }
      assert(got(viaUpdate) == ref,
        s"update != sort-truncate: n=$n k=$k seed=$seed nan=$withNaN")
      // laziness: with 5 score values and k small, a long stream must
      // reject most rows on score alone without touching idExpr
      val nonNullScores = xs.count(_._1 != null)
      if (n == 300 && k <= 2 && !withNaN) {
        assert(idHits.get() < nonNullScores,
          s"id child evaluated on every row (gate never skipped): k=$k seed=$seed")
      }

      // --- string-tag aggregate (same stream, tags derived from ids) ---
      val tagHits = new AtomicInteger(0)
      val tagAgg = TopKByScoreTag(
        BoundReference(0, DoubleType, nullable = true),
        CountingRef(BoundReference(1, StringType, nullable = true), tagHits), k)
      val tagViaUpdate = xs.foldLeft(tagAgg.createAggregationBuffer()) { (b, r) =>
        val t = if (r._2 == null) null else UTF8String.fromString(s"t${r._2}")
        tagAgg.update(b, InternalRow(r._1, t))
      }
      val tagEager = new TopKTagBuffer(k)
      xs.foreach { case (s, id) =>
        if (s != null && id != null)
          tagEager.insert(s, UTF8String.fromString(s"t$id"))
      }
      def gotT(b: TopKTagBuffer) = b.sortedPairs.toSeq.map { case (s, t) =>
        (java.lang.Double.doubleToLongBits(s), t.toString)
      }
      assert(gotT(tagViaUpdate) == gotT(tagEager),
        s"tag update != eager insert: n=$n k=$k seed=$seed nan=$withNaN")
    }

    // pinpoint the tie-admission boundary the gate must preserve: a
    // full buffer whose heap-min score equals the incoming score must
    // still evaluate the id and admit on a winning tiebreak
    val tieAgg = TopKByScore(
      BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true), 2)
    val tieBuf = Seq((5.0, 10L), (5.0, 20L), (5.0, 1L), (4.0, 0L))
      .foldLeft(tieAgg.createAggregationBuffer()) { (b, r) =>
        tieAgg.update(b, InternalRow(java.lang.Double.valueOf(r._1),
          java.lang.Long.valueOf(r._2)))
      }
    assert(tieBuf.sortedPairs.toSeq == Seq((5.0, 1L), (5.0, 10L)),
      "heap-min score tie with winning id must enter (>= gate, not >)")
  }

  test("chunkByTokens: full coverage and exact overlap for every (window, stride)") {
    // grid sweep in the suite's deterministic style: every token of
    // every doc appears in >= 1 chunk; consecutive chunks overlap by
    // exactly window - stride tokens (except a short tail); dropping
    // each later chunk's overlap prefix and concatenating rebuilds
    // the document token-for-token
    val texts = Seq(
      (0L, (1 to 37).map(i => s"t$i").mkString(" ")),
      (1L, (1 to 8).map(i => s"u$i").mkString(" ")),
      (2L, "single"),
      (3L, (1 to 24).map(i => s"v$i").mkString(" ")))
    val df = texts.toDF("doc_id", "text")
    for {
      window <- Seq(1, 4, 8, 32)
      stride <- Seq(1, 3, window)
      if stride <= window
    } {
      val chunks = graft.operators.Chunking
        .chunkByTokens(df, window, stride)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(3).split(" ").toSeq))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      texts.foreach { case (id, text) =>
        val toks = text.split(" ").toSeq
        val got = chunks(id)
        // reconstruction: first chunk whole, later chunks minus the
        // (window - stride)-token overlap with their predecessor
        val rebuilt = got.head ++ got.drop(1).zipWithIndex.flatMap {
          case (c, i) =>
            // chunk i+1 starts at (i+1)*stride; predecessor covered
            // up to min(i*stride + window, n)
            val start = (i + 1) * stride
            val covered = math.min(i * stride + window, toks.length)
            c.drop(covered - start)
        }
        assert(rebuilt == toks,
          s"doc $id window=$window stride=$stride: $rebuilt != $toks")
      }
    }
  }

  test("resampleOhlc equals the window-based reference across random data and grids") {
    import graft.operators.TimeSeries
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(41)
    val rows = Seq.tabulate(600) { i =>
      // deliberately collide timestamps (ts granularity 100) so the
      // id tiebreak is exercised, and span several buckets
      (i.toLong, (rnd.nextInt(50) * 100000000L),
        s"k${rnd.nextInt(3)}", math.round(rnd.nextDouble() * 10000) / 100.0)
    }.toDF("event_id", "ts", "event_type", "value")
    for (bucketNs <- Seq(1000000000L, 2000000000L, 3000000000L)) {
      val got = TimeSeries.resampleOhlc(rows, bucketNs, Seq("event_type"))
        .collect().map(_.toSeq.toList).toList
      // reference: windows ordered by (ts, id), first/last + min/max,
      // bucket derived INDEPENDENTLY (floor of a double division —
      // safe here because test timestamps stay far below 2^53, and a
      // shared bucket expression would blind the test to a labeling
      // bug in the operator's integer form)
      val b = expr(s"CAST(floor(ts / $bucketNs.0) AS BIGINT) * " +
        s"${bucketNs / 1000000000L}").as("bucket_ts")
      val w = Window.partitionBy(col("event_type"), col("bucket_ts"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val vc = round(col("value") * 100).cast("long")
      val ref = rows.select(col("event_type"), b, col("ts"), col("event_id"), vc.as("vc"))
        .withColumn("first_vc", first(col("vc")).over(w))
        .withColumn("last_vc", last(col("vc")).over(w))
        .groupBy(col("event_type"), col("bucket_ts"))
        .agg(
          (max(col("first_vc")).cast("double") / 100).as("open"),
          (max(col("vc")).cast("double") / 100).as("high"),
          (min(col("vc")).cast("double") / 100).as("low"),
          (max(col("last_vc")).cast("double") / 100).as("close"),
          count(lit(1)).as("n"),
          (sum(col("vc")).cast("double") / 100).as("volume"))
        .orderBy(col("event_type"), col("bucket_ts"))
        .collect().map(_.toSeq.toList).toList
      assert(got == ref, s"bucketNs=$bucketNs")
    }
  }

  test("heavyHitters equals brute force across random Zipf-ish draws and supports") {
    import graft.operators.ApproxAgg
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 3) {
      // Zipf-ish: item i drawn with weight ~ 1/(i+1); heavy mass up
      // front, a genuine tail — the regime MG exists for
      val universe = 200
      val weights = (0 until universe).map(i => 1.0 / (i + 1))
      val cum = weights.scanLeft(0.0)(_ + _).tail
      val total = cum.last
      val rows = Seq.fill(4000) {
        val r = rnd.nextDouble() * total
        s"item${cum.indexWhere(r <= _)}"
      }
      val df = rows.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "item")
      val n = rows.length.toLong
      for ((num, den) <- Seq((1L, 15L), (1L, 40L), (3L, 100L))) {
        val brute = df.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * den > lit(n) * num)
          .orderBy(col("cnt").desc, col("item").asc)
          .collect().map(_.toSeq).toSeq
        val got = ApproxAgg.heavyHitters(df, col("item"), num, den)
          .collect().map(_.toSeq).toSeq
        assert(got == brute, s"trial $trial support $num/$den")
        graft.core.OpCaches.release()
      }
    }
  }

  test("groupCentroids tracks the exact float mean direction within quantization error") {
    import graft.operators.Embeddings
    val rnd = new scala.util.Random(17)
    val dim = 16
    val df = Seq.tabulate(200)(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq, s"g${i % 4}"))
      .toDF("vec_id", "embedding", "grp")
    val got = Embeddings.groupCentroids(df, "grp")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (g, rs) =>
        g -> rs.sortBy(_._2).map(_._3) }
    // reference: exact double mean then L2-normalize
    val ref = df.collect().map(r => (r.getString(2),
        r.getSeq[Float](1).map(_.toDouble)))
      .groupBy(_._1).map { case (g, vs) =>
        val mean = vs.map(_._2.toVector).toVector.transpose
          .map(c => c.sum / c.length)
        val norm = math.sqrt(mean.map(x => x * x).sum)
        g -> mean.map(_ / norm)
      }
    for (g <- ref.keys) {
      val cosSim = got(g).zip(ref(g)).map { case (a, b) => a * b }.sum
      // both are unit vectors: agreement is their cosine; the 1e-3
      // quantization grid on ~N(0,1) components keeps it ~1
      assert(cosSim > 0.999999, s"group $g centroid drifted: $cosSim")
    }
  }
}
