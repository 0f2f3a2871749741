package graft

import org.apache.spark.sql.functions._

import graft.core.{IndexMeta, IndexStore}
import graft.operators.{DupCollapse, Similarity}

/** Direct tests of the build-once/query-many store machinery:
  * manifest-hit reuse, mismatch/crash rebuild, fingerprint
  * sensitivity (including the partition-dir rename case the
  * fingerprint's relative-path design exists for), and the
  * build-parameter stamp that guards the *FromIndex serving paths.
  */
class IndexStoreSuite extends SparkSuite {
  import spark.implicits._

  private def uniqueName(prefix: String) =
    s"$prefix-${java.util.UUID.randomUUID().toString.take(8)}"

  test("readOrBuild reuses a manifest-matched store and rebuilds on mismatch") {
    val name = uniqueName("test-reuse")
    var builds = 0
    def build = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    val r1 = IndexStore.readOrBuild(spark, name, "fp-A")(build)
    assert(builds == 1 && r1.count() == 2)
    // same fingerprint: served from the store, builder not invoked
    val r2 = IndexStore.readOrBuild(spark, name, "fp-A")(build)
    assert(builds == 1 && r2.count() == 2)
    // changed fingerprint (source changed): rebuilt and re-stored
    IndexStore.readOrBuild(spark, name, "fp-B")(build)
    assert(builds == 2)
    // force: rebuilt even when the manifest matches
    IndexStore.readOrBuild(spark, name, "fp-B", force = true)(build)
    assert(builds == 3)
  }

  test("readOrBuild does not trust a crashed build (missing manifest)") {
    val name = uniqueName("test-crash")
    var builds = 0
    def build = { builds += 1; Seq((1L, "a")).toDF("id", "v") }
    IndexStore.readOrBuild(spark, name, "fp")(build)
    assert(builds == 1)
    // simulate a crash between data write and manifest write: data
    // exists, manifest doesn't -> must rebuild
    val meta = new java.io.File(new java.io.File(IndexStore.baseDir, name),
      "_graft_manifest")
    assert(meta.delete(), "manifest should exist after a clean build")
    IndexStore.readOrBuild(spark, name, "fp")(build)
    assert(builds == 2)
  }

  test("sourceFingerprint sees size, mtime, and partition-dir renames") {
    val root = java.nio.file.Files.createTempDirectory("graft-fp").toFile
    def put(rel: String, content: String, mtime: Long): Unit = {
      val f = new java.io.File(root, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
      f.setLastModified(mtime)
    }
    val t0 = 1700000000000L
    put("p=0/part-00000", "aa", t0)
    put("p=1/part-00001", "bb", t0)
    val base = IndexStore.sourceFingerprint(root.getPath)
    assert(base == IndexStore.sourceFingerprint(root.getPath), "not deterministic")
    // size change
    put("p=0/part-00000", "aaa", t0)
    val sized = IndexStore.sourceFingerprint(root.getPath)
    assert(sized != base)
    put("p=0/part-00000", "aa", t0)
    assert(IndexStore.sourceFingerprint(root.getPath) == base)
    // mtime change, same size
    put("p=0/part-00000", "aa", t0 + 60000)
    val touched = IndexStore.sourceFingerprint(root.getPath)
    assert(touched != base)
    put("p=0/part-00000", "aa", t0)
    assert(IndexStore.sourceFingerprint(root.getPath) == base)
    // the doc-comment case: a same-named file MOVED between partition
    // dirs (p=1/part-00001 -> p=0/part-00001) keeps every basename,
    // size, and mtime — only the relative path differs
    val moved = new java.io.File(root, "p=0/part-00001")
    assert(new java.io.File(root, "p=1/part-00001").renameTo(moved))
    moved.setLastModified(t0)
    assert(IndexStore.sourceFingerprint(root.getPath) != base,
      "a partition-dir rename must change the fingerprint")
  }

  test("index build params survive the store round-trip and gate serving") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-meta").toFile
    val src = new java.io.File(tmp, "corpus.parquet").getPath
    val rnd = new scala.util.Random(11)
    Seq.tabulate(60)(i => (i.toLong, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(src)
    val corpus = spark.read.parquet(src)
    val q = corpus.filter($"vec_id" < 2)
    val index = Similarity.storedIvfIndex(corpus, src, numCentroids = 8)
    // the stamp survived parquet: serving with MATCHING knobs works...
    assert(Similarity.ivfTopKFromIndex(index, corpus, q, 3,
      numCentroids = 8).count() > 0)
    // ...and serving with DIFFERENT knobs fails loudly instead of
    // silently scoring against re-derived centroids that don't match
    // the stored cent_ids
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromIndex(index, corpus, q, 3, numCentroids = 16)
    }
    assert(err.getMessage.contains("numCentroids=16") &&
      err.getMessage.contains("numCentroids=8"), err.getMessage)
    // hand-assembled frames without a stamp are accepted (the stamp
    // guards built artifacts, it is not a capability gate)
    val bare = index.withColumn("cent_id", col("cent_id") + 0L)
    IndexMeta.validate(bare, "cent_id", "test", "kind" -> "ivf")
    graft.core.OpCaches.release()
  }

  test("prebuilt batch near-dup equals the inline form and validates its stamp") {
    import graft.operators.Similarity
    val dir = sf("sf0.001")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 40)
    val batch = e.filter(col("vec_id") < 40)
    val inline = Similarity.ivfNearDupBatch(corpus, batch, threshold = 0.3,
        assignments = 24, minSharedCells = 2)
      .orderBy("batch_id", "corpus_id").collect().map(_.toSeq).toSeq
    val prebuilt = Similarity.ivfNearDupBatchPrebuilt(
        corpus, s"$dir/embeddings.parquet", batch, threshold = 0.3,
        assignments = 24, minSharedCells = 2, variant = "ge40",
        force = true)
      .orderBy("batch_id", "corpus_id").collect().map(_.toSeq).toSeq
    assert(prebuilt == inline)
    assert(prebuilt.nonEmpty)
    // the store entry is keyed by (knobs, variant, path); the variant
    // string disambiguates this FILTERED corpus from other frames
    // over the same file (the knn prebuilt uses the full table) —
    // without it the two entries collide, which the sf0.01 verify
    // caught as a 200-row diff
    val again = Similarity.ivfNearDupBatchPrebuilt(
        corpus, s"$dir/embeddings.parquet", batch, threshold = 0.3,
        assignments = 24, minSharedCells = 2, variant = "ge40")
      .orderBy("batch_id", "corpus_id").collect().map(_.toSeq).toSeq
    assert(again == inline)
    // the stamp itself: knob mismatch through THIS api is impossible
    // (the store name is knob-keyed, different knobs build a fresh
    // entry), so the validation guards hand-held frames and future
    // name collisions — assert the stamp content round-trips with
    // the resolved centroid count a serving call reads back
    val stamp = IndexMeta.get(
      Similarity.storedIvfMultiIndex(corpus, s"$dir/embeddings.parquet",
        assignments = 24, variant = "ge40"), "cent_id").get
    assert(stamp("kind") == "ivfmulti" && stamp("assignments") == "24")
    assert(stamp("numCentroidsResolved").toInt >= 16)
    graft.core.OpCaches.release()
  }

  test("prebuilt v2 collapsed embedding index serves identically to the raw index and inline forms") {
    import graft.operators.Similarity
    // the r19 serving-side collapse: a copy-heavy corpus's raw
    // multi-assign index reproduces the batch-copies × corpus-copies
    // cell probe the inline form escaped in r18; the collapsed v2
    // index assigns DISTINCT prepared vectors only and expands matched
    // rep pairs through the stored membership
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfv2").toFile
    val src = new java.io.File(tmp, "vecs.parquet").getPath
    val rnd = new scala.util.Random(23)
    // 12 distinct vectors, 5 copies each (duplicate mass 0.8), ids
    // interleaved so every group straddles the batch/corpus split;
    // group 7 is the zero vector (cosine NaN — must never pair)
    val base = Array.tabulate(12)(g =>
      if (g == 7) Seq.fill(8)(0f) else Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    Seq.tabulate(60)(i => (i.toLong, base(i % 12)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(src)
    val e = spark.read.parquet(src)
    val corpus = e.filter($"vec_id" >= 24)
    val batch = e.filter($"vec_id" < 24)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("batch_id", "corpus_id").collect().map(_.toSeq).toSeq
    val inline = rows(Similarity.ivfNearDupBatch(corpus, batch,
      threshold = 0.3, assignments = 4, minSharedCells = 2))
    graft.core.OpCaches.release()
    def served(gate: Double, force: Boolean = false) =
      Similarity.ivfNearDupBatchPrebuilt(corpus, src, batch,
        threshold = 0.3, assignments = 4, minSharedCells = 2,
        variant = "ge24t", force = force, dupGate = gate)
    val direct = rows(served(gate = 1.0, force = true))
    graft.core.OpCaches.release()
    val collapsed = rows(served(gate = -1.0))
    graft.core.OpCaches.release()
    assert(direct == inline && inline.nonEmpty)
    assert(collapsed == inline,
      s"collapsed ${collapsed.size} != inline ${inline.size}")
    // zero vectors never pair through any route
    val zeroIds = (0 until 60 by 12).map(i => (i + 7).toLong).toSet
    assert(!inline.exists(r => zeroIds(r.head.asInstanceOf[Long]) ||
      zeroIds(r(1).asInstanceOf[Long])))
    // the default gate reads the stamped duplicate-vector fraction
    // (0.8 here) and routes the collapsed index — its membership
    // entry's rep_id shows in the analyzed plan
    assert(Similarity.storedVecDupFraction(corpus, src, "embedding",
      "vec_id", "ge24t", force = false) > graft.operators.Dedup.DefaultDupGate)
    val routed = served(gate = graft.operators.Dedup.DefaultDupGate)
    assert(routed.queryExecution.analyzed.toString.contains("rep_id"))
    assert(rows(routed) == inline)
    graft.core.OpCaches.release()
    // empty batch: both routes keep the schema and return nothing
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    for (gate <- Seq(-1.0, 2.0)) {
      val got = Similarity.ivfNearDupBatchPrebuilt(corpus, src, empty,
        threshold = 0.3, assignments = 4, minSharedCells = 2,
        variant = "ge24t", dupGate = gate)
      assert(got.columns.toSeq == Seq("batch_id", "corpus_id", "cosine"))
      assert(got.count() == 0)
    }
    graft.core.OpCaches.release()
  }

  test("prebuilt knn self-join equals the inline form from index bytes alone") {
    import graft.operators.Similarity
    val dir = sf("sf0.001")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val inline = Similarity.knnJoin(e, 3, assignments = 24, minSharedCells = 2)
      .collect().map(_.toSeq).toSeq
    val prebuilt = Similarity.knnJoinPrebuilt(e, s"$dir/embeddings.parquet",
        3, assignments = 24, minSharedCells = 2, force = true)
      .collect().map(_.toSeq).toSeq
    assert(prebuilt == inline)
    assert(prebuilt.nonEmpty)
    graft.core.OpCaches.release()
  }

  test("storedVocab serves the fitted vocabulary without re-fitting") {
    import graft.operators.Vocab
    val dir = sf("sf0.001")
    val docs = Tables.documents(spark, dir)
    val inline = Vocab.buildVocab(docs, 50).collect().map(_.toSeq).toSeq
    val stored = Vocab.storedVocab(docs, s"$dir/documents.parquet", 50,
        force = true)
      .orderBy("token_id").collect().map(_.toSeq).toSeq
    assert(stored == inline)
    // second call: manifest hit, identical content from the store
    val again = Vocab.storedVocab(docs, s"$dir/documents.parquet", 50)
      .orderBy("token_id").collect().map(_.toSeq).toSeq
    assert(again == inline)
    // the served encode equals the inline fit+transform
    val viaStore = Vocab.encodeTokens(docs,
        Vocab.storedVocab(docs, s"$dir/documents.parquet", 50))
      .orderBy("doc_id", "pos").collect().map(_.toSeq).toSeq
    val viaInline = Vocab.vocabEncode(docs, 50)
      .collect().map(_.toSeq).toSeq
    assert(viaStore == viaInline)
  }

  test("prune deletes exactly the prefix-matched entries and invalidates readers") {
    // simulate a version bump: v1 entries orphaned, v2 is current
    val stem = uniqueName("test-prune")
    def build = Seq((1L, "a")).toDF("id", "v")
    IndexStore.readOrBuild(spark, s"$stem-v1-x", "fp")(build)
    IndexStore.readOrBuild(spark, s"$stem-v1-y", "fp")(build)
    IndexStore.readOrBuild(spark, s"$stem-v2-x", "fp")(build)
    def onDisk(name: String) = new java.io.File(IndexStore.baseDir, name).exists()
    assert(onDisk(s"$stem-v1-x") && onDisk(s"$stem-v1-y") && onDisk(s"$stem-v2-x"))

    val deleted = IndexStore.prune(s"$stem-v1")
    assert(deleted == Seq(s"$stem-v1-x", s"$stem-v1-y"))
    assert(!onDisk(s"$stem-v1-x") && !onDisk(s"$stem-v1-y"),
      "v1 entries must be gone")
    assert(onDisk(s"$stem-v2-x"), "current-version entry must survive")

    // a pruned name rebuilds cleanly (no stale memoized reader serving
    // a deleted data path)
    var rebuilds = 0
    val back = IndexStore.readOrBuild(spark, s"$stem-v1-x", "fp") {
      rebuilds += 1; build
    }
    assert(rebuilds == 1 && back.count() == 1)

    // pruning nothing is a no-op; the empty prefix is refused
    assert(IndexStore.prune(s"$stem-nonexistent").isEmpty)
    intercept[IllegalArgumentException](IndexStore.prune(""))
  }

  test("forced collapsed minhash serving builds its membership entry once") {
    // force = true on the collapsed route used to build the membership
    // entry, then rebuild it inside the rep-index build, deleting the
    // files the first frame reads (FILE_NOT_EXIST at collect)
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhforce").toFile
    val src = new java.io.File(tmp, "corpus.parquet").getPath
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away today",
      "pack my box with five dozen liquor jugs before the long trip home now",
      "sphinx of black quartz judge my vow while the river keeps on running")
    // copy-heavy: three contents, eight copies each
    (0 until 24).map(i => (i.toLong, texts(i % 3)))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(src)
    val corpus = spark.read.parquet(src)
    val batch = Seq((100L, texts(0)), (101L, texts(1) + " again"))
      .toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 16).toInt)
    val inline = Dedup.incrementalMinHashCandidates(batch, corpus)
      .collect().map(key).toSet
    graft.core.OpCaches.release()
    for (_ <- 1 to 2) {
      val forced = Dedup.incrementalMinHashCandidatesPrebuilt(corpus, src, batch,
        variant = "forcetest", force = true, dupGate = -1)
        .collect().map(key).toSet
      graft.core.OpCaches.release()
      assert(forced == inline && inline.nonEmpty,
        s"forced ${forced.size} != inline ${inline.size}")
    }
  }

  test("collapsed minhash serving runs a fixed number of jobs per batch") {
    // once the store is built, a served batch costs batch-bounded work:
    // an empty batch runs no job, and a 1-doc batch one job each for
    // its signed contents, the probe of the stored rep bands, the
    // matched groups' ids and the expansion, however large the corpus
    import graft.operators.Dedup
    val tmpStore = java.nio.file.Files.createTempDirectory("graft-mhjobs").toString
    sys.props("graft.index.dir") = tmpStore
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mhjobsrc").toFile
      val src = new java.io.File(tmp, "corpus.parquet").getPath
      val texts = Seq(
        "the quick brown fox jumps over the lazy dog and runs far away today",
        "pack my box with five dozen liquor jugs before the long trip home now",
        "sphinx of black quartz judge my vow while the river keeps on running")
      (0 until 24).map(i => (i.toLong, texts(i % 3)))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(src)
      val corpus = spark.read.parquet(src)
      def serve(batch: org.apache.spark.sql.DataFrame) =
        Dedup.incrementalMinHashCandidatesPrebuilt(corpus, src, batch, variant = "jobs")
      serve(corpus.limit(0)).collect()
      graft.core.OpCaches.release()
      val (empty, emptyJobs) = jobsDuring(serve(corpus.limit(0)).collect())
      val (one, oneJobs) = jobsDuring(
        serve(Seq((100L, texts(0))).toDF("doc_id", "text")).collect())
      // the batch copy pairs with the 8 stored copies of its text
      assert(empty.isEmpty && one.length == 8)
      assert((emptyJobs, oneJobs) == ((0, 4)), s"jobs: empty $emptyJobs, one doc $oneJobs")
    } finally sys.props.remove("graft.index.dir")
  }

  test("forced collapsed embedding serving builds its membership entry once") {
    // the ivf twin of the minhash case above: the collapsed route
    // holds the stored groups frame, and the rep-index build must not
    // force-rebuild the same entry underneath it
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfforce").toFile
    val src = new java.io.File(tmp, "vecs.parquet").getPath
    val rnd = new scala.util.Random(29)
    // copy-heavy: 12 distinct vectors, 5 copies each
    val base = Array.tabulate(12)(_ => Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    Seq.tabulate(60)(i => (i.toLong, base(i % 12)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(src)
    val e = spark.read.parquet(src)
    val corpus = e.filter($"vec_id" >= 24)
    val batch = e.filter($"vec_id" < 24)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("batch_id", "corpus_id").collect().map(_.toSeq).toSeq
    val inline = rows(Similarity.ivfNearDupBatch(corpus, batch,
      threshold = 0.3, assignments = 4, minSharedCells = 2))
    graft.core.OpCaches.release()
    for (_ <- 1 to 2) {
      val forced = rows(Similarity.ivfNearDupBatchPrebuilt(corpus, src, batch,
        threshold = 0.3, assignments = 4, minSharedCells = 2,
        variant = "ivfforcetest", force = true, dupGate = -1))
      graft.core.OpCaches.release()
      assert(forced == inline && inline.nonEmpty,
        s"forced ${forced.size} != inline ${inline.size}")
    }
  }

  test("readOrBuild sizes its write without the rebalance hint when AQE is off") {
    // Spark resolves the rebalance hint only under AQE: an AQE-off
    // session logged `Unrecognized hint: rebalance()` and wrote one
    // part file per build partition
    val name = uniqueName("test-aqeoff")
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    val (_, warnings) =
      try hintWarningsDuring(IndexStore.readOrBuild(spark, name, "fp")(
        spark.range(0, 1000, 1, 4).toDF("id")).count())
      finally spark.conf.set(key, was)
    assert(warnings.isEmpty, warnings.mkString("\n"))
    val parts = new java.io.File(IndexStore.baseDir, s"$name/data").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 1, parts.map(_.getName).mkString(", "))
  }

  test("the collapse family's prebuilt routes write exactly their named store entries") {
    // every entry name of the family, pinned: a refactor that renamed
    // one would orphan the entries a previous build wrote, and two
    // families sharing a name would serve each other's bytes
    val tmpStore = java.nio.file.Files
      .createTempDirectory("graft-entrynames").toString
    sys.props("graft.index.dir") = tmpStore
    try entryNamesBody()
    finally sys.props.remove("graft.index.dir")
  }

  private def entryNamesBody(): Unit = {
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft-entrysrc").toFile
    val docsPath = new java.io.File(tmp, "docs.parquet").getPath
    val vecsPath = new java.io.File(tmp, "vecs.parquet").getPath
    val text = "the quick brown fox jumps over the lazy dog and runs far away"
    (0 until 12).map(i => (i.toLong, if (i % 2 == 0) text else s"$text $i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsPath)
    val rnd = new scala.util.Random(31)
    val base = Array.tabulate(6)(_ => Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    Seq.tabulate(24)(i => (i.toLong, base(i % 6)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(vecsPath)
    val docs = spark.read.parquet(docsPath)
    val vecs = spark.read.parquet(vecsPath)
    val h = (p: String) => IndexStore.md5hex(p)
    def entries() = Option(new java.io.File(IndexStore.baseDir).listFiles())
      .getOrElse(Array.empty).map(_.getName).toSet
    // the text family: the stamp, then both serving indexes
    Dedup.incrementalMinHashCandidatesPrebuilt(docs, docsPath, docs.limit(0),
      variant = "names").collect()
    Dedup.incrementalMinHashCandidatesPrebuilt(docs, docsPath, docs.limit(0),
      variant = "names", dupGate = 1.0).collect()
    Dedup.incrementalMinHashCandidatesPrebuilt(docs, docsPath, docs.limit(0),
      variant = "names", dupGate = -1.0).collect()
    graft.core.OpCaches.release()
    assert(entries() == Set(
      s"mhroute-text-doc_id-names-v2-${h(docsPath)}",
      s"mhidx-n3-h16-b4-text-doc_id-names-v1-${h(docsPath)}",
      s"mhmembers-n3-text-doc_id-names-v1-${h(docsPath)}",
      s"mhrepidx-n3-h16-b4-text-doc_id-names-v1-${h(docsPath)}"))
    // the embedding family, same three calls
    def ivf(gate: Double) = Similarity.ivfNearDupBatchPrebuilt(vecs, vecsPath,
      vecs.limit(0), threshold = 0.9, variant = "names", dupGate = gate).collect()
    ivf(graft.operators.Dedup.DefaultDupGate)
    ivf(1.0)
    ivf(-1.0)
    graft.core.OpCaches.release()
    // 24 vectors: autoCentroids resolves C = 20 for the centroid sample
    assert(entries() -- entries().filter(_.startsWith("mh")) == Set(
      s"ivfroute-embedding-vec_id-names-v2-${h(vecsPath)}",
      s"ivfmulti-c0-a8-embedding-vec_id-names-v3-${h(vecsPath)}",
      s"ivfgroups-embedding-vec_id-names-v1-${h(vecsPath)}",
      s"ivfrepmulti-c0-a8-embedding-vec_id-names-v2-${h(vecsPath)}",
      s"sample-n20-embedding-vec_id-names-v2-${h(vecsPath)}"))
  }

  test("pruneSuperseded retires only out-generationed entries of the same key") {
    // the r19 sample v1->v2 bump (and the r20 ivf/ivfmulti/pq/ivfpq
    // bumps) leave orphaned old-generation entries nothing can ever
    // read again; pruneSuperseded must retire exactly those — same
    // name around the LAST -vN- token, lower N — and nothing else.
    // The sweep is store-WIDE and destructive, so the test points the
    // store at a throwaway dir via the graft.index.dir property
    // (IndexStore.baseDir's in-JVM override) instead of sweeping the
    // shared persistent store out from under concurrent sessions.
    val tmpStore = java.nio.file.Files
      .createTempDirectory("graft-prunegen").toString
    sys.props("graft.index.dir") = tmpStore
    try pruneSupersededBody()
    finally sys.props.remove("graft.index.dir")
  }

  private def pruneSupersededBody(): Unit = {
    val stem = uniqueName("test-gen")
    def build = Seq((1L, "a")).toDF("id", "v")
    // superseded chain: v1 and v2 lose to v3
    IndexStore.readOrBuild(spark, s"$stem-a-v1-h1", "fp")(build)
    IndexStore.readOrBuild(spark, s"$stem-a-v2-h1", "fp")(build)
    IndexStore.readOrBuild(spark, s"$stem-a-v3-h1", "fp")(build)
    // same family+generation, DIFFERENT source hash: both current
    IndexStore.readOrBuild(spark, s"$stem-a-v1-h2", "fp")(build)
    // different knobs, same generation token: no group, survives
    IndexStore.readOrBuild(spark, s"$stem-b-v1-h1", "fp")(build)
    // caller-supplied variant containing the pattern: the LAST -vN-
    // is the generation, so these two are one group (v2 wins)
    IndexStore.readOrBuild(spark, s"$stem-c-v1-slice-v1-h1", "fp")(build)
    IndexStore.readOrBuild(spark, s"$stem-c-v1-slice-v2-h1", "fp")(build)
    // no generation token at all: never a candidate
    IndexStore.readOrBuild(spark, s"$stem-plain", "fp")(build)
    // prefix collision: the victim's FULL name is a strict prefix of
    // a current sibling's name — exact-name deletion must not take
    // the sibling with it (a startsWith delete would)
    IndexStore.readOrBuild(spark, s"$stem-d-v1-h", "fp")(build)
    IndexStore.readOrBuild(spark, s"$stem-d-v2-h", "fp")(build)
    IndexStore.readOrBuild(spark, s"$stem-d-v1-h-extra-v2-h", "fp")(build)
    // ADJACENT tokens: a variant that itself matches v\d+ immediately
    // before the generation token. The lookahead regex lets the LAST
    // token match even with the shared '-' (a consuming regex would
    // anchor on the VARIANT and key these two live entries as
    // generations of each other, deleting e-v1-v3-h)
    IndexStore.readOrBuild(spark, s"$stem-e-v1-v3-h", "fp")(build)
    IndexStore.readOrBuild(spark, s"$stem-e-v2-v3-h", "fp")(build)
    // ...and a genuinely superseded adjacent-token chain: same variant
    // (f-v1), generations v1 < v2
    IndexStore.readOrBuild(spark, s"$stem-f-v1-v1-h", "fp")(build)
    IndexStore.readOrBuild(spark, s"$stem-f-v1-v2-h", "fp")(build)

    val deleted = IndexStore.pruneSuperseded().filter(_.startsWith(stem))
    assert(deleted == Seq(s"$stem-a-v1-h1", s"$stem-a-v2-h1",
      s"$stem-c-v1-slice-v1-h1", s"$stem-d-v1-h", s"$stem-f-v1-v1-h"))
    def onDisk(name: String) = new java.io.File(IndexStore.baseDir, name).exists()
    assert(!onDisk(s"$stem-a-v1-h1") && !onDisk(s"$stem-a-v2-h1") &&
      !onDisk(s"$stem-c-v1-slice-v1-h1") && !onDisk(s"$stem-d-v1-h"))
    assert(onDisk(s"$stem-a-v3-h1") && onDisk(s"$stem-a-v1-h2") &&
      onDisk(s"$stem-b-v1-h1") && onDisk(s"$stem-c-v1-slice-v2-h1") &&
      onDisk(s"$stem-plain"),
      "current generations, other hashes/knobs, and untokened entries survive")
    assert(onDisk(s"$stem-d-v2-h") && onDisk(s"$stem-d-v1-h-extra-v2-h"),
      "exact-name deletion must not take prefix-colliding siblings")
    assert(onDisk(s"$stem-e-v1-v3-h") && onDisk(s"$stem-e-v2-v3-h"),
      "distinct v\\d+-shaped variants at the same generation both survive")
    assert(!onDisk(s"$stem-f-v1-v1-h") && onDisk(s"$stem-f-v1-v2-h"),
      "adjacent-token chain: the lower generation retires, the higher survives")
    // a retired generation rebuilds cleanly if something re-requests it
    var rebuilds = 0
    val back = IndexStore.readOrBuild(spark, s"$stem-a-v1-h1", "fp") {
      rebuilds += 1; build
    }
    assert(rebuilds == 1 && back.count() == 1)
    // idempotent: nothing of ours left to retire (the rebuilt v1-h1 is
    // again superseded by v3-h1 — retired once more, the others stay)
    assert(IndexStore.pruneSuperseded().filter(_.startsWith(stem))
      == Seq(s"$stem-a-v1-h1"))
  }

  // ---- append-only maintenance (IndexStore.readOrExtend) ----

  /** A throwaway store for `body`, with a copy-heavy docs corpus and a
    * vectors corpus (ids 0 until 24 and 0 until 40) under `src`.
    */
  private def withCuration(tag: String)(
      body: (String, String) => Unit): Unit = {
    val store = java.nio.file.Files.createTempDirectory(s"graft-$tag").toString
    sys.props("graft.index.dir") = store
    try {
      val src = java.nio.file.Files.createTempDirectory(s"graft-${tag}src").toFile
      val docsPath = new java.io.File(src, "docs").getPath
      val vecsPath = new java.io.File(src, "vecs").getPath
      (0 until 24).map(i => (i.toLong, curationTexts(i % 3), if (i % 2 == 0) "en" else "de"))
        .toDF("doc_id", "text", "lang").write.parquet(docsPath)
      val rnd = new scala.util.Random(41)
      val base = Array.tabulate(10)(_ => Seq.fill(8)(rnd.nextFloat() * 2 - 1))
      Seq.tabulate(40)(i => (i.toLong, base(i % 10)))
        .toDF("vec_id", "embedding").write.parquet(vecsPath)
      body(docsPath, vecsPath)
    } finally sys.props.remove("graft.index.dir")
  }

  private val curationTexts = Seq(
    "the quick brown fox jumps over the lazy dog and runs far away today",
    "pack my box with five dozen liquor jugs before the long trip home now",
    "sphinx of black quartz judge my vow while the river keeps on running")

  /** Appends docs (id, text) and vectors (id, embedding) as new parts. */
  private def appendParts(docsPath: String, vecsPath: String,
      docs: Seq[(Long, String)], vecs: Seq[(Long, Seq[Float])]): Unit = {
    if (docs.nonEmpty) docs.map { case (i, t) => (i, t, "en") }
      .toDF("doc_id", "text", "lang").write.mode("append").parquet(docsPath)
    if (vecs.nonEmpty) vecs.toDF("vec_id", "embedding")
      .write.mode("append").parquet(vecsPath)
  }

  /** What the curation reads serve from, refreshed the way a write op
    * refreshes it: the route stamp, both minhash serving indexes, the
    * IVF index with its sample, and the DSIR model.
    */
  private def curationEntries(docsPath: String, vecsPath: String): Unit = {
    import graft.operators.{Dedup, Dsir}
    val docs = spark.read.parquet(docsPath)
    val vecs = spark.read.parquet(vecsPath)
    Dedup.storedDupFraction(docs, docsPath, "text", "doc_id", "cur", force = false)
    for (gate <- Seq(-1.0, 1.0))
      Dedup.incrementalMinHashCandidatesPrebuilt(docs, docsPath, docs.limit(0),
        variant = "cur", dupGate = gate).collect()
    Similarity.ivfTopKPrebuilt(vecs, vecsPath, vecs.limit(0), 3, numCentroids = 8).collect()
    Dsir.scoreBatchPrebuilt(docs, docsPath, docs.limit(0), col("lang") === "en",
      buckets = 64, variant = "en").collect()
    graft.core.OpCaches.release()
  }

  /** Part files per store entry. */
  private def storeParts(): Map[String, Set[String]] =
    Option(new java.io.File(IndexStore.baseDir).listFiles()).getOrElse(Array.empty)
      .map(e => e.getName -> Option(new java.io.File(e, "data").list()).getOrElse(Array.empty)
        .filter(_.startsWith("part-")).toSet).toMap

  /** Entries whose part files were all kept (extended or untouched)
    * and entries whose part files were all replaced (rebuilt).
    */
  private def keptAndRebuilt(before: Map[String, Set[String]],
      after: Map[String, Set[String]]): (Set[String], Set[String]) = {
    val names = before.keySet
    (names.filter(e => before(e).subsetOf(after(e))),
      names.filter(e => (before(e) intersect after(e)).isEmpty))
  }

  private def family(names: Set[String]): Set[String] = names.map(_.takeWhile(_ != '-'))

  private val curationFamilies =
    Set("mhroute", "mhidx", "mhmembers", "mhrepidx", "ivf", "sample", "dsirq")

  test("sourceFingerprint lists file: URIs through their FileSystem and fails on a missing path") {
    val root = java.nio.file.Files.createTempDirectory("graft-fpuri").toFile
    val plain = new java.io.File(root, "src").getPath
    val uri = new java.io.File(plain).toURI.toString
    assert(uri.startsWith("file:"))
    Seq((1L, curationTexts(0))).toDF("doc_id", "text").write.parquet(plain)
    val fp0 = IndexStore.sourceFingerprint(uri)
    assert(fp0 == IndexStore.sourceFingerprint(plain))
    val store = java.nio.file.Files.createTempDirectory("graft-uristore").toString
    sys.props("graft.index.dir") = store
    try {
      import graft.operators.Dedup
      def index() = Dedup.storedMinHashIndex(spark.read.parquet(uri), uri, variant = "uri")
      assert(index().count() == 4)
      Seq((2L, curationTexts(1))).toDF("doc_id", "text").write.mode("append").parquet(plain)
      assert(IndexStore.sourceFingerprint(uri) != fp0, "a grown file: source must re-fingerprint")
      val before = storeParts()
      assert(index().count() == 8, "the changed source was served from the stale entry")
      assert(keptAndRebuilt(before, storeParts())._1.nonEmpty, "the grown source was not extended")
    } finally sys.props.remove("graft.index.dir")
    val missing = new java.io.File(root, "no-such-corpus").toURI.toString
    val e = intercept[IllegalArgumentException](IndexStore.sourceFingerprint(missing))
    assert(e.getMessage.contains("no-such-corpus"), e.getMessage)
  }

  test("an appended part extends every curation entry and leaves served frames as they were") {
    withCuration("extend") { (docsPath, vecsPath) =>
      import graft.operators.Dedup
      curationEntries(docsPath, vecsPath)
      val read0 = Dedup.storedMinHashIndex(spark.read.parquet(docsPath), docsPath,
        variant = "cur")
      val rows0 = read0.collect().map(_.toString).sorted.toSeq
      val before = storeParts()
      assert(family(before.keySet) == curationFamilies)
      appendParts(docsPath, vecsPath,
        Seq(100L -> curationTexts(0), 101L -> "a brand new text that no stored doc has yet"),
        Seq(100L -> Seq.fill(8)(0.5f)))
      curationEntries(docsPath, vecsPath)
      val after = storeParts()
      val (kept, rebuilt) = keptAndRebuilt(before, after)
      assert(kept == before.keySet && rebuilt.isEmpty, s"rebuilt: $rebuilt")
      // every entry but the re-stamped sample gained a part
      assert(before.keySet.filter(e => after(e).size > before(e).size).map(_.takeWhile(_ != '-'))
        == curationFamilies - "sample")
      // a frame read before the extend keeps its file listing
      assert(read0.collect().map(_.toString).sorted.toSeq == rows0)
      val now = Dedup.storedMinHashIndex(spark.read.parquet(docsPath), docsPath, variant = "cur")
      assert(now.count() == rows0.size + 8)
    }
  }

  test("extending falls back to a full rebuild whenever it cannot be exact") {
    import graft.operators.Dedup
    def rebuiltAfter(docsPath: String, vecsPath: String)(change: => Unit): Set[String] = {
      val before = storeParts()
      change
      curationEntries(docsPath, vecsPath)
      family(keptAndRebuilt(before, storeParts())._2)
    }
    def firstPart(path: String) = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).minBy(_.getName)
    val newVec = Seq.fill(8)(0.25f)
    withCuration("fallback") { (docsPath, vecsPath) =>
      curationEntries(docsPath, vecsPath)
      // a rewritten part (same name, new mtime)
      assert(rebuiltAfter(docsPath, vecsPath) {
        val f = firstPart(docsPath)
        assert(f.setLastModified(f.lastModified() + 5000))
      } == Set("mhroute", "mhidx", "mhmembers", "mhrepidx", "dsirq"))
      // a deleted part
      assert(rebuiltAfter(docsPath, vecsPath) {
        appendParts(docsPath, vecsPath, Nil, Seq(200L -> newVec))
        curationEntries(docsPath, vecsPath)
        assert(firstPart(vecsPath).delete())
      } == Set("ivf", "sample"))
      // a new id below its content's stored rep: the membership and
      // the rep index over it rebuild; per-doc entries still extend
      assert(rebuiltAfter(docsPath, vecsPath)(appendParts(docsPath, vecsPath,
        Seq(-5L -> curationTexts(1)), Nil)) == Set("mhmembers", "mhrepidx"))
      // a new vector id inside the low-id centroid sample
      assert(rebuiltAfter(docsPath, vecsPath)(appendParts(docsPath, vecsPath,
        Nil, Seq(-5L -> newVec))) == Set("ivf", "sample"))
      // an entry written before the listing was kept (fingerprint only)
      val mhidx = storeParts().keySet.find(_.startsWith("mhidx")).get
      assert(rebuiltAfter(docsPath, vecsPath) {
        val meta = new java.io.File(new java.io.File(IndexStore.baseDir, mhidx), "_graft_manifest")
        java.nio.file.Files.writeString(meta.toPath,
          java.nio.file.Files.readString(meta.toPath).linesIterator.next())
        appendParts(docsPath, vecsPath, Seq(300L -> curationTexts(2)), Nil)
      } == Set("mhidx"))
      // a crash after the appended parts, before the manifest: the
      // entry is untrusted and rebuilt in full, its stray part dropped
      val members = storeParts().keySet.find(_.startsWith("mhmembers")).get
      val entry = new java.io.File(IndexStore.baseDir, members)
      assert(rebuiltAfter(docsPath, vecsPath) {
        spark.read.parquet(new java.io.File(entry, "data").getPath).limit(1)
          .write.mode("append").parquet(new java.io.File(entry, "data").getPath)
        assert(new java.io.File(entry, "_graft_manifest").delete())
        appendParts(docsPath, vecsPath, Seq(301L -> curationTexts(2)), Nil)
      } == Set("mhmembers", "mhrepidx"))
      val docs = spark.read.parquet(docsPath)
      val fresh = DupCollapse.byText(docs, DupCollapse.shingled("text", 3), "text", "doc_id")
      assert(Dedup.storedMinHashMembers(docs, docsPath, variant = "cur")
        .collect().map(_.toString).sorted.toSeq == fresh.collect().map(_.toString).sorted.toSeq)
      // a corpus frame that is not row-local over its one scan
      appendParts(docsPath, vecsPath, Seq(302L -> curationTexts(0)), Nil)
      val before = storeParts()
      Dedup.storedMinHashIndex(spark.read.parquet(docsPath).dropDuplicates("doc_id"),
        docsPath, variant = "cur").collect()
      assert(family(keptAndRebuilt(before, storeParts())._2) == Set("mhidx"))
      // a filter whose subquery reads the whole source is not row-local
      appendParts(docsPath, vecsPath, Seq(303L -> curationTexts(1)), Nil)
      val bySubquery = storeParts()
      val all = spark.read.parquet(docsPath)
      Dedup.storedMinHashIndex(all.filter(col("doc_id") <= all.select(max("doc_id")).scalar()),
        docsPath, variant = "cur").collect()
      assert(family(keptAndRebuilt(bySubquery, storeParts())._2) == Set("mhidx"))
      // an append of more bytes than the advisory partition size
      appendParts(docsPath, vecsPath, Seq(304L -> curationTexts(2)), Nil)
      val large = storeParts()
      val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      val was = spark.conf.getOption(advisory)
      spark.conf.set(advisory, "1")
      try Dedup.storedMinHashIndex(spark.read.parquet(docsPath), docsPath, variant = "cur")
        .collect()
      finally was.fold(spark.conf.unset(advisory))(spark.conf.set(advisory, _))
      assert(family(keptAndRebuilt(large, storeParts())._2) == Set("mhidx"))
    }
  }

  test("extending every curation entry for a 1-doc part runs a fixed number of jobs") {
    // a silent fall-back to the full rebuild would run ~29 jobs here;
    // the calls and order are a curation write's
    import graft.operators.{Dedup, Dsir}
    withCuration("extjobs") { (docsPath, vecsPath) =>
      def write(docs: org.apache.spark.sql.DataFrame,
          vecs: org.apache.spark.sql.DataFrame): Unit = {
        Dedup.incrementalMinHashCandidatesPrebuilt(docs, docsPath, docs.limit(0),
          variant = "cur").collect()
        Similarity.ivfTopKPrebuilt(vecs, vecsPath, vecs.limit(0), 3, numCentroids = 8).collect()
        Dsir.scoreBatchPrebuilt(docs, docsPath, docs.limit(0), col("lang") === "en",
          buckets = 64, variant = "en").collect()
        graft.core.OpCaches.release()
      }
      write(spark.read.parquet(docsPath), spark.read.parquet(vecsPath))
      val before = storeParts()
      appendParts(docsPath, vecsPath, Seq(100L -> curationTexts(0)),
        Seq(100L -> Seq.fill(8)(0.5f)))
      val (docs, vecs) = (spark.read.parquet(docsPath), spark.read.parquet(vecsPath))
      val (_, jobs) = jobsDuring(write(docs, vecs))
      val (kept, rebuilt) = keptAndRebuilt(before, storeParts())
      assert(rebuilt.isEmpty && kept == before.keySet, s"rebuilt: $rebuilt")
      // the stamp 1 (hash the part; the fold reuses the kept rows),
      // membership 2 (the part's contents, their stored reps), rep
      // index 1; IVF 2 (the stored centroids, the part), its serve 3
      // (the sample check, the centroids, the empty top-k); DSIR 1
      // (count the part)
      assert(jobs == 10, s"jobs: $jobs")
    }
  }
}
