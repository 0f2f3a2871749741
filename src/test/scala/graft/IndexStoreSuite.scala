package graft

import org.apache.spark.sql.functions._

import graft.core.{IndexMeta, IndexStore}
import graft.operators.Similarity

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
      s"mhroute-text-doc_id-names-v1-${h(docsPath)}",
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
      s"ivfroute-embedding-vec_id-names-v1-${h(vecsPath)}",
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
}
