package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.core.Schemas
import graft.selectivesearch.SelectiveSearch

/** I/O contracts: shard-results loader (S1), scores-CSV positional
  * bind (S2/J5/C3/C4), and the single-file TREC TSV sink (S4/C9).
  */
class IoSuite extends SparkSuite {
  import spark.implicits._

  private lazy val work = Files.createTempDirectory("graft-io").toString

  private def writeShardFile(shard: Int, rows: Seq[(Int, Int, Long, Long, Double, Int, Int)],
      basename: String = s"$work/res"): Unit = {
    val tmp = s"$work/w$shard"
    rows.toDF("query", "rank", "ldocid", "gdocid", "score", "shard", "bucket")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet")).head.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$basename#$shard.results-1"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  test("loadShardResults: multi-file union under the documented contract") {
    writeShardFile(0, Seq((0, 0, 1L, 1L, 9.0, 0, 0), (1, 0, 2L, 2L, 8.0, 0, 1)))
    writeShardFile(1, Seq((0, 0, 3L, 3L, 7.0, 1, 0)))
    val got = SelectiveSearch.loadShardResults(spark, s"$work/res", 2)
    assert(got.schema == Schemas.resultsSchema)
    assert(got.count() == 3)
    assert(got.select(sum($"score")).first().getDouble(0) == 24.0)
  }

  test("loadShardSelection: positional CSV bind reproduces pandas ranks") {
    // cartesian order is (query-major, shard): q0s0 q0s1 q0s2 q1s0 ...
    Files.write(Paths.get(s"$work/scores.csv"),
      Seq(0.9, 0.2, 0.5, 0.1, 0.5, 0.8).mkString("\n").getBytes)
    val sel = SelectiveSearch.loadShardSelection(spark, Seq(0L, 1L), 3, s"$work/scores.csv")
      .orderBy("query", "shard")
    assertRowsEqual(sel.select("query", "shard", "shard_score", "rank"), Seq(
      Seq(0, 0, 0.9, 0), Seq(0, 1, 0.2, 2), Seq(0, 2, 0.5, 1),
      Seq(1, 0, 0.1, 2), Seq(1, 1, 0.5, 1), Seq(1, 2, 0.8, 0)))
  }

  test("loadBucketSelection: 3-way cartesian, ties rank by position order") {
    // q0: scores (s0b0 .5, s0b1 .5, s1b0 .7, s1b1 .1) — tie at .5
    // broken by cartesian position, so s0b0 before s0b1
    Files.write(Paths.get(s"$work/bscores.csv"),
      Seq(0.5, 0.5, 0.7, 0.1).mkString("\n").getBytes)
    val sel = SelectiveSearch.loadBucketSelection(spark, Seq(7L), 2, 2, s"$work/bscores.csv")
      .orderBy("shard", "bucket")
    assertRowsEqual(sel.select("query", "shard", "bucket", "shard_score", "rank"), Seq(
      Seq(7, 0, 0, 0.5, 1), Seq(7, 0, 1, 0.5, 2),
      Seq(7, 1, 0, 0.7, 0), Seq(7, 1, 1, 0.1, 3)))
  }

  private def scoresFile(name: String, lines: Seq[String]): String = {
    val path = s"$work/$name"
    Files.write(Paths.get(path), lines.mkString("\n").getBytes("UTF-8"))
    path
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("selection loaders: a short file gives missing rows, a long one is cut") {
    // 2 queries x 3 shards = 6 positions
    val six = Seq("0.9", "0.2", "0.5", "0.1", "0.5", "0.8")
    val full = SelectiveSearch.loadShardSelection(spark, Seq(0L, 1L), 3,
      scoresFile("full.csv", six)).orderBy("query", "shard")
    // lines past the last position are ignored
    val long = SelectiveSearch.loadShardSelection(spark, Seq(0L, 1L), 3,
      scoresFile("long.csv", six ++ Seq("0.99", "7"))).orderBy("query", "shard")
    assert(rowsOf(long) == rowsOf(full))
    // a short file binds what it has: q1 keeps only shard 0, ranked 0
    val short = SelectiveSearch.loadShardSelection(spark, Seq(0L, 1L), 3,
      scoresFile("short.csv", six.take(4))).orderBy("query", "shard")
    assertRowsEqual(short.select("query", "shard", "shard_score", "rank"), Seq(
      Seq(0, 0, 0.9, 0), Seq(0, 1, 0.2, 2), Seq(0, 2, 0.5, 1), Seq(1, 0, 0.1, 0)))
    val bshort = SelectiveSearch.loadBucketSelection(spark, Seq(0L), 2, 2,
      scoresFile("bshort.csv", Seq("0.3", "0.4", "0.1")))
    assert(bshort.count() == 3)
  }

  test("selection loaders: NaN ranks first, -0.0 ties 0.0, equal scores rank by position") {
    val sel = SelectiveSearch.loadShardSelection(spark, Seq(0L), 5,
      scoresFile("ties.csv", Seq("0.0", "NaN", "-0.0", "0.5", "0.5")))
      .orderBy("shard").collect()
    // descending under Spark's double order: NaN, 0.5 (s3 before s4),
    // then 0.0 and -0.0 as equals, by shard
    assert(sel.map(_.getInt(3)).toSeq == Seq(3, 0, 4, 1, 2))
    assert(sel(1).getDouble(2).isNaN)
    // the value itself is kept as read
    assert(java.lang.Double.doubleToRawLongBits(sel(2).getDouble(2)) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
  }

  test("selection loaders: a non-canonical query list binds by position") {
    val sel = SelectiveSearch.loadShardSelection(spark, Seq(7L, 3L), 2,
      scoresFile("noncanon.csv", Seq("0.1", "0.9", "0.8", "0.2")))
      .orderBy("query", "shard")
    assertRowsEqual(sel.select("query", "shard", "shard_score", "rank"), Seq(
      Seq(3, 0, 0.8, 0), Seq(3, 1, 0.2, 1), Seq(7, 0, 0.1, 1), Seq(7, 1, 0.9, 0)))
  }

  test("selection loaders: an out-of-int query id and a non-numeric line fail") {
    val ok = scoresFile("ok.csv", Seq("0.1", "0.2"))
    val big = intercept[IllegalArgumentException] {
      SelectiveSearch.loadShardSelection(spark, Seq(Int.MaxValue + 1L), 2, ok)
    }
    assert(big.getMessage.contains((Int.MaxValue + 1L).toString), big.getMessage)
    val bad = scoresFile("bad.csv", Seq("0.1", "zero point two"))
    val e = intercept[IllegalArgumentException] {
      SelectiveSearch.loadBucketSelection(spark, Seq(0L), 1, 2, bad)
    }
    assert(e.getMessage.contains(bad) && e.getMessage.contains("line 2"), e.getMessage)
  }

  test("selection loaders: the schema is the documented one, all columns non-null") {
    import org.apache.spark.sql.types._
    val p = scoresFile("schema.csv", Seq("0.1", "0.2", "0.3", "0.4"))
    def f(n: String, t: DataType) = StructField(n, t, nullable = false)
    assert(SelectiveSearch.loadShardSelection(spark, Seq(0L, 1L), 2, p).schema ==
      StructType(Seq(f("query", IntegerType), f("shard", IntegerType),
        f("shard_score", DoubleType), f("rank", IntegerType))))
    assert(SelectiveSearch.loadBucketSelection(spark, Seq(0L), 2, 2, p).schema ==
      StructType(Seq(f("query", IntegerType), f("shard", IntegerType),
        f("bucket", IntegerType), f("shard_score", DoubleType), f("rank", IntegerType))))
  }

  test("selection loaders read the scores file as textFile does (gzip, CR/CRLF, BOM)") {
    val lines = Seq("0.25", " 1.5 ", "-3", "NaN", "1e-3", "0.75")
    val body = "\uFEFF" + lines.head + "\r\n" + lines(1) + "\r" + lines.drop(2).mkString("\n") + "\n"
    val plain = s"$work/scores-endings.csv"
    Files.write(Paths.get(plain), body.getBytes("UTF-8"))
    val gz = s"$work/scores-endings.csv.gz"
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(Paths.get(gz)))
    try out.write(body.getBytes("UTF-8")) finally out.close()
    def textFileScores(path: String) = spark.sparkContext.textFile(path).collect()
      .map(l => java.lang.Double.doubleToRawLongBits(l.trim.toDouble)).toSeq
    val want = textFileScores(plain)
    assert(want.size == lines.size && textFileScores(gz) == want)
    Seq(plain, gz).foreach { path =>
      val got = SelectiveSearch.loadShardSelection(spark, Seq(0L, 1L), 3, path)
        .orderBy("query", "shard").collect()
        .map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(2))).toSeq
      assert(got == want, s"$path: $got vs $want")
    }
  }

  test("loaders run no Spark job: selections, and a 40-file shard load") {
    val p = scoresFile("jobs.csv", (0 until 40 * 4).map(i => (i % 13).toString))
    val (_, shardJobs) = jobsDuring(
      SelectiveSearch.loadShardSelection(spark, (0L until 4L), 40, p))
    val (_, bucketJobs) = jobsDuring(
      SelectiveSearch.loadBucketSelection(spark, (0L until 2L), 40, 2, p))
    assert(shardJobs == 0 && bucketJobs == 0, s"$shardJobs, $bucketJobs")
    writeShardFile(0, Seq((0, 0, 1L, 1L, 1.0, 0, 0)), s"$work/many")
    (1 until 40).foreach(s => Files.copy(Paths.get(s"$work/many#0.results-1"),
      Paths.get(s"$work/many#$s.results-1")))
    // 40 paths pass the parallel-listing threshold (32)
    val (loaded, loadJobs) = jobsDuring(SelectiveSearch.loadShardResults(spark, s"$work/many", 40))
    assert(loadJobs == 0, s"$loadJobs jobs at construct time")
    assert(loaded.count() == 40)
    assert(loaded.inputFiles.length == 40)
  }

  test("loadShardResults plans the scan spark.read plans; a missing file fails at load") {
    import org.apache.hadoop.fs.LocatedFileStatus
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
    writeShardFile(0, Seq((0, 0, 1L, 1L, 9.0, 0, 0), (1, 0, 2L, 2L, 8.0, 0, 1)), s"$work/scan")
    (1 until 40).foreach(s => Files.copy(Paths.get(s"$work/scan#0.results-1"),
      Paths.get(s"$work/scan#$s.results-1")))
    def scan(df: org.apache.spark.sql.DataFrame) = {
      val p = df.queryExecution.executedPlan
      val s = p.collectFirst { case s: FileSourceScanExec => s }
      assert(s.isDefined, p.toString)
      s.get
    }
    // ids differ per analysis; everything else of the node must not
    def shape(s: FileSourceScanExec) = s.simpleString(10000).replaceAll("#\\d+", "#")
    // what the scan reads of each listed file
    def leaves(s: FileSourceScanExec) =
      s.relation.location.asInstanceOf[PartitioningAwareFileIndex].allFiles().map { f =>
        (f.getPath, f.getLen, f.getModificationTime, f.getBlockSize,
          f.asInstanceOf[LocatedFileStatus].getBlockLocations
            .map(b => (b.getHosts.toSeq, b.getOffset, b.getLength)).toSeq)
      }
    // 1 and 2 paths list serially in spark.read, 40 in a listing job
    for (n <- Seq(1, 2, 40)) {
      val paths = (0 until n).map(s => s"$work/scan#$s.results-1")
      val ours = scan(SelectiveSearch.loadShardResults(spark, s"$work/scan", n))
      val theirs = scan(spark.read.schema(Schemas.resultsSchema).parquet(paths: _*))
      assert(shape(ours) == shape(theirs))
      val (a, b) = (ours.relation, theirs.relation)
      assert(a.location.getClass == b.location.getClass)
      assert(a.location.rootPaths == b.location.rootPaths)
      assert(leaves(ours) == leaves(theirs))
      assert(a.dataSchema == b.dataSchema && a.partitionSchema == b.partitionSchema)
      assert(a.fileFormat.getClass == b.fileFormat.getClass && a.options == b.options)
      assert(a.bucketSpec == b.bucketSpec && a.sizeInBytes == b.sizeInBytes)
    }
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      SelectiveSearch.loadShardResults(spark, s"$work/scan", 41)
    }
    assert(e.getMessage.contains("scan#40.results-1"), e.getMessage)
  }

  test("PlotExport writes a tidy sorted x,y,label CSV (evaluate output shape)") {
    val evaluated = Seq(
      (1, 0.5, 2), (0, 0.3, 1), (1, 0.6, 1), (0, 0.4, 2)
    ).toDF("query", "p_10", "step")
    graft.selectivesearch.PlotExport.exportSeries(
      evaluated, x = "step", y = "p_10", label = "query", path = s"$work/plot.csv")
    val lines = scala.io.Source.fromFile(s"$work/plot.csv").getLines().toSeq
    assert(lines == Seq(
      "label,x,y", "0,1,0.3", "0,2,0.4", "1,1,0.6", "1,2,0.5"))
  }

  test("toTrec writes a single headerless 6-column TSV, top-cutoff per query") {
    val results = Seq(
      (0, 9.5, "docA"), (0, 8.0, "docB"), (0, 7.0, "docC"),
      (1, 5.0, "docD"), (1, 4.0, "docE")
    ).toDF("query", "score", "title")
    SelectiveSearch.toTrec(results, s"$work/run.trec", cutoff = 2)
    val lines = scala.io.Source.fromFile(s"$work/run.trec").getLines().toSeq
    assert(lines == Seq(
      "0\tQ0\tdocA\t0\t9.5\tnull",
      "0\tQ0\tdocB\t1\t8.0\tnull",
      "1\tQ0\tdocD\t0\t5.0\tnull",
      "1\tQ0\tdocE\t1\t4.0\tnull"))
    assert(Files.exists(Paths.get(s"$work/run.trec")))
    assert(!Files.exists(Paths.get(s"$work/run.trec.tmpdir")))
  }

  test("toTrec off-happy-path inputs route to the window form") {
    // cutoff = 0: the bounded heap needs k > 0; the window form just
    // writes an empty file
    val results = Seq((0, 9.5, "docA"), (1, 5.0, "docD"))
      .toDF("query", "score", "title")
    SelectiveSearch.toTrec(results, s"$work/empty.trec", cutoff = 0)
    assert(scala.io.Source.fromFile(s"$work/empty.trec").getLines().isEmpty)
    // integer score column: the window form preserves the input type's
    // to_csv rendering ("9" not "9.0")
    val intScores = Seq((0, 9, "docA"), (0, 8, "docB"))
      .toDF("query", "score", "title")
    SelectiveSearch.toTrec(intScores, s"$work/int.trec", cutoff = 10)
    val lines = scala.io.Source.fromFile(s"$work/int.trec").getLines().toSeq
    assert(lines == Seq("0\tQ0\tdocA\t0\t9\tnull", "0\tQ0\tdocB\t1\t8\tnull"))
    // a frame missing 'score' gets the friendly missing-column error,
    // not a raw StructType lookup failure from the routing check
    val noScore = Seq((0, "docA")).toDF("query", "title")
    intercept[graft.core.MissingColumnException] {
      SelectiveSearch.toTrec(noScore, s"$work/bad.trec")
    }
  }

  /** The bytes toTrec writes for `results`, and the bytes of the one
    * part file `coalesce(1).write.csv` writes for the same TREC frame.
    */
  private def trecBytes(name: String, results: org.apache.spark.sql.DataFrame,
      cutoff: Int): (Array[Byte], Array[Byte]) = {
    SelectiveSearch.toTrec(results, s"$work/$name.trec", cutoff)
    val frame =
      if (cutoff > 0 && results.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
        SelectiveSearch.trecFrameTopK(results, cutoff)
      else SelectiveSearch.trecFrame(results, cutoff)
    frame.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("sep", "\t").option("header", "false").csv(s"$work/$name.sparkcsv")
    val parts = Files.list(Paths.get(s"$work/$name.sparkcsv")).toArray.map(_.toString)
      .filter(_.split('/').last.startsWith("part-"))
    assert(parts.length == 1, parts.mkString(", "))
    (Files.readAllBytes(Paths.get(s"$work/$name.trec")), Files.readAllBytes(Paths.get(parts.head)))
  }

  test("toTrec writes the bytes Spark's CSV writer writes for the same frame") {
    val titles = Seq("tab\there", "a \"quoted\" title", "two\nlines", "", "naïve 東京 ü",
      "comma,semi;colon", " padded ", "\\back")
    val scores = Seq(-0.0, 1e-7, 1e21, 0.1 + 0.2, 3.5, -2.25, 1e-300, 7.0)
    val rows = for (q <- 0 until 2; (t, i) <- titles.zipWithIndex)
      yield (q, scores(i) + q, s"$t-$q")
    val results = rows.toDF("query", "score", "title")
    // plain title edge cases, exact-score edge cases on one query each
    val edge = titles.zip(scores).map { case (t, sc) => (0, sc, t) }
      .toDF("query", "score", "title")
    val cases = Seq(
      ("mixed", results, 5),
      ("edge", edge, 100),
      ("decimal", edge.withColumn("score", $"score".cast("decimal(38,10)")), 4),
      ("int", Seq((0, 9, "docA"), (0, -3, "doc\tB"), (1, 0, "")).toDF("query", "score", "title"),
        10),
      ("cutoff0", results, 0))
    for ((name, df, cutoff) <- cases) {
      val (driver, written) = trecBytes(name, df, cutoff)
      assert(driver.sameElements(written),
        s"$name:\n${new String(driver, "UTF-8")}\n--- vs ---\n${new String(written, "UTF-8")}")
    }
    assert(trecBytes("cutoff0b", results, 0)._1.isEmpty, "cutoff = 0 must write an empty file")
  }

  test("Tables.events normalizes both on-disk ts layouts to long nanos") {
    // the events table has shipped with ts as long epoch-nanos
    // (TIMESTAMP(NANOS) read raw) and as timestamp[us]/NTZ (the
    // 2026-08 refresh); every consumer assumes the long-nanos
    // contract, so both layouts must read identically
    val us = Seq(1704067200000000L, 1704067201500000L) // 2024-01-01T00:00:00/:01.5Z
    val longDir = s"$work/ev-long"
    us.map(_ * 1000L).zipWithIndex
      .map { case (ns, i) => (i.toLong, ns) }.toDF("event_id", "ts")
      .write.mode(SaveMode.Overwrite).parquet(s"$longDir/events.parquet")
    val ntzDir = s"$work/ev-ntz"
    us.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("event_id", "us")
      .select($"event_id", expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"))
      .write.mode(SaveMode.Overwrite).parquet(s"$ntzDir/events.parquet")
    val fromLong = Tables.events(spark, longDir)
      .orderBy("event_id").select("ts").as[Long].collect().toSeq
    val fromNtz = Tables.events(spark, ntzDir)
      .orderBy("event_id").select("ts").as[Long].collect().toSeq
    assert(fromLong == us.map(_ * 1000L), s"long layout mangled: $fromLong")
    assert(fromNtz == fromLong, s"ntz layout diverges: $fromNtz vs $fromLong")
    // the NTZ conversion must be wall-clock arithmetic, NOT a session-
    // timezone cast: the same read under a non-UTC session must yield
    // the same nanos (a cast-through-LTZ would shift by the offset)
    val tzKey = "spark.sql.session.timeZone"
    val orig = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val fromNtzNy = Tables.events(spark, ntzDir)
        .orderBy("event_id").select("ts").as[Long].collect().toSeq
      assert(fromNtzNy == fromLong,
        s"ntz layout is session-tz-dependent: $fromNtzNy vs $fromLong")
    } finally spark.conf.set(tzKey, orig)
  }
}
