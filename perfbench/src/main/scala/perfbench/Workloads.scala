package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.OpCaches
import graft.operators.{Dedup, Dsir, Similarity}
import graft.selectivesearch.SelectiveSearch
import graft.selectivesearch.SelectiveSearch.precisionAt

/** Shared plumbing: workload parameters and the traced call shapes. */
abstract class Base(in: String, tracer0: Tracer) extends Workload {
  protected var tr: Tracer = tracer0
  protected var spark: SparkSession = _
  def setTracer(t: Tracer): Unit = tr = t
  def attach(s: SparkSession): Unit = spark = s

  /** `key<TAB>value` lines written by the generator. */
  protected val params: Map[String, String] = readTsv(s"$in/params.tsv")
    .map(r => r("key") -> r("value")).toMap

  protected def readTsv(path: String): Seq[Map[String, String]] = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
    val header = lines.head.split("\t")
    lines.tail.filter(_.nonEmpty).map(l => header.zip(l.split("\t", -1)).toMap)
  }

  /** A public call returning a lazy frame that the caller then acts
    * on: construct, plan (traced runs only), execute.
    */
  protected def call[T](name: String)(construct: => DataFrame)(act: DataFrame => T): T =
    tr.span(name) {
      val df = tr.span("spark.construct")(construct)
      if (tr.enabled) tr.span("spark.plan")(df.queryExecution.executedPlan)
      tr.span("spark.execute")(act(df))
    }

  /** A public call whose frame is only consumed by later calls. */
  protected def lazyCall(name: String)(construct: => DataFrame): DataFrame =
    tr.span(name)(tr.span("spark.construct")(construct))

  /** A public call that runs its own actions (file exports). */
  protected def actionCall[T](name: String)(body: => T): T =
    tr.span(name)(tr.span("spark.execute")(body))

  protected def ms[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e6)
  }

  protected def collectTo(df: DataFrame, path: File): Array[Row] = {
    val rows = df.collect()
    tr.count("rows_out", rows.length)
    Main.dump(df, rows, path)
    rows
  }

  protected def withTitle(df: DataFrame): DataFrame =
    df.withColumn("title", concat(lit("d"), col("gdocid")))
}

/** The loaded experiment: results, shard and bucket selections, and the
  * results merged with relevance and global rank.
  */
final case class Frames(results: DataFrame, shardSel: DataFrame,
    bucketSel: DataFrame, ranked: DataFrame)

/** The selective-search frames both `ss_*` workloads start from. */
trait SsFrames { self: Base =>
  protected def inDir: String
  lazy val nq: Int = params("queries").toInt
  lazy val ns: Int = params("shards").toInt
  lazy val nb: Int = params("buckets").toInt
  lazy val resultRows: Long = params("result_rows").toLong
  lazy val qrelsRows: Long = params("qrels_rows").toLong
  // rows of the shard and of the bucket score files
  lazy val shardSelRows: Long = nq.toLong * ns
  lazy val bucketSelRows: Long = shardSelRows * nb
  lazy val measures = params("ks").split(",").toSeq.map(k => precisionAt(k.toInt))

  /** Loads the experiment through the public loaders, then merges the
    * qrels and the global rank the way an experiment script does.
    */
  protected def load(): Frames = {
    val queries = (0 until nq).map(_.toLong)
    val results = lazyCall("selectivesearch.load")(
      SelectiveSearch.loadShardResults(spark, s"$inDir/run", ns, nb)).drop("rank")
    val shardSel = lazyCall("selectivesearch.load")(
      SelectiveSearch.loadShardSelection(spark, queries, ns, s"$inDir/shard_scores.csv"))
    val bucketSel = lazyCall("selectivesearch.load")(
      SelectiveSearch.loadBucketSelection(spark, queries, ns, nb, s"$inDir/bucket_scores.csv"))
    val ranked = lazyCall("client.merge") {
      val qrels = spark.read.parquet(s"$inDir/qrels.parquet")
      results.join(qrels, Seq("query", "gdocid"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0)))
        .withColumn("global_rank", row_number().over(
          Window.partitionBy(col("query")).orderBy(col("score").desc, col("gdocid").asc)))
    }
    Frames(results, shardSel, bucketSel, ranked)
  }
}

/** One op is one full experiment: load, evaluate every selection step
  * for shards and for buckets (collected), then export the decayed
  * shard selection and the budgeted bucket selection as TREC runs.
  */
final class SsExperiment(in: String, tracer: Tracer) extends Base(in, tracer) with SsFrames {
  protected def inDir: String = in
  def maxOps: Int = 10000
  def cycle: Int = 1
  override def minOps: Int = 2

  def setup(s: SparkSession, rep: Int): Unit = {
    attach(s)
    val f = load()
    Seq(SelectiveSearch.evaluate(f.shardSel, f.ranked, measures, ns),
      SelectiveSearch.evaluate(f.bucketSel, f.ranked, measures, ns, numBuckets = Some(nb)),
      SelectiveSearch.trecFrameTopK(withTitle(decayed(f)), cutoff),
      SelectiveSearch.trecFrameTopK(withTitle(budgeted(f)), cutoff))
      .foreach(_.queryExecution.executedPlan)
  }

  // two ops: the first compiles the op's code, the second lets the JIT
  // settle, so runs start at one speed
  def warm(out: File): Unit = (1 to 2).foreach(_ => op(-1, out))

  private def cutoff = params("cutoff").toInt
  private def decayed(f: Frames) = SelectiveSearch.selectWithDecay(f.shardSel, f.results,
    params("decay_t").toInt, params("decay").toDouble, Some(nq))
  private def budgeted(f: Frames) =
    SelectiveSearch.selectBuckets(f.bucketSel, f.results, params("bucket_t").toInt, Some(nq))

  def op(i: Int, out: File): OpResult = {
    val (f, readMs) = ms {
      val f = load()
      call("selectivesearch.evaluate")(
        SelectiveSearch.evaluate(f.shardSel, f.ranked, measures, ns))(
        collectTo(_, new File(out, "eval_shards.tsv")))
      call("selectivesearch.evaluate_buckets")(
        SelectiveSearch.evaluate(f.bucketSel, f.ranked, measures, ns, numBuckets = Some(nb)))(
        collectTo(_, new File(out, "eval_buckets.tsv")))
      f
    }
    val (_, writeMs) = ms {
      val shards = lazyCall("selectivesearch.select_decay")(decayed(f))
      actionCall("selectivesearch.trec")(SelectiveSearch.toTrec(withTitle(shards),
        new File(out, "shards.trec").getAbsolutePath, cutoff))
      val buckets = lazyCall("selectivesearch.select_buckets")(budgeted(f))
      actionCall("selectivesearch.trec")(SelectiveSearch.toTrec(withTitle(buckets),
        new File(out, "buckets.trec").getAbsolutePath, cutoff))
    }
    // every op loads the whole experiment
    OpResult("experiment", resultRows + qrelsRows + shardSelRows + bucketSelRows,
      Map("read_ms" -> readMs, "write_ms" -> writeMs))
  }
}

/** A notebook user's loop over a tiny experiment: one op is one public
  * call, rotating through the generator's call list; every call's
  * result is collected, except the TREC export, which writes a file.
  */
final class SsInteractive(in: String, tracer: Tracer) extends Base(in, tracer) with SsFrames {
  protected def inDir: String = in
  def maxOps: Int = 100000
  def cycle: Int = calls.size
  // three turns, so every call has at least three samples
  override def minOps: Int = 3 * calls.size
  private val calls = readTsv(s"$in/calls.tsv")
  private var frames: Frames = _

  def setup(s: SparkSession, rep: Int): Unit = {
    attach(s)
    calls.foreach(c => frame(c).queryExecution.executedPlan)
  }

  // one turn compiles every call's code; a second turn made runs no
  // steadier
  def warm(out: File): Unit = calls.indices.foreach(op(_, out))

  override def attach(s: SparkSession): Unit = {
    super.attach(s)
    frames = load()
  }

  /** The frame a call returns; for the export, the frame it writes. */
  private def frame(c: Map[String, String]): DataFrame = {
    val f = frames
    val t = c("t").toInt
    def decayed =
      SelectiveSearch.selectWithDecay(f.shardSel, f.results, t, c("decay").toDouble, Some(nq))
    c("name") match {
      case "select" => SelectiveSearch.select(f.shardSel, f.results, t, Some(nq))
      case "select_decay" | "trec_export" => decayed
      case "select_buckets" => SelectiveSearch.selectBuckets(f.bucketSel, f.results, t, Some(nq))
      case "evaluate" => SelectiveSearch.evaluate(f.shardSel, f.ranked, measures, ns)
      case "evaluate_buckets" =>
        SelectiveSearch.evaluate(f.bucketSel, f.ranked, measures, ns, numBuckets = Some(nb))
      case "trec_topk" => SelectiveSearch.trecFrameTopK(withTitle(
        SelectiveSearch.select(f.shardSel, f.results, t, Some(nq))), c("cutoff").toInt)
    }
  }

  def op(i: Int, out: File): OpResult = {
    val c = calls(i % calls.size)
    val name = c("name")
    val (kind, took) = ms(name match {
      case "trec_export" =>
        actionCall("selectivesearch.trec")(SelectiveSearch.toTrec(withTitle(frame(c)),
          new File(out, "run.trec").getAbsolutePath, c("cutoff").toInt))
        "write"
      case _ =>
        val layer = if (name == "trec_topk") "trec" else name
        call(s"selectivesearch.$layer")(frame(c))(collectTo(_, new File(out, "result.tsv")))
        "read"
    })
    OpResult(kind, rowsIn(name), Map(s"${kind}_ms" -> took))
  }

  /** Rows of the frames a call takes: the results (merged with the
    * qrels for evaluation) and the shard or the bucket selection.
    */
  private def rowsIn(name: String): Long =
    resultRows + (if (name.endsWith("buckets")) bucketSelRows else shardSelRows) +
      (if (name.startsWith("evaluate")) qrelsRows else 0L)
}

/** A copy-heavy ingest loop against stored indexes. Read ops screen a
  * fresh batch (near-dup candidates, nearest vectors, DSIR weights);
  * the first op of every turn of `write_every` ops appends its batch to
  * the corpus as a new part and refreshes every stored index the read
  * path consults, so the reads after it run on (and check) what it
  * built, and any rebuild work it leaves undone lands in their time.
  */
final class CurationIngest(in: String, work: String, tracer: Tracer)
    extends Base(in, tracer) {
  private val docsPath = s"$in/docs"
  private val vecsPath = s"$in/vecs"
  private val writeEvery = params("write_every").toInt
  private val batches = params("batches").toInt
  private val batchRows = params("batch_docs").toLong + params("batch_vecs").toLong
  // documents plus vectors in the corpus, grown by each write
  private var corpusRows = params("corpus_docs").toLong + params("corpus_vecs").toLong
  private val k = params("knn_k").toInt
  private val target: Column = col("lang") === params("target_lang")
  private val variant = s"lang-${params("target_lang")}"
  private var indexDir: File = _

  def maxOps: Int = batches - 1
  def cycle: Int = writeEvery

  /** Builds every stored index from scratch into an empty store. */
  override def prepare(s: SparkSession): Unit = {
    attach(s)
    indexDir = new File(work, "index")
    System.setProperty("graft.index.dir", indexDir.getAbsolutePath)
    prime(fresh = true)
  }

  /** Reopens the built store on a fresh session and serves an empty
    * batch through every read call.
    */
  def setup(s: SparkSession, rep: Int): Unit = {
    attach(s)
    prime(fresh = false)
  }

  // the last batch warms the read path; the loop never reaches it
  def warm(out: File): Unit = screen(batches - 1, out)

  def op(i: Int, out: File): OpResult =
    if (i % writeEvery == 0) {
      val (_, took) = ms {
        val batch = s"$in/batches/${"%03d".format(i)}"
        spark.read.parquet(s"$batch/docs.parquet").write.mode("append").parquet(docsPath)
        spark.read.parquet(s"$batch/vecs.parquet").write.mode("append").parquet(vecsPath)
        spark.catalog.refreshByPath(docsPath)
        spark.catalog.refreshByPath(vecsPath)
        tr.span("core.index_build")(prime(fresh = false))
      }
      corpusRows += batchRows
      // the batch it appends plus the corpus it re-indexes
      OpResult("write", batchRows + corpusRows, Map("write_ms" -> took))
    } else {
      val (_, took) = ms(screen(i, out))
      OpResult("read", batchRows, Map("read_ms" -> took),
        Map("opcaches_tracked" -> OpCaches.trackedCount))
    }

  private def screen(i: Int, out: File): Unit = {
    val batch = s"$in/batches/${"%03d".format(i)}"
    val docs = spark.read.parquet(docsPath)
    val vecs = spark.read.parquet(vecsPath)
    val newDocs = spark.read.parquet(s"$batch/docs.parquet")
    val newVecs = spark.read.parquet(s"$batch/vecs.parquet")
    lookup("operators.dedup_batch")(
      Dedup.incrementalMinHashCandidatesPrebuilt(docs, docsPath, newDocs, variant = "corpus"))(
      collectTo(_, new File(out, "dedup.tsv")))
    lookup("operators.knn_batch")(
      Similarity.ivfTopKPrebuilt(vecs, vecsPath, newVecs, k))(
      collectTo(_, new File(out, "knn.tsv")))
    lookup("operators.dsir_batch")(
      Dsir.scoreBatchPrebuilt(docs, docsPath, newDocs, target, variant = variant))(
      collectTo(_, new File(out, "dsir.tsv")))
    OpCaches.release()
  }

  /** Serves an empty batch through each read call, which rebuilds
    * exactly the store entries (minhash, IVF, DSIR model) that the
    * read path would otherwise find stale. `fresh` (set-up, on an empty
    * store) also bypasses the in-memory DSIR model memo, which outlives
    * sessions. The dedup call is never forced: forcing the collapsed
    * route rebuilds its members entry twice in one call, deleting files
    * the first frame still reads.
    */
  private def prime(fresh: Boolean): Unit = {
    val docs = spark.read.parquet(docsPath)
    val vecs = spark.read.parquet(vecsPath)
    lookup("core.rebuild.dedup")(Dedup.incrementalMinHashCandidatesPrebuilt(
      docs, docsPath, docs.limit(0), variant = "corpus"))(_.collect())
    lookup("core.rebuild.knn")(
      Similarity.ivfTopKPrebuilt(vecs, vecsPath, vecs.limit(0), k))(_.collect())
    lookup("core.rebuild.dsir")(Dsir.scoreBatchPrebuilt(
      docs, docsPath, docs.limit(0), target, variant = variant, force = fresh))(_.collect())
    OpCaches.release()
  }

  /** A store-backed call; traced runs also judge from the manifests
    * before and after it whether it was served without a rebuild.
    */
  private def lookup[T](name: String)(construct: => DataFrame)(act: DataFrame => T): T =
    if (!tr.enabled) call(name)(construct)(act)
    else tr.span("core.lookup") {
      val before = manifests()
      val (r, took) = ms(call(name)(construct)(act))
      val after = manifests()
      val rebuilt = after.keySet.filter(e => !before.get(e).contains(after(e)))
      tr.count("lookups", 1)
      tr.count("hits", if (rebuilt.isEmpty) 1 else 0)
      if (rebuilt.nonEmpty) {
        tr.count("build_ms", took)
        tr.count("index_bytes", rebuilt.toSeq.map(e => du(new File(indexDir, e))).sum.toDouble)
      }
      r
    }

  private def manifests(): Map[String, String] =
    Option(indexDir.listFiles()).getOrElse(Array.empty[File]).toSeq.map { e =>
      val m = new File(e, "_graft_manifest")
      e.getName -> (if (m.isFile) s"${Files.readString(m.toPath)}@${m.lastModified()}" else "")
    }.toMap

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(du).sum
    else f.length()
}
