package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, TokenizeFunctions, TopKFunctions, VectorFunctions}

/** Kernel cost in ns/row: each native expression is timed over a
  * cached generated frame against an identity projection of the same
  * frame, both through the noop sink, so the difference is the
  * kernel's own evaluation.
  */
object Kernels {
  val Rows = 100000
  val Reps = 3

  def measure(spark: SparkSession, seed: Long): Map[String, Any] = {
    val s = lit(seed)
    val vocab = array((0 until 64).map(i => lit(s"w$i")): _*)
    val docs = spark.range(Rows).select(col("id"), concat_ws(" ",
      transform(sequence(lit(1), lit(12) + pmod(hash(col("id"), s), lit(40))),
        i => element_at(vocab, pmod(hash(col("id"), i, s), lit(64)) + 1))).as("text"))
    val vecs = spark.range(Rows).select(col("id"),
      transform(sequence(lit(1), lit(64)),
        i => (pmod(hash(col("id"), i, s), lit(2001)) - 1000).cast("long")).as("v"))
      .select(col("id"), col("v"),
        aggregate(col("v"), lit(0L), (a, x) => a + x * x).as("n2"))
    val scored = spark.range(Rows).select((col("id") % 100).as("query"),
      rand(seed).as("score"), concat(lit("d"), col("id")).as("title"))
    val frames = Seq(docs, vecs, scored).map(_.cache())
    frames.foreach(_.count())

    val rnd = new scala.util.Random(seed)
    val cents = Array.fill(64)(Array.fill(64)(rnd.nextInt(2001).toLong - 1000))
    val norms = cents.map(c => c.map(x => x * x).sum)
    val ids = Array.tabulate(64)(_.toLong)

    val kernels = Seq(
      "ws_feature_counts" -> (docs,
        docs.select(TokenizeFunctions.ws_feature_counts(col("text"), 2))),
      "word_shingles" -> (docs, docs.select(TextFunctions.wordShingles(col("text"), 3))),
      "nearest_cells" -> (vecs, vecs.select(
        VectorFunctions.nearest_cells(col("v"), col("n2"), ids, cents, norms, 1))),
      "top_k_tag" -> (scored, scored.groupBy(col("query"))
        .agg(TopKFunctions.top_k_tag(col("score"), col("title"), 1000))))
    val res = kernels.map { case (name, (base, kernel)) =>
      val identity = base.select(base.columns.map(col).toSeq: _*)
      val pairs = (0 until Reps).map(_ => (noopMs(kernel), noopMs(identity)))
      val k = median(pairs.map(_._1))
      val b = median(pairs.map(_._2))
      name -> Map("ns_per_row" -> (k - b) * 1e6 / Rows, "kernel_ms" -> k,
        "identity_ms" -> b, "rows" -> Rows)
    }.toMap
    frames.foreach(_.unpersist(blocking = true))
    res
  }

  private def noopMs(df: DataFrame): Double = {
    val t = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t) / 1e6
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
