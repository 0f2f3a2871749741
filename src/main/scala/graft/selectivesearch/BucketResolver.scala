package graft.selectivesearch

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.core.DataUtils.ensureHasColumns

/** Greedy per-query bucket-budget resolution
  * (reference: dataproc/selectivesearch.py:160-181).
  *
  * The one algorithm in the reference that is not relational algebra:
  * per query, walk (shard, bucket) rows in `rank` order; picking a row
  * costs `bucket + 1 - alreadyTaken(shard)` contiguous buckets; skip
  * rows already covered (cost < 1) or that would exceed `threshold`;
  * stop at exactly `threshold`; emit the contiguous bucket prefix
  * 0..n-1 per shard.
  *
  * Runs on the driver, like the reference's `iterrows` loop: the
  * selection is one row per (query, shard, bucket) — broadcast-sized
  * by contract, and the resolved frame's only consumer broadcasts it.
  * The four input columns are collected (no job when the selection is
  * a local relation, such as the loaders' frames; one collect
  * otherwise), each query is walked with an Array[Int](numShards) of
  * state, and the result is a local relation `(query, shard, bucket)`,
  * all non-null, with `query` in the selection's own type.
  */
object BucketResolver {

  def resolveBucketSelection(selection: DataFrame, threshold: Int): DataFrame = {
    ensureHasColumns(selection, Seq("query", "shard", "bucket", "rank"))
    val rows = selection.select(
      col("query").cast("long"), col("shard").cast("int"),
      col("bucket").cast("int"), col("rank").cast("int")
    ).collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val out = new java.util.ArrayList[Row]()
    rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (query, group) =>
      // pandas sorts by rank with a stable sort (input order breaks
      // ties); (shard, bucket) is the deterministic stand-in.
      val sorted = group.sortBy { case (_, shard, bucket, rank) => (rank, shard, bucket) }
      // The reference sizes per-query state from a GLOBAL max(shard)
      // (reference :161); a shard the query never mentions has
      // taken == 0 and emits nothing, so the query's own max is
      // output-identical.
      val numShards = sorted.iterator.map(_._2).max + 1
      val taken = new Array[Int](numShards)
      var total = 0
      var i = 0
      while (i < sorted.length && total < threshold) {
        val (_, shard, bucket, _) = sorted(i)
        val cost = bucket + 1 - taken(shard)
        if (cost >= 1 && total + cost <= threshold) {
          taken(shard) += cost
          total += cost
        }
        i += 1
      }
      for (shard <- 0 until numShards; b <- 0 until taken(shard))
        out.add(Row(query, shard, b))
    }
    val schema = StructType(Seq(StructField("query", LongType, nullable = false),
      StructField("shard", IntegerType, nullable = false),
      StructField("bucket", IntegerType, nullable = false)))
    // Preserve the caller's query dtype (fixtures use int, testdata long).
    val queryType = selection.schema("query").dataType
    selection.sparkSession.createDataFrame(out, schema)
      .withColumn("query", col("query").cast(queryType))
  }
}
