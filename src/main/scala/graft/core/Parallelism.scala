package graft.core

import org.apache.spark.sql.DataFrame

/** Parallelism floor for heavy per-row kernels.
  *
  * A parquet input below `spark.sql.files.maxPartitionBytes` with a
  * single row group yields ONE scan split no matter the conf
  * (byte-range splits cannot divide a row group), so any expensive
  * kernel fused into that scan stage runs on one core. For LIGHT
  * kernels the cure is worse than the disease — the round-13
  * RebalanceProbe measured the extra exchange a loss on every text
  * row it tried (lm, text_stats, c2: kernels of ~0.1-0.4 CPU-s) and
  * `graft.smallScanRebalance` stays off by default accordingly. The
  * round-14 DsirProbe measured the OTHER regime: the DSIR
  * unigram+bigram feature walk is ~1.7 CPU-s at sf0.1, and the same
  * round-robin exchange cuts the pass 1.75 → 0.32 s wall.
  *
  * This helper is the shape both call sites share: round-robin to the
  * session's parallelism ONLY when the input is materially
  * underpartitioned (fewer than half the cores). At cluster scale a
  * 100 TB scan arrives in thousands of splits and this is a no-op —
  * the repartition exists exactly and only for inputs too small to
  * split, where the shuffled bytes are by construction tiny.
  */
object Parallelism {

  /** Inputs smaller than this skip the floor unless the caller marks
    * the kernel `heavy`: the round-robin exchange plus its stage wave
    * cost ~0.2-0.3 s of fixed latency at local[32], and the r22
    * same-window A/Bs measured the floor a NET LOSS on every
    * sub-megabyte source for the native byte-walk kernels
    * (lm 1.54 → 0.96 s, dsir_weights 1.21 → 0.72, dup_spans
    * 0.90 → 0.60, ann_ivfpq_build 1.23 → 0.46 with the floor off) —
    * those kernels finish a 10k-row pass in well under the exchange's
    * own latency. Past a few MB of input the single-task pass
    * dominates (the emb100 assignment is ~20 s one-core) and the
    * floor pays for itself, exactly the regime it was built for.
    */
  private val MinFloorBytes: Long = 4L << 20

  /** `df` repartitioned to `defaultParallelism` iff its scan cannot
    * plausibly arrive in at least max(2, cores/2) splits; otherwise
    * `df` unchanged.
    *
    * r22: the decision reads the OPTIMIZED PLAN's size statistics
    * instead of `df.rdd.getNumPartitions` — the RDD probe forced a
    * full physical planning of the child subtree PER CALL, which on
    * the literal-ANN/DSIR rows was itself a measurable slice of the
    * very per-call driver tax this floor exists inside of (VERDICT
    * r21 item 10). The estimate mirrors Spark's own split sizing
    * (`FilePartition.maxSplitBytes`): a source of B bytes opens in
    * about ceil(B / min(maxPartitionBytes, max(openCost, B/cores)))
    * byte-range splits; when even that bound falls under cores/2 the
    * kernel pass cannot fill the session and the round-robin fires.
    * Small-file packing only lowers the true split count, so the
    * estimate errs toward skipping the floor on sources that are
    * already wide — the no-op direction at cluster scale, where a
    * 100 TB scan's statistics dwarf the threshold and this stays a
    * pure plan-time branch with no physical planning at all.
    */
  def kernelFloor(df: DataFrame, heavy: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    if (cores <= 1) return df
    val conf = spark.sessionState.conf
    val maxPart = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val plan = df.queryExecution.optimizedPlan
    val bytes = plan.stats.sizeInBytes
    // an RDD-backed leaf reports the `spark.sql.defaultSizeInBytes`
    // sentinel, not a size, which would read as a wide input and leave
    // a one-split kernel pass on one task: its real split count decides
    val splits =
      if (plan.collectLeaves().exists(_.stats.sizeInBytes >= conf.defaultSizeInBytes))
        BigInt(df.rdd.getNumPartitions)
      else {
        if (!heavy && bytes < MinFloorBytes) return df
        val maxSplit = BigInt(math.min(maxPart,
          math.max(openCost, (bytes / cores).min(Long.MaxValue).toLong)))
        (bytes + maxSplit - 1) / maxSplit
      }
    if (splits < math.max(2, cores / 2)) df.repartition(cores) else df
  }
}
