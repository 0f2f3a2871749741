package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-operator session tuning without conf leakage.
  *
  * `spark.sql.adaptive.enabled` (AQE) is read at ACTION time, so an
  * operator cannot scope it to its own lazy DataFrame by toggling the
  * caller's conf — the toggle would leak into whatever the session
  * runs next. A child `newSession()` shares the SparkContext, the
  * catalog state and the block manager, but carries an INDEPENDENT
  * SQL conf seeded from the context's conf (builder-time settings —
  * shuffle partitions, range-exchange sampling — carry over; runtime
  * `conf.set` calls on the parent do not, until [[boundedPlan]]
  * re-syncs them), so a frame built against
  * the child executes under the child's planning flags no matter when
  * or where the action fires.
  *
  * [[boundedPlan]] returns the caller's cached AQE-off child for
  * operators whose physical plans AQE cannot improve: every join
  * explicitly broadcast, every exchange either a bounded top-k
  * partial aggregate (≤ k rows per group per task) or a
  * REPARTITION_BY_NUM static route — nothing to coalesce, no skew to
  * split, no join side to switch. For those plans AQE only adds its
  * per-stage logical re-optimization on the driver, a fixed tax per
  * exchange round that the ANN family pays 3-6 times per query
  * (interleaved A/B, round 13, sf0.1 warm: ann_ivfpq_rerank
  * 1.46 → 1.09 s, ann_ivfpq_build 0.84 → 0.72 s, ann_ivf_topk
  * 0.56 → 0.45 s). At 100 TB the same holds: these plan shapes are
  * scale-invariant, and the stages AQE would inspect stay bounded.
  * Operators with data-dependent exchanges (range sorts over
  * corpus-sized output, skewable hash joins) should stay on the
  * parent session.
  *
  * The selective-search family (`select`, `selectWithDecay`,
  * `selectBuckets`, `evaluate`) builds its plans here when the
  * selection side is driver-held and, for the select calls, the query
  * domain is known: broadcast selections, per-query windows and
  * aggregates, static query-domain routes. Without AQE an action is
  * ONE job whose stages chain with no re-planning round between them,
  * and the client's `global_rank` window exchange keeps its full
  * width, so the arrival walk runs on every core (under AQE it was
  * coalesced to 2 of 4 partitions). The TREC frames and `toTrec` stay
  * on their input's session, so they run here over such a select
  * output. SCALING.md round 13 ("AQE stays ON") records the
  * measurement beside the text rows, where AQE wins.
  *
  * The child also plans local relations as scans whose broadcast runs
  * no job ([[org.apache.spark.sql.graft.LocalScans]], installed once,
  * when the child is created): a selection the driver already holds
  * is broadcast from the driver, not collected back through a job.
  *
  * A frame built on the child runs under the child's settings, and
  * its queries are reported to the child's listeners: the parent's
  * runtime Spark SQL settings reach it (see [[boundedPlan]]), but
  * `QueryExecutionListener`s registered on the parent at runtime do
  * not see its actions.
  */
object SessionTuning {
  private val boundedCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  /** The AQE-off child of `s` (cached per parent session); a child
    * is its own bounded session, so a frame built there and passed
    * back in stays on it.
    *
    * `newSession()` snapshots the SQL conf once at creation, so
    * RUNTIME `conf.set` calls on the parent would never reach the
    * cached child — an A/B toggling e.g. `graft.smallScanRebalance`,
    * or a caller's `spark.sql.shuffle.partitions`, would silently run
    * with the stale value on every query routed through here. Every
    * lookup, with the parent or with its child, therefore re-syncs
    * the parent's `graft.*` knobs and its modifiable `spark.sql.*`
    * settings (set AND unset) into the child, all but
    * `spark.sql.adaptive.enabled` (the child exists precisely to hold
    * AQE off). A child whose parent has left the cache (more than 64
    * parents) is treated as a parent of its own.
    */
  def boundedPlan(s: SparkSession): SparkSession = {
    val parent = boundedCache.entrySet.asScala.collectFirst {
      case e if e.getValue eq s => e.getKey
    }
    parent match {
      case Some(p) => syncConf(p, s)
      case None =>
        if (boundedCache.size > 64) boundedCache.clear()
        syncConf(s, boundedCache.computeIfAbsent(s, { base =>
          val c = base.newSession()
          c.conf.set("spark.sql.adaptive.enabled", "false")
          org.apache.spark.sql.graft.LocalScans.install(c)
          c
        }))
    }
  }

  /** Whether `s` is a [[boundedPlan]] child. */
  private[graft] def isBounded(s: SparkSession): Boolean = boundedCache.containsValue(s)

  /** `child` with `parent`'s mirrored runtime settings (see [[boundedPlan]]). */
  private def syncConf(parent: SparkSession, child: SparkSession): SparkSession = {
    def mirrored(k: String): Boolean = k.startsWith("graft.") ||
      (k.startsWith("spark.sql.") && k != "spark.sql.adaptive.enabled" &&
        parent.conf.isModifiable(k))
    val parentConf = parent.conf.getAll.filter { case (k, _) => mirrored(k) }
    child.conf.getAll.keysIterator
      .filter(k => mirrored(k) && !parentConf.contains(k))
      .foreach(child.conf.unset)
    parentConf.foreach { case (k, v) =>
      if (!child.conf.getOption(k).contains(v)) child.conf.set(k, v)
    }
    child
  }
}
