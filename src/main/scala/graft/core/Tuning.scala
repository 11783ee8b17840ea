package graft.core

import org.apache.spark.sql.SparkSession

/** Scoped performance knobs for operators whose results are provably
  * partition-order-invariant.
  *
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` lets AQE
  * plan (and in particular size-coalesce) the materialization of
  * persisted frames instead of pinning them to the static
  * shuffle-partition count. The iterative walkers (connected
  * components, PageRank/PPR, BFS, SSSP) and the dedup pipeline persist
  * skinny edge/label/posting frames once and re-read them every round;
  * with the flag off, every round schedules full-width task waves over
  * kilobyte-sized cached data (opt guide §2.2 — fewer, larger
  * partitions; measured round 19: the component/rank loops ran 32
  * tasks of ~200 ms fixed overhead per round at sf0.1, and the flag
  * alone cut g10_pagerank 4.2→2.8 s and g27_components_star
  * 9.8→7.5 s). At cluster scale the same flag sizes cached-consumer
  * stages by bytes rather than inheriting whatever width the cache was
  * written with.
  *
  * It is NOT enabled session-wide: re-partitioning a cached plan
  * changes the grouping of floating-point partial aggregates, and a
  * query that rounds an order-sensitive double `avg` can flip its last
  * displayed digit (observed on g73/g98 at sf0.001 — 4201.32 vs the
  * oracle's 4201.31 — when the flag was global). It is therefore
  * scoped to operators whose arithmetic is exact under any grouping:
  * min-label propagation and star contraction (string/long mins and
  * counts), shingle/minhash dedup (md5, integer counts, one final
  * division of exact longs), BFS/Bellman-Ford (min), Lloyd rounds over
  * the q7 integer lattice (integer sums), exact rank selection
  * (integer cumulative counts).
  */
object Tuning {

  private val CachedPlanAqeKey =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** Run `body` with cached-plan AQE re-partitioning enabled, restoring
    * the previous session value after. Only safe when every job the
    * body triggers is partition-order-invariant (exact arithmetic); the
    * caller asserts that. Lazy frames RETURNED by the body are planned
    * at consumption time, outside this scope, so they execute under the
    * session default — the scope covers the body's own eager jobs
    * (persist materialization, checkpoints, fixpoint probes).
    *
    * CONCURRENCY CONTRACT (r20, advice): the flag is a session-wide SQL
    * conf with no thread isolation — a query planned CONCURRENTLY on
    * the same SparkSession during the scope would run with cached-plan
    * re-partitioning enabled, which is exactly the order-sensitive
    * double-rounding hazard the class doc warns about. Every entry
    * point in this repo (Bench, Verify, the test suites)
    * plans queries from a single driver thread, so the scope cannot
    * leak; a multi-threaded host must wrap its planning in
    * `spark.newSession()` clones (per-session confs) before using the
    * scoped operators concurrently.
    */
  def withCachedPlanAqe[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(CachedPlanAqeKey)
    spark.conf.set(CachedPlanAqeKey, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(CachedPlanAqeKey, v)
      case None    => spark.conf.unset(CachedPlanAqeKey)
    }
  }
}
