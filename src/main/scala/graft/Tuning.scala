package graft

import org.apache.spark.sql.SparkSession

/** Shuffle sizing for the iteration rounds of the relational-Pregel
  * operators (pagerank, label propagation, BFS, connected components).
  *
  * The rounds shuffle only narrow integer frames (ids, labels, hop
  * counts, nano-ranks) whose row count is bounded by the materialized
  * edge set, so they want far fewer reducers than the session's
  * scan/join parallelism — but a FIXTURE-sized literal is the r16
  * partition-regime finding pre-installed in operator code (q21's 100×
  * slope read 13.8 at 32 fixed partitions vs 3.9 once partitions scaled
  * with the data; a billion-edge pair graph on four reducers per round
  * is per-reducer spill by construction). The round count is therefore
  * DERIVED from the edge count the caller has already materialized:
  * `max(floor, ceil(edges / rowsPerPartition))` — the fixture graphs
  * still land on the old floor of 4 (plans and timings unchanged at
  * gate scale), while the count grows linearly with the graph exactly
  * where the literal used to flatline.
  */
object Tuning {

  /** Edge rows per round-stage reducer. Round-stage rows are two or
    * three longs (~48 bytes in unsafe-row form), so 2M rows/reducer is
    * ~100 MB of shuffle input — comfortably in-memory for the hash
    * aggregates the rounds run, with headroom for the join-side
    * amplification of high-degree nodes. */
  val RowsPerRoundPartition: Long = 2L * 1000 * 1000

  private[graft] def roundPartitions(edgeCount: Long,
      rowsPerPartition: Long = RowsPerRoundPartition, floor: Int = 4): Int = {
    require(rowsPerPartition > 0, "rowsPerPartition must be positive")
    // overflow-safe ceiling (edgeCount + rowsPerPartition - 1 wraps near
    // Long.MaxValue and would silently floor the result)
    val derived =
      edgeCount / rowsPerPartition + (if (edgeCount % rowsPerPartition == 0) 0 else 1)
    // 1<<20 reducers is past any plausible single-stage need; the cap
    // only guards against a nonsense edgeCount wrapping the Int
    math.max(floor.toLong, math.min(derived, 1L << 20)).toInt
  }

  /** Run `body` with the round-stage shuffle sizing derived from
    * `edgeCount`, restoring the session's previous values afterwards.
    * Both knobs are set because they answer different regimes:
    * `shuffle.partitions` is the static count when AQE coalesce is off,
    * and `initialPartitionNum` OVERRIDES it as the pre-coalesce count
    * when AQE coalesce is on (the production default) — setting only
    * the former would leave a session-wide `initialPartitionNum` (e.g.
    * the bench's production-AQE form) silently re-inflating every
    * round's shuffle.
    *
    * SESSION-GLOBAL BY DESIGN (r17 advisor note): the override mutates
    * the session's SQL conf for the duration of the rounds, so any plan
    * compiled on the same SparkSession meanwhile inherits the (small)
    * round-stage partition count. The engine's entry points run queries
    * sequentially on their session (Bench / Verify / the suite / the
    * driver's per-query dispatch), where this is sound; a session shared
    * across concurrent query threads must instead scope the sizing
    * per-plan (`df.repartition(n, keys…)` on the round frames) — the
    * conf form is kept because a repartition node pins the round's
    * OUTPUT partitioning too, defeating AQE coalesce on the last round,
    * and because no concurrent-session entry point exists here.
    *
    * ROUND SCOPES ALSO RESTORE `parallelismFirst=true` (r22, VERDICT r21
    * item 7): the bench's session default is `false` (coalesce to the
    * advisory byte size — the right posture for fat scan/join shuffles,
    * r21's measured 10-13% batch win), but round-stage frames are NARROW
    * node-sized rows (a frontier/rank/label frame is a few MB to a few
    * hundred MB even at 60M edges), so advisory-size coalescing collapses
    * every relaxation round to a handful of partitions and serializes the
    * iteration on the very shuffles the derived count exists to spread.
    * Measured on the DevStress BFS slope protocol, order-rotated
    * false/true/true/false sessions: 2M edges 22.9/15.0 s vs 6.2/5.9 s,
    * 20M 43.3/42.5 vs 19.1/18.4, 60M OOM-or-76.0 vs 53.5/50.5 —
    * advisory-size coalescing is 1.5-3.6× slower at every graph size and
    * produced the protocol's only task OOM (one giant coalesced sort
    * partition). Scoped here, not session-wide: only the iterative round
    * stages have this narrow-frame shape. */
  def withRoundPartitions[T](spark: SparkSession, edgeCount: Long)(body: => T): T = {
    val n = roundPartitions(edgeCount).toString
    withConf(spark,
      "spark.sql.shuffle.partitions" -> n,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> n,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true")(body)
  }

  /** Run `body` with `kvs` set on the session conf, then restore each
    * key's previous setting (unsetting keys that were not set, so a key
    * left at its default goes back to it) — on failure too.
    * Session-global while `body` runs, like every conf scope here. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    // getOption would read an unset key as its default and pin it
    val set = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Streaming state-stage shuffle sizing — the launch-time twin of
    * [[roundPartitions]]. A streaming query's `spark.sql.shuffle
    * .partitions` at FIRST start is pinned into the checkpoint as the
    * state-store partition count for the query's whole lifetime (every
    * restart reuses it), so a fixture literal here would push every
    * trigger's state shuffle of a large replay through a handful of
    * reducers forever, with no AQE and no re-plan to save it. Derived
    * from the replayed event count with the same rows-per-reducer
    * constant as the batch rounds; every test fixture lands on the
    * floor of 4. The derived-vs-pinned A/B is in SCALE.md r18. */
  def statePartitions(eventRows: Long): Int = roundPartitions(eventRows)
}
