package graft.operators

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** Eager release of SUPERSEDED `localCheckpoint(true)` iterates
  * ([[free]]), and the checkpoint that keeps its key layout ([[keyed]]).
  *
  * The iterative operators ([[Graph]]'s rank/peel/frontier loops, the
  * descent rounds in [[Similarity]]) follow the pageRank lineage
  * discipline: each iteration's frame is eagerly localCheckpoint'ed so
  * plans stay bounded. The blocks behind iterate i are dead the moment
  * iterate i+1 has materialized — nothing references them again — but
  * nothing DROPS them either: Spark only reclaims a checkpoint's blocks
  * when the GC collects the RDD and the ContextCleaner notices, which
  * under a tight heap means every superseded iterate sits in the block
  * manager competing with execution memory until an arbitrary full GC.
  * The r16 driver bench measured exactly that posture tax: the same
  * commit's iterative graph queries ran 2.5-7.4x their 96 GiB-builder
  * times under the driver's default heap. This helper is the eager
  * path: unpersist the superseded iterate's blocks as soon as its
  * successor is materialized.
  *
  * Contract: call ONLY on a frame that (a) the loop itself checkpointed
  * and (b) no later plan will reference. A localCheckpoint has no
  * lineage to recompute from, so freeing a frame that is still
  * referenced would fail its next action — which is why the helper
  * matches the ROOT of the analyzed plan only ([[free]] on a
  * non-checkpoint start iterate, e.g. a `prStart` projection, is a
  * deliberate no-op rather than a tree search that could release a
  * still-live upstream checkpoint such as the shared adjacency).
  * Blocking=false: the drop is async, the loop never stalls on it.
  */
private[graft] object Iterates {

  /** Drop the storage blocks behind `df` iff `df` is itself a
    * materialized checkpoint (analyzed plan root is the checkpoint's
    * LogicalRDD); no-op otherwise. */
  def free(df: DataFrame): Unit = free(df, blocking = false)

  /** As [[free]]; `blocking = true` waits for the blocks to be gone —
    * the scratch-disk-critical paths (the lsh-tuning chunk loop) use it
    * so a pass's spill space is reclaimed BEFORE the next pass claims
    * the disk, not at an arbitrary later GC. */
  def free(df: DataFrame, blocking: Boolean): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => ()
    }

  /** Materialize `df` ONCE hash-partitioned and sorted on `key`, as a
    * checkpoint that DECLARES that layout: every later equi-join on
    * `key` scans it with no Exchange and no Sort, and only the other
    * side moves.
    *
    * A plain `localCheckpoint` taken under AQE reads its layout off the
    * adaptive root, which reports `UnknownPartitioning`, so it forgets
    * the partitioning it just paid for. Here the checkpoint is taken by
    * `localCheckpoint(true)` itself and re-wrapped in a `LogicalRDD`
    * declaring `HashPartitioning(key, n)` and `key ASC`, with the same
    * statistics, so join selection does not move. n is the session's
    * shuffle-partition count, the count a join exchanges the other side
    * into. Nothing session-wide is written; [[free]] releases it. */
  def keyed(df: DataFrame, key: String): DataFrame = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    val n = s.sessionState.conf.numShufflePartitions
    val lr = df.repartition(n, col(key)).sortWithinPartitions(key)
      .localCheckpoint(true).queryExecution.analyzed
      .asInstanceOf[LogicalRDD]
    // the declared partitioning must be true: an explicit-count
    // repartition is never coalesced, so anything else is a bug
    require(lr.rdd.getNumPartitions == n,
      s"keyed checkpoint on '$key' has ${lr.rdd.getNumPartitions} " +
        s"partitions, expected $n")
    val k = lr.output.find(_.name == key).get
    Bridge.dataFrame(s, LogicalRDD(lr.output, lr.rdd,
      HashPartitioning(Seq(k), n), Seq(SortOrder(k, Ascending)),
      lr.isStreaming)(s, Some(lr.computeStats()), Some(lr.constraints)))
  }
}
