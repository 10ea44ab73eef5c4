package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Eagerly localCheckpoints each round of an iterative operator,
  * releasing the blocks of the superseded previous round right away
  * instead of leaving them for the ContextCleaner: over many rounds (or
  * many queries in one driver) un-released checkpoint blocks pile up in
  * the block manager until a driver GC happens to run — measured as
  * multi-second GC noise billed to whatever query runs next. Checkpoint
  * ids are identified by diffing the persistent-RDD registry around the
  * (eager) checkpoint, which assumes rounds run sequentially within
  * this driver — true for the operators here; concurrent jobs would
  * only make the release a no-op for a foreign id, never an early
  * unpersist, because `supersededIds` holds ids this loop created
  * itself.
  */
/** Round-shuffle sizing for iterative operators: a power-iteration /
  * star-contraction round over a 69-node dup graph at 32 shuffle
  * partitions pays ~32 empty tasks per stage per round — pure
  * scheduling overhead that dominates wall time at fixture scale and
  * adds driver pressure at any scale (the round-9 driver artifact
  * billed 24s to d15's fixed rounds). When the iterated set is small,
  * run the rounds at a partition count matched to the DATA (1 partition
  * per 64k rows, floor 1); large graphs keep the session setting. The
  * conf is scoped-and-restored around the loop; rounds run sequentially
  * in one driver, like RoundCheckpointer assumes.
  *
  * CONSTRAINT (applies to every entry point that reaches this:
  * neardupSummary, kmeans, PageRank, connected components, the w29/w32
  * pipelines): `spark.sql.shuffle.partitions` is SESSION-global, so any
  * query planned CONCURRENTLY on the same SparkSession — a
  * multi-threaded driver firing jobs in parallel — would plan at the
  * reduced count while the loop runs. A `newSession()` would not help
  * here: a Dataset plans against the conf of the session it was created
  * from, so isolation would require re-rooting every input DataFrame.
  * Concurrent STREAMING queries are guarded explicitly below (micro-
  * batches plan whenever their trigger fires, the one concurrent shape
  * this engine itself creates); for a concurrently-querying batch
  * driver, run iterative operators on their own SparkSession.
  */
private[graft] object RoundPartitions {
  def scoped[T](spark: SparkSession, rows: Long)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val current = try prev.toInt catch { case _: NumberFormatException => 200 }
    val matched = math.max(1L, (rows + 65535) / 65536)
    // a live streaming query on this session plans its next micro-batch
    // whenever the trigger fires — never shrink the conf under it; the
    // reduction is a perf tweak, correctness never depends on it
    if (matched >= current || spark.streams.active.nonEmpty) body
    else {
      spark.conf.set(key, matched.toString)
      // AQE stays on in tiny scopes: turning it off was measured and
      // rejected (a wash on d15, 40% slower on d12; SCALING.md §8c)
      try body finally spark.conf.set(key, prev)
    }
  }
}

private[graft] final class RoundCheckpointer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var liveIds: Set[Int] = Set.empty
  private var supersededIds: Set[Int] = Set.empty

  def next(df: DataFrame): DataFrame = {
    val pre = sc.getPersistentRDDs.keySet
    val ck = df.localCheckpoint()
    supersededIds ++= liveIds
    // Only checkpoint-MARKED rdds may enter liveIds: a caller's lazy
    // persist() (the input edges, the LSH stages) often materializes —
    // and registers — during this very checkpoint job, so a bare
    // registry diff would capture those foreign cache rdds and a later
    // releaseSuperseded() would silently unpersist them, forcing every
    // subsequent round to recompute the full upstream lineage (found
    // as d15 re-running the whole LSH pipeline on 9 of its 10 rounds).
    // Cache rdds are never checkpointed; the localCheckpoint rdd is.
    liveIds = (sc.getPersistentRDDs.view.filterKeys(!pre.contains(_)))
      .collect { case (id, rdd) if rdd.isCheckpointed => id }.toSet
    ck
  }

  /** LAZY round checkpoint (r17): marks the plan for local checkpointing
    * but runs NO job — the caller's next action (the convergence
    * signature the CC loops already compute every round) materializes
    * it. Fuses the eager form's checkpoint job into the signature job:
    * one driver job per round instead of two. Contract: the caller MUST
    * run an action on the returned frame BEFORE calling
    * [[releaseSuperseded]] — an unmaterialized lazy checkpoint whose
    * predecessor's blocks were dropped would recompute through the
    * (already-truncated) previous round.
    *
    * liveIds: the registry diff is filtered to locally-checkpoint-MARKED
    * rdds, mirroring [[next]]'s isCheckpointed guard (r18, ADVICE r17):
    * "no job runs inside this call" was WRONG — Dataset.localCheckpoint
    * (eager = false) still constructs the physical plan (.rdd), which is
    * where a caller's lazy persist() registers its cache RDD
    * (cachedColumnBuffers builds at first physical-plan construction),
    * and with AQE on, shuffle query-stage jobs can actually run there.
    * A bare diff captured such foreign cache rdds into liveIds, and the
    * next round's releaseSuperseded() silently unpersisted them — e.g.
    * minLabelPropagate's pre-partitioned edge cache, re-running the edge
    * repartition every round at exactly the scale the pre-partitioning
    * targets. isLocallyCheckpointed is true immediately after lazy
    * marking (it checks the checkpointData mark, not materialization);
    * cache rdds are never checkpoint-marked.
    */
  def nextLazy(df: DataFrame): DataFrame = {
    val pre = sc.getPersistentRDDs.keySet
    val ck = df.localCheckpoint(eager = false)
    supersededIds ++= liveIds
    liveIds = (sc.getPersistentRDDs.view.filterKeys(!pre.contains(_)))
      .collect { case (id, rdd)
        if org.apache.spark.rdd.RddMarks.isLocallyCheckpointed(rdd) ||
          rdd.isCheckpointed => id }.toSet
    ck
  }

  /** Drop the blocks of rounds superseded by a later [[next]] call.
    * Callers invoke this only once the superseded round's DataFrame
    * is no longer referenced by any in-flight job — a localCheckpoint
    * cannot be recomputed once its blocks are gone.
    */
  def releaseSuperseded(): Unit = {
    supersededIds.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    supersededIds = Set.empty
  }

  /** Drop EVERYTHING this checkpointer created, the live round
    * included — for checkpoints of loop-INVARIANT tables whose useful
    * life ends with the loop.
    */
  def releaseAll(): Unit = {
    supersededIds ++= liveIds
    liveIds = Set.empty
    releaseSuperseded()
  }
}
