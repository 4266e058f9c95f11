package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.storage.StorageLevel
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Structural persist lifecycle — the replacement for the round-8
  * caller-owned convention ("sweep consumers clearCache per query").
  *
  * The problem it solves: an operator persists an intermediate because the
  * RESULT plan reads it from several branches, but the returned lazy plan
  * still references the cache entry, so the operator can't unpersist
  * before returning and the entry outlives the call (pinned until some
  * caller remembers to clear it).
  *
  * [[withPersisted]] makes the lifecycle structural: persist the inputs,
  * build the result plan, force it ONCE via eager `localCheckpoint` (the
  * branches read the cached inputs exactly as intended), then drop the
  * input cache entries before returning. The returned frame is backed by
  * block-manager storage with truncated lineage; its blocks are released
  * by the ContextCleaner when the frame becomes unreachable — no SQL-cache
  * entry survives the call (`spark.sharedState.cacheManager` stays empty,
  * OperatorSpec-asserted).
  *
  * Scale notes, explicit because this trades laziness for hygiene:
  *  - the materialized frame is the operator's OUTPUT (audit rows, pair
  *    lists, per-source profiles) — bounded by result size, never by the
  *    corpus; the big intermediates live only for the checkpoint job.
  *  - `localCheckpoint` truncates lineage without a reliable store, so a
  *    lost executor after the call can't recompute those blocks. In
  *    local[n] (this harness) that's moot; on a 1000-executor cluster the
  *    same shape writes the result to a table/checkpoint dir instead —
  *    the structural point (inputs unpinned on exit) is identical.
  */
object Lifecycle {

  /** PLAN-INSPECTION mode (PlanSpec's guards and `Lab explain`): checkpointing
    * truncates lineage to a `LogicalRDD`, which would blind the
    * source-window / cartesian / BNLJ guards to everything INSIDE a
    * withPersisted operator — and make the guard pay each operator's full
    * job just to read a plan string. With this flag set the call returns
    * the lazy `body` un-persisted and un-checkpointed, so the guard walks
    * the complete logical plan without executing it. Never set on a
    * production path; production semantics are the checkpointed form.
    */
  @volatile var planOnly: Boolean = false

  // nesting support: an operator built INSIDE another withPersisted body
  // (triangleStats → triangles) must NOT checkpoint its own result — that
  // would materialize a large intermediate (the full triangle list) to
  // block storage between two jobs where round 8 ran ONE job over shared
  // caches (measured: q146 18 → 36 s isolated with the naive nested
  // form). Inner calls persist their inputs, hand them to the OUTER scope
  // for unpersist-on-exit, and return the lazy body; only the outermost
  // call checkpoints. Thread-local because plans are built on one thread.
  private val depth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }
  private val deferred = new ThreadLocal[List[DataFrame]] {
    override def initialValue: List[DataFrame] = Nil
  }

  /** Session conf key for the CLUSTER-RELIABLE materialization arm: when
    * set to a directory, [[withPersisted]] materializes the result as a
    * parquet table under it (one `wp-<uuid>` subdir per call) and returns
    * the table read — storage that survives executor loss, the thing
    * `localCheckpoint`'s block-manager blocks do not. Point it at a
    * job-scoped scratch location (HDFS/S3 on a cluster); the tables are
    * the recompute insurance for the job's lifetime and are cleaned with
    * the job's scratch space. Unset (the local[n] default), the fast
    * block-manager arm runs.
    */
  val CheckpointDirKey = "spark.graft.lifecycle.checkpointDir"

  private def materialize(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(CheckpointDirKey) match {
      case Some(dir) =>
        val path = s"$dir/wp-${java.util.UUID.randomUUID()}"
        NioLocalFileSystem.writer(df).mode("error").parquet(path)
        df.sparkSession.read.parquet(path)
      case None => df.localCheckpoint(eager = true)
    }

  /** Persist `inputs` for the scope of building + materializing `body`,
    * then unpersist them. Returns the eagerly-materialized result (lazy
    * when nested inside an enclosing withPersisted — see above).
    * Materialization is `localCheckpoint` by default, or a reliable
    * parquet table when [[CheckpointDirKey]] is set (SinkSpec exercises
    * both arms' equality).
    */
  def withPersisted(inputs: DataFrame*)(body: => DataFrame): DataFrame = {
    if (planOnly) return body
    inputs.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    if (depth.get > 0) {
      deferred.set(deferred.get ++ inputs)
      return body
    }
    depth.set(1)
    try materialize(body)
    finally {
      depth.set(0)
      (inputs ++ deferred.get).foreach(_.unpersist(blocking = false))
      deferred.set(Nil)
    }
  }

  /** Round-table materialization for DRIVER LOOPS ([[roundLoop]], the
    * pyramid's chunk tops): `localCheckpoint` by default — the fast
    * block-manager arm — or, when
    * [[CheckpointDirKey]] is set, a RELIABLE `checkpoint()` under
    * `<dir>/loop`. The reliable arm is the cluster-mode story the loops
    * need at 100 TB: localCheckpoint truncates lineage into EXECUTOR
    * storage, so an executor lost mid-loop fails the job instead of
    * recomputing; a reliable checkpoint survives it (guide §5). Local[n]
    * keeps the fast arm (executor loss is process death either way).
    */
  def loopCheckpoint(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(CheckpointDirKey) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(s"$dir/loop")
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }

  /** Best-effort release of a SUPERSEDED loop round's checkpoint blocks.
    * An eager localCheckpoint parks its data as block-manager storage on
    * the RDD inside the returned frame's LogicalRDD; in an iterative loop
    * the previous round's table is dead the moment the next round is
    * materialized, but its blocks survive until the ContextCleaner
    * collects the frame — unbounded-ish storage across rounds (round-11
    * VERDICT "what's wrong" #3). Unpersisting the superseded round bounds
    * loop storage at one round's table. No-op on any other plan shape
    * (including the reliable-checkpoint arm, whose data is on disk);
    * never call it on a frame still referenced by a live plan.
    */
  def freeCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The one round driver of the graph loops (CC, k-core, both LPA arms).
    * `step` builds round n+1 from round n's table; `init` is round 0.
    * Each round is materialized once through [[loopCheckpoint]], which cuts
    * the lineage (a round plan reads the previous table, often twice, so
    * the plan would otherwise double per round). Tables `step` passes to
    * its `scratch` argument are materialized too. Once round n+1 exists,
    * round n and its scratch are freed ([[freeCheckpoint]]), so loop
    * storage stays at one round's tables.
    *
    * Without `progress` the loop runs exactly `cap` rounds. With it, the
    * aggregate (strictly monotone until the fixpoint) is observed on each
    * round's own materialization job, no extra job, and the loop stops at
    * the first round whose value repeats; still moving at `cap`, it fails
    * naming the cap. `finish` maps the last round to the result,
    * materialized in its place.
    */
  private[graft] def roundLoop(init: DataFrame, cap: Int,
      progress: Option[Column] = None, finish: Option[DataFrame => DataFrame] = None)(
      step: (DataFrame, DataFrame => DataFrame) => DataFrame): DataFrame = {
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { val m = loopCheckpoint(df); scratch += m; m }
    // (table, observed progress); the listener bus delivers the metric
    // milliseconds after the job, the wait bound only guards a lost event
    def materialize(df: DataFrame): (DataFrame, Any) = progress match {
      case None => (loopCheckpoint(df), None)
      case Some(p) =>
        val obs = Observation()
        val m = loopCheckpoint(df.observe(obs, p.as("progress")))
        (m, Await.result(obs.future, Duration(5, "min")).get(0))
    }
    @scala.annotation.tailrec
    def loop(cur: DataFrame, value: Any, n: Int): DataFrame =
      if (n < cap) {
        val (next, v) = try materialize(step(cur, keep))
          finally { (scratch += cur).foreach(freeCheckpoint); scratch.clear() }
        if (progress.nonEmpty && v == value) next else loop(next, v, n + 1)
      } else if (progress.isEmpty) cur
      else {
        freeCheckpoint(cur)
        throw new IllegalStateException(s"fixpoint loop did not converge within its cap of $cap rounds")
      }
    val (first, v0) = materialize(init)
    val last = loop(first, v0, 0)
    finish.fold(last)(f => try loopCheckpoint(f(last)) finally freeCheckpoint(last))
  }
}
