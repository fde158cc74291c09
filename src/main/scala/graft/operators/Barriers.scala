package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialization barriers for pipeline frames.
  *
  * The funnel lanes stage their keeper/verdict frames behind an eager
  * checkpoint: it stops ProjectCollapse from re-inlining the whole
  * extraction tree into every downstream branch, and it is the honest
  * cost accounting (without it a bare count() prunes the funnel away and
  * the lane benchmarks an empty plan). `localCheckpoint` is the right
  * default on a healthy cluster — executor-local storage, no
  * distributed-FS round trip — but it is NON-RELIABLE: the blocks pin to
  * executor storage and are lost on executor failure, which on a real
  * 1000-executor run means the whole job restarts from the source scan.
  *
  * [[stage]] keeps the default and adds the cluster path behind one
  * session conf: set `spark.graft.checkpointDir` to a reliable
  * (HDFS/object-store) location and every barrier staged through this
  * object — [[stage]], [[stageAll]] and [[stageAsync]], called by the
  * SparkEntry funnel lanes, `Incremental`, `CorpusStats`, `Dedup`,
  * `Sampling` and `EscoWarehouse.build` — becomes a reliable
  * `Dataset.checkpoint` to that directory instead: same call sites, same
  * eager semantics, survivable executors. The conf is read per call, so
  * one session can flip modes between pipelines. Code that calls
  * `localCheckpoint`/`checkpoint` directly does NOT read the conf and
  * stays executor-local: among others the iterative graph operators
  * (`GraphOps`, `Louvain`, `Betweenness`), the warehouse session in
  * `EscoAnalytics` and `SemanticSearch`'s embedded corpora.
  *
  * Operational constraints of the reliable path:
  *
  *   - '''Cleanup''': Spark deletes reliable checkpoint files only when
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
  *     FALSE, and it must be set in the SparkConf BEFORE the context
  *     starts — ContextCleaner reads it once at startup). Without it,
  *     every staged frame leaves a full materialized copy under the
  *     checkpoint dir for the application's lifetime and beyond; a
  *     long-lived cluster session must either set the cleaner conf or
  *     point [[CheckpointDirKey]] at a location with a storage-lifecycle
  *     rule (object-store TTL) / delete it on app teardown.
  *   - '''One dir per context''': the checkpoint directory is a
  *     SparkContext-global (`setCheckpointDir`), while
  *     [[CheckpointDirKey]] is session-scoped. Two sessions sharing one
  *     context MUST configure the same value — with different values the
  *     last writer wins and the other session's checkpoints land under
  *     the winner's directory. [[stage]] serializes the set-and-check so
  *     the applied record can't race, but it cannot give two sessions two
  *     directories on one context.
  */
object Barriers {

  /** Conf key naming the reliable checkpoint location; unset/empty →
    * executor-local checkpoints (the single-box default). */
  val CheckpointDirKey = "spark.graft.checkpointDir"

  // the conf value LAST APPLIED per context — SparkContext stores
  // <dir>/<random-UUID> (fully qualified), so getCheckpointDir can
  // never equal the conf value; without this map every stage() call
  // would re-run setCheckpointDir (an FS mkdirs round trip on the
  // driver) and scatter each checkpoint into a fresh UUID directory.
  // WeakHashMap so a stopped SparkContext isn't pinned forever; all
  // access goes through [[applyDir]]'s monitor (the map is not
  // thread-safe, and the check-then-set must be atomic anyway).
  private val applied =
    new java.util.WeakHashMap[org.apache.spark.SparkContext, String]()

  // atomic check-and-set of the context's checkpoint dir: without the
  // monitor, two sessions racing stage() could interleave get/set and
  // double-apply (an extra mkdirs round trip + a stray UUID dir)
  private def applyDir(sc: org.apache.spark.SparkContext, dir: String): Unit =
    applied.synchronized {
      if (applied.get(sc) != dir) {
        sc.setCheckpointDir(dir)
        applied.put(sc, dir)
      }
    }

  // run `f` under a thread-local job description so the barrier's
  // materialization job is attributable in a cluster UI (guide §1.5);
  // restores whatever description the caller had
  private def withJobDescription[T](
      sc: org.apache.spark.SparkContext, desc: String)(f: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  /** Eager (default) or lazy materialization barrier: reliable
    * `checkpoint` when [[CheckpointDirKey]] is set, `localCheckpoint`
    * otherwise. Sets the SparkContext checkpoint dir on first use per
    * configured value (a later conf change re-points it); see the object
    * doc for the cleanup and one-dir-per-context constraints. An EAGER
    * barrier runs a Spark job right here — it carries a job description
    * so the materialization is attributable in the UI (guide §1.5). */
  def stage(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    def run[T](f: => T): T =
      if (eager)
        withJobDescription(spark.sparkContext, "graft: stage barrier")(f)
      else f
    spark.conf.getOption(CheckpointDirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        applyDir(spark.sparkContext, dir)
        run(df.checkpoint(eager))
      case None => run(df.localCheckpoint(eager))
    }
  }

  /** Is this frame already a materialized barrier (its analyzed plan is
    * a LogicalRDD — the shape [[stage]]/[[stageAll]] return)? Operators
    * that stage their inputs use this to skip re-staging a frame the
    * caller already materialized — e.g. a lane that staged its delta
    * frame CONCURRENTLY with its prior frames in one [[stageAll]] wave
    * (§2.6) instead of paying the operator's sequential stage for it. */
  def isStaged(df: DataFrame): Boolean =
    !df.isStreaming && df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  // one frame's full barrier materialization, run on whichever thread
  // calls it: the LAZY-barrier conversion itself is NOT wall-clock-lazy
  // under AQE — Dataset.localCheckpoint/checkpoint convert the plan to an
  // RDD, and AdaptiveSparkPlanExec.execute() runs EVERY intermediate
  // query stage right there, leaving only the final stage for the
  // count() — so the conversion must run on the worker thread too, or a
  // "concurrent" materialization serializes most of each frame's work on
  // the caller thread (measured: cr03's 4-frame stageAll ran 1.3 s of
  // undescribed AQE pre-stages sequentially before its concurrent counts)
  private def materialize(df: DataFrame): DataFrame = {
    val staged = stage(df, eager = false)
    staged.count()
    staged
  }

  /** Handle on a barrier materializing on a background thread:
    * [[await]] blocks until the materialization finishes and returns the
    * staged frame (the frame does not exist before then — under AQE even
    * the lazy-barrier conversion runs jobs, so ALL of it happens on the
    * background thread); [[cancel]] stops the job when the caller's own
    * work failed and the materialization is doomed (the stageAll failure
    * rule, applied to a single frame). */
  final class Async private[Barriers] (
      fut: java.util.concurrent.Future[DataFrame],
      sc: SparkContext,
      tag: String) {
    def await(): DataFrame =
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    def cancel(): Unit = {
      sc.cancelJobsWithTag(tag)
      fut.cancel(true)
    }
  }

  // A wave's threads: named after the wave's tag (so a thread dump, or a
  // test, can tell them apart) and daemon (a stuck barrier never holds
  // the JVM open). A thread inherits the local properties of the thread
  // that creates it — the caller, since the pool creates its threads on
  // submit — so the wave's jobs keep the caller's job group, tags and
  // span properties: cancelling the caller's group reaches them.
  private def newPool(tag: String, width: Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    java.util.concurrent.Executors.newFixedThreadPool(width,
      (r: Runnable) => {
        val t = new Thread(r, s"$tag-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
  }

  private def newTag(kind: String): String =
    s"graft-$kind-" + java.util.UUID.randomUUID().toString.take(8)

  // Run `f` on a wave thread: ADD the wave's tag to the inherited ones
  // (setJobGroup would replace the caller's group, and the caller's
  // cancel would then miss the wave) and describe the job for the UI.
  private def tagged[T](sc: SparkContext, tag: String, desc: String)(
      f: => T): T = {
    sc.addJobTag(tag)
    sc.setInterruptOnCancel(true)
    sc.setJobDescription(desc)
    f
  }

  /** Begin materializing ONE frame's barrier on a background thread so
    * the caller can run INDEPENDENT job waves of its own while it builds
    * (guide §2.6 overlap — [[stageAll]] for waves the caller does not
    * control, e.g. an operator's internal eager barriers). The returned
    * handle's contract: [[Async.await]] before the first use of the
    * staged frame, [[Async.cancel]] if your own work fails first. */
  def stageAsync(df: DataFrame): Async = {
    val sc = df.sparkSession.sparkContext
    val tag = newTag("stageAsync")
    val pool = newPool(tag, 1)
    val fut = pool.submit(new java.util.concurrent.Callable[DataFrame] {
      override def call(): DataFrame =
        tagged(sc, tag, "graft: stageAsync barrier")(materialize(df))
    })
    pool.shutdown() // the submitted task still runs; no new work accepted
    new Async(fut, sc, tag)
  }

  // One concurrent wave: `body(i)` for every i < n on a pool of at most
  // 4 threads (2-3 concurrent jobs already fill the stragglers' tails,
  // guide §2.6 — "not so many that they fight for executors"). Results
  // are awaited in COMPLETION order, so the first failure is seen at
  // once, not after the siblings submitted before it finish: it cancels
  // the wave's running jobs by the wave's tag, stops the pool and is
  // rethrown unwrapped. The caller's own group and tags stay on every
  // job (see [[newPool]]).
  private def wave[T](sc: SparkContext, kind: String, n: Int)(
      body: Int => T): Seq[T] = {
    val tag = newTag(kind)
    val pool = newPool(tag, math.min(n, 4))
    try {
      val done = new java.util.concurrent.ExecutorCompletionService[T](pool)
      val futures = (0 until n).map { i =>
        done.submit(new java.util.concurrent.Callable[T] {
          override def call(): T =
            tagged(sc, tag, s"graft: $kind ${i + 1}/$n")(body(i))
        })
      }
      try {
        for (_ <- 0 until n) done.take().get()
        futures.map(_.get())
      } catch {
        case e: Throwable =>
          sc.cancelJobsWithTag(tag)
          pool.shutdownNow()
          pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
          throw (e match {
            case x: java.util.concurrent.ExecutionException => x.getCause
            case x => x
          })
      }
    } finally pool.shutdown()
  }

  /** Materialize several MUTUALLY INDEPENDENT frames' barriers
    * concurrently. Eager [[stage]] calls issued one after another leave
    * the cluster idle through each job's tail; Spark's scheduler runs
    * concurrent jobs happily (actions are only sequential because the
    * driver calls them sequentially — optimization guide §2.6), so the
    * independent prior-state frames of a maintenance lane can
    * materialize together and back-fill each other's stragglers.
    *
    * Each frame's FULL materialization ([[materialize]] — conversion AND
    * count, because under AQE the conversion itself runs every
    * intermediate stage) runs on the wave's pool, so after the call
    * returns, all frames read from their materialized blocks exactly as
    * if staged eagerly in sequence. Every job keeps the caller's job
    * group and adds the wave's tag: cancelling the caller's group stops
    * the wave, and a failed frame cancels its siblings. Caller contract:
    * the frames must not depend on one another's barrier (a dependent
    * frame would just recompute its parent inside its own job — correct,
    * but the parent's work runs twice). */
  def stageAll(dfs: DataFrame*): Seq[DataFrame] =
    if (dfs.size <= 1) dfs.map(stage(_))
    else wave(dfs.head.sparkSession.sparkContext, "stageAll", dfs.size)(
      i => materialize(dfs(i)))

  /** Run several mutually independent thunks concurrently. Unlike
    * [[stageAll]] (which materializes frames the caller already built),
    * this runs the thunks themselves on the pool — for builders whose
    * construction triggers internal eager barriers (an operator that
    * stages a multi-consumer frame mid-build, e.g. the datasheet chain's
    * signature stage), and for independent actions such as the table
    * writes of `EscoWarehouse.save`: issued sequentially, each one's jobs
    * idle the cluster through their own tails (guide §2.6). Nothing
    * forces a returned frame's final plan — only what the thunk ran has
    * run. Same pool width, job group, tag and cancel-on-sibling-failure
    * rules as [[stageAll]]; a thunk's own [[stage]]/[[stageAll]] calls
    * re-describe their jobs inside. */
  def buildAll[T](spark: SparkSession)(thunks: (() => T)*): Seq[T] =
    if (thunks.size <= 1) thunks.map(_())
    else wave(spark.sparkContext, "buildAll", thunks.size)(i => thunks(i)())
}
