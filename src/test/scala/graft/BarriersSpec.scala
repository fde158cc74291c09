package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Barriers

/** Barriers.stage: local by default, RELIABLE (checkpointDir-backed)
  * when `spark.graft.checkpointDir` is set — the cluster path for the
  * funnel barriers (localCheckpoint pins blocks to executor storage and
  * loses them on executor failure). */
class BarriersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("default: executor-local checkpoint, rows preserved") {
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("x"))
    val staged = Barriers.stage(df)
    assert(staged.columns.toSeq == Seq("id", "x"))
    assert(staged.count() == 100L)
    assert(staged.agg(sum("x")).head.getLong(0) == 9900L)
  }

  test("spark.graft.checkpointDir set: reliable checkpoint to that dir") {
    val dir = Files.createTempDirectory("graft-ckpt-").toString
    val session = spark.newSession()
    GraftSession.prepare(session)
    session.conf.set(Barriers.CheckpointDirKey, dir)
    try {
      val df = session.range(50).select(col("id"), (col("id") + 1).as("y"))
      val staged = Barriers.stage(df)
      assert(staged.count() == 50L)
      assert(staged.agg(sum("y")).head.getLong(0) == 1275L)
      // the eager reliable checkpoint must have written real files
      val written = Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_))
        .count()
      assert(written > 0, s"no checkpoint files under $dir")
    } finally {
      session.conf.unset(Barriers.CheckpointDirKey)
    }
  }

  test("timing smoke: reliable vs local barrier cost on the wp02 funnel") {
    // the cluster-mode cost as a MEASURED number (recorded in
    // SCALING.md), not a docstring: the same wp02 lane, barrier mode
    // flipped by the session conf alone. local[*] writes the reliable
    // checkpoint to local disk, so this measures the serialize+write
    // overhead floor — a distributed FS adds network on top.
    val sf = sys.env.getOrElse("SPARK_GRAFT_SMOKE_SF",
      "/root/testdata/sf0.001")
    val lane = SparkEntry.queries("wp02_web_acquire")
    def run(session: org.apache.spark.sql.SparkSession): Double = {
      val t0 = System.nanoTime()
      lane(session, sf).count()
      (System.nanoTime() - t0) / 1e9
    }
    run(spark) // warm the local path (codegen + page cache)
    val local = (1 to 3).map(_ => run(spark)).min
    val dir = Files.createTempDirectory("graft-ckpt-timing-").toString
    val session = spark.newSession()
    GraftSession.prepare(session)
    session.conf.set(Barriers.CheckpointDirKey, dir)
    try {
      run(session) // warm the reliable path
      val reliable = (1 to 3).map(_ => run(session)).min
      info(f"wp02 [$sf] barrier cost: local=$local%.3f s " +
        f"reliable=$reliable%.3f s (${reliable / local}%.2fx)")
      assert(local > 0.0 && reliable > 0.0)
      // files actually landed (the mode really flipped)
      assert(Files.walk(Paths.get(dir))
        .filter(Files.isRegularFile(_)).count() > 0)
    } finally session.conf.unset(Barriers.CheckpointDirKey)
  }

  // -- wave failure paths: a wave's jobs carry the caller's job group
  // plus the wave's own tag

  // a frame whose every row sleeps `ms` (or throws when `ms` < 0): each
  // task runs until the wave cancels it
  private def rowsThat(ms: Long, parts: Int = 2) = {
    val f = udf { (x: Long) =>
      if (ms < 0) throw new IllegalStateException("sibling fails")
      Thread.sleep(ms); x
    }.asNondeterministic()
    spark.range(0, parts, 1, parts).select(f(col("id")).as("id"))
  }

  private def waveThreads(): Int =
    Thread.getAllStackTraces.keySet.toArray.count(t =>
      t.asInstanceOf[Thread].getName.startsWith("graft-stageAll-"))

  // nothing of the wave left: no active job, no live pool thread
  private def assertWaveGone(threadsBefore: Int): Unit = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 20e9.toLong
    while ((sc.statusTracker.getActiveJobIds().nonEmpty ||
        waveThreads() > threadsBefore) && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "a wave job still runs")
    assert(waveThreads() == threadsBefore, "a wave thread is still alive")
  }

  test("stageAll: a failing sibling cancels the rest of the wave") {
    val before = waveThreads()
    val t0 = System.nanoTime()
    // the slow frame is submitted FIRST: the failure must not wait for it
    val e = intercept[Exception](
      Barriers.stageAll(rowsThat(60000L), rowsThat(-1L)))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30.0, f"wave took $secs%.1f s: the slow sibling was not cancelled")
    assert(e.getMessage.contains("sibling fails") ||
      Option(e.getCause).exists(_.toString.contains("sibling fails")), e.toString)
    assertWaveGone(before)
  }

  test("stageAll: cancelling the caller's job group stops the running wave") {
    val sc = spark.sparkContext
    val before = waveThreads()
    val group = "barriers-spec-caller"
    val outcome = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val caller = new Thread(() => {
      sc.setJobGroup(group, "caller of a stageAll wave", interruptOnCancel = true)
      try Barriers.stageAll(rowsThat(60000L), rowsThat(60000L))
      catch { case t: Throwable => outcome.set(t) }
      finally sc.clearJobGroup()
    })
    caller.start()
    // wait until both of the wave's jobs run under the caller's group
    val deadline = System.nanoTime() + 30e9.toLong
    while (sc.statusTracker.getJobIdsForGroup(group).count(id =>
        sc.statusTracker.getJobInfo(id).exists(
          _.status == org.apache.spark.JobExecutionStatus.RUNNING)) < 2 &&
        System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup(group).length >= 2,
      "the wave's jobs do not carry the caller's group")
    val t0 = System.nanoTime()
    sc.cancelJobGroup(group)
    caller.join(30000L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(!caller.isAlive, "stageAll still runs after its caller's group was cancelled")
    assert(secs < 30.0)
    assert(outcome.get != null, "a cancelled wave returned normally")
    assertWaveGone(before)
  }
}
