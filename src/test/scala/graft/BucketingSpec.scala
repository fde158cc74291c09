package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.EscoWarehouse

/** Proves the bucketed layout removes the shuffle from edge⋈node joins —
  * the physical plan for a co-bucketed join must contain no
  * ShuffleExchange on the bucketed sides. Each test saves the tables it
  * reads: the first two from the real ESCO snapshot, their twins from
  * [[TestWarehouse]]. */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** `wh` saved bucketed (4 buckets a table) as `database`, after wiping
    * any stale managed-table location from a previous test JVM. */
  private def saveBucketed(wh: EscoWarehouse, database: String): Unit = {
    val dir = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      s"$database.db")
    if (dir.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    EscoWarehouse.saveBucketed(wh, spark, database,
      nodeBuckets = 4, edgeBuckets = 4)
  }

  /** part_of_isco_group ⋈ occupations over the bucketed tables. */
  private def bucketedJoin(database: String): DataFrame = {
    val occ = spark.table(s"$database.occupations")
      .withColumnRenamed("conceptUri", "occupationUri")
    spark.table(s"$database.part_of_isco_group").join(occ, Seq("occupationUri"))
  }

  private def shuffles(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString().contains("Exchange hashpartitioning")

  /** `body` with broadcast joins off, so that a join of the mini
    * warehouse's tables plans as a shuffled join and bucketing decides
    * whether it exchanges. */
  private def withoutBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("co-bucketed edge-node join plans without a shuffle exchange") {
    val wh = EscoWarehouse.build(spark, "/root/reference/ESCO")
    saveBucketed(wh, "graft_bucketed_test")
    val joined = bucketedJoin("graft_bucketed_test")
    // both sides read pre-bucketed data on the join key -> SortMergeJoin
    // (or shuffle-free hash join) with zero Exchange operators
    assert(!shuffles(joined),
      s"bucketed join still shuffles:\n${joined.queryExecution.executedPlan}")
    assert(joined.count() == 3039L)
  }

  test("bucketed vs unbucketed results identical") {
    val wh = EscoWarehouse.build(spark, "/root/reference/ESCO")
    saveBucketed(wh, "graft_bucketed_test")
    val viaBucket = spark.table("graft_bucketed_test.essential_for").count()
    assert(viaBucket == wh.essentialFor.count())
  }

  test("mini warehouse: co-bucketed edge-node join plans without a shuffle exchange") {
    val wh = TestWarehouse.build(spark)
    saveBucketed(wh, "graft_bucketed_mini")
    withoutBroadcast {
      val joined = bucketedJoin("graft_bucketed_mini")
      assert(!shuffles(joined),
        s"bucketed join still shuffles:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() == 3L)
      // the same join over the unbucketed frames does exchange
      assert(shuffles(wh.partOfIscoGroup.join(
        wh.occupations.withColumnRenamed("conceptUri", "occupationUri"),
        Seq("occupationUri"))))
    }
  }

  test("mini warehouse: bucketed vs unbucketed results identical") {
    val wh = TestWarehouse.build(spark)
    saveBucketed(wh, "graft_bucketed_mini")
    Seq("skills" -> wh.skills, "occupations" -> wh.occupations,
      "isco_groups" -> wh.iscoGroups, "essential_for" -> wh.essentialFor,
      "optional_for" -> wh.optionalFor, "related_skill" -> wh.relatedSkill,
      "broader_skill" -> wh.broaderSkill, "broader_isco" -> wh.broaderIsco,
      "part_of_isco_group" -> wh.partOfIscoGroup).foreach { case (table, df) =>
      assert(spark.table(s"graft_bucketed_mini.$table").count() == df.count(), table)
    }
  }
}
