package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Betweenness

/** Scratch probe: time g05c backward-phase variants at sf0.1 (not a test). */
object G05cProbe {

  // inline copy of the backward recurrence with a pluggable
  // materialization strategy, to isolate the persist/checkpoint cost
  def backward(
      forward: DataFrame,
      e: DataFrame,
      mode: String): DataFrame = {
    val spark = forward.sparkSession
    val maxD = forward
      .agg(coalesce(max(col("depth")), lit(0)).cast("int")).head().getInt(0)
    def level(d: Int): DataFrame = forward.filter(col("depth") === d)
      .select(col("root"), col("id"), col("sigma"))
    var deltaAbove = level(maxD)
      .select(col("root"), col("id"), lit(0L).as("delta"))
    var acc: DataFrame = null
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (d <- maxD - 1 to 0 by -1) {
      val w = level(d + 1)
        .select(col("root").as("wroot"), col("id").as("wid"),
          col("sigma").as("wsigma"))
        .join(deltaAbove.select(col("root").as("wroot"),
          col("id").as("wid"), col("delta").as("wdelta")),
          Seq("wroot", "wid"))
      val sums = level(d)
        .join(e, col("id") === col("src"))
        .join(w, col("dst") === col("wid") && col("root") === col("wroot"))
        .select(col("root"), col("id"),
          expr("(sigma * (1000000 + wdelta)) DIV wsigma").as("term"))
        .groupBy(col("root"), col("id"))
        .agg(sum(col("term")).as("delta"))
      val joined = level(d).select(col("root"), col("id"))
        .join(sums, Seq("root", "id"), "left")
        .na.fill(0L, Seq("delta"))
      val lvl = mode match {
        case "lineage" => joined
        case "lazyPersist" | "lazyPersistCkpt" =>
          val p = joined.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          persisted += p
          p
        case "eagerCkpt" => joined.localCheckpoint(true)
      }
      deltaAbove = lvl
      if (d >= 1) acc = if (acc == null) lvl else acc.unionByName(lvl)
    }
    val out0 = acc.groupBy(col("id")).agg(sum(col("delta")).as("bc_micro"))
      .filter(col("bc_micro") > 0L)
    val out = mode match {
      case "lazyPersistCkpt" =>
        val o = out0.localCheckpoint(true)
        persisted.foreach(_.unpersist(false))
        o
      case _ => out0
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.prepare(spark)
    val dir = "/root/testdata/sf0.1"
    def t(name: String) = spark.read.parquet(s"$dir/$name.parquet")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // the g05 DAG + roots, rebuilt from the public tables
    val edges = t("nation")
      .select((col("n_regionkey").cast("long") + 1000000L).as("src"),
        (col("n_nationkey").cast("long") + 2000000L).as("dst"))
      .unionByName(t("customer").select(
        (col("c_nationkey").cast("long") + 2000000L).as("src"),
        (col("c_custkey").cast("long") + 3000000L).as("dst")))
      .unionByName(t("orders").select(
        (col("o_custkey").cast("long") + 3000000L).as("src"),
        (col("o_orderkey").cast("long") + 10000000L).as("dst")))
      .unionByName(t("lineitem").select(
        (col("l_orderkey").cast("long") + 10000000L).as("src"),
        (col("l_partkey").cast("long") + 100000000L).as("dst")).distinct())
    val roots = t("region")
      .select((col("r_regionkey").cast("long") + 1000000L).as("root"))
      .unionByName(t("nation")
        .select((col("n_nationkey").cast("long") + 2000000L).as("root"))
        .orderBy(substring(md5(concat(col("root").cast("string"),
          lit("-bc")).cast("binary")), 1, 8), col("root"))
        .limit(3))
    val e = edges.repartition(32, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fwd = time("forward (shared, persisted)") {
      val f = Betweenness.forwardCounts(e, roots, maxDepth = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      f.count()
      f
    }
    for (mode <- Seq("lineage", "lazyPersist", "eagerCkpt",
        "lazyPersistCkpt", "lineage", "lazyPersistCkpt")) {
      time(s"backward $mode") { backward(fwd, e, mode).count() }
    }
    spark.stop()
  }
}
