package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.EscoWarehouse

/** Shared hand-computable mini-warehouse (see CatalogGapsSpec for the
  * graph's expected values): skills s1..s4 + group g1, occupations o1..o3,
  * ISCO i1 ⊂ i2, essential s1→{o1,o2,o3}, s3→o2, s2→o3, optional
  * s2→o1, s3→o1, related s1—s2, broader g1→{s1,s2}. */
object TestWarehouse {

  def df(spark: SparkSession, cols: Seq[String], rows: Product*): DataFrame = {
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(p => Row(p.productIterator.toSeq: _*)), 1),
      schema)
  }

  def build(spark: SparkSession): EscoWarehouse = {
    val skills = df(spark,
      Seq("conceptUri", "preferredLabel", "altLabels", "description"),
      ("s1", "manage data", "handle data", "Manages data."),
      ("s2", "spark internals", null, "Knows Catalyst."),
      ("s3", "communicate", null, "Talks."),
      ("s4", "lonely", null, "No edges."),
      ("g1", "data skills", null, "Group."))
      .withColumn("isSkillGroup", col("conceptUri") === "g1")
    val occupations = df(spark,
      Seq("conceptUri", "preferredLabel", "altLabels", "description"),
      ("o1", "data engineer", "pipeline engineer", "Builds pipelines."),
      ("o2", "data analyst", null, "Analyses."),
      ("o3", "ml engineer", null, "Trains models."))
    val isco = df(spark,
      Seq("conceptUri", "preferredLabel", "code"),
      ("i1", "Data professionals", "1234"),
      ("i2", "ICT professionals", "25"))
    EscoWarehouse(
      skills = skills,
      occupations = occupations,
      iscoGroups = isco,
      broaderSkill = df(spark, Seq("parentUri", "childUri"),
        ("g1", "s1"), ("g1", "s2")),
      broaderIsco = df(spark, Seq("parentUri", "childUri"), ("i2", "i1")),
      broaderOccupation = df(spark, Seq("parentUri", "childUri")),
      partOfIscoGroup = df(spark, Seq("occupationUri", "iscoUri"),
        ("o1", "i1"), ("o2", "i1"), ("o3", "i2")),
      essentialFor = df(spark, Seq("skillUri", "occupationUri"),
        ("s1", "o1"), ("s1", "o2"), ("s1", "o3"), ("s3", "o2"), ("s2", "o3")),
      optionalFor = df(spark, Seq("skillUri", "occupationUri"),
        ("s2", "o1"), ("s3", "o1")),
      relatedSkill = df(spark, Seq("srcUri", "dstUri", "relType"),
        ("s1", "s2", "optional")),
      partOfSkillGroup = df(spark, Seq("skillUri", "groupUri")))
  }
}
