package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.EscoAnalytics
import graft.analytics.EscoAnalytics.GraphSession
import graft.sources.EscoWarehouse

/** Pins every graph verb's rows over [[TestWarehouse]] (see CatalogGapsSpec
  * for the graph), and over `ring`, the same warehouse with the related
  * skills s1—s2—s3—s4—s1 plus s1—g1, so the community and link-prediction
  * verbs have more than one edge to work on. Community ids are vertex ids
  * (`Vertices.id` of a member URI). Every verb reads the warehouse's own
  * session; the two that take a `session` are also pinned with a
  * separately built [[GraphSession]]. Rows compare in output order,
  * doubles to 1e-9. */
class GraphVerbsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val wh: EscoWarehouse = TestWarehouse.build(spark)
  private lazy val ring: EscoWarehouse = wh.copy(relatedSkill = TestWarehouse.df(spark,
    Seq("srcUri", "dstUri", "relType"),
    ("s1", "s2", "optional"), ("s2", "s3", "optional"), ("s3", "s4", "optional"),
    ("s4", "s1", "optional"), ("s1", "g1", "optional")))

  private def assertRows(df: DataFrame, want: Seq[Product]): Unit = {
    val got = df.collect().map(_.toSeq).toSeq
    val exp = want.map(_.productIterator.toSeq)
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9
      case _ => a == b
    }
    assert(got.size == exp.size && got.zip(exp).forall { case (g, e) =>
      g.size == e.size && g.zip(e).forall { case (x, y) => same(x, y) }
    }, s"got $got\nwant $exp")
  }

  /** `verb` answers `want` with the warehouse's session and with `session`. */
  private def pinned(session: GraphSession, want: Seq[Product])(
      verb: Option[GraphSession] => DataFrame): Unit = {
    assertRows(verb(None), want)
    assertRows(verb(Some(session)), want)
  }

  test("hierarchy depths: g1 → {s1, s2} and i2 → i1, one level each") {
    assertRows(EscoAnalytics.skillHierarchyDepths(wh), Seq((1, 2L, 2L)))
    assertRows(EscoAnalytics.iscoHierarchyDepths(wh), Seq((1, 1L, 1L)))
  }

  test("LPA and Louvain communities") {
    assertRows(EscoAnalytics.skillCommunities(wh), Seq(
      ("s1", "manage data", -4517061127601772371L),
      ("s2", "spark internals", -2461805754573842062L)))
    assertRows(EscoAnalytics.skillCommunitiesLouvain(wh), Seq(
      ("s1", "manage data", -2461805754573842062L),
      ("s2", "spark internals", -2461805754573842062L)))
    assertRows(EscoAnalytics.skillCommunities(ring), Seq(
      ("s3", "communicate", -4517061127601772371L),
      ("s1", "manage data", -4517061127601772371L),
      ("g1", "data skills", 8405761104453724960L),
      ("s4", "lonely", 8405761104453724960L),
      ("s2", "spark internals", 8405761104453724960L)))
    assertRows(EscoAnalytics.skillCommunitiesLouvain(ring), Seq(
      ("g1", "data skills", -2461805754573842062L),
      ("s4", "lonely", -2461805754573842062L),
      ("s1", "manage data", -2461805754573842062L),
      ("s3", "communicate", 8405761104453724960L),
      ("s2", "spark internals", 8405761104453724960L)))
  }

  test("topPageRank over the whole graph") {
    assertRows(EscoAnalytics.topPageRank(wh), Seq(
      ("i1", "Data professionals", 2.950717706755),
      ("i2", "ICT professionals", 1.170963360284),
      ("o1", "data engineer", 1.055464372241),
      ("o3", "ml engineer", 0.873275842067),
      ("o2", "data analyst", 0.740676752450),
      ("s2", "spark internals", 0.740676752450),
      ("s1", "manage data", 0.610867424701),
      ("g1", "data skills", 0.428678894527),
      ("s3", "communicate", 0.428678894527)))
  }

  test("session verbs answer the same rows with and without a shared session") {
    val s = new GraphSession(wh)
    assertRows(EscoAnalytics.topPageRankExact(wh), Seq(
      ("i1", "Data professionals", 1032487L),
      ("i2", "ICT professionals", 409732L),
      ("o1", "data engineer", 369318L),
      ("o3", "ml engineer", 305568L),
      ("o2", "data analyst", 259171L),
      ("s2", "spark internals", 259171L),
      ("s1", "manage data", 213750L),
      ("g1", "data skills", 150000L),
      ("s3", "communicate", 150000L)))
    assertRows(EscoAnalytics.topHitsExact(wh), Seq(
      ("o1", "data engineer", 32542L, 1000000L),
      ("o2", "data analyst", 32542L, 734394L),
      ("o3", "ml engineer", 401L, 734394L),
      ("s2", "spark internals", 569305L, 577723L),
      ("s1", "manage data", 1000000L, 108934L),
      ("i1", "Data professionals", 0L, 99141L),
      ("i2", "ICT professionals", 32542L, 1223L),
      ("s3", "communicate", 569305L, 0L),
      ("g1", "data skills", 225391L, 0L)))
    pinned(s, Seq(
      ("s1", "manage data", 3L),
      ("s2", "spark internals", 3L),
      ("g1", "data skills", 1L),
      ("o1", "data engineer", 1L),
      ("o3", "ml engineer", 1L))
    )(session => EscoAnalytics.topTriangles(wh, session = session))
    assertRows(EscoAnalytics.conceptCore(wh), Nil)
    assertRows(EscoAnalytics.conceptCore(wh, k = 2), Seq(
      ("s1", "manage data", 5L),
      ("o1", "data engineer", 4L),
      ("s2", "spark internals", 4L),
      ("i1", "Data professionals", 3L),
      ("o2", "data analyst", 3L),
      ("o3", "ml engineer", 3L),
      ("g1", "data skills", 2L),
      ("i2", "ICT professionals", 2L),
      ("s3", "communicate", 2L)))
    pinned(s, Seq(
      ("s1", "manage data", 14.666666666667, 14.666666666667),
      ("o1", "data engineer", 12.0, 12.0),
      ("i1", "Data professionals", 6.666666666667, 6.666666666667),
      ("o2", "data analyst", 6.0, 6.0),
      ("o3", "ml engineer", 6.0, 6.0),
      ("s2", "spark internals", 6.0, 6.0),
      ("i2", "ICT professionals", 2.0, 2.0),
      ("s3", "communicate", 0.666666666667, 0.666666666667),
      ("g1", "data skills", 0.0, 0.0))
    )(session => EscoAnalytics.topBetweenness(wh, session = session))
    assertRows(EscoAnalytics.suggestedRelations(wh), Nil)
  }

  test("session verbs over the related-skill ring") {
    val s = new GraphSession(ring)
    assertRows(EscoAnalytics.suggestedRelations(ring), Seq(
      ("s1", "manage data", "s3", "communicate", 2L, 2000000L),
      ("s2", "spark internals", "s4", "lonely", 2L, 1630930L),
      ("g1", "data skills", "s2", "spark internals", 1L, 630930L),
      ("g1", "data skills", "s4", "lonely", 1L, 630930L)))
    pinned(s, Seq(
      ("s2", "spark internals", 4L),
      ("s1", "manage data", 3L),
      ("o1", "data engineer", 2L),
      ("g1", "data skills", 1L),
      ("o3", "ml engineer", 1L),
      ("s3", "communicate", 1L))
    )(session => EscoAnalytics.topTriangles(ring, session = session))
    pinned(s, Seq(
      ("s1", "manage data", 21.0, 21.0),
      ("s2", "spark internals", 9.833333333333, 9.833333333333),
      ("o3", "ml engineer", 8.666666666667, 8.666666666667),
      ("o1", "data engineer", 7.5, 7.5),
      ("i1", "Data professionals", 6.0, 6.0),
      ("s3", "communicate", 5.666666666667, 5.666666666667),
      ("o2", "data analyst", 4.833333333333, 4.833333333333),
      ("i2", "ICT professionals", 2.0, 2.0),
      ("s4", "lonely", 0.5, 0.5),
      ("g1", "data skills", 0.0, 0.0))
    )(session => EscoAnalytics.topBetweenness(ring, session = session))
  }
}
