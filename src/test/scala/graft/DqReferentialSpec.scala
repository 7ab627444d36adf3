package graft

import graft.operators.RelationalOps

/** dq_referential's per-relationship key frame: NULL keys keep the
  * full-outer join's non-matching semantics, and a side with no NULL keys
  * contributes no NULL-key row.
  */
class DqReferentialSpec extends SparkSuite {

  import spark.implicits._

  private def keyed(child: Seq[Option[Long]], parent: Seq[Option[Long]]) =
    RelationalOps.dqKeyed("c->p", child.toDF("ck"), "ck", parent.toDF("pk"), "pk")

  private type Row = (Option[Long], Option[Long])

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.select("n_c", "n_p").as[Row].collect().toSeq.sorted

  private def audit(df: org.apache.spark.sql.DataFrame): (Long, Long, Long, Long) =
    RelationalOps.dqAudit(Seq(df))
      .select("n_child", "n_orphans", "n_parent", "n_childless")
      .as[(Long, Long, Long, Long)].collect().head

  test("NULL FKs on the child side only: no phantom parent-side row") {
    val k = keyed(Seq(Some(1L), None, None, Some(3L)), Seq(Some(1L), Some(2L)))
    // keys 1 (both sides), 3 (orphan), 2 (childless), NULL (two orphans)
    assert(rows(k) === Seq[Row]((None, Some(1L)), (Some(1L), None), (Some(1L), Some(1L)),
      (Some(2L), None)).sorted)
    assert(audit(k) === ((4L, 3L, 2L, 1L)))
  }

  test("NULL keys on the parent side only: no phantom child-side row") {
    val k = keyed(Seq(Some(1L)), Seq(Some(1L), None))
    assert(rows(k) === Seq[Row]((None, Some(1L)), (Some(1L), Some(1L))).sorted)
    assert(audit(k) === ((1L, 0L, 2L, 1L)))
  }

  test("NULL keys on both sides never match each other") {
    val k = keyed(Seq(None), Seq(None, None))
    assert(rows(k) === Seq[Row]((None, Some(2L)), (Some(1L), None)).sorted)
    assert(audit(k) === ((1L, 1L, 2L, 2L)))
  }
}
