package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanAudit

/** Breadth guarantee over EVERY registered query's physical plan: no
  * cartesian product anywhere, and no query grows a nested-loop join
  * beyond its pinned bounded-broadcast count ([[PlanAudit.pinnedBnlj]]).
  * PlanSpec pins the flagship plans in depth; this closes the other ~130
  * against the one regression class that is invisible at sf0.001 wall
  * time and fatal at 100 TB — an accidental all-pairs join.
  */
class PlanAuditSpec extends AnyFunSuite with LocalSpark {

  test("every registered query: zero cartesians, nested-loop joins " +
      "within their pinned bounded-broadcast counts") {
    val audits = PlanAudit.auditAll(spark, "/root/testdata/sf0.001")
    assert(audits.size == SparkEntry.queries.size)
    val bad = audits.filter(_.flagged.nonEmpty)
    assert(bad.isEmpty, "plan regressions:\n" + bad.map(a =>
      s"  ${a.name}: ${a.flagged.mkString("; ")}").mkString("\n"))
  }

  test("auditAll leaves the session's AQE setting as it found it") {
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(aqe)
    // no tables here, so the audited query throws: the restore must hold
    // on that path too
    val noData = java.nio.file.Files.createTempDirectory("graft_nodata").toString
    try for (v <- Seq("true", "false")) {
      spark.conf.set(aqe, v)
      intercept[Exception](PlanAudit.auditAll(spark, noData, only = Set("q3_join")))
      assert(spark.conf.get(aqe) == v)
    } finally spark.conf.set(aqe, saved)
  }

  test("the pin list names only registered queries (no stale entries)") {
    val stale = PlanAudit.pinnedBnlj.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"pinned but not registered: $stale")
  }
}
