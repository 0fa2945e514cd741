package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PlanAudit

/** `graft.tools.PlanAudit` resolves board and bench-only names and writes
  * one formatted plan per name. Explain only: no query here runs an action.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  test("a board query and a bench-only probe each dump a physical plan") {
    val out = Files.createTempDirectory("planaudit")
    val names = Seq("q_agg_groupby", "q_scale_probe_cpu")
    val files = PlanAudit.dump(spark, d, out.toString, names)
    assert(files.map(_.getFileName.toString) == names.map(_ + ".txt"))
    files.foreach { f =>
      val text = Files.readString(f)
      assert(text.linesIterator.next().startsWith("# "), f)
      assert(text.contains("== Physical Plan =="), text.take(500))
    }
  }

  test("an unknown name fails, names itself, and writes nothing") {
    val out = Files.createTempDirectory("planaudit")
    val e = intercept[IllegalArgumentException] {
      PlanAudit.dump(spark, d, out.toString, Seq("q_agg_groupby", "q_no_such_query"))
    }
    assert(e.getMessage.contains("q_no_such_query"), e.getMessage)
    assert(Files.list(out).count() == 0)
  }
}
