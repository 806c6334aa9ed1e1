package graft

import graft.tools.Profile

/** Drives [[graft.tools.Profile.run]] on the shared test session: the
  * per-run witness reports jobs and tasks, AtomicTable phases appear
  * only for a query that commits, `--plan` and `--copies` work, and
  * the session is left as it was found.
  */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("q10 and q93 with --repeat 2 --jobs --plan: counts, phases, plans") {
    val dir = tmpDir("profile-plans")
    val runs = Profile.run(spark, Seq(sf, "q10_daily_sales",
      "q93_incremental_mv", "--repeat", "2", "--jobs", "--plan", dir))
    assert(runs.map(r => r.query -> r.run) === Seq(
      "q10_daily_sales" -> 1, "q10_daily_sales" -> 2,
      "q93_incremental_mv" -> 1, "q93_incremental_mv" -> 2))
    runs.foreach { r =>
      assert(r.witness.jobs > 0 && r.witness.taskN > 0, r)
      assert(r.jobs.nonEmpty, r)
    }
    runs.groupBy(_.query).foreach { case (q, rs) =>
      assert(rs.map(_.witness.jobs).distinct.size === 1, s"$q: $rs")
    }
    assert(runs.filter(_.query == "q93_incremental_mv").forall(_.phases.nonEmpty))
    assert(runs.filter(_.query == "q10_daily_sales").forall(_.phases.isEmpty))
    val plans = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(plans.toSeq === Seq("q10_daily_sales.txt", "q93_incremental_mv.txt"))
    new java.io.File(dir).listFiles().foreach(f => assert(f.length > 0, f))
  }

  test("--copies 2 runs a documents query over the scaled corpus") {
    val Seq(r) = Profile.run(spark, Seq(sf, "q60_dedup_exact", "--copies", "2"))
    assert(r.witness.taskN > 0 && r.wallSec > 0)
  }

  test("bad arguments fail before any run; the session stays usable") {
    intercept[IllegalArgumentException](Profile.run(spark, Seq(sf)))
    intercept[IllegalArgumentException](
      Profile.run(spark, Seq(sf, "no_such_query")))
    intercept[IllegalArgumentException](
      Profile.run(spark, Seq(sf, "q10_daily_sales", "--repeat", "0")))
    intercept[IllegalArgumentException](
      Profile.run(spark, Seq(sf, "q10_daily_sales", "--plan")))
    assert(graft.gold.AtomicTable.phaseSink.isEmpty)
    assert(spark.range(10).count() === 10L)
  }
}
