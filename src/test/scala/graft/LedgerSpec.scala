package graft

import graft.tools.Profile
import org.apache.spark.sql.functions._

/** The job ledger counts exactly the work of its labelled block, and
  * Profile prints the plan of the write that actually ran. */
class LedgerSpec extends SparkSpec {

  private def oneJob(): Long = spark.range(100).count()

  test("jobs run before or after measure, or under another label, are not counted") {
    val single = Ledger.measure(spark, "reference")(oneJob())._2.jobs.size
    assert(single >= 1)
    oneJob() // before
    var inner: Ledger.Entry = null
    var other: Ledger.Entry = null
    val (_, outer) = Ledger.measure(spark, "outer") {
      oneJob()
      inner = Ledger.measure(spark, "inner")(oneJob())._2
      // a thread inherits the outer label, then takes its own
      val t = new Thread(() => other = Ledger.measure(spark, "other")(oneJob())._2)
      t.start()
      t.join()
      oneJob()
    }
    oneJob() // after
    assert(outer.jobs.size === 2 * single)
    assert(inner.jobs.size === single)
    assert(other.jobs.size === single)
    assert(Seq(outer, inner, other).flatMap(_.jobs).map(_.id).distinct.size === 4 * single)
    assert(outer.jobs.forall(_.callSite.contains("LedgerSpec.scala")), outer.render)
  }

  test("a shuffling query: tasks >= stages >= jobs >= 1, and its metrics are read") {
    val li = Tables.lineitem(spark, sf0001)
    val (rows, e) = Ledger.measure(spark, "shuffle") {
      li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity"))).collect()
    }
    assert(rows.nonEmpty)
    assert(e.jobs.nonEmpty && e.stages >= e.jobs.size && e.tasks >= e.stages, e.render)
    assert(e.jobs.map(_.tasks).sum === e.tasks, e.render)
    assert(e.shuffleWriteBytes > 0 && e.shuffleReadBytes > 0 && e.inputBytes > 0, e.render)
    assert(e.runMs >= 0 && e.cpuNs > 0 && e.gcMs >= 0 && e.spillBytes >= 0, e.render)
  }

  test("0 <= driver time <= wall time; a block with no job is all driver time") {
    val (_, busy) = Ledger.measure(spark, "busy") {
      Tables.orders(spark, sf0001).groupBy("o_orderstatus").count().collect()
    }
    assert(busy.driverMs >= 0 && busy.driverMs <= busy.wallMs, busy.render)
    val (_, idle) = Ledger.measure(spark, "idle")(Thread.sleep(30))
    assert(idle.jobs.isEmpty && idle.stages === 0 && idle.tasks === 0)
    assert(idle.wallMs >= 30 && idle.driverMs === idle.wallMs)
  }

  test("Profile prints the AQE-final plan of the write that ran, with its metrics") {
    val report = Profile.profile(spark, sf0001, "b3_star_join_revenue")
    assert(report.action.jobs.nonEmpty, report.render)
    val plan = report.plan
    assert(plan.linesIterator.next().startsWith("OverwriteByExpression"), plan)
    assert(plan.contains("isFinalPlan=true"), plan)
    assert("numOutputRows=[1-9]".r.findFirstIn(plan).isDefined, plan)
    // a DataFrame's own queryExecution is planned afresh and never ran
    val fresh = SparkEntry.queries("b3_star_join_revenue")(spark, sf0001)
    val replanned = Profile.planWithMetrics(fresh.queryExecution.executedPlan)
    assert(replanned.contains("isFinalPlan=false"), replanned)
    assert(!replanned.contains("numOutputRows="), replanned)
  }
}
