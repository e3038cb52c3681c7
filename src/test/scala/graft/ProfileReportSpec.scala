package graft

import scala.jdk.CollectionConverters._

/** `graft.Profile`, the dev profiling entry point, run on the suite's
  * session over the sf0.001 test tables: the report carries listener and
  * plan counts, and each rep's listener leaves the bus again. (The column
  * profiler `operators.Profile` is covered by ProfileSpec.)
  */
class ProfileReportSpec extends SparkTestBase {

  // the listener bus is private to Spark; its accessors are public in
  // bytecode, so reflection reads the registered listeners
  private def ledgersOnBus(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]]
      .asScala.count(_.isInstanceOf[Profile.Ledger])
  }

  Seq("q01_filter_project" -> 1, "q15_semi_anti_join" -> 2).foreach { case (query, scans) =>
    test(s"$query: the report counts jobs, tasks and source scans") {
      val r = Profile.report(spark, query, "/root/testdata/sf0.001", reps = 1)
      val l = r.best.ledger
      assert(l.jobs.size >= 1 && l.total.tasks >= 1, r.json)
      assert(r.planCounts.toMap.apply("fileScans") >= scans, r.json)
      assert(r.lines(withPlan = true).head == r.json)
      assert(ledgersOnBus() == 0, "Profile must remove its listener")
    }
  }
}
