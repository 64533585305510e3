package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.jobsDuring
import graft.core.TerminalSort
import graft.queries.Registry

/** A small terminal ORDER BY is planned over a single-partition exchange:
  * no range bounds sample, the same rows in the same order. Sorts above
  * the size threshold, sorts with the threshold at -1 and sorts inside
  * the plan keep their range exchange. */
class TerminalSortSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.tablesDir("0.001")
  private def withThreshold[T](value: String)(body: => T): T =
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", value)(body)

  private def query(name: String) = Registry.all.find(_.name.startsWith(name)).get

  /** The executed plan after a forced run, so AQE's final plan shows. */
  private def forcedPlan(df: DataFrame): (String, Int) = {
    val (_, jobs) = jobsDuring(df.queryExecution.toRdd.foreach(_ => ()))
    (df.queryExecution.executedPlan.toString, jobs)
  }

  private def ranged(plan: String) = plan.contains("rangepartitioning")
  private def single(plan: String) = plan.contains("SinglePartition")

  Seq("q48", "q66").foreach { name =>
    test(s"$name: terminal sort over one partition, no build job, one job fewer") {
      TerminalSort.install(spark)
      val q = query(name)
      val (df, buildJobs) = jobsDuring(q.build(spark, dir))
      assert(buildJobs == 0, s"Query.build ran $buildJobs job(s)")
      val (plan, jobs) = forcedPlan(df)
      assert(single(plan) && !ranged(plan), plan)
      val (rangedDf, rangedJobs) = withThreshold("-1") {
        val d = q.build(spark, dir)
        (d, forcedPlan(d))
      }
      val (offPlan, offJobs) = rangedJobs
      assert(ranged(offPlan) && !single(offPlan), offPlan)
      assert(jobs == offJobs - 1, s"forced jobs: $jobs rewritten vs $offJobs ranged")
      assert(df.collect().toSeq == rangedDf.collect().toSeq)
    }
  }

  test("the rewrite needs the child's estimate at most the threshold") {
    TerminalSort.install(spark)
    val q = query("q48")
    val estimate = withThreshold("-1") {
      q.build(spark, dir).queryExecution.optimizedPlan
        .collectFirst { case s: Sort => s.child.stats.sizeInBytes }.get
    }
    withThreshold(estimate.toString) {
      assert(single(forcedPlan(q.build(spark, dir))._1))
    }
    withThreshold((estimate - 1).toString) {
      val (plan, _) = forcedPlan(q.build(spark, dir))
      assert(ranged(plan) && !single(plan), plan)
    }
  }

  test("a sort inside the plan keeps its range exchange") {
    TerminalSort.install(spark)
    val orders = Tables.orders(spark, dir)
    // the row number depends on the sort's order, so Catalyst keeps the
    // sort below the join
    val numbered = orders.orderBy("o_orderkey")
      .withColumn("rn", F.monotonically_increasing_id())
      .select("o_custkey", "rn")
    val joined = numbered.join(Tables.customer(spark, dir)
      .select(F.col("c_custkey").as("o_custkey"), F.col("c_name")), "o_custkey")
    val (plan, _) = forcedPlan(joined)
    assert(ranged(plan), plan)
    // with a terminal sort on top, only that one goes to one partition (an
    // aggregate here: an inner join's estimate is the product of its sides)
    def firsts = numbered.groupBy("o_custkey").agg(F.min("rn").as("rn")).orderBy("rn")
    val (both, _) = forcedPlan(firsts)
    assert(ranged(both) && single(both), both)
    withThreshold("-1") {
      val (off, _) = forcedPlan(firsts)
      assert(!single(off), off)
    }
    assert(firsts.collect().toSeq == withThreshold("-1")(firsts.collect().toSeq))
    // a nondeterministic expression above the sort reads the partition
    // layout, so that sort is left alone
    val ids = orders.orderBy("o_orderkey").withColumn("id", F.monotonically_increasing_id())
    val (idPlan, _) = forcedPlan(ids)
    assert(ranged(idPlan) && !single(idPlan), idPlan)
  }

  // Rows tied on a query's sort key may come out in another order, as they
  // may between any two runs of a range-partitioned sort; the rows must
  // be the same.
  test("every registered query collects the same rows, rewritten or not", Slow) {
    TerminalSort.install(spark)
    def rows(q: graft.queries.Query) =
      try q.build(spark, dir).collect().toSeq.map(_.toString).sorted
      finally core.CacheRegistry.releaseAll()
    // a query whose terminal sort keeps its range exchange is not changed
    val rewritten = Registry.all.filter { q =>
      val df = q.build(spark, dir)
      val isRewritten = df.queryExecution.optimizedPlan.exists {
        case Sort(_, true, org.apache.spark.sql.catalyst.plans.logical.Repartition(1, true, _), _) =>
          true
        case _ => false
      }
      core.CacheRegistry.releaseAll()
      if (isRewritten) assert(rows(q) == withThreshold("-1")(rows(q)), q.name)
      isRewritten
    }
    info(s"${rewritten.size} of ${Registry.all.size} terminal sorts rewritten; not: " +
      Registry.all.filterNot(rewritten.contains).map(_.name).mkString(" "))
    assert(rewritten.size >= Registry.all.size / 2)
  }

  test("extension session and imperative install plan q48 identically") {
    val base = spark
    val viaInstall = base.newSession()
    TerminalSort.install(viaInstall)
    val once = viaInstall.experimental.extraOptimizations
    TerminalSort.install(viaInstall)
    assert(viaInstall.experimental.extraOptimizations == once)
    assert(once.count(_ eq TerminalSort) == 1)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val viaExtension = SparkSession.builder()
        .withExtensions(new graft.exprs.GraftExtensions())
        .getOrCreate()
      assert(viaExtension ne base)
      assert(viaExtension.sessionState.optimizer.preCBORules.contains(TerminalSort))
      TerminalSort.install(viaExtension)
      TerminalSort.install(viaExtension)
      assert(viaExtension.experimental.extraOptimizations.isEmpty)
      // expression ids differ between sessions; the plans must not
      def shape(s: SparkSession): (String, String) = {
        SparkSession.setActiveSession(s) // the text kernels register on it
        val qe = query("q48").build(s, dir).queryExecution
        def strip(p: String) = p.replaceAll("#\\d+L?|plan_id=\\d+", "#")
        (strip(qe.optimizedPlan.toString), strip(qe.executedPlan.toString))
      }
      val (extLogical, extPhysical) = shape(viaExtension)
      val (insLogical, insPhysical) = shape(viaInstall)
      assert(extLogical == insLogical)
      assert(extPhysical == insPhysical)
      assert(extPhysical.contains("SinglePartition"), extPhysical)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}
