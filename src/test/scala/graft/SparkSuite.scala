package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Shared test SparkSession (one per forked test JVM) + helpers.
  * Mirrors the reference's regress fixture setup
  * (`src/test/regress/greenplum_schedule`): every suite runs against the
  * same catalog of base tables, here the sf0.001 parquet set.
  */
object SparkSuite {
  val Sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Execute the query, then render the FINAL adaptive plan (AQE only
    * settles join strategies after execution). */
  def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Root paths of every parquet scan in the executed plan: the final
    * adaptive plan with its query stages, subqueries and cached relations,
    * plus, with `initial`, the plan AQE started from (the plan text prints
    * both). Read from the scan nodes, not from the plan text's `Location:`,
    * which Spark truncates, so a check holds wherever a table is loaded
    * from. */
  def scanRoots(df: DataFrame, initial: Boolean = false): Seq[Seq[String]] = {
    def walk(p: SparkPlan): Seq[Seq[String]] = p match {
      case a: AdaptiveSparkPlanExec =>
        walk(a.executedPlan) ++ (if (initial) walk(a.initialPlan) else Nil)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case s: FileSourceScanExec => Seq(s.relation.location.rootPaths.map(_.toString))
      case other => (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** The root paths `Tables.df` reads base table `name` from. */
  def tableRoots(name: String): Seq[String] = scanRoots(Tables.df(spark, Sf, name)).head
}
