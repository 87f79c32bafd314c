package graft.perfbench

import graft.operators._
import org.apache.spark.sql.SparkSession

/** The query mixes, built on every second query in name order of the
  * program's own module maps: warm-up passes over the whole sets would leave
  * no time to measure within a run's budget. */
object Workloads {
  private def everySecond(keys: Iterable[String]): Seq[String] =
    keys.toSeq.sorted.grouped(2).map(_.head).toSeq

  /** Join, aggregate, window and set-operation plans: Catalyst, exchanges
    * and the built-in hash operators. The bypass mix for driver-side work. */
  val olap: Seq[String] = (everySecond(TpcH.queries.keys) ++ everySecond(TpcDs.queries.keys)).sorted

  /** Queries that write beside their reads: a CSV load with rejects
    * (`sources.CsvSreh`), a fixed-width read (`sources.FixedWidth`), an ORC
    * round trip, a dynamic partition overwrite, and a dynamic-table refresh
    * and an IVM fold (`streaming`). They stand in for an ingest mix, which a
    * run's time budget leaves no room for as a workload of its own. */
  val writes: Seq[String] = Seq("c02_copy_to_sreh", "c08_orc_roundtrip", "c15_fixedwidth",
    "i02_dynamic_table", "i09_ivm_variance", "p04_partition_overwrite")

  /** Fixpoint queries: many jobs per query, spools, and time in the query
    * function's build phase; with them the write queries, so that the write
    * path is measured on some workload while `olap` stays free of writes. */
  val iterative: Seq[String] = (everySecond(
    Recursive.queries.keys ++ EntityResolution.queries.keys ++
      Seq("ml08_decision_tree", "ml09_tree_confusion", "s07_kmeans_lloyd", "t27_bpe_train_encode"))
    ++ writes).sorted

  val all: Map[String, Seq[String]] = Map("olap" -> olap, "iterative" -> iterative)

  /** Build-once derived tables a mix reads: CREATE TABLE work done before
    * the first query, as a warehouse would have it. */
  val ddl: Map[String, Seq[(SparkSession, String) => Any]] = Map(
    "olap" -> Nil,
    "iterative" -> Seq(EntityResolution.ensureBaseState))

  /** Pass `pass` visits every query once, in an order fixed by (seed, pass). */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)
}

/** Prints `{"<query>": "<DuckDB SQL>", ...}` for every workload query that
  * has an oracle; `perfbench/oracle.py refresh` reads it. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val j = Main.Mapper.createObjectNode()
    Workloads.all.values.flatten.toSeq.distinct.sorted.foreach(n => sql.get(n).foreach(q => j.put(n, q)))
    println(Main.Mapper.writeValueAsString(j))
  }
}
