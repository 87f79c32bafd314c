package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types.StructType
import scala.collection.parallel.CollectionConverters._
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Closed-loop runner: one client thread, each query's rows collected
  * before the next query starts. Writes raw measurements as JSON to
  * `<out>/run.json`; `perfbench/run.py` turns them into metrics and checks
  * every result against DuckDB.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <sfDir> <outDir>
  */
object Main {
  /** Untimed passes before the first timed query: the first pays class
    * loading and codegen, and the first timed pass after a single warm pass
    * still ran 20-40 % slower than the next while the JIT settled. */
  val WarmPasses = 2
  /** The timed window runs whole passes, at least this many, so that every
    * query is timed more than once and its plan compared across passes. */
  val MinPasses = 2
  val Mapper = new ObjectMapper

  private val mainStart = System.nanoTime()
  // epoch-ms instant of nanoTime == mainStart, read on a millisecond edge so
  // listener times (epoch ms) line up with span times (ns) to ~1 ms
  private val epochAtStartMs: Double = {
    val m0 = System.currentTimeMillis()
    var m = m0
    while (m == m0) m = System.currentTimeMillis()
    m - (System.nanoTime() - mainStart) / 1e6
  }
  private def now: Long = System.nanoTime() - mainStart
  private def fromEpochMs(ms: Long): Long = ((ms - epochAtStartMs) * 1e6).toLong

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, sfDir, outDir) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    val names = Workloads.all.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val cpus = Runtime.getRuntime.availableProcessors
    val work = Paths.get("").toAbsolutePath

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionEnd = now
    val probe = if (traced) Some(new Probe) else None
    probe.foreach(spark.sparkContext.addSparkListener)

    Workloads.ddl(workload).foreach(_(spark, sfDir))
    reset(spark)
    val ddlEnd = now

    val queries = graft.SparkEntry.queries
    val seen = mutable.Map.empty[String, mutable.Set[String]]
    val toDump = mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]
    val out = Mapper.createObjectNode()
    val records = out.putArray("executions")
    val warmFp = mutable.TreeMap.empty[String, mutable.Set[String]]

    def drain(): Unit = probe.foreach(_ => BusDrain(spark.sparkContext))
    def take(): Option[Probe#Window] = { drain(); probe.map(_.take()) }

    /** One execution: the timed window is the query-function call plus
      * `collect()`; everything after it (checks, trace reads, reset) is not. */
    def runOne(pass: Int, name: String): Unit = {
      take()
      RuleExecutor.resetMetrics()
      CodeGenerator.resetCompileTime()
      var df: DataFrame = null
      var rows: Array[Row] = null
      var err: String = null
      val t0 = now
      var (tb, to, tp) = (t0, t0, t0)
      try {
        df = queries(name)(spark, sfDir)
        tb = now
        df.queryExecution.optimizedPlan
        to = now
        df.queryExecution.executedPlan
        tp = now
        rows = df.collect()
      } catch { case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}" }
      val t1 = now
      val w = take()
      w.foreach(_.c("leftover_blocks") =
        spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum)
      val j = records.addObject()
      j.put("pass", pass).put("q", name).put("t0", t0).put("t1", t1).put("ok", err == null)
      if (err != null) j.put("err", err.take(500))
      if (rows != null) {
        val h = rowsHash(rows)
        j.put("rows", rows.length).put("hash", h)
        if (seen.getOrElseUpdate(name, mutable.Set.empty).add(h))
          toDump += ((s"$outDir/results/$name/$h", df.schema, rows))
      }
      w.foreach { w =>
        j.put("tb", tb).put("to", to).put("tp", tp)
        if (df != null) {
          df.queryExecution.tracker.phases.get("analysis").foreach { p =>
            j.putArray("analysis").add(fromEpochMs(p.startTimeMs)).add(fromEpochMs(p.endTimeMs))
          }
          j.put("plan_fp", planFingerprint(df))
        }
        val jobs = j.putArray("jobs")
        w.jobs.foreach { case (id, se) =>
          jobs.addArray().add(id).add(fromEpochMs(se(0))).add(fromEpochMs(se(1))) }
        val stages = j.putArray("stages")
        w.stages.foreach(s => stages.addArray().add(s(0)).add(fromEpochMs(s(1))).add(fromEpochMs(s(2))))
        val c = j.putObject("c")
        w.c.foreach { case (k, v) => c.put(k, v) }
        c.put("compile_ns", CodeGenerator.compileTime)
        val m = RuleExecutor.getCurrentMetrics()
        c.put("rule_runs", m.numRuns).put("rule_effective_runs", m.numEffectiveRuns)
        ruleTimes().foreach { case (rule, ns) => c.put(s"rule_ns.$rule", ns) }
      }
      val r0 = now
      reset(spark)
      val r1 = now
      take()
      if (w.isDefined) j.putArray("reset").add(r0).add(r1)
    }

    // Warm-up: every query once per pass, untimed, each pass in its own order.
    val warmStart = now
    var warmErrors = 0
    for (p <- 1 to WarmPasses; name <- Workloads.order(names, seed, -p)) {
      try {
        val df = queries(name)(spark, sfDir)
        df.collect()
        if (traced) warmFp.getOrElseUpdate(name, mutable.Set.empty) += planFingerprint(df)
      } catch { case _: Throwable => warmErrors += 1 }
      reset(spark)
    }
    val timedStart = now
    var pass = 0
    while (pass < MinPasses || now - timedStart < (secondsS.toDouble * 1e9).toLong) {
      Workloads.order(names, seed, pass).foreach(runOne(pass, _))
      pass += 1
    }
    val timedEnd = now
    // one parquet file per distinct result, for the oracle check
    toDump.par.foreach { case (path, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(path)
    }

    out.put("workload", workload).put("seed", seed).put("traced", traced)
    out.putObject("env")
      .put("nproc", cpus).put("master", spark.sparkContext.master)
      .put("heap_max_mb", Runtime.getRuntime.maxMemory / (1 << 20))
      .put("spark", spark.version).put("jdk", System.getProperty("java.version"))
    out.put("session_s", sessionEnd / 1e9).put("ddl_s", (ddlEnd - sessionEnd) / 1e9)
      .put("warm_s", (timedStart - warmStart) / 1e9)
      .put("warm_errors", warmErrors)
      .put("setup_s", timedStart / 1e9).put("timed_s", (timedEnd - timedStart) / 1e9)
      .put("passes", pass).put("peak_rss_mb", peakRssMb)
    val oracle = out.putObject("oracle")
    names.foreach(n => graft.SparkEntry.oracleSql.get(n).foreach(sql => oracle.put(n, sql)))
    val fp = out.putObject("warm_plan_fp")
    warmFp.foreach { case (n, fps) => val a = fp.putArray(n); fps.toSeq.sorted.foreach(f => a.add(f)) }
    Files.writeString(Paths.get(outDir, "run.json"), Mapper.writeValueAsString(out) + "\n")
    spark.stop()
  }

  /** The reset `graft.Bench` applies between queries: drop spools and caches,
    * and undo the session confs and registries some queries switch on. */
  def reset(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.conf.set("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    spark.conf.set("spark.graft.eageragg.enabled", "false")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    graft.rules.RlsRule.clearPolicies(spark)
    spark.conf.set(graft.rules.AqumvRule.EnabledConf, "false")
    graft.rules.AqumvRule.clear()
  }

  private def canon(v: Any): String = v match {
    case null => "N"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Order-insensitive digest of a result: two executions with the same
    * digest returned the same multiset of rows. */
  def rowsHash(rows: Array[Row]): String = {
    var a = 0L
    var b = 0L
    rows.foreach { r =>
      val s = canon(r)
      val h = (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)
      a += h
      b += h * 0x9e3779b97f4a7c15L + (h >>> 29)
    }
    f"${rows.length}%d-$a%016x$b%016x"
  }

  /** Executed (post-AQE) plan with expression, plan, RDD, query-stage and
    * codegen-stage ids blanked: AQE numbers stages in the order they finish. */
  def planFingerprint(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val text = plan.treeString(verbose = false)
      .replaceAll("#\\d+L?", "#")
      .replaceAll("(plan_id|id)=#?\\d+", "$1=")
      .replaceAll("\\[\\d+\\]", "[]")
      .replaceAll("RDD \\d+|rdd_\\d+|ExistingRDD\\d+", "RDD")
      .replaceAll("QueryStage \\d+", "QueryStage")
      .replaceAll("\\*\\(\\d+\\)", "*")
    f"${MurmurHash3.stringHash(text, 7)}%08x${MurmurHash3.stringHash(text, 11)}%08x"
  }

  private val RuleLine = """^\s*(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r
  private val GraftRules = Seq("AqumvRule", "EagerAggRule", "RlsRule", "BindExpensiveFilterRule")

  /** Time each graft optimizer rule spent since the last metrics reset. */
  private def ruleTimes(): Seq[(String, Long)] = {
    val ns = RuleExecutor.dumpTimeSpent().split("\n").collect {
      case RuleLine(rule, _, total, _, _) => rule.split('.').last -> total.toLong
    }.groupMapReduce(_._1)(_._2)(_ + _)
    GraftRules.map(r => r -> ns.getOrElse(r, 0L))
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)
}
