package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBusAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** One benchmark run in one JVM: set-up, correctness dump, timed
  * passes. Drives the engine only through its public calls
  * (`SparkEntry.queries`, `Tables`, `Cache`, `Streams`, `IO`,
  * `GraftFunctions`, `Verify`) and writes a raw JSON record that
  * run.py turns into metrics.
  *
  * Usage: Harness --workload W --dir D --queries q1,q2 --seed S
  *   --passes N --trace 0|1 --out raw.json --verify-out DIR
  *   [--slices DIR --work DIR --corpus-dir DIR]  (ais_stream)
  */
object Harness extends AdaptiveSparkPlanHelper {

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  /** Set-ups per batch run; setup_s is their median. */
  private val Setups = 3

  /** Untimed passes before the timed ones. The Verify dump runs each
    * query once, but the next two passes were still 35% and 15% slower
    * than the ones after them while the JIT caught up; the median of
    * the timed passes absorbs the second. */
  private val WarmupPasses = 1

  final case class QueryTime(name: String, construct: Double, plan: Double,
      action: Double, rows: Long, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val out = Record()
    out("workload") = workload
    out("cores") = Session.cores.toDouble
    val gc = new GcWatch
    gc.start()
    try {
      if (workload == "ais_stream") StreamRun(a, out, gc)
      else batch(a, out, gc)
    } finally {
      gc.stop()
      cleanProgramState(a("dir"))
    }
    Files.writeString(Paths.get(a("out")), toJson(out))
  }

  /** Index artifact version dirs the engine has published for `dir`. */
  private def artifactVersions(dir: String): Set[String] = {
    val root = artifactRoot(dir)
    if (!Files.isDirectory(root)) Set.empty
    else Files.walk(root, 2).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("v_"))
      .map(_.toString).toSet
  }

  private def artifactRoot(dir: String): Path =
    Paths.get(graft.Cache.SharedRoot, dir.replaceAll("[^A-Za-z0-9]", "_"))

  private[perfbench] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => try Files.deleteIfExists(f) catch { case _: java.io.IOException => () })

  /** Everything the engine left for this fixture and process: index
    * artifacts (so the next set-up rebuilds them) and the per-process
    * source scratch. Run before each set-up and before the JVM exits. */
  private def cleanProgramState(dir: String): Unit = {
    deleteTree(artifactRoot(dir))
    deleteTree(Paths.get(s"/tmp/graft_sources/p${ProcessHandle.current().pid()}"))
  }

  /** The set-up loop both workloads share. Each of the `n` set-ups
    * removes the program's state for `dir`, starts a session, runs
    * `open` (timed apart as table open) and then `build`. After the
    * first, the engine's own Verify main dumps the workload's queries
    * for the gate, untimed; it stops that session and is the JIT
    * warm-up, so setup_s, the median, is a warm set-up. Returns the
    * last set-up's session. */
  private[perfbench] def setUps(n: Int, a: Map[String, String], out: Record)(
      open: SparkSession => Unit)(build: SparkSession => Unit): SparkSession = {
    val dir = a("dir")
    val setupS = ArrayBuffer.empty[Double]
    val openS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until n).foreach { i =>
      if (spark != null) { graft.Cache.clear(spark); spark.stop() }
      cleanProgramState(dir)
      val t0 = now()
      spark = Session.create()
      val t1 = now()
      open(spark)
      openS += secs(now() - t1)
      build(spark)
      setupS += secs(now() - t0)
      if (i == 0) {
        val v0 = now()
        graft.Verify.main(Array(dir, a("verify-out"), a("queries")))
        out("verify_s") = secs(now() - v0)
        spark = null
      }
    }
    out("setup_s") = setupS.toSeq
    out("tables_open_s") = openS.toSeq
    out("loadavg_start") = loadavg()
    out("cpu_probe_s") = cpuProbe(spark)
    spark
  }

  private def batch(a: Map[String, String], out: Record, gc: GcWatch): Unit = {
    val dir = a("dir")
    val trace = a("trace") == "1"
    val names = a("queries").split(",").toSeq

    // --- set-up: table open, then construction of every query once
    // (which builds the index artifacts and source scratch).
    val indexBuilds = ArrayBuffer.empty[Double]
    val setupErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val spark = setUps(Setups, a, out) { s =>
      graft.Tables.names.filter(n => Files.exists(Paths.get(dir, s"$n.parquet")))
        .foreach(n => graft.Tables.table(s, dir, n))
    } { s =>
      val before = artifactVersions(dir)
      names.foreach { n =>
        try graft.SparkEntry.queries(n)(s, dir)
        catch { case e: Throwable => setupErrors(n) = firstLine(e) }
      }
      indexBuilds += (artifactVersions(dir) -- before).size.toDouble
    }
    out("index_builds") = indexBuilds.toSeq
    out("setup_errors") = setupErrors.toMap

    val rnd = new scala.util.Random(a("seed").toLong)
    (1 to WarmupPasses).foreach { _ =>
      graft.Cache.clear(spark)
      rnd.shuffle(names).foreach(n => runQuery(spark, dir, n, trace = false))
    }

    val tasks = if (trace) Some(new TaskTrace) else None
    tasks.foreach(spark.sparkContext.addSparkListener)
    val sc = spark.sparkContext

    // --- timed passes: each starts from an empty Cache, runs every
    // query once in a seeded shuffled order, and materializes every row.
    val nPasses = a("passes").toInt
    val passes = ArrayBuffer.empty[Record]
    var livePeak = 0.0
    while (passes.size < nPasses) {
      graft.Cache.clear(spark)
      val order = rnd.shuffle(names)
      GraftBusAccess.waitUntilEmpty(sc)
      val snap0 = tasks.map(_.snapshot()).getOrElse(Map.empty)
      val gcPass0 = gc.gcSeconds
      val persistedIds = scala.collection.mutable.Set.empty[Int]
      var persistedPeak = 0L
      var scans = 0
      val t0 = now()
      val times = order.map { n =>
        val q = runQuery(spark, dir, n, trace)
        if (trace) {
          persistedIds ++= sc.getPersistentRDDs.keys
          persistedPeak = math.max(persistedPeak,
            sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
          scans += q._2
        }
        q._1
      }
      val wall = secs(now() - t0)
      val p = Record()
      p("wall_s") = wall
      p("queries") = times.map(qt => Record(
        "name" -> qt.name, "construct_s" -> qt.construct, "plan_s" -> qt.plan,
        "action_s" -> qt.action, "rows" -> qt.rows.toDouble,
        "error" -> qt.error.getOrElse("")))
      tasks.foreach { t =>
        GraftBusAccess.waitUntilEmpty(sc)
        val s1 = t.snapshot()
        p("counters") = s1.map { case (k, v) => k -> (v - snap0.getOrElse(k, 0.0)) }
        p("gc_s") = gc.gcSeconds - gcPass0
        p("cache_builds") = persistedIds.size.toDouble
        p("cache_scans") = scans.toDouble
        p("persisted_mb_peak") = persistedPeak / 1048576.0
      }
      // Live heap at the end of the pass, while the Cache still holds
      // the pass's entries; outside the pass's wall time.
      livePeak = math.max(livePeak, GcWatch.liveHeapMb(sc))
      passes += p
    }
    out("passes") = passes.toSeq
    out("heap_live_peak_mb") = livePeak
    out("loadavg_end") = loadavg()
    if (trace) out("functions") = FunctionProbe(spark, dir)
    graft.Cache.clear(spark)
    spark.stop()
  }

  /** Construct, plan and materialize one query. The action executes
    * the same QueryExecution whose plan was forced, so planning is
    * timed apart from execution; every row of the final plan is
    * produced (no pruning of sorts or columns, unlike `count()`). */
  private def runQuery(spark: SparkSession, dir: String, name: String,
      trace: Boolean): (QueryTime, Int) = {
    val sc = spark.sparkContext
    def phase(p: String): Unit = if (trace) sc.setLocalProperty(Phase.Key, p)
    val t0 = now()
    try {
      phase("construct")
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val t1 = now()
      phase("plan")
      val qe = df.queryExecution
      qe.executedPlan
      val t2 = now()
      phase("action")
      val rows = SQLExecution.withNewExecutionId(qe, Some(s"perfbench:$name")) {
        qe.toRdd.count()
      }
      val t3 = now()
      phase(null)
      val scans = if (trace) collectWithSubqueries(qe.executedPlan) {
        case s: InMemoryTableScanExec => s
      }.size else 0
      (QueryTime(name, secs(t1 - t0), secs(t2 - t1), secs(t3 - t2), rows, None), scans)
    } catch {
      case e: Throwable =>
        phase(null)
        (QueryTime(name, 0, 0, secs(now() - t0), 0L, Some(firstLine(e))), 0)
    }
  }

  private[perfbench] def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.toSeq.headOption.getOrElse(e.getClass.getName)

  private[perfbench] def loadavg(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.getLines().next().split(" ")(0).toDouble finally s.close()
    } catch { case _: Throwable => -1.0 }

  /** Median of three runs of a fixed CPU-bound job: host speed at the
    * time of the run, recorded next to the result. */
  private[perfbench] def cpuProbe(spark: SparkSession): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = now()
      spark.range(50000000L).selectExpr("sum(id % 7)").collect()
      secs(now() - t0)
    }.sorted
    ts(1)
  }
}
