package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftBusAccess
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampNTZType}

import graft.streaming.{EventRow, Streams}

/** The ais_stream workload: the graft.streaming twins drain a backlog
  * of time-ordered arrival slices (one file per micro-batch,
  * Trigger.AvailableNow), then each twin's output is checked against
  * its batch twin the way StreamingSpec checks them. */
object StreamRun {

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  /** Set-ups per run. Each takes well under a second, so the median
    * needs more of them than a batch run's to settle. */
  private val Setups = 9

  final case class Twin(name: String, start: (DataFrame, String) => DataStreamWriter[Row])

  private def memory(df: DataFrame, name: String, mode: String, ckpt: String) =
    df.writeStream.format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", ckpt)

  private def typed(ev: DataFrame) = {
    import ev.sparkSession.implicits._
    ev.select("event_id", "ts", "user_id", "event_type", "value").as[EventRow]
  }

  def twins(work: String): Seq[Twin] = Seq(
    Twin("tumbling", (ev, ck) => memory(Streams.tumbling(ev), "pb_tumbling", "complete", ck)),
    Twin("sliding", (ev, ck) => memory(Streams.sliding(ev), "pb_sliding", "complete", ck)),
    Twin("session", (ev, ck) => memory(Streams.session(ev), "pb_session", "complete", ck)),
    Twin("dedup", (ev, ck) => memory(Streams.dedup(ev), "pb_dedup", "append", ck)),
    Twin("stateful_sessions", (ev, ck) =>
      memory(Streams.statefulSessions(typed(ev)).toDF(), "pb_stateful_sessions", "append", ck)),
    Twin("stateful_voyages", (ev, ck) =>
      memory(Streams.statefulVoyages(typed(ev)).toDF(), "pb_stateful_voyages", "append", ck)),
    Twin("upsert", (ev, ck) =>
      Streams.upsertSink(ev.select("user_id", "event_type", "value", "event_id"),
        s"$work/upsert_target", Seq("user_id", "event_type"), "event_id", ck)
        .queryName("pb_upsert")))

  /** The arrival slices as a file stream, one file per micro-batch,
    * with the same ts normalization as graft.Tables.events. */
  private def source(spark: SparkSession, fixture: String, slices: String,
      glob: String = "*.parquet"): DataFrame = {
    graft.Tables.ensureNanosAsLong(spark)
    val raw = spark.read.parquet(s"$fixture/events.parquet").schema
    val s = spark.readStream.schema(raw).option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", glob).parquet(slices)
    raw("ts").dataType match {
      case LongType => s.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => s.withColumn("ts", col("ts").cast("timestamp"))
      case _ => s
    }
  }

  def apply(a: Map[String, String], out: Record, gc: GcWatch): Unit = {
    val fixture = a("dir")
    val trace = a("trace") == "1"
    val slices = a("slices")
    val work = a("work")
    val nRounds = a("passes").toInt
    val rnd = new scala.util.Random(a("seed").toLong)
    val all = twins(work)

    // --- set-up: table open, then construction of each twin's
    // streaming frame (no query started). The batch twins are the
    // workload's queries, dumped through Verify for the gate.
    val spark = Harness.setUps(Setups, a, out)(graft.Tables.events(_, fixture)) { s =>
      val ev = source(s, fixture, slices)
      all.foreach(t => t.start(ev, s"$work/ckpt_setup/${t.name}"))
    }

    // Untimed warm-up: every twin drains the first slice once, so the
    // timed round's first micro-batches do not pay one-time code
    // generation for their plans.
    all.foreach { t =>
      t.start(source(spark, fixture, slices, "part-00000.parquet"), s"$work/ckpt_warm/${t.name}")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }

    val sc = spark.sparkContext
    val tasks = if (trace) Some(new TaskTrace) else None
    tasks.foreach(sc.addSparkListener)
    val streams = if (trace) Some(new StreamTrace) else None
    streams.foreach(spark.streams.addListener)

    // --- timed rounds: every twin drains the whole backlog from a
    // fresh checkpoint, in a seeded order.
    val rounds = ArrayBuffer.empty[Record]
    var livePeak = 0.0
    while (rounds.size < nRounds) {
      val order = rnd.shuffle(all)
      Harness.deleteTree(Paths.get(work, "upsert_target"))
      GraftBusAccess.waitUntilEmpty(sc)
      streams.foreach(_.clear())
      val snap0 = tasks.map(_.snapshot()).getOrElse(Map.empty)
      val gc0 = gc.gcSeconds
      val t0 = now()
      val perTwin = order.map { t =>
        val ck = s"$work/ckpt/${t.name}"
        Harness.deleteTree(Paths.get(ck))
        val q0 = now()
        val ev = source(spark, fixture, slices)
        val writer = t.start(ev, ck)
        val q1 = now()
        val q = writer.trigger(Trigger.AvailableNow()).start()
        var err = ""
        try q.awaitTermination()
        catch { case e: Throwable => err = Harness.firstLine(e) }
        val q2 = now()
        val progress = q.recentProgress.filter(_.numInputRows > 0)
        Record("name" -> t.name, "construct_s" -> secs(q1 - q0), "run_s" -> secs(q2 - q1),
          "error" -> Option(q.exception).map(_ => err).filter(_.nonEmpty).getOrElse(err),
          "batches" -> progress.map(p => Record(
            "rows" -> p.numInputRows.toDouble,
            "trigger_s" -> p.durationMs.getOrDefault("triggerExecution", 0L) / 1000.0,
            "planning_s" -> p.durationMs.getOrDefault("queryPlanning", 0L) / 1000.0,
            "add_batch_s" -> p.durationMs.getOrDefault("addBatch", 0L) / 1000.0)).toSeq)
      }
      val wall = secs(now() - t0)
      val r = Record("wall_s" -> wall, "twins" -> perTwin)
      tasks.foreach { t =>
        GraftBusAccess.waitUntilEmpty(sc)
        val s1 = t.snapshot()
        r("counters") = s1.map { case (k, v) => k -> (v - snap0.getOrElse(k, 0.0)) }
        r("gc_s") = gc.gcSeconds - gc0
      }
      streams.foreach { st =>
        val b = st.all
        def last(q: String) = b.filter(_.query == q).lastOption
        val lasts = all.flatMap(t => last(s"pb_${t.name}"))
        r("state_rows") = lasts.map(_.stateRows.toDouble).sum
        r("state_mb") = lasts.map(_.stateBytes.toDouble).sum / 1048576.0
        r("state_commit_s") = b.map(_.commitMs.toDouble).sum / 1000.0
        r("watermark_drops") = b.map(_.drops.toDouble).sum
        r("upsert_s") = b.filter(_.query == "pb_upsert").map(_.addBatchMs.toDouble).sum / 1000.0
      }
      // Live heap at the end of the round, with the memory sinks still
      // held; outside the round's wall time.
      livePeak = math.max(livePeak, GcWatch.liveHeapMb(sc))
      rounds += r
    }
    out("passes") = rounds.toSeq
    out("heap_live_peak_mb") = livePeak
    out("loadavg_end") = Harness.loadavg()
    // --- stream/batch parity on the last round's outputs, untimed.
    out("parity") = parity(spark, fixture, slices, work)
    if (trace) out("functions") = FunctionProbe(spark, a("corpus-dir"))
    spark.stop()
  }

  /** Rows as sortable keys; doubles compared with a tolerance of one
    * unit in the second decimal (sums are rounded to 2 places and may
    * re-associate across micro-batches). */
  private def same(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame): Seq[(String, Seq[Double])] = {
      val dbl = df.schema.fields.map(_.dataType == DoubleType)
      df.collect().toSeq.map { r =>
        val key = r.toSeq.zip(dbl).filterNot(_._2).map(x => String.valueOf(x._1)).mkString("|")
        (key, r.toSeq.zip(dbl).filter(_._2).map(x => Option(x._1).fold(Double.NaN)(_.asInstanceOf[Double])))
      }.sortBy(x => (x._1, x._2.mkString(",")))
    }
    val (x, y) = (rows(a), rows(b))
    x.size == y.size && x.zip(y).forall { case ((k1, d1), (k2, d2)) =>
      k1 == k2 && d1.zip(d2).forall { case (u, v) =>
        (u.isNaN && v.isNaN) || math.abs(u - v) <= 0.0101 + 1e-9 * math.abs(v) }
    }
  }

  /** Twin name -> parity verdict, as StreamingSpec states each one. */
  def parity(spark: SparkSession, fixture: String, slices: String,
      work: String): Map[String, Boolean] = {
    def batch(n: String) = graft.SparkEntry.queries(n)(spark, fixture)
    val ev = graft.Tables.events(spark, fixture)
    val sessions = batch("stream_session")
    val lastSession = sessions.groupBy("user_id").agg(max("session_id").as("session_id"))
    val closedSessions = sessions.join(lastSession, Seq("user_id", "session_id"), "left_anti")
      .select("user_id", "n_events", "t_start", "t_end", "total_value")
    val firstSeen = spark.table("pb_dedup")
      .groupBy("user_id", "event_type")
      .agg(min_by(struct(col("event_id"), col("ts")), struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("event_type"), col("f.event_id"), col("f.ts"))
    // The sink replaces a key's target row with the latest micro-batch's
    // row; within one batch the highest event_id wins. Slice file names
    // sort in arrival order.
    val latest = spark.read.parquet(slices).withColumn("slice", input_file_name())
      .groupBy("user_id", "event_type")
      .agg(max_by(struct(col("value"), col("event_id")), struct(col("slice"), col("event_id")))
        .as("s"))
      .select(col("user_id"), col("event_type"), col("s.value"), col("s.event_id"))
    def check(f: => Boolean): Boolean = try f catch { case _: Throwable => false }
    Map(
      "tumbling" -> check(same(spark.table("pb_tumbling"), batch("stream_tumbling"))),
      "sliding" -> check(same(spark.table("pb_sliding"), batch("stream_sliding"))),
      "session" -> check(same(spark.table("pb_session"),
        sessions.select("user_id", "n_events", "t_start", "t_end", "total_value"))),
      "dedup" -> check(same(firstSeen, batch("stream_dedup"))),
      "stateful_sessions" -> check(same(spark.table("pb_stateful_sessions"), closedSessions)),
      "stateful_voyages" -> check(same(spark.table("pb_stateful_voyages"),
        closedVoyages(ev))),
      "upsert" -> check(same(spark.read.parquet(s"$work/upsert_target")
        .select("user_id", "event_type", "value", "event_id"), latest)))
  }

  /** Closed voyages of the batch collapse (each vessel's last voyage is
    * still open in stream state), as StreamingSpec derives them. */
  private def closedVoyages(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val voyFrame = Window.partitionBy("user_id", "voyage").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ev = events
      .withColumn("lat", (col("event_id") * 7919 % 18000) / 100.0 - 90.0)
      .withColumn("lon", (col("event_id") * 104729 % 36000) / 100.0 - 180.0)
      .withColumn("zone", graft.functions.Geo.gridCell(col("lat"), col("lon"), 30.0))
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(byUser)))
      .withColumn("is_new", when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1L)
        .otherwise(0L))
      .withColumn("voyage", sum("is_new").over(byUser))
      .withColumn("o_zone", first("zone").over(voyFrame))
      .withColumn("d_zone", last("zone").over(voyFrame))
      .groupBy("user_id", "voyage", "o_zone", "d_zone")
      .agg(count(lit(1)).as("n_points"))
    val lastVoyage = ev.groupBy("user_id").agg(max("voyage").as("voyage"))
    ev.join(lastVoyage, Seq("user_id", "voyage"), "left_anti")
      .select("user_id", "o_zone", "d_zone", "n_points")
  }
}
