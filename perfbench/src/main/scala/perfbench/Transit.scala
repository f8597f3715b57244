package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.MainApp
import graft.engine.Decode
import graft.operators.TransitQueries
import graft.sources.StreamAdapters
import graft.streaming.ResultPublisher

/** `transit_city`: the 13-query transit application on its production path,
  * `MainApp.wire` over JSON-lines topic directories with `--state` on.
  *
  * A closed loop with one producer. A chunk is the routes and the trips of
  * one span of event time. Its two files are moved into `Routes_topic` and
  * `Trips_topic`; the loop waits until every streaming query has processed
  * them, then calls the publish step `wire` returns, which writes all 13
  * output topics. A chunk's freshness runs from its files being complete in
  * the topics to the publish step's return.
  *
  * Set-up is the session, `wire` and one untimed chunk. The timed window
  * runs whole chunks until `--seconds` have passed, and at least two, so
  * that the median has two samples. After it the checks
  * compare all 13 result tables with `TransitQueries` over the same events,
  * and each output topic's latest records per key with its table. The
  * windowed queries q11 and q12 are compared on the windows the watermark
  * has closed.
  *
  * q12 reads the capacity per type when a window closes and never re-emits
  * a closed window (`TransitStreamingJob.processWindowBatch`), and the
  * window query and the union runner that maintains the capacity share no
  * barrier within a trigger. So the windows that close while a chunk is
  * processed carry the capacity of the routes before that chunk or of the
  * routes including it, whichever query ran first; the check accepts
  * exactly these two answers, chunk by chunk. */
object Transit {
  import Main.{Outcome, median}

  val WarmChunks = 1
  val MinTimedChunks = 2
  private val HourMs = 3600000L
  val StreamQueries = Seq("union_runner", "q1_seats_per_route", "q5_passengers_per_route",
    "windowed_counts")

  private final case class Cycle(op: String, events: Long, start: Double, freshnessS: Double,
                                 publishS: Double, stagedFrames: Int, stagedBytes: Long,
                                 stateDirBytes: Long, topicBytes: Long)

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  private def lines(f: File): Long =
    if (!f.exists) 0L else { val s = Files.lines(f.toPath); try s.count() finally s.close() }

  /** Batch answers over every event in the input topics, for the queries
    * without windows. */
  def batchAnswers(routes: DataFrame, trips: DataFrame): Map[String, DataFrame] = Map(
    "q1_seats_per_route" -> TransitQueries.q1(routes),
    "q2_avg_passengers_per_type" -> TransitQueries.q2(trips),
    "q3_top_passenger" -> TransitQueries.q3(trips),
    "q4_occupancy_per_route" -> TransitQueries.q4(routes, trips),
    "q5_passengers_per_route" -> TransitQueries.q5(trips),
    "q6_least_occupied_route_per_type" -> TransitQueries.q6(routes, trips),
    "q7_total_capacity" -> TransitQueries.q7(routes),
    "q8_total_occupancy_pct" -> TransitQueries.q8(routes, trips),
    "q9_total_passengers" -> TransitQueries.q9(trips),
    "q10_top_transport_type" -> TransitQueries.q10(trips),
    "q13_most_occupied_operator" -> TransitQueries.q13(routes, trips))

  /** One chunk's files as delivered: route file and trip file, if any. */
  final case class Step(routes: Option[String], trips: Option[String])

  /** The watermark after each step: the maximum trip time seen so far (the
    * window query's delay is zero). */
  def watermarks(steps: Seq[Step], trips: DataFrame): Seq[Long] = {
    val name = udf((p: String) => new File(new java.net.URI(p).getPath).getName)
    val maxTs = trips.select(col("ts"), name(input_file_name()).as("file"))
      .groupBy("file").agg(max("ts").as("m")).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).getTime).toMap
    steps.scanLeft(Long.MinValue) { (wm, st) =>
      st.trips.flatMap(f => maxTs.get(new File(f).getName)).fold(wm)(math.max(wm, _))
    }.tail
  }

  /** q12 chunk by chunk: the rows of the windows that closed while chunk i
    * was processed must equal `TransitQueries.q12` with the routes of chunks
    * before i, or with the routes of chunks up to and including i. */
  def checkQ12(spark: SparkSession, steps: Seq[Step], wms: Seq[Long], trips: DataFrame,
               actual: DataFrame): (Boolean, String) = {
    val windows = TransitQueries.windowedTypeCounts(trips).select("window_start").distinct()
      .collect().map(_.getTimestamp(0).getTime)
    val closedAt = windows.flatMap(w => wms.indexWhere(_ >= w + HourMs) match {
      case -1 => None
      case i => Some(i -> new java.sql.Timestamp(w))
    }).groupBy(_._1).map { case (i, ws) => i -> ws.map(_._2).toSeq }
    def routesUpTo(n: Int): DataFrame = {
      val files = steps.take(n).flatMap(_.routes)
      Decode.routes(
        if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StreamAdapters.rawSchema)
        else spark.read.schema(StreamAdapters.rawSchema).json(files: _*))
    }
    val verdicts = closedAt.toSeq.sortBy(_._1).map { case (i, ws) =>
      def rows(df: DataFrame) = Fingerprint.canonicalRows(
        df.filter(col("window_start").isin(ws: _*)).select("window_start", "transport_type", "occupancy_pct"))
          .sorted
      val got = rows(actual)
      if (got == rows(TransitQueries.q12(routesUpTo(i + 1), trips))) "after"
      else if (got == rows(TransitQueries.q12(routesUpTo(i), trips))) "before"
      else s"mismatch in chunk $i: ${got.take(2)}"
    }
    (verdicts.forall(v => v == "after" || v == "before"),
      s"${closedAt.values.map(_.size).sum} windows, per closing chunk: ${verdicts.mkString(", ")}")
  }

  private def sameRows(actual: Seq[String], expected: Seq[String]): (Boolean, String) = {
    val (a, e) = (actual.sorted, expected.sorted)
    if (a == e) (true, s"${a.size} rows")
    else {
      val missing = e.diff(a).take(2)
      val extra = a.diff(e).take(2)
      (false, s"rows=${a.size} expected=${e.size} missing=$missing unexpected=$extra")
    }
  }

  def run(spark: SparkSession, tr: Tracer, a: Main.Args, jvmStartMs: Double,
          probeS: Double): Outcome = {
    val work = a("work")
    val inputs = new File(a("inputs"))
    val conf = MainApp.Conf(topicsDir = Some(s"$work/topics"), checkpoint = s"$work/ckpt",
      stateDir = Some(s"$work/state"))
    val ref = MainApp.topicRef(conf) _
    val sc = spark.sparkContext
    val chunks = Option(inputs.listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("chunk-")).sortBy(_.getName).toSeq
    require(chunks.size > WarmChunks, s"no transit chunks under $inputs")
    val events = chunks.map(c => c -> (lines(new File(c, "routes.json")) + lines(new File(c, "trips.json")))).toMap

    // An idle streaming query runs a trigger that lists Routes_topic and
    // then Trips_topic, sleeps pollingDelay (Spark's default: 10 ms), and
    // starts over. A trigger whose listings straddle the delivery of a chunk
    // splits it over two union-runner triggers, which took a chunk from
    // about 16 s to 20-27 s, in about one chunk of eight (seen in the union
    // runner's offset log). So `append` renames a chunk's files only while
    // the union runner sleeps between triggers, and the sleep is 200 ms;
    // finding a chunk takes at most 0.2 s longer.
    spark.conf.set("spark.sql.streaming.pollingDelay", "200ms")
    val (job, queries, publish) = MainApp.wire(spark, conf)
    val union = queries.find(_.name == "union_runner")
    val outTopics = ResultPublisher.egress.values.map(e => new File(s"$work/topics/${e.topic}")).toSeq
    val publishSeq = mutable.Map.empty[String, Int] // output file name → publish number
    val steps = mutable.ArrayBuffer.empty[Step]
    var publishes = 0
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Move a chunk's files into the input topics. Both are first copied
      * under hidden names, then renamed back to back while the union runner
      * is between triggers, so the file sources never see a partial file
      * and no trigger sees one file of a chunk without the other. */
    def append(chunk: File): Step = {
      val moves = Seq("Routes_topic" -> "routes.json", "Trips_topic" -> "trips.json").map {
        case (topic, name) =>
          val src = new File(chunk, name)
          Option.when(src.exists) {
            val dir = Paths.get(s"$work/topics/$topic")
            val tmp = dir.resolve(s".${chunk.getName}-$name")
            Files.copy(src.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
            tmp -> dir.resolve(s"${chunk.getName}-$name")
          }
      }
      while (union.exists(_.status.isTriggerActive)) Thread.sleep(1)
      val Seq(routes, trips) = moves.map(_.map { case (tmp, dst) =>
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE).toString
      })
      Step(routes, trips)
    }
    def processAll(): Unit = queries.foreach(_.processAllAvailable())

    def cycle(op: String, chunk: File): Option[Cycle] = {
      attempted += 1
      tr.currentOp = op
      val before = sc.getPersistentRDDs.keySet
      val gc0 = Tracer.gcSeconds()
      def unionBatch() = union.flatMap(q => Option(q.lastProgress)).fold(-1L)(_.batchId)
      val batch0 = unionBatch()
      try {
        val c = tr.span("chunk", op) {
          val start = tr.nowMs
          tr.span("append", op)(steps += append(chunk))
          val t0 = System.nanoTime()
          tr.span("process", op, anchor = true)(processAll())
          val tp = System.nanoTime()
          tr.span("publish", op)(tr.jobs(op, "publish")(publish()))
          val t1 = System.nanoTime()
          publishes += 1
          outTopics.flatMap(d => Option(d.listFiles).getOrElse(Array.empty[File]))
            .map(_.getName).filter(n => n.startsWith("part-") && !publishSeq.contains(n))
            .foreach(publishSeq(_) = publishes)
          (start, (t1 - t0) / 1e9, (t1 - tp) / 1e9)
        }
        System.err.println(f"[perfbench] $op%s: freshness ${c._2}%.3f s, publish ${c._3}%.3f s, " +
          f"gc ${Tracer.gcSeconds() - gc0}%.3f s, union-runner triggers ${unionBatch() - batch0}")
        val staged = if (tr.enabled) sc.getPersistentRDDs.keySet -- before else Set.empty[Int]
        val stagedBytes = if (staged.isEmpty) 0L
          else sc.getRDDStorageInfo.filter(i => staged(i.id)).map(i => i.memSize + i.diskSize).sum
        val (stateBytes, topicBytes) =
          if (tr.enabled) (dirBytes(new File(s"$work/state")), outTopics.map(dirBytes).sum) else (0L, 0L)
        Some(Cycle(op, events(chunk), c._1, c._2, c._3, staged.size, stagedBytes, stateBytes, topicBytes))
      } catch {
        case e: Throwable =>
          failed += 1
          errors += Map("name" -> s"run:$op", "ok" -> false, "detail" -> e.toString.take(500))
          System.err.println(s"[perfbench] $op FAILED: $e")
          None
      } finally tr.drain()
    }

    val warm = chunks.take(WarmChunks).map(c => cycle(s"warm/${c.getName}", c))
    val setupS = (tr.nowMs - jvmStartMs) / 1e3 - probeS
    val lastWarm = warm.lastOption.flatten

    val timed = mutable.ArrayBuffer.empty[Cycle]
    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    val pending = chunks.drop(WarmChunks).iterator
    while ((timed.size < MinTimedChunks || elapsed < a.seconds) && pending.hasNext && failed == 0) {
      val c = pending.next()
      timed ++= cycle(c.getName, c)
    }
    val timedS = elapsed
    if (!pending.hasNext && elapsed < a.seconds)
      System.err.println(s"[perfbench] ran out of chunks after ${timed.size}; generate more")

    // ---- output checks ----------------------------------------------------
    tr.currentOp = "check"
    val routes = Decode.routes(StreamAdapters.readBatchRaw(spark, ref("Routes_topic")))
    val trips = Decode.trips(StreamAdapters.readBatchRaw(spark, ref("Trips_topic")))
    val wms = watermarks(steps.toSeq, trips)
    val closed = col("window_start") <= lit(new java.sql.Timestamp(wms.last - HourMs))
    val answers = batchAnswers(routes, trips) +
      ("q11_window_top_type" -> TransitQueries.q11(trips).filter(closed))
    val q12 = "q12_window_least_occupied_type"
    def check(name: String)(body: => (Boolean, String)): Map[String, Any] = {
      attempted += 1
      val (ok, detail) = try body catch { case e: Throwable => (false, e.toString.take(500)) }
      if (!ok) failed += 1
      Map("name" -> name, "ok" -> ok, "detail" -> detail)
    }
    // every published record, keyed to the publish step that wrote it
    val published = spark.read.schema(StreamAdapters.rawSchema).json(outTopics.map(_.getPath): _*)
      .select(input_file_name(), col("key"), col("value")).collect().toSeq.map { r =>
        val f = new File(new java.net.URI(r.getString(0)).getPath)
        (f.getParentFile.getName, publishSeq.getOrElse(f.getName, -1), s"${r.getString(1)} ${r.getString(2)}")
      }.groupBy(_._1)
    val checks = ResultPublisher.egress.keys.toSeq.sorted.flatMap { name =>
      val topic = ResultPublisher.egress(name).topic
      Seq(
        check(s"table:$name") {
          answers.get(name) match {
            case Some(expected) =>
              val actual = job.store(name).select(expected.columns.map(col).toSeq: _*)
              sameRows(Fingerprint.canonicalRows(actual), Fingerprint.canonicalRows(expected))
            case None =>
              require(name == q12)
              checkQ12(spark, steps.toSeq, wms, trips, job.store(name))
          }
        },
        check(s"topic:$topic") {
          val recs = published.getOrElse(topic, Nil)
          val unmapped = recs.count(_._2 < 0)
          // per key, the records of the last publish step that carried it
          val latest = recs.groupBy(_._3.takeWhile(_ != ' ')).values.flatMap { rs =>
            val last = rs.map(_._2).max
            rs.filter(_._2 == last).map(_._3)
          }.toSeq
          val wire = ResultPublisher.toWire(name, job.store(name)).select("key", "value")
            .collect().toSeq.map(r => s"${r.getString(0)} ${r.getString(1)}")
          val (ok, detail) = sameRows(latest, wire)
          (ok && unmapped == 0, s"$detail unmapped=$unmapped")
        })
    }
    queries.foreach(_.stop())

    val fresh = timed.map(_.freshnessS).toSeq
    val timedEvents = timed.map(_.events).sum
    val n = fresh.size
    // the tail is the highest listed percentile with at least 10 chunks beyond it
    val tail = Seq(99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_p50_s" -> median(fresh),
      "throughput_per_s" -> timedEvents / timedS)
    val reported = Map(
      "setup_s" -> setupS, "events_per_s" -> timedEvents / timedS,
      "freshness_p50_s" -> median(fresh),
      "freshness_tail_s" -> tail.map(p => Main.percentile(fresh, p)),
      "freshness_tail_percentile" -> tail, "freshness_samples" -> n,
      "failed_frac" -> failed.toDouble / attempted,
      "timed_chunks" -> n, "timed_events" -> timedEvents, "timed_s" -> timedS,
      "freshness_s" -> fresh)

    val ops = timed.map(_.op).toSet
    val perLayer = if (!tr.enabled || timed.isEmpty) Map.empty[String, Double] else {
      val per = timed.size.toDouble
      val progress = timed.flatMap(c => tr.progressOf(c.op)).toSeq
      def phase(q: Option[String], keys: String => Boolean): Double =
        progress.filter(p => q.forall(_ == p.query))
          .map(_.durations.collect { case (k, v) if keys(k) => v }.sum).sum / 1e3 / per
      val phases = Seq(
        "add_batch_s" -> ((k: String) => k == "addBatch"),
        "planning_s" -> ((k: String) => k == "queryPlanning"),
        "commit_s" -> ((k: String) => k.toLowerCase.contains("commit")),
        "source_s" -> ((k: String) => k == "getBatch" || k == "latestOffset"))
      val perQuery = for ((ph, keys) <- phases; q <- None +: StreamQueries.map(Some(_)))
        yield (s"streaming.$ph" + q.map("." + _).getOrElse("")) -> phase(q, keys)
      val lastState = StreamQueries.flatMap(q => progress.filter(_.query == q).lastOption)
      val growth = (lastWarm.toSeq ++ timed).sliding(2).collect {
        case Seq(x, y) => (y.stateDirBytes - x.stateDirBytes).toDouble }.toSeq
      val published = (lastWarm.toSeq ++ timed).sliding(2).collect {
        case Seq(x, y) => (y.topicBytes - x.topicBytes).toDouble }.toSeq
      val q = math.max(1, n / 4)
      tr.taskLayers(ops, per, timed.map(_.freshnessS).sum, Main.Cores) ++ perQuery ++ Map(
        "engine.staged_frames" -> timed.map(_.stagedFrames).sum / per,
        "engine.staged_bytes" -> timed.map(_.stagedBytes).sum / per,
        "engine.artifact_builds" -> Registry.artifactCounters()._1.toDouble,
        "engine.artifact_build_s" -> Registry.artifactCounters()._2,
        "spark.driver_gap_s" -> timed.map(c =>
          tr.driverGap(c.op, c.start, c.start + c.freshnessS * 1e3)).sum / per,
        "streaming.jobs_per_trigger" -> tr.sum(ops, _.startsWith("stream:"))(_.jobs) / per,
        "streaming.union_jobs_per_trigger" -> tr.sum(ops, _ == "stream:union_runner")(_.jobs) / per,
        "streaming.state_rows" -> lastState.map(_.stateRows).sum.toDouble,
        "streaming.state_bytes" -> lastState.map(_.stateBytes).sum.toDouble,
        "streaming.snapshot_bytes" -> median(growth),
        "streaming.trigger_growth" -> median(fresh.takeRight(q)) / median(fresh.take(q)),
        "streaming.publish_s" -> timed.map(_.publishS).sum / per,
        "streaming.publish_jobs" -> tr.sum(ops, _ == "publish")(_.jobs) / per,
        "streaming.published_bytes" -> median(published),
        "jvm.peak_rss_mb" -> Tracer.peakRssMb(),
        "jvm.gc_s" -> Tracer.gcSeconds())
    }
    Outcome(endToEnd, reported, perLayer, attempted, failed, errors.toSeq ++ checks)
  }
}
