package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `registry_sf0.01`: a fixed list of `SparkEntry.queries` on the sf0.01
  * fixture, one query at a time, each built and then run as a `noop` write
  * exactly as `graft.Bench` times it. The list is the key set of the
  * expected-output file; the seed fixes the order the queries run in.
  *
  * Set-up is the session plus one untimed pass (artifact builds, codegen,
  * JIT). The timed window runs whole passes until `--seconds` have passed.
  * After it, an untimed check pass fingerprints every query's result
  * against the expected file. */
object Registry {
  import Main.{Outcome, median, percentile}

  private final case class Sample(op: String, name: String, start: Double, constructS: Double,
                                  wallS: Double, stagedFrames: Int, stagedBytes: Long)

  /** Durable-artifact build counters of `graft.engine.Artifacts`; they are
    * package-private, so they are read by reflection. */
  def artifactCounters(): (Long, Double) =
    try {
      val cls = Class.forName("graft.engine.Artifacts$")
      val mod = cls.getField("MODULE$").get(null)
      val builds = cls.getMethod("buildsRun").invoke(mod)
        .asInstanceOf[java.util.concurrent.atomic.AtomicLong].get
      val secs = cls.getMethod("buildSeconds").invoke(mod)
        .asInstanceOf[scala.collection.Map[String, Double]].values.sum
      (builds, secs)
    } catch { case _: Throwable => (0L, 0.0) }

  def run(spark: SparkSession, tr: Tracer, a: Main.Args, jvmStartMs: Double,
          probeS: Double): Outcome = {
    val data = a("data")
    val expected = Json.readExpected(Files.readString(Paths.get(a("expected"))))
    val names = expected.keys.toSeq.sorted
    val order = new Random(a.seed).shuffle(names)
    val sc = spark.sparkContext
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runOnce(op: String, name: String): Option[Sample] = {
      attempted += 1
      tr.currentOp = op
      val before = sc.getPersistentRDDs.keySet
      try tr.span("query", op) {
        val t0 = System.nanoTime()
        val start = tr.nowMs
        val df = tr.span("construct", op) {
          tr.jobs(op, "construct")(SparkEntry.queries(name)(spark, data))
        }
        val t1 = System.nanoTime()
        tr.span("action", op, anchor = true) {
          tr.jobs(op, "action")(df.write.format("noop").mode("overwrite").save())
        }
        val staged = if (tr.enabled) sc.getPersistentRDDs.keySet -- before else Set.empty[Int]
        val stagedBytes = if (staged.isEmpty) 0L
          else sc.getRDDStorageInfo.filter(i => staged(i.id)).map(i => i.memSize + i.diskSize).sum
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        val t2 = System.nanoTime()
        Some(Sample(op, name, start, (t1 - t0) / 1e9, (t2 - t0) / 1e9, staged.size, stagedBytes))
      } catch {
        case e: Throwable =>
          failed += 1
          errors += Map("name" -> s"run:$op", "ok" -> false, "detail" -> e.toString.take(500))
          System.err.println(s"[perfbench] $op FAILED: $e")
          None
      } finally tr.drain()
    }

    val (builds0, buildS0) = artifactCounters()
    order.foreach(n => runOnce(s"warm/$n", n))
    val setupS = (tr.nowMs - jvmStartMs) / 1e3 - probeS

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    var pass = 0
    while (pass == 0 || elapsed < a.seconds) {
      val p0 = System.nanoTime()
      samples ++= order.flatMap(n => runOnce(s"p$pass/$n", n))
      passWalls += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    val timedS = elapsed
    val (builds1, buildS1) = artifactCounters()

    // the output check: untimed, after the timed window
    val checks = names.map { n =>
      attempted += 1
      tr.currentOp = s"check/$n"
      val exp = expected(n)
      val verdict = try {
        val fp = Fingerprint.of(SparkEntry.queries(n)(spark, data))
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        val ok = fp.rows.toString == exp("rows") && fp.fingerprint == exp("fingerprint")
        Map("name" -> s"output:$n", "ok" -> ok,
          "detail" -> s"rows=${fp.rows} fingerprint=${fp.fingerprint} expected rows=${exp("rows")} fingerprint=${exp("fingerprint")}")
      } catch { case e: Throwable =>
        Map("name" -> s"output:$n", "ok" -> false, "detail" -> e.toString.take(500))
      }
      if (verdict("ok") == false) failed += 1
      verdict
    }

    val walls = samples.map(_.wallS).toSeq
    val passTotals = samples.groupBy(_.op.takeWhile(_ != '/')).values.map(_.map(_.wallS).sum).toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_p50_s" -> median(walls),
      "throughput_per_s" -> samples.size / timedS)
    val reported = Map(
      "setup_s" -> setupS, "total_s" -> median(passTotals), "query_p50_s" -> median(walls),
      "query_p95_s" -> percentile(walls, 95), "failed_frac" -> failed.toDouble / attempted,
      "queries" -> names.size, "timed_passes" -> pass, "timed_s" -> timedS,
      "per_query_s" -> samples.groupBy(_.name).map { case (n, s) => n -> median(s.map(_.wallS).toSeq) })

    val ops = samples.map(_.op).toSet
    val perLayer = if (!tr.enabled) Map.empty[String, Double] else
      tr.taskLayers(ops, pass, passWalls.sum, Main.Cores) ++ Map(
        "operators.construct_s" -> samples.map(_.constructS).sum / pass,
        "operators.construct_jobs" -> tr.sum(ops, _ == "construct")(_.jobs).toDouble / pass,
        "engine.staged_frames" -> samples.map(_.stagedFrames).sum.toDouble / pass,
        "engine.staged_bytes" -> samples.map(_.stagedBytes).sum.toDouble / pass,
        "engine.artifact_builds" -> (builds1 - builds0).toDouble,
        "engine.artifact_build_s" -> (buildS1 - buildS0),
        "spark.driver_gap_s" -> samples.map(s =>
          tr.driverGap(s.op, s.start, s.start + s.wallS * 1e3)).sum / pass,
        "jvm.peak_rss_mb" -> Tracer.peakRssMb(),
        "jvm.gc_s" -> Tracer.gcSeconds())
    Outcome(endToEnd, reported, perLayer, attempted, failed, errors.toSeq ++ checks)
  }

  /** Write the expected row count and fingerprint of each named query. */
  def recordExpected(a: Main.Args): Unit = {
    val spark = Main.benchSession(a("work"))
    val entries = a("queries").split(",").toSeq.sorted.map { n =>
      val fp = Fingerprint.of(SparkEntry.queries(n)(spark, a("data")))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      s"  ${Json.quote(n)}: {\"rows\": ${fp.rows}, \"fingerprint\": ${Json.quote(fp.fingerprint)}}"
    }
    Files.writeString(Paths.get(a("record-expected")), entries.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
    println("PERFBENCH_RESULT " + Json.write(Map("recorded" -> entries.size)))
  }
}
