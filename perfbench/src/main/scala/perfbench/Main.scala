package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's JVM: runs one workload in one Spark application and
  * prints one `PERFBENCH_RESULT {...}` line for `perfbench/run.py`.
  *
  * {{{
  * java ... perfbench.Main --workload transit_city --seed 1 --seconds 12 \
  *   --trace 0 --work <dir> --data <sf dir> --inputs <chunk dir>
  * java ... perfbench.Main --workload registry_sf0.01 --seed 1 --seconds 12 \
  *   --trace 0 --work <dir> --data <sf dir> --expected <json>
  * java ... perfbench.Main --record-expected <json> --queries a,b,c --data <sf dir> --work <dir>
  * }}}
  */
object Main {
  /** Cores of the `local[n]` master; `--cores 1` gives the single-threaded
    * baseline. */
  var Cores = 4

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = kv.get("trace").contains("1")
  }

  /** What a workload hands back: gated metrics, the per-workload figures
    * for the record, per-layer metrics and the failure tally. */
  final case class Outcome(endToEnd: Map[String, Double], reported: Map[String, Any],
                           perLayer: Map[String, Double], attempted: Int, failed: Int,
                           checks: Seq[Map[String, Any]])

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_.head.startsWith("--")),
      s"expected --key value pairs: ${argv.mkString(" ")}")
    Args(argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
  }

  /** Session as `graft.Bench` builds it: Bench's confs, shuffle defaults
    * (shuffle partitions = cores) and staging policy, with every scratch
    * directory inside `work`. Both workloads use it: `MainApp.main` leaves
    * the shuffle partitions at Spark's default of 200, and with 200 state
    * store partitions per stateful query one trigger takes about 90 s on
    * 4 cores. */
  def benchSession(work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$Cores]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", "200")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(graft.engine.Staging.PolicyKey, graft.engine.Staging.LocalCheckpoint)
      .config(graft.engine.Artifacts.DirKey, s"$work/artifacts")
    graft.engine.Tuning.applyShuffleDefaults(scratch(b, work), Cores)
    start(b)
  }

  private def scratch(b: SparkSession.Builder, work: String): SparkSession.Builder =
    b.config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.engine.Staging.DirKey, s"$work/staging")

  private def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The `ref_query_s` probe of `graft.Bench`: one scan + group-agg over
    * lineitem, timed once after one warm-up run (Bench takes the median of
    * three; one sample keeps the probe inside the run budget). */
  def refProbe(spark: SparkSession, data: String): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$data/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"), avg("l_discount"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.ceil(p / 100 * s.size).toInt - 1 max 0))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.get("cores").foreach(c => Cores = c.toInt)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    if (a.get("record-expected").nonEmpty) { Registry.recordExpected(a); return }

    val workload = a("workload")
    require(Set("transit_city", "registry_sf0.01")(workload), s"unknown workload '$workload'")
    val spark = benchSession(work)
    val tracer = new Tracer(spark, a.trace)
    val loadStart = Tracer.loadavg()
    tracer.currentOp = "probe"
    val probeStartT0 = System.nanoTime()
    val refStart = refProbe(spark, a("data"))
    val probeS = (System.nanoTime() - probeStartT0) / 1e9
    val out = tracer.span("workload", workload) {
      workload match {
        case "transit_city" => Transit.run(spark, tracer, a, jvmStartMs, probeS)
        case _ => Registry.run(spark, tracer, a, jvmStartMs, probeS)
      }
    }
    val refEnd = refProbe(spark, a("data"))
    val loadEnd = Tracer.loadavg()
    if (a.trace) Files.writeString(Paths.get(s"$work/spans.json"), tracer.spansJson)
    val provenance = Map(
      "cores" -> Cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "spark_version" -> spark.version,
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "java_version" -> sys.props("java.version"),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "ref_query_s_start" -> refStart, "ref_query_s_end" -> refEnd)
    val result = Map(
      "workload" -> workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "end_to_end" -> out.endToEnd, "reported" -> out.reported, "per_layer" -> out.perLayer,
      "attempted" -> out.attempted, "failed" -> out.failed, "checks" -> out.checks,
      "provenance" -> provenance)
    spark.stop()
    println("PERFBENCH_RESULT " + Json.write(result))
  }
}
