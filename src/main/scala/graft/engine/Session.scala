package graft.engine

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one SparkSession every entry point runs on (Bench, Verify, PlanDump,
  * StreamBench and the production runner `MainApp`), so the configuration
  * that is measured is the configuration that is deployed.
  *
  * Precedence has one rule: a value the deployment set wins over every
  * engine default. The deployment sets values through
  *   - spark-submit `--conf` and spark-defaults (the `SparkConf` the JVM
  *     starts with),
  *   - `SPARK_GRAFT_CONF`: ';'-separated `key=value` pairs,
  *   - `SPARK_GRAFT_STAGING` and `SPARK_GRAFT_ARTIFACTS_DIR`, shorthands for
  *     [[Staging.PolicyKey]] and [[Artifacts.DirKey]] that an explicit conf
  *     key overrides,
  *   - `SPARK_GRAFT_MASTER`, which wins over `spark.master`.
  *
  * The engine defaults fill in the rest: UTC session time, the
  * [[graft.GraftExtensions]] functions, `codegen.maxFields` = 200, the
  * shuffle sizing of [[Tuning]] for the core count, the staging policy of
  * [[Staging.defaultFor]] the master, `local[cores]` when no master is set,
  * and a fresh [[Artifacts.ephemeralRoot]]. The core count is
  * `SPARK_GRAFT_CPUS`, else the local machine's processor count, so a
  * cluster deployment sets `SPARK_GRAFT_CPUS` to its total executor cores
  * or pins the shuffle confs itself. */
object Session {

  /** Every conf the deployment set: its `SparkConf` plus the `SPARK_GRAFT_*`
    * environment, layered as the precedence rule above says. */
  def deployment(conf: Map[String, String], env: Map[String, String]): Map[String, String] =
    env.get("SPARK_GRAFT_STAGING").map(Staging.PolicyKey -> _).toMap ++
      env.get("SPARK_GRAFT_ARTIFACTS_DIR").map(Artifacts.DirKey -> _) ++
      conf ++
      env.get("SPARK_GRAFT_CONF").fold(Map.empty[String, String])(pairs) ++
      env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _)

  /** The session's confs for a deployment on `cores` cores: the engine
    * defaults with every deployment value on top. A deployment that pinned
    * the static `spark.sql.shuffle.partitions` also gets no wide AQE start:
    * choosing a static width is choosing a layout (see [[Tuning]]). */
  def confs(deployment: Map[String, String], cores: Int): Map[String, String] = {
    val master = deployment.getOrElse("spark.master", s"local[$cores]")
    val shuffle =
      if (deployment.contains(Tuning.StaticNumKey)) Map.empty[String, String]
      else Tuning.shuffleDefaults(cores)
    Map("spark.master" -> master,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      // keeps the 128-column MinHash signature aggregate inside whole-stage
      // codegen (at the default of 100 that stage runs interpreted)
      "spark.sql.codegen.maxFields" -> "200",
      Staging.PolicyKey -> Staging.defaultFor(master)) ++ shuffle ++ deployment
  }

  /** `SPARK_GRAFT_CPUS`, else the machine's processor count. */
  def cores(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Build (or join) the session for an entry point. */
  def build(appName: String): SparkSession = {
    val all = confs(deployment(new SparkConf().getAll.toMap, sys.env), cores(sys.env))
    val builder = SparkSession.builder().appName(appName)
    all.foreach { case (k, v) => builder.config(k, v) }
    if (!all.contains(Artifacts.DirKey)) builder.config(Artifacts.DirKey, Artifacts.ephemeralRoot())
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CONF` as pairs. A malformed token is reported, not
    * silently dropped: a run whose topology confs did not apply must not
    * pass for one that did. */
  private def pairs(spec: String): Map[String, String] =
    spec.split(";").iterator.map(_.trim).filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k.trim -> v)
        case _ =>
          System.err.println(
            s"[graft] WARNING: ignoring malformed SPARK_GRAFT_CONF token '$kv' (expected key=value)")
          None
      }
    }.toMap
}
