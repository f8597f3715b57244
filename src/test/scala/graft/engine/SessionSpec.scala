package graft.engine

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The session contract of [[Session]]: one decision, a pure function of
  * (deployment conf, cores), for every entry point — so the production
  * runner runs the configuration the benchmarks measure — and a deployment
  * value always wins over an engine default. */
class SessionSpec extends AnyFunSuite with Matchers {
  private val Static = Tuning.StaticNumKey
  private val Initial = Tuning.InitialNumKey

  test("MainApp and Bench get the same engine confs") {
    // Bench/Verify under sbt: SPARK_GRAFT_CPUS and the JVM's -D confs;
    // MainApp under spark-submit: a cluster master and an app name
    val bench = Session.confs(Session.deployment(
      Map("spark.sql.session.timeZone" -> "UTC"), Map("SPARK_GRAFT_CPUS" -> "4")), 4)
    val main = Session.confs(Session.deployment(
      Map("spark.master" -> "yarn", "spark.app.name" -> "transit"), Map.empty), 4)
    for (c <- Seq(bench, main)) {
      c(Static) shouldBe "4"
      c(Initial) shouldBe Tuning.initialPartitions(4).toString
      c("spark.sql.codegen.maxFields") shouldBe "200"
      c("spark.sql.session.timeZone") shouldBe "UTC"
      c("spark.sql.extensions") shouldBe "graft.GraftExtensions"
      c(Staging.PolicyKey) shouldBe Staging.defaultFor(c("spark.master"))
    }
    bench("spark.master") shouldBe "local[4]"
    bench(Staging.PolicyKey) shouldBe Staging.LocalCheckpoint
    main(Staging.PolicyKey) shouldBe Staging.ReliableCheckpoint
    // the engine keys differ only where the deployments did
    val engineKeys = Set(Static, Initial, "spark.sql.codegen.maxFields",
      "spark.sql.session.timeZone", "spark.sql.extensions")
    bench.filter(kv => engineKeys(kv._1)) shouldBe main.filter(kv => engineKeys(kv._1))
    // wide start scales with the core count
    Session.confs(Map.empty, 32)(Initial) shouldBe Tuning.initialPartitions(32).toString
    Session.confs(Map.empty, 32)(Static) shouldBe "32"
  }

  test("a deployment-pinned shuffle width wins over the defaults") {
    // deployment pinned spark.sql.shuffle.partitions → choosing a static
    // width is choosing a layout; the wide start must not widen behind it
    val pinnedStatic = Session.confs(Map(Static -> "12"), 4)
    pinnedStatic(Static) shouldBe "12"
    pinnedStatic.get(Initial) shouldBe None
    // unpinned → the wide start
    Session.confs(Map.empty, 4)(Initial) shouldBe Tuning.initialPartitions(4).toString
    // an explicit deployment setting of the start always wins
    val pinnedStart = Session.confs(Map(Initial -> "7"), 4)
    pinnedStart(Initial) shouldBe "7"
    pinnedStart(Static) shouldBe "4"
    // the pin counts from every deployment channel: the SparkConf
    // (spark-submit --conf, spark-defaults) and SPARK_GRAFT_CONF
    Session.confs(Session.deployment(Map(Static -> "12"), Map.empty), 4)
      .get(Initial) shouldBe None
    val viaEnv = Session.confs(Session.deployment(Map.empty,
      Map("SPARK_GRAFT_CONF" -> s"$Static=9;$Initial=7")), 4)
    viaEnv(Static) shouldBe "9"
    viaEnv(Initial) shouldBe "7"
  }

  test("deployment precedence: conf keys over env shorthands, master env over conf") {
    val d = Session.deployment(
      Map("spark.master" -> "yarn", Staging.PolicyKey -> Staging.Persist,
        "spark.executor.memory" -> "2g"),
      Map("SPARK_GRAFT_STAGING" -> Staging.ReliableCheckpoint,
        "SPARK_GRAFT_ARTIFACTS_DIR" -> "/shared/artifacts",
        "SPARK_GRAFT_MASTER" -> "local-cluster[2,2,1024]",
        "SPARK_GRAFT_CONF" -> "spark.executor.memory=4g; bad-token ;spark.jars=/a.jar"))
    d("spark.master") shouldBe "local-cluster[2,2,1024]"
    d(Staging.PolicyKey) shouldBe Staging.Persist
    d(Artifacts.DirKey) shouldBe "/shared/artifacts"
    d("spark.executor.memory") shouldBe "4g"
    d("spark.jars") shouldBe "/a.jar"
    d.keySet should not contain "bad-token"
    val c = Session.confs(d, 4)
    c(Staging.PolicyKey) shouldBe Staging.Persist
    c("spark.master") shouldBe "local-cluster[2,2,1024]"
    // the env shorthand applies when no conf key is set
    Session.deployment(Map.empty, Map("SPARK_GRAFT_STAGING" -> Staging.Persist))(
      Staging.PolicyKey) shouldBe Staging.Persist
    Session.cores(Map("SPARK_GRAFT_CPUS" -> "6")) shouldBe 6
    Session.cores(Map.empty) shouldBe Runtime.getRuntime.availableProcessors
  }

  test("no session is built outside engine/Session.scala") {
    val root = Paths.get("src/main/scala")
    Files.isDirectory(root) shouldBe true
    val owner = root.resolve("graft/engine/Session.scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_: Path).toString).toSeq
    offenders shouldBe empty
    Files.readString(owner) should include("SparkSession.builder")
  }
}
