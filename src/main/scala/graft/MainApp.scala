package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.StreamAdapters
import graft.sources.StreamAdapters.TopicRef
import graft.streaming.{ResultPublisher, TransitStreamingJob}

/** The production runner — `MainStreamApp.java:12-44` re-expressed: one
  * Spark application subscribing to `Routes_topic`/`Trips_topic`, running
  * all 13 queries continuously, and publishing every result to its
  * `projeto3_*` topic in Connect-envelope form.
  *
  * Transport selection is the adapter's and is decided by the CLASSPATH:
  * `format("kafka")` when the `spark-sql-kafka` connector jar is deployed,
  * JSON-lines directories under `--topics` otherwise; `--bootstrap` only
  * configures where the Kafka branch points.
  *
  * Usage:
  * {{{
  * sbt "runMain graft.MainApp --topics /data/topics \
  *      --checkpoint /data/ckpt --state /data/state --publish-every 10"
  * }}}
  * `--state` enables durable restart-safe state; restarting over an
  * existing checkpoint WITHOUT it is refused (sources would resume their
  * committed offsets while every counter restarts empty — silently wrong
  * results forever).
  *
  * The session is [[graft.engine.Session]]'s, the one the benchmarks
  * measure. Engine confs come from the deployment: on a real cluster pass
  * `--conf spark.graft.staging=reliable-checkpoint --conf
  * spark.graft.staging.dir=hdfs://.../stage` so an executor loss recovers
  * instead of killing the stream ([[graft.engine.Staging]]).
  */
object MainApp {

  final case class Conf(
      topicsDir: Option[String] = None,
      bootstrap: String = "localhost:9092",
      checkpoint: String = "/tmp/graft-ckpt",
      stateDir: Option[String] = None,
      publishEverySec: Long = 10L,
      stateStore: String = "default")

  def parse(args: Array[String]): Conf = {
    require(args.length % 2 == 0,
      s"flags take one value each: ${args.mkString(" ")}")
    val conf = args.sliding(2, 2).foldLeft(Conf()) {
      case (_, Array(flag, v)) if v.startsWith("--") =>
        throw new IllegalArgumentException(s"flag $flag is missing its value (got '$v')")
      case (c, Array("--topics", v))        => c.copy(topicsDir = Some(v))
      case (c, Array("--bootstrap", v))     => c.copy(bootstrap = v)
      case (c, Array("--checkpoint", v))    => c.copy(checkpoint = v)
      case (c, Array("--state", v))         => c.copy(stateDir = Some(v))
      case (c, Array("--publish-every", v)) => c.copy(publishEverySec = v.toLong)
      case (c, Array("--state-store", v))   => c.copy(stateStore = v)
      case (_, other) =>
        throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
    }
    require(conf.publishEverySec > 0,
      s"--publish-every must be positive, got ${conf.publishEverySec}")
    require(Set("default", "rocksdb")(conf.stateStore),
      s"--state-store must be default|rocksdb, got '${conf.stateStore}'")
    conf
  }

  def topicRef(conf: Conf)(topic: String): TopicRef =
    TopicRef(topic, bootstrap = conf.bootstrap, fallbackDir = conf.topicsDir)

  /** Wire the whole app: create the input topics (idempotent, as the
    * reference runner does at startup), subscribe → 13 queries → one
    * periodic-publish step that skips cycles where nothing changed.
    * Returns the job, its queries, and the publish step (testable without
    * blocking). */
  def wire(spark: SparkSession, conf: Conf): (TransitStreamingJob, Seq[StreamingQuery], () => Unit) = {
    // `--state-store rocksdb`: off-heap keyed state for user/document-
    // cardinality ledgers (streaming.StateStores) — set BEFORE any
    // query starts, kept stable across restarts of one checkpoint
    if (conf.stateStore == "rocksdb")
      graft.streaming.StateStores.useRocksDb(spark)
    val ckptExists = new java.io.File(conf.checkpoint).exists()
    require(conf.stateDir.nonEmpty || !ckptExists,
      s"checkpoint ${conf.checkpoint} exists but no --state was given: sources " +
        "would resume committed offsets over empty counters (wrong results); " +
        "pass --state, or remove the checkpoint to reprocess from scratch")
    val ref = topicRef(conf) _
    Seq("Routes_topic", "Trips_topic")
      .foreach(t => StreamAdapters.createTopicIfNotExists(ref(t)))
    val job = TransitStreamingJob.fromTopics(
      spark, ref("Routes_topic"), ref("Trips_topic"), conf.stateDir)
    val queries = job.startAll(conf.checkpoint)
    var publishedAt = -1L
    val publish = () => {
      val m = job.store.mutationCount
      if (m != publishedAt) {
        ResultPublisher.publishAll(job.store, ref)
        publishedAt = m
      }
    }
    (job, queries, publish)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val spark = graft.engine.Session.build("graft-transit")
    val (_, queries, publish) = wire(spark, conf)
    val publisher = new Thread(() => {
      try {
        while (queries.exists(_.isActive)) {
          Thread.sleep(conf.publishEverySec * 1000L)
          try publish()
          catch { case NonFatal(e) => e.printStackTrace() }
        }
      } catch { case _: InterruptedException => Thread.currentThread().interrupt() }
    }, "graft-publisher")
    publisher.setDaemon(true)
    publisher.start()
    try spark.streams.awaitAnyTermination()
    finally {
      // one query failing must not leave the others running headless
      queries.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      publish() // final flush of the last maintained state
    }
  }
}
