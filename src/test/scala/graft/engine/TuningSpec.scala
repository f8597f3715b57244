package graft.engine

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the wide-start shuffle-sizing default (engine.Tuning, VERDICT r15
  * #1): the width formula (the override contract is SessionSpec's) and the
  * semantic invariant that the starting width is a pure cost knob — results are
  * bit-identical whatever the initial partition count, because AQE's
  * size-based coalesce only changes the exchange LAYOUT. The measured
  * payoff lives in SCALE_SWEEP §round-16 (sf10 five-query A/B: 530 s at
  * static cores-wide → 137 s under this default). */
class TuningSpec extends SparkSpec {
  private val Key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  test("initialPartitions is 8x cores with a 64 floor") {
    Tuning.initialPartitions(32) shouldBe 256
    Tuning.initialPartitions(8) shouldBe 64
    Tuning.initialPartitions(4) shouldBe 64 // floor: small test topologies
    Tuning.initialPartitions(128) shouldBe 1024
  }

  test("wide start is a pure cost knob: identical results at 4 vs 512") {
    val sp = spark; import sp.implicits._
    val df = (1 to 5000).map(i => (i % 97L, i.toLong, s"v$i")).toDF("k", "n", "s")
    def run(): Seq[(Long, Long, Long)] = df.groupBy("k")
      .agg(sum("n").as("sn"), count(lit(1)).as("c"))
      .join(df.select(col("k"), col("n").as("m")), "k")
      .groupBy("k").agg(max("sn").as("sn"), max("c").as("c"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val prior = spark.conf.getOption(Key)
    try {
      spark.conf.set(Key, "4")
      val narrow = run()
      spark.conf.set(Key, "512")
      val wide = run()
      wide shouldBe narrow
    } finally {
      prior match {
        case Some(v) => spark.conf.set(Key, v)
        case None    => spark.conf.unset(Key)
      }
    }
  }
}
