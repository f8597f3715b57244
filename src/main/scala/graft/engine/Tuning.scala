package graft.engine

import org.apache.spark.sql.SparkSession

/** Engine-default shuffle sizing (VERDICT r15 #1): shuffles start WIDE,
  * AQE's size-based coalesce shrinks the small ones back.
  *
  * The sf10 shuffle-partition A/B (SCALE_SWEEP §round-15) measured what a
  * single static `spark.sql.shuffle.partitions` cannot deliver at the
  * fourth decade: at 32 partitions the shuffle-dense scorers were
  * SPILL-bound (sim_pq_recall 134.6 s, dedup_sig_calibration 151.5 s —
  * multi-hundred-MB reduce partitions at 32-way), while a static 128 made
  * the probe-style pipelines pay ~3× (every tiny probe stage fanned out to
  * 128 tasks). Neither global number is right; the partition count has to
  * track the DATA, per exchange.
  *
  * That is exactly what AQE's coalesce already does — but it can only ever
  * MERGE map-output partitions, never split them, so with the initial
  * partition count pinned at core-count the 64 MB advisory target is
  * unreachable for any exchange larger than cores × 64 MB: the reduce side
  * runs few oversized spilling tasks, and AQE is powerless to help. The
  * engine default therefore raises only the STARTING width
  * (`spark.sql.adaptive.coalescePartitions.initialPartitionNum` =
  * [[InitialFactor]] × cores) and leaves every coalesce knob at its Spark
  * default. With `parallelismFirst` true the per-exchange target stays
  * min(64 MB advisory, max(total/cores, 1 MB)), so:
  *
  *   - big exchanges keep ~total/64 MB partitions — the spill fix: a
  *     12 GB shuffle runs ~200 × 64 MB tasks instead of 32 × 400 MB
  *     spillers (measured: the three sf10 scorers recover 2.5–4.6×);
  *   - small exchanges coalesce to the SAME final layout they had before
  *     (the target formula does not involve the initial count), so the
  *     probe pipelines, the sf0.1 graded bench, and the CPU-dense dedup
  *     stages that round 14 measured regressing under byte-first
  *     coalescing are all unchanged — the only delta is map-side bucket
  *     count, which is noise at these widths;
  *   - explicit `repartition(n, …)` calls (REPARTITION_BY_NUM origin,
  *     e.g. [[graft.sources.Tables.spread]]) are untouched: AQE does not
  *     resize user-pinned exchanges, and this default does not either.
  *
  * Result rows are partition-layout independent (the full oracle suite is
  * proven green under local[8], local[32] and local-cluster[2,4] — the
  * layout already varies across those), so this is a pure cost knob.
  */
object Tuning {
  /** Initial-width multiplier over core count. 8× lets AQE reach the
    * 64 MB advisory for exchanges up to cores × 512 MB (≈16 GB at 32
    * cores) — comfortably past the engine's largest sf10 exchange — while
    * keeping the map-side bucket fan-out trivial. */
  val InitialFactor = 8

  /** The engine-default initial shuffle width for a core count. */
  def initialPartitions(cores: Int): Int = math.max(64, cores * InitialFactor)

  val StaticNumKey = "spark.sql.shuffle.partitions"

  val InitialNumKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** The engine's shuffle sizing for a core count: static
    * `spark.sql.shuffle.partitions` = cores (the non-AQE floor and the
    * width of non-coalescible exchanges) and the wide AQE starting width
    * above. [[Session]] applies these under the deployment's own values.
    *
    * Dynamic-allocation caveat: the core count is fixed when the session is
    * built. Under `spark.dynamicAllocation.enabled` a deployment should set
    * `initialPartitionNum` from the allocation ceiling
    * (`spark.dynamicAllocation.maxExecutors` × executor cores ×
    * [[InitialFactor]]); the engine does not guess it. */
  def shuffleDefaults(cores: Int): Map[String, String] =
    Map(StaticNumKey -> cores.toString, InitialNumKey -> initialPartitions(cores).toString)

  /** [[shuffleDefaults]] applied to a session builder. */
  def applyShuffleDefaults(builder: SparkSession.Builder,
                           cores: Int): SparkSession.Builder =
    shuffleDefaults(cores).foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
}
