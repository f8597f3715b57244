package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The online half of every train-offline / score-online operator: records
  * arrive as a stream and each micro-batch is scored against a FROZEN
  * model or index through the SAME operator function the oracle-checked
  * batch query uses, so a streamed record gets exactly the batch answer
  * (the `Streaming*Spec` suites pin streamed == batch per operator).
  *
  * The operators pass their probe as `score`, for example
  * `Similarity.annProbe(corpus, _)`, `Dedup.probeIndex(index, _)`,
  * `TextAnalysis.probeSurprisal(model, _)` or
  * `Corpus.dsirScore(model, _)`.
  *
  * Design: foreachBatch, not a stream-static join chain. The probes end in
  * a per-record aggregation (best match, bounded top-k, per-document
  * rollup), a shape one continuous Structured Streaming query cannot run
  * but that is trivially correct per micro-batch: every record is scored
  * in the trigger it arrives in and the model side is static, so no state
  * crosses batches. Per-trigger cost is O(batch) against the model, which
  * is built once (at scale a persisted, bucketed table). Delivery to the
  * sink is exactly-once when the sink is idempotent by batchId — the
  * foreachBatch (batchId, deterministic recompute) contract. */
object FrozenModelProbe {

  /** Start the probe. `stream` is a STREAMING frame of the shape `score`
    * expects; `sink` receives (batchId, scored frame) per trigger. */
  def run(stream: DataFrame, checkpointDir: String)(score: DataFrame => DataFrame)(
      sink: (Long, DataFrame) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, batchId: Long) => sink(batchId, score(batch)))
      .start()
}
