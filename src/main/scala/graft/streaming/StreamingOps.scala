package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming operators over the `events` stream schema.
  *
  * The reference has no event-time semantics (SURVEY.md §1.3 — its
  * queues are intra-job plumbing), so these are the graft's
  * forward-looking streaming surface: the same dedup/windowing
  * semantics expressed incrementally. Batch twins live in
  * RelationalOps (eventWindows) and TextOps (exactDedup), and the
  * specs assert batch/stream agreement on the same input.
  */
object StreamingOps {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema)
      .parquet(s"$dir") // directory of parquet part files

  /** Tumbling 1-hour window counts per event_type with a 2-hour
    * watermark — the streaming twin of RelationalOps.eventWindows. */
  def windowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .select(col("win.start").as("hour"), col("event_type"), col("n"), col("v"))

  /** Streaming exact-dedup on event_id within the watermark horizon —
    * destor's fingerprint-index probe as incremental state
    * (reference: src/index/index.c:140-217; the watermark bounds state
    * like destor's in-flight index buffer bounds memory,
    * src/index/index.c:234-258). */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming ingest into the persistent dedup index: every
    * micro-batch goes through the SAME IncrementalDedup.ingest path as
    * a batch ingest (probe stored postings, verify, merge clusters,
    * append the batch to the stores) — `foreachBatch` is exactly
    * destor's backup-job granularity (one jcr per stream segment,
    * reference src/do_backup.c:31-210), so a continuous source and a
    * nightly batch produce identical store states for identical data.
    * Batch ids are `<runPrefix>-<batchId>`; restarts are safe because
    * a re-delivered micro-batch id is rejected by the store manifest
    * (at-least-once source → exactly-once store commit). */
  def streamingIngest(
      images: org.apache.spark.sql.Dataset[graft.core.ImageRow],
      workDir: String,
      runPrefix: String,
      cfg: graft.core.DedupConfig = graft.core.DedupConfig.default)
      : org.apache.spark.sql.streaming.DataStreamWriter[graft.core.ImageRow] =
    images.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.core.ImageRow], batchId: Long) =>
        val inc = new graft.pipeline.IncrementalDedup(batch.sparkSession, workDir, cfg)
        val runId = s"$runPrefix-$batchId"
        if (!inc.ingested.contains(runId)) {
          val pinned = batch.localCheckpoint() // ingest consumes the batch 3x
          inc.ingest(pinned, runId)
          ()
        }
      }

  /** Streaming LSH candidate-pair generation with a STATEFUL per-bucket
    * posting store — destor's in-memory fingerprint index recast as
    * `flatMapGroupsWithState` (reference: kv probe+append
    * src/index/index.c:140-217; the FIFO value cap `index_value_length`
    * src/index/kvstore_htable.c:158-207 bounds each key's posting
    * list). Input: a stream of (doc_id: long, text: string). Per
    * micro-batch, each new posting is paired against the bucket's
    * stored members (emitting candidates new-vs-old AND new-vs-new),
    * then appended to the state FIFO, which keeps the newest
    * `cfg.indexValueLength` entries — so per-key state is bounded
    * exactly like destor's kv value list, and total state is
    * O(#distinct buckets × cap) regardless of stream length.
    *
    * Determinism: `flatMapGroupsWithState` guarantees no intra-group
    * row order, so a bucket's postings WITHIN one micro-batch are
    * processed in ascending doc_id (one sort of a per-batch-bounded
    * buffer); across micro-batches the FIFO is ingest order. Output
    * and retained state are therefore run-invariant: a micro-batch is
    * one ingest, like destor's jcr, and destor's kv list order within
    * one backup job is equally an implementation detail.
    *
    * Emission is at-least-once per pair (two docs sharing several bands
    * emit once per shared bucket) — identical to the batch candidate
    * stream before its `.distinct()`; downstream exact verify dedups,
    * or compare as a SET against `PairGen.bucketPairsLong` (the spec does).
    * With the default cap this is the streaming twin of the capped
    * batch probe in IncrementalDedup step 3. */
  def streamingCandidatePairs(
      docs: DataFrame,
      cfg: graft.core.DedupConfig = graft.core.DedupConfig.default)
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    graft.text.TextOps.minhashBands(docs, cfg)
      .select(col("band"), col("bucket"), col("doc_id").cast("long"))
      .as[(Int, Long, Long)]
      .groupByKey { case (band, bucket, _) => (band, bucket) }
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), rows: Iterator[(Int, Long, Long)], state: GroupState[Array[Long]]) =>
          var members = state.getOption.getOrElse(Array.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          val batchIds = rows.map(_._3).toArray
          java.util.Arrays.sort(batchIds) // canonical within-batch order
          batchIds.foreach { id =>
            var i = 0
            while (i < members.length) {
              val m = members(i)
              if (m != id) out += (if (m < id) (m, id) else (id, m))
              i += 1
            }
            members = (members :+ id).takeRight(cfg.indexValueLength)
          }
          state.update(members)
          out.iterator
      }
      .toDF("id1", "id2").as[(Long, Long)]
  }

  /** Run a streaming query over a static parquet dir to completion
    * and return the result table (memory sink) — the harness for
    * batch/stream agreement tests. */
  def runToCompletion(spark: SparkSession, streamed: DataFrame, name: String,
      mode: String = "append"): DataFrame = {
    val q = streamed.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
