package graft.pipeline

import graft.ops.ChunkOps
import graft.signatures.Chunker
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** destor's consecutive-backup loop at chunk granularity — the
  * reference's PRIMARY use case (daily backups of a slowly-changing
  * dataset, each deduped against every previously stored chunk,
  * reference `src/do_backup.c` + kv probe `src/index/index.c:140-217`):
  * each ingest chunks ONLY the new batch, probes its fingerprints
  * against the persistent store (an anti-join — J1's "unique chunk"
  * partition), appends the novel fingerprints as an immutable batch
  * (TableIO's append-only store, the `index_update` analog), and
  * reports the per-job counters destor logs (new vs dup chunks, stored
  * bytes, dedup ratio vs everything stored so far).
  *
  * Scale shape: per ingest, one narrow chunking pass over the NEW data
  * only, one fp shuffle for within-batch first-occurrence, one
  * anti-join against the store (store side join-pruned by fp — at
  * deployment scale the store is bucketed by fp so the probe
  * co-partitions). Old batches are never rescanned or recomputed.
  */
final class ChunkIngest(spark: SparkSession, workDir: String,
                        algo: String = "fastcdc",
                        p: Chunker.Params = Chunker.docParams) {

  private val io: TableBackend = new TableIO(spark, workDir)
  private val FpStore = "chunk_fps"

  def ingested: Seq[String] = io.batches(FpStore)

  /** All fingerprints stored so far (fp, len, batch runId). */
  def store: DataFrame = io.readBatches(FpStore)

  /** Ingest one backup of (doc_id: long, text: string) rows. Returns
    * the job-counter row: n_chunks/total_bytes of the batch,
    * n_new/new_bytes actually stored, and dedup_ratio vs the store. */
  def ingest(docs: DataFrame, runId: String): DataFrame = {
    require(!ingested.contains(runId), s"batch $runId already ingested")
    val chunks = ChunkOps.flagFirst(ChunkOps.chunkDf(docs, algo, p))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val firsts = chunks.filter(col("is_first")).select("fp", "len")
    val novel =
      if (io.hasBatches(FpStore))
        firsts.join(store.select("fp"), Seq("fp"), "left_anti")
      else firsts
    val stored = io.appendBatch(novel, FpStore, runId)

    // sum() over zero rows is NULL — an all-empty backup (every doc
    // chunked to nothing) must report 0 bytes, not NPE
    val stats = chunks.agg(
        count(lit(1)).as("n_chunks"),
        coalesce(sum("len"), lit(0L)).as("total_bytes")).collect()(0)
    val newBytes =
      if (stored == 0) 0L
      else {
        val r = io.readBatch(FpStore, runId).agg(sum("len")).collect()(0)
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    chunks.unpersist(blocking = false)
    import spark.implicits._
    Seq((runId, stats.getLong(0), stats.getLong(1), stored, newBytes,
      BigDecimal((stats.getLong(1) - newBytes).toDouble / math.max(1L, stats.getLong(1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("run_id", "n_chunks", "total_bytes", "n_new", "new_bytes", "dedup_ratio")
  }
}
