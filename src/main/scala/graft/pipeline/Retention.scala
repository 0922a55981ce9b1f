package graft.pipeline

import graft.core.DedupConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delete / GC over the incremental stores — the Spark recast of
  * destor's delete + manifest-truncation path (reference: do_delete
  * src/do_delete.c:23-112 computes the live set and reclaims what no
  * surviving backup references; trunc_manifest src/cma.c:83-139 updates
  * the manifest BEFORE space is reclaimed; the retention trigger
  * src/destor.c:318-322 fires delete when backups exceed the retention
  * window).
  *
  * Mapping:
  *   D1 manifest update   — TableIO.dropBatch rewrites the store
  *                          manifest first, then deletes the batch dir
  *   D2 truncate/retention— expire()/retainLast() drop whole ingest
  *                          batches from every store
  *   D3 index reclaim     — surviving EDGE batches may reference
  *                          dropped image ids (cross-batch dup pairs);
  *                          they are compacted by anti-join against the
  *                          dropped-id set. Postings/signatures/images
  *                          are batch-owned (every row belongs to the
  *                          batch that ingested it), so dropping the
  *                          batch dir reclaims them exactly — no
  *                          dangling entries by construction.
  *   D4 retention trigger — retainLast(n) expires everything older
  *                          than the newest n batches.
  *
  * After reclaim, `clusters_current` is recomputed from the surviving
  * vertices + compacted edges — components split correctly when their
  * bridge rows are deleted (a previous assignment cannot be reused for
  * that reason).
  */
final class Retention(
    spark: SparkSession,
    workDir: String,
    cfg: DedupConfig = DedupConfig.default) {

  import IncrementalDedup._

  import Retention.Report

  val io: TableBackend = new TableIO(spark, workDir)

  /** Expire the given ingest batches from every store, reclaim index
    * entries that reference them, and recompute the cluster table.
    * Ingest's commit discipline, reversed: sig_store is the commit
    * marker, so the batches to drop and their image ids are read from
    * it and it is unlisted LAST, after compaction and the cluster
    * publish. A crash anywhere earlier leaves the batches listed there,
    * and a retry finishes the job. Counts come from parquet footers. */
  def expire(runIds: Seq[String], gcRunId: String): Report = {
    val committed = io.batches(SigStore)
    val toDrop = runIds.filter(committed.contains)
    val survivors = committed.filterNot(toDrop.contains)
    def images(batches: Seq[String]) = batches.map(io.batchRowCount(SigStore, _)).sum
    val survivingImages = images(survivors)
    if (toDrop.isEmpty) return Report(Seq.empty, 0L, 0L, survivingImages)
    val droppedImages = images(toDrop)

    // the dropped-id set: the dropped batches' signature rows, whose
    // dirs stay in place until the very end
    val dropIds = toDrop.map(r => io.readBatch(SigStore, r).select("image_id"))
      .reduce(_ unionByName _)

    // D1 + D2: manifest-first batch drops from the other batch-owned
    // stores (a batch a crashed attempt already dropped is skipped)
    for (store <- Seq(ImagesStore, PostStore, EdgeStore); r <- toDrop) io.dropBatch(store, r)

    // D3: compact surviving edge batches that reference dropped ids
    // (cross-batch pairs discovered by a LATER, surviving ingest) —
    // ONE anti-join job over the batch-union with the batch id as a
    // column, instead of the round-2 per-batch count+count+rewrite loop
    // (thousands of ingest batches meant thousands of serial Spark
    // jobs). Only touched batches are rewritten; untouched batch dirs
    // stay byte-identical.
    val reclaimed = compactEdges(dropIds, gcRunId)

    // recompute clusters over the surviving corpus, published as of the
    // newest surviving batch: ingest trusts an assignment only when it
    // names the last committed batch
    if (survivingImages > 0) {
      val surviving = io.readBatches(ImagesStore).select("image_id")
      val edges =
        if (io.hasBatches(EdgeStore))
          io.readBatches(EdgeStore).select(col("id1").as("src"), col("id2").as("dst"))
        else surviving.limit(0).select(col("image_id").as("src"), col("image_id").as("dst"))
      // the compacted edge batches' footer rows are the exact edge
      // count, so an upper bound (the edgeCountHint contract): they pick
      // connected components' plan and size its partitioner without a
      // counting job
      io.publish(DedupPipeline.assign(surviving, edges, Some(storeRowCount(io, EdgeStore))),
        ClustersTable, cfg.configHash, survivors.last)
    } else if (io.exists(ClustersTable)) {
      io.drop(ClustersTable)
    }
    // commit: unlist the signature batches last
    for (r <- toDrop) io.dropBatch(SigStore, r)
    Report(toDrop, droppedImages, reclaimed, survivingImages)
  }

  /** D3 edge-store compaction against a dropped-id set, batch-count
    * independent: ONE job materializes the anti-joined union of every
    * surviving edge batch (batch id as a column) to a durable tmp
    * table, ONE job counts survivors per batch, and only batches whose
    * footer count differs are rewritten (from the tmp table — never
    * from plans over the dirs being replaced). Returns edges reclaimed. */
  private[graft] def compactEdges(dropIds: DataFrame, gcRunId: String): Long = {
    val batchIds = io.batches(EdgeStore)
    if (batchIds.isEmpty) return 0L
    val pruned = io.readBatchesTagged(EdgeStore, "__batch")
      .join(dropIds.withColumnRenamed("image_id", "id1"), Seq("id1"), "left_anti")
      .join(dropIds.withColumnRenamed("image_id", "id2"), Seq("id2"), "left_anti")
    // durable materialization BEFORE any dir is rewritten: a lazy plan
    // (or cached-only copy) would recompute its lineage from batch dirs
    // this method is about to replace. The ".tmp-" name lets a crashed
    // GC's copy be reclaimed by the same gcOrphans sweep as crashed
    // publishes.
    val edgesTmp = s"$workDir/gc-edges.tmp-$gcRunId"
    pruned.write.mode("overwrite").parquet(edgesTmp)
    val survivors = spark.read.parquet(edgesTmp)
    val after = survivors.groupBy("__batch").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    var reclaimed = 0L
    for (r <- batchIds) {
      val before = io.batchRowCount(EdgeStore, r) // footers — no job
      val kept = after.getOrElse(r, 0L)
      if (kept != before) {
        io.rewriteBatch(
          survivors.filter(col("__batch") === r).drop("__batch"), EdgeStore, r)
        reclaimed += before - kept
      }
    }
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(edgesTmp), spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(edgesTmp), true)
    reclaimed
  }

  /** D4 retention trigger: keep only the newest `n` ingest batches
    * (destor fires do_delete when jcr.id - retention crosses zero,
    * src/destor.c:318-322). */
  def retainLast(n: Int, gcRunId: String): Report = {
    expire(io.batches(SigStore).dropRight(n), gcRunId)
  }

  /** GC crashed-publish leftovers (invisible-by-protocol tmp dirs). */
  def gcOrphans(): Seq[String] = io.gcOrphans()
}

object Retention {
  final case class Report(
      droppedBatches: Seq[String],
      droppedImages: Long,
      reclaimedEdges: Long,
      survivingImages: Long)
}
