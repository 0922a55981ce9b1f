package graft.pipeline

import graft.core._
import graft.signatures.Codec
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Restore — the inverse query: reconstruct every input row from the
  * dedup store and verify the per-row fidelity invariant. This is the
  * reference's own definition of correctness: a backup is correct iff
  * restore reproduces the original bytes (reference: do_restore's
  * recipe scan src/do_restore.c:68-111, chunk fetch :11-66, writer
  * write_restore_data :113-189). Recast as ONE chain, which both
  * callers run — the in-memory [[roundTrip]] over the pixel edges of
  * its own verify, and [[restoreStore]] (CLI `restore`) over
  * `edges_store`:
  *
  *   - content clusters ([[contentClusters]]), the one definition:
  *     connected components (DedupPipeline.assign, the projection
  *     ingest and retention publish) over pairs whose verified evidence
  *     is PIXEL-level (verdict "exact" or "pixel", or a measured
  *     PSNR >= psnrMin), then [[fidelityRepair]] with those same edges
  *     as its skip set. Caption-only dup pairs deliberately do NOT
  *     merge content — restoring a row's pixels from a caption-dup
  *     would break the PSNR invariant.
  *   - content store (container-store analog): the representative's
  *     bytes per content cluster — the only place pixel bytes are kept.
  *   - recipes (recipe-store analog): per image_id the content pointer
  *     plus row metadata (caption, dims, fmt) — like destor's file
  *     recipes carrying path/meta while data lives in containers.
  *   - restore: recipes ⋈ content store (the shuffle replaces destor's
  *     restore container cache, T2/T3).
  *   - round-trip verify ([[roundtripViolations]], aggregated by
  *     [[roundtripReport]]): restored ⋈ originals, then per-row
  *     decoded-pixel PSNR >= psnrMin + caption equality — BASELINE.md's
  *     per-row fidelity gate.
  *
  * Scale shape: everything is equi-joins on content_id/image_id; the
  * only stage that touches `bytes` twice is the final verify join
  * (original + restored side), both narrow column-pruned scans.
  */
object RestoreOps {

  /** (image_id, content_id) for every image: the connected components
    * of `pixelEdges` (see [[pixelEvidence]]; content_id = the
    * component's min image_id, deterministic), fidelity-repaired with
    * the same edges as the measured skip set. `edgeCountHint` must be
    * an upper bound of the edges (DedupPipeline.assign's contract). */
  def contentClusters(
      images: Dataset[ImageRow],
      pixelEdges: DataFrame,
      cfg: DedupConfig,
      edgeCountHint: Option[Long] = None): DataFrame = {
    val cc = DedupPipeline.assign(images.toDF(), pixelEdges, edgeCountHint)
      .select(col("image_id"), col("cluster_id").as("content_id"))
    fidelityRepair(images, cc, cfg, Some(pixelEdges))
  }

  /** Every image row rebuilt from the content store of
    * [[contentClusters]]: (image_id, bytes, fmt, caption). */
  def restoreAll(
      images: Dataset[ImageRow],
      pixelEdges: DataFrame,
      cfg: DedupConfig,
      edgeCountHint: Option[Long] = None): DataFrame = {
    val cc = contentClusters(images, pixelEdges, cfg, edgeCountHint)
    restore(recipes(images, cc), contentStore(images, cc))
  }

  /** Pixel-evidence edges from the verify stage: byte/pixel-identical
    * pairs (verdict exact/pixel) or pairs whose MEASURED decoded-pixel
    * PSNR passes the gate — the verify stage records psnr for every
    * hamming-close pair even when a cheaper predicate settled the
    * verdict, so this is the complete set of edges whose fidelity is
    * already established by measurement. */
  def pixelEvidence(verified: Dataset[VerifiedPair], cfg: DedupConfig): DataFrame =
    verified
      .filter(col("verdict").isin("exact", "pixel") || col("psnr") >= cfg.psnrMin)
      .select(col("id1").as("src"), col("id2").as("dst"))

  /** Fidelity repair: PSNR is NOT transitive, so connected components
    * over individually-passing edges can chain a member to a
    * representative it restores from BELOW the gate (a–b ≥ 40 dB and
    * b–c ≥ 40 dB do not imply a–c ≥ 40 dB — progressive re-encodes).
    * Destor never hits this because every copy stores byte-identical
    * content; a lossy-similarity store must re-check each member
    * against its cluster representative and DEMOTE failures to their
    * own content cluster (they then restore from themselves), which
    * makes the per-row round-trip invariant hold BY CONSTRUCTION at
    * any corpus.
    *
    * Cost: a member whose edge TO ITS REPRESENTATIVE is in
    * `pixelEdges` needs no re-check — the restored bytes ARE the
    * representative's bytes, so its round-trip PSNR equals the value
    * the verify stage already measured on that edge (same
    * decode+psnr path). Only transitively-chained members (connected
    * to the representative through intermediates) pay the bytes join
    * + double decode; in a pair/star-shaped pair stream that is a
    * vanishing fraction, so the repair is two narrow id-only joins
    * plus a decode pass over chain members only. Without `pixelEdges`
    * every non-singleton member is checked (the conservative form). */
  def fidelityRepair(
      images: Dataset[ImageRow],
      cclusters: DataFrame,
      cfg: DedupConfig,
      pixelEdges: Option[DataFrame] = None): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    val members = cclusters.filter(col("image_id") =!= col("content_id"))
    val suspect = pixelEdges match {
      case Some(e) =>
        // the representative is the component MIN, so a measured
        // member↔representative edge normalizes to (min → content_id,
        // max → image_id) regardless of input orientation;
        // member↔member edges map to a (content_id, image_id) no
        // member row carries — harmless. least/greatest compare UTF8
        // bytes while the CC min is JVM-string order — they agree on
        // the ASCII ids this engine generates, and a disagreement
        // (supplementary-plane ids) only MISSES a skip (the member is
        // re-checked like the conservative path), never falsely skips.
        val dir = e.select(least(col("src"), col("dst")).as("content_id"),
          greatest(col("src"), col("dst")).as("image_id"))
        members.join(dir, Seq("image_id", "content_id"), "left_anti")
      case None => members
    }
    val px = images.select(col("image_id"), col("bytes"), col("fmt"))
    val checked = suspect
      .join(px, "image_id")
      .join(px.select(col("image_id").as("content_id"),
        col("bytes").as("r_bytes"), col("fmt").as("r_fmt")), "content_id")
      .select(col("image_id"), col("content_id"),
        col("bytes"), col("fmt"), col("r_bytes"), col("r_fmt"))
      .as[(String, String, Array[Byte], String, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, cid, ob, of, rb, rf) =>
          (id, cid, Codec.psnr(Codec.decode(ob, of), Codec.decode(rb, rf)) >= cfg.psnrMin)
        }
      }
      .toDF("image_id", "content_id", "ok")
    // demotions are the (rare) chain failures — override them with one
    // id-only join instead of rebuilding the cluster table from three
    // branches (each branch would recompute the cclusters subtree)
    val demoted = checked.filter(!col("ok"))
      .select(col("image_id"), lit(true).as("demoted"))
    cclusters.join(demoted, Seq("image_id"), "left")
      .select(col("image_id"),
        when(col("demoted"), col("image_id")).otherwise(col("content_id")).as("content_id"))
  }

  /** Content store: one row of stored bytes per content cluster — the
    * representative's. Join instead of a window so `bytes` only flows
    * for the representative rows (semi-join prunes first). */
  def contentStore(images: Dataset[ImageRow], cclusters: DataFrame): DataFrame =
    images.select(col("image_id"), col("bytes"), col("fmt"), col("w"), col("h"))
      .join(cclusters.filter(col("image_id") === col("content_id")).select("image_id"), "image_id")
      .withColumnRenamed("image_id", "content_id")
      .select(col("content_id"), col("bytes").as("stored_bytes"), col("fmt").as("stored_fmt"),
        col("w").as("stored_w"), col("h").as("stored_h"))

  /** Recipes: per-row restore plan (content pointer + row metadata). */
  def recipes(images: Dataset[ImageRow], cclusters: DataFrame): DataFrame =
    images.select(col("image_id"), col("caption"), col("w"), col("h"), col("fmt"))
      .join(cclusters, "image_id")
      .select("image_id", "content_id", "caption", "w", "h", "fmt")

  /** Restore: reconstruct (image_id, bytes, fmt, caption) from recipes
    * and the content store. */
  def restore(recipes: DataFrame, store: DataFrame): DataFrame =
    recipes.join(store, "content_id")
      .select(col("image_id"), col("stored_bytes").as("bytes"),
        col("stored_fmt").as("fmt"), col("caption"))

  /** Per-row round-trip violations, from ONE decode-and-compare pass
    * over a FULL OUTER join of originals and restored rows:
    * (image_id, psnr, psnr_ok, caption_ok, restored). A row restored
    * below the PSNR gate or with a changed caption carries its psnr and
    * both checks; a MISSING restored row (null right side) and a
    * PHANTOM one (an id the originals never had — a stale or corrupt
    * restore output; null left side) carry restored = false and null
    * checks. Empty on a correct store. */
  def roundtripViolations(
      images: Dataset[ImageRow],
      restored: DataFrame,
      cfg: DedupConfig): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id"), col("bytes").as("o_bytes"), col("fmt").as("o_fmt"),
        col("caption").as("o_caption"))
      .join(restored.select(col("image_id"), col("bytes").as("r_bytes"),
        col("fmt").as("r_fmt"), col("caption").as("r_caption")), Seq("image_id"), "full")
      .select("image_id", "o_bytes", "o_fmt", "o_caption", "r_bytes", "r_fmt", "r_caption")
      .as[(String, Array[Byte], String, String, Array[Byte], String, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, ob, of, oc, rb, rf, rc) =>
          if (ob == null || rb == null) Iterator((id, None, None, None, false))
          else {
            val psnr = Codec.psnr(Codec.decode(ob, of), Codec.decode(rb, rf))
            val psnrOk = psnr >= cfg.psnrMin
            val capOk = oc == rc
            if (psnrOk && capOk) Iterator.empty
            else Iterator((id, Some(psnr), Some(psnrOk), Some(capOk), true))
          }
        }
      }
      .toDF("image_id", "psnr", "psnr_ok", "caption_ok", "restored")
  }

  /** One-row fidelity report: restore coverage + violation counts —
    * the analog of destor's restore.log line (src/do_restore.c:267-283).
    * On a correct store: all_restored=1, psnr_violations=0,
    * caption_violations=0 at ANY corpus size. The aggregate of
    * [[roundtripViolations]]: one query, so the one comparison pass
    * also counts coverage both ways (a missing or phantom restored row
    * fails all_restored). */
  def roundtripReport(
      images: Dataset[ImageRow],
      restored: DataFrame,
      cfg: DedupConfig): DataFrame =
    roundtripViolations(images, restored, cfg)
      .agg(count(when(!col("psnr_ok"), 1)).as("psnr_violations"),
        count(when(!col("caption_ok"), 1)).as("caption_violations"),
        when(count(when(!col("restored"), 1)) === 0L, 1L).otherwise(0L).as("all_restored"))

  /** Whole restore + verify round trip on top of an in-memory pipeline
    * run: the [[restoreAll]] chain over the pixel edges of this run's
    * verify, and the one-row fidelity report. */
  def roundTrip(images: Dataset[ImageRow], cfg: DedupConfig): DataFrame = {
    // restore IS the data-movement stage a metadata-only simulation
    // skips (destor's simulation levels equally cannot restore from a
    // simulated store, src/destor.h:55-59)
    require(!cfg.signatureOnly,
      "restore/round-trip requires pixel data; signatureOnly simulation skips it")
    val (ver, pairCount, cleanupVerify) = DedupPipeline.verifiedPairs(images, cfg)
    // the edge set is consumed by BOTH the clustering and the repair's
    // skip anti-join: persist it so the verify stage's pair-decode map
    // executes exactly once (it is narrow — two id columns). pairCount
    // (resolved candidate pairs) bounds these edges, a subset of the
    // verified pairs, from above: the edgeCountHint contract
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val edges = pixelEvidence(ver, cfg).persist(lvl)
    val report = roundtripReport(images,
      restoreAll(images, edges, cfg, Some(pairCount)), cfg).localCheckpoint()
    cleanupVerify()
    edges.unpersist(blocking = false)
    report
  }

  /** CLI `restore`: rebuild batch `runId` (or every batch, "all") of the
    * incremental store under `storeDir` into parquet at `outDir` by the
    * [[restoreAll]] chain over `edges_store`'s pixel edges, then verify
    * what was written. Returns the report's (psnr_violations,
    * caption_violations, all_restored). */
  def restoreStore(spark: SparkSession, storeDir: String, runId: String, outDir: String,
      cfg: DedupConfig): (Long, Long, Long) = {
    import spark.implicits._
    import IncrementalDedup.{EdgeStore, ImagesStore, SigStore, storeRowCount}
    val io = new TableIO(spark, storeDir)
    val have = io.batches(SigStore)
    require(runId == "all" || have.contains(runId),
      s"unknown batch '$runId' (store has: ${have.mkString(", ")})")
    val imagesDf = io.readBatches(ImagesStore)
    require(imagesDf.columns.contains("bytes"),
      "store was ingested signature-only (simulation); restore needs pixel data")
    val images = imagesDf.as[ImageRow]
    // the stored edges' footer row count bounds the pixel edges from
    // above: the edgeCountHint contract, with no counting job
    val restored = restoreAll(images,
      pixelEvidence(io.readBatches(EdgeStore).as[VerifiedPair], cfg), cfg,
      Some(storeRowCount(io, EdgeStore)))
    val want = if (runId == "all") images else io.readBatch(ImagesStore, runId).as[ImageRow]
    restored.join(want.select("image_id"), "image_id").write.mode("overwrite").parquet(outDir)
    val rep = roundtripReport(want, spark.read.parquet(outDir), cfg).head()
    (rep.getLong(0), rep.getLong(1), rep.getLong(2))
  }
}
