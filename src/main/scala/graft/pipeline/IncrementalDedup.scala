package graft.pipeline

import graft.core._
import graft.ops.PairGen
import graft.signatures.Sig
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import org.json4s.jackson.Serialization

/** Incremental / cross-run ingest: dedup each NEW batch against the
  * persistent signature + posting index WITHOUT recomputing anything
  * for previously ingested batches — destor's entire point (dedup new
  * backup streams against the on-disk fingerprint index; reference:
  * index probe src/index/index.c:140-217, publish `index_update`
  * :266-275, kv store append/caps src/index/kvstore_htable.c:158-207).
  *
  * Persistent stores under `workDir` (TableIO batch stores — every
  * append is an atomic batch-dir commit, so half-written batches are
  * invisible):
  *
  *   images_store    one batch-dir per ingest — the raw rows (container
  *                   store analog; `bytes` is only ever read back by
  *                   verify, for candidate-touched images, and is
  *                   column-pruned otherwise)
  *   sig_store       per-image signature bundles (recipe/feature analog)
  *   postings_store  (key, nid, payload, ingest_seq) on the packed
  *                   posting key — THE probe index (kv store analog)
  *   edges_store     verified dup pairs per batch (provenance for
  *                   retention-time cluster recompute)
  *   clusters_current  latest full cluster assignment (overwritten per
  *                   ingest)
  *
  * Stages and resume (north_rule; destor's known weakness — a crash
  * means a full rebuild, README.md:147-149 — is what per-stage commits
  * fix). Each stage writes its output as a STAGED batch of its store
  * (written, not yet listed in the store manifest) plus a marker
  * holding the stage key = config hash + input fingerprint + committed
  * batch list; downstream stages read the staged table back, so plans
  * never grow beyond one stage:
  *
  *   signatures → sig_store        images → images_store
  *   postings → postings_store     candidate_pairs → candidates_store
  *   verified_pairs → edges_store  clusters → clusters_current
  *
  * The commit lists the staged batches, sig_store LAST (the commit
  * marker). A crashed ingest retried under the same runId resumes every
  * stage whose marker matches its key; a changed config, input or store
  * recomputes. Each commit stores the batch's [[IngestRecord]] (per-stage
  * rows, per-file rows, wall, counters, and the HAR hot list the next
  * ingest inherits) next to its signatures.
  *
  * Probe shape (scale analysis at 10^12 stored rows): the store side is
  * pruned FIRST by an equi-join on the new batch's distinct posting
  * keys — a fraction proportional to |batch|, not |store| — then
  * fan-in per key is FIFO-capped at cfg.indexValueLength
  * newest entries (destor's index_value_length), so one boilerplate
  * bucket accumulated over months cannot explode a single probe.
  * Old-vs-old pairs are never re-generated: within-batch pairs come
  * from the skew-aware expander over NEW postings only, cross pairs
  * from the new→store join. Cluster maintenance replays previous
  * ASSIGNMENTS (star edges to the component representative), not the
  * full historical edge set, so the CC input stays O(|corpus| + |new
  * edges|) with iteration count driven by the new merges only.
  */
final class IncrementalDedup(
    spark: SparkSession,
    workDir: String,
    cfg: DedupConfig = DedupConfig.default) {

  import IncrementalDedup._

  val io: TableBackend = new TableIO(spark, workDir)

  /** Batches ingested so far (ids in ingest order). */
  def ingested: Seq[String] = io.batches(SigStore)

  /** Current full cluster assignment (image_id, cluster_id,
    * representative) across every ingested batch. */
  def clusters: DataFrame = io.read(ClustersTable)

  /** The stored stage record of a committed batch (driver file read,
    * no Spark job). */
  def record(runId: String): Option[IngestRecord] =
    io.batchMeta(SigStore, runId, RecordFile).map(Serialization.read[IngestRecord](_))

  /** Ingest one batch: probe it against the persistent index, verify,
    * merge clusters, append the batch to every store. Returns the new
    * `clusters_current` (read from its published table). Batch image
    * ids must be disjoint from previously ingested ids. */
  def ingest(batch: Dataset[ImageRow], runId: String): DataFrame = {
    import spark.implicits._
    val committed = ingested
    require(!committed.contains(runId), s"batch $runId already ingested")
    // the index's key column, checked in the first batch's footer schema
    require(io.batches(PostStore).headOption.forall(io.readBatch(PostStore, _).columns.contains("key")),
      s"$PostStore under $workDir was written in the old (band, bucket) posting format, " +
        "which this version cannot probe; ingest into a new store")
    // crash-retry self-heal: SigStore is the COMMIT MARKER (listed
    // last, and `ingested` is keyed on it), so ANY other runId with a
    // batch dir but no SigStore entry is debris from a crashed attempt:
    // a crashed ingest retried under a DIFFERENT runId would otherwise
    // leave orphan postings/images/edges that every later probe joins
    // against. Drop them all (destor equally replays an uncommitted jcr
    // from scratch). THIS runId's staged batches are kept for resume;
    // one a crashed commit already listed is dropped and recomputed, so
    // no store lists an uncommitted batch.
    for (store <- StageStores; r <- io.batchDirs(store)
         if !committed.contains(r) && (r != runId || io.batches(store).contains(r)))
      io.dropBatch(store, r)
    val seq = committed.length

    // a retry checks its staged stages against the input's fingerprint
    // (one narrow id/caption/phash scan); a fresh ingest takes the
    // fingerprint from the signature write's accumulators instead
    val marks: Map[String, StageMark] = StageStores.flatMap(s =>
      io.batchMeta(s, runId, MarkFile).map(s -> Serialization.read[StageMark](_))).toMap
    var key: String =
      if (marks.isEmpty && !io.publishedBy(ClustersTable).contains(runId)) null
      else stageKey(cfg, inputFingerprint(batch), committed)
    val records = scala.collection.mutable.ArrayBuffer.empty[StageRecord]
    // this ingest's HAR hot list (set by the candidate stage's marker)
    var hot = Seq.empty[HotKey]

    /** Run one stage into its staged batch of `store` — or resume it
      * when its marker carries this ingest's key — and read it back. Its
      * footer row counts are read once (by the write, or by the resume)
      * and kept in its record. */
    def stage(name: String, store: String)(run: => Staged): DataFrame = {
      val t0 = System.nanoTime()
      val resumed = marks.get(store).filter(_.key == key)
      val (mark, files) = resumed match {
        case Some(m) => (m, io.batchFileCounts(store, runId))
        case None =>
          val s = run
          val files = io.stageBatch(s.df, store, runId)
          val c = s.finish() // may set `key` (the signature stage)
          val m = StageMark(key, c, s.hot)
          io.putBatchMeta(store, runId, MarkFile, Serialization.write(m))
          (m, files)
      }
      if (mark.hot.nonEmpty) hot = mark.hot
      val fileRows = files.map(_._2)
      records += StageRecord(name, resumed.isDefined, fileRows.sum,
        (System.nanoTime() - t0) / 1000000, fileRows, mark.counters)
      io.readBatch(store, runId)
    }
    /** Rows a finished stage staged, from its record. */
    def stagedRows(name: String): Long = records.find(_.stage == name).get.rows

    // 1. signatures + postings for the NEW batch only (narrow stages).
    //    The signature write also yields the input fingerprint and the
    //    P9 degenerate-input counters (zero-chunk jcr analog) through
    //    accumulators — no extra job.
    val sigs = stage("signatures", SigStore) {
      val sc = spark.sparkContext
      val (fp, degenerate, blank) =
        (sc.longAccumulator("fingerprint"), sc.longAccumulator("degenerate"), sc.longAccumulator("blank"))
      Staged(countedSignatures(DedupPipeline.signatures(batch, cfg), fp, degenerate, blank).toDF(),
        () => {
          if (key == null) key = stageKey(cfg, fingerprint(fp.count, fp.sum), committed)
          Map("degenerate_pixel_rows" -> degenerate.sum.toDouble,
            "blank_caption_rows" -> blank.sum.toDouble)
        })
    }.as[SignatureRow]
    // signature-only simulation (destor src/destor.h:55-59): only the
    // metadata columns ever flow — the images side feeds verify's pixel
    // join (skipped under the flag) and the CC vertex list (image_id
    // only), so the narrow projection is complete. A simulation workDir
    // and a full workDir must not mix (destor's simulated stores carry
    // the same constraint): the ImagesStore batch schema differs.
    val metaCols = Seq("image_id", "caption", "phash").map(col)
    val images = stage("images", ImagesStore)(Staged(
      if (cfg.signatureOnly) batch.toDF().select(metaCols: _*) else batch.toDF()))
    val newPost = stage("postings", PostStore)(Staged(
      DedupPipeline.buckets(sigs, cfg).toDF().withColumn("ingest_seq", lit(seq))))
      .drop("ingest_seq").as[BucketRow]

    // 2. candidate pairs: within-batch (skew-aware, inheriting the HAR
    //    hot list from the last committed batch's record) plus the
    //    cross-batch probe of the new postings against the stored index.
    //    This ingest's list rides the stage marker, so a resumed stage
    //    hands off the same list.
    val cand = stage("candidate_pairs", CandStore) {
      val inheritedHot = committed.lastOption.flatMap(record).fold(Seq.empty[HotKey])(_.har_hot)
      val sk = DedupPipeline.candidatesSkewAware(newPost, cfg, inheritedHot)
      // one pair dedup over within + cross pairs: srcmask = bit_or of both
      Staged(DedupPipeline.finishCandidates(
          sk.pairs.unionByName(crossPairs(newPost, stagedRows("postings")))),
        () => Map("cap_used" -> sk.capUsed.toDouble,
          "har_inherited_buckets" -> inheritedHot.length.toDouble),
        sk.hotList)
    }

    // 3. verify — old sides resolved from the STORES (no recompute).
    //    Verify prunes its signature and image inputs to the candidate
    //    ids (a broadcast nid filter while the staged candidates' footer
    //    count keeps the id list small) before its one exchange, so it
    //    costs O(batch + touched) in shuffle, never O(store) (destor's
    //    probe equally touches only hit keys,
    //    src/index/index.c:181-204); the store scans themselves still
    //    read every stored batch.
    def withStore(staged: DataFrame, store: String): DataFrame =
      if (io.hasBatches(store)) staged.unionByName(io.readBatches(store)) else staged
    val allImages =
      if (cfg.signatureOnly) withStore(images, ImagesStore).select(metaCols: _*)
      else withStore(images, ImagesStore)
    val newEdges = stage("verified_pairs", EdgeStore)(Staged(DedupPipeline.verifyPairs(
      cand, stagedRows("candidate_pairs"), withStore(sigs.toDF(), SigStore).as[SignatureRow],
      allImages, cfg).toDF()))

    // 4. cluster maintenance: previous assignments as star edges + this
    //    batch's verified pairs. The published assignment is trusted
    //    only if it was published as of the last committed batch; one
    //    left by a crashed ingest is replaced by the committed edge
    //    store, whose components ARE the committed assignment.
    val t0 = System.nanoTime()
    val clustersResumed = io.isPublished(ClustersTable, key)
    val clusterFiles = (if (clustersResumed) io.fileCounts(ClustersTable) else {
      // (edges, footer row count): the count is an upper bound of the
      // edges (the edgeCountHint contract) — it picks connected
      // components' plan and sizes its partitioner without a counting job
      val (prevEdges, nPrev) =
        if (committed.isEmpty) (spark.emptyDataset[(String, String)].toDF("src", "dst"), 0L)
        else if (io.publishedBy(ClustersTable) == committed.lastOption)
          (io.read(ClustersTable)
            .filter(col("image_id") =!= col("cluster_id"))
            .select(col("image_id").as("src"), col("cluster_id").as("dst")),
            io.fileCounts(ClustersTable).map(_._2).sum)
        else (io.readBatches(EdgeStore).select(col("id1").as("src"), col("id2").as("dst")),
          storeRowCount(io, EdgeStore))
      io.publish(DedupPipeline.assign(allImages,
          newEdges.select(col("id1").as("src"), col("id2").as("dst")).unionByName(prevEdges),
          Some(stagedRows("verified_pairs") + nPrev)),
        ClustersTable, key, runId)
    }).map(_._2)
    records += StageRecord("clusters", clustersResumed, clusterFiles.sum,
      (System.nanoTime() - t0) / 1000000, clusterFiles)

    // 5. commit: list the staged batches, SigStore LAST — a crash
    //    anywhere earlier leaves the batch un-ingested and resumable
    for (store <- Seq(EdgeStore, ImagesStore, PostStore)) io.commitBatch(store, runId)
    io.putBatchMeta(SigStore, runId, RecordFile,
      Serialization.write(IngestRecord(runId, key, records.toSeq, hot)))
    io.commitBatch(SigStore, runId)
    io.dropBatch(CandStore, runId)
    io.read(ClustersTable)
  }

  /** Cross-batch probe: new postings vs the stored index, as raw
    * (id1, id2, srcbit) pairs, on the packed posting key alone: the
    * Bloom filter, the join, the FIFO window and the signature class
    * (`key & 3`) all read `key`. `nPostings` (the staged batch's footer
    * row count) bounds the number of distinct new keys and sizes the
    * Bloom filter without a job. Trade-off: two same-class buckets whose
    * keys collide share one FIFO cap, so the cap counts their entries
    * together — the same 62-bit collision the posting sort and the HAR
    * list already accept (a colliding bucket may lose stored entries
    * past the shared cap; the extra pairs it gains are verified
    * exactly, so it never causes a false merge). */
  private def crossPairs(newPost: Dataset[BucketRow], nPostings: Long): DataFrame = {
    import spark.implicits._
    if (!io.hasBatches(PostStore))
      return spark.emptyDataset[(Long, Long, Int)].toDF("id1", "id2", "srcbit")
    val old = io.readBatches(PostStore)
    // F7 Bloom front-end (DDFS's in-memory filter that prunes index
    // probes, reference src/utils/bloom_filter.c:98-127): a driver-built
    // Bloom over the new batch's posting keys drops ~all store rows whose
    // key the batch never touches BEFORE the shuffle join. The store
    // side is |store| rows, the batch side |batch| — without the bloom
    // every stored posting pays the exchange; with it only (touched +
    // fpp * rest) do. False positives are removed by the equi-join; no
    // false negatives. Built straight from the staged postings: inserting
    // a key twice sets the same bits.
    val bloom = newPost.stat.bloomFilter(col("key"), math.max(nPostings, 1L), cfg.bloomFpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((k: Long) => bloomBc.value.mightContainLong(k))
    // store-side prune: bloom first (narrow, pre-shuffle), then the
    // exact equi-join on the batch's keys; fan-in per key FIFO-capped
    // at the newest cfg.indexValueLength entries
    val touched = old
      .filter(mightContain(col("key")))
      .join(newPost.select("key").distinct(), "key")
    val w = Window.partitionBy("key").orderBy(col("ingest_seq").desc, col("nid").desc)
    val capped = touched
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cfg.indexValueLength)
      .select(col("key"), col("nid").as("old_id"), col("payload").as("old_payload"))
    val cls = col("key").bitwiseAND(3L)
    newPost.toDF().join(capped, "key")
      .filter(col("nid") =!= col("old_id"))
      .filter(PairGen.hammingOk(cls, col("payload"), col("old_payload"), cfg.hammingMax))
      .select(
        least(col("nid"), col("old_id")).as("id1"),
        greatest(col("nid"), col("old_id")).as("id2"),
        PairGen.srcbitCol(cls).as("srcbit"))
  }
}

object IncrementalDedup {
  val ImagesStore = "images_store"
  val SigStore = "sig_store"
  val PostStore = "postings_store"
  val EdgeStore = "edges_store"
  val ClustersTable = "clusters_current"
  /** Staged candidate pairs of the ingest in flight (never committed;
    * dropped once the ingest commits). */
  val CandStore = "candidates_store"
  /** Every store an ingest stages a batch into, in stage order. */
  val StageStores = Seq(SigStore, ImagesStore, PostStore, CandStore, EdgeStore)
  private val MarkFile = "STAGE.json"
  private val RecordFile = "RECORD.json"

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  /** A staged stage's marker: the key it was computed under, the
    * counters it produced and (candidate stage) the HAR hot list. */
  private final case class StageMark(key: String, counters: Map[String, Double],
      hot: Seq[HotKey] = Seq.empty)

  /** A stage's output, what runs after it is written (cleanup, and the
    * counters to record), and the HAR hot list it produced. */
  private final case class Staged(df: DataFrame,
      finish: () => Map[String, Double] = () => Map.empty, hot: Seq[HotKey] = Seq.empty)

  /** Stage key: config hash + input fingerprint + committed batch list. */
  private def stageKey(cfg: DedupConfig, fp: String, committed: Seq[String]): String =
    s"${cfg.configHash}-$fp-${java.lang.Long.toHexString(Sig.hash64(committed.mkString("\u0000")))}"

  private def rowHash(id: String, caption: String, phash: Long): Long =
    Sig.mix64(Sig.hash64(id) ^ Sig.mix64(Sig.hash64(caption) ^ phash))

  private def fingerprint(n: Long, sum: Long): String =
    s"$n.${java.lang.Long.toHexString(sum)}"

  /** Order-independent input fingerprint (row count + wrapping sum of
    * per-row id/caption/phash hashes); `bytes` stays pruned out. */
  private def inputFingerprint(batch: Dataset[ImageRow]): String = {
    import batch.sparkSession.implicits._
    val (n, sum) = batch.select("image_id", "caption", "phash").as[(String, String, Long)]
      .rdd.map(r => rowHash(r._1, r._2, r._3))
      .aggregate((0L, 0L))((a, h) => (a._1 + 1, a._2 + h), (a, b) => (a._1 + b._1, a._2 + b._2))
    fingerprint(n, sum)
  }

  /** Signatures that feed the fingerprint and the degenerate/blank
    * counters as they are written (Spark's `trim` blank rule). */
  private def countedSignatures(sigs: Dataset[SignatureRow],
      fp: LongAccumulator, degenerate: LongAccumulator,
      blank: LongAccumulator): Dataset[SignatureRow] = {
    import sigs.sparkSession.implicits._
    sigs.map { s =>
      fp.add(rowHash(s.image_id, s.caption, s.phash))
      if (s.degenerate) degenerate.add(1L)
      if (s.caption.forall(_ == ' ')) blank.add(1L)
      s
    }
  }

  /** Rows of every committed batch of `store`, from parquet footers. */
  private[pipeline] def storeRowCount(io: TableBackend, store: String): Long =
    io.batches(store).map(io.batchRowCount(store, _)).sum
}
