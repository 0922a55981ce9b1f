package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-config sweep harness — destor's primary experimental workflow
  * (`scripts/benchmark.sh:12-82`: rebuild → backup each version →
  * restore each under each cache; `scripts/edpl.sh:53-60` exact-
  * physical sweep; `scripts/ndll.sh:43-60` near-exact sampling-ratio ×
  * method sweep), recast as ONE Spark driver: every index
  * configuration runs over the SAME chunked corpus (each source stream
  * = one backup job, jobs in stream order against one shared index,
  * exactly the benchmark scripts' per-version loop) and emits the
  * backup.log / restore.log-shaped rows (field lists:
  * `src/do_backup.c:179-207`, `src/do_restore.c:267-283`).
  *
  * Index categories swept (destor's index_category × sampling knobs,
  * `destor.config:57-100`):
  *  - `exact` — exact physical index: every chunk fingerprint is
  *    indexed; a duplicate is always found (EDPL workload).
  *  - `sparse:<method>:<ratio>` — near-exact logical index (Sparse
  *    Index / NDLL workload): chunks group into content-defined
  *    segments, only SAMPLED fingerprints (`random`: fp hash mod R;
  *    `uniform`: every R-th chunk of the segment; `min`: the
  *    ceil(n/R) smallest fps) are indexed as segment features, a new
  *    segment dedups ONLY against its champion — the earlier segment
  *    sharing the most features — so missed champions show up as a
  *    lower dedup ratio at a smaller index, the sweep's entire point.
  *    Feature posting lists are capped at [[PostingCap]] segments
  *    (destor's index value-length cap; we keep the earliest — a
  *    deterministic batch recast of its newest-first FIFO).
  *  - `binning` — similarity/logical at file grain (Extreme Binning):
  *    each doc's representative (min fp) names a bin; a doc dedups
  *    chunk-level against the bin's primary (first) doc only.
  *
  * All decisions are DataFrame plans — the per-fp first-occurrence
  * window, feature-posting joins and champion top-1 are the same
  * shuffle shapes as the main pipeline; nothing collects to the
  * driver. Per-job log rows carry destor's counters; throughput (the
  * log's final measured field) is wall-clock and so reported by the
  * CLI summary, never pinned in the golden table.
  */
object SweepOps {

  val ContainerBytes = 4096L
  // expected segment length in chunks (content-defined boundary on fp
  // hash): larger than every swept sampling ratio, so the ratio knob
  // actually changes the per-segment feature count (destor default:
  // segment 1024 chunks vs ratios 16..512, destor.config:97-100,57)
  val SegEvery = 256
  val PostingCap = 64

  /** Chunked corpus with stream identity: (source, doc_id, chunk_idx,
    * len, fp), fastcdc at the doc defaults — one chunk scan shared by
    * every config. */
  private[graft] def chunks(spark: SparkSession, dir: String): DataFrame =
    ChunkOps.chunkDocs(spark, dir, "fastcdc")
      .join(spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source"), "doc_id")
      .select("source", "doc_id", "chunk_idx", "len", "fp")

  private def streamOrder: Seq[Column] =
    Seq(col("source"), col("doc_id"), col("chunk_idx"))

  /** One config's dedup decision: the chunk table plus a boolean
    * `stored`, and its per-job index-overhead counters
    * (source, index_lookups, index_hits, entries_added). */
  private final case class ConfigRun(name: String, flagged: DataFrame,
                                     indexCounters: DataFrame)

  /** Exact physical index: global first-occurrence over fp in stream
    * order (J1, one data-scale shuffle). */
  private def runExact(ch: DataFrame): ConfigRun = {
    val w = Window.partitionBy("fp").orderBy(streamOrder: _*)
    val flagged = ch.withColumn("stored", row_number().over(w) === 1)
    val counters = flagged.groupBy("source").agg(
      count(lit(1)).as("index_lookups"),
      sum(when(col("stored"), 0L).otherwise(1L)).as("index_hits"),
      sum(when(col("stored"), 1L).otherwise(0L)).as("entries_added"))
    ConfigRun("exact", flagged, counters)
  }

  /** Sparse-index near-exact: segment the stream, sample features,
    * champion by shared-feature count, dedup only within the champion
    * (+ the open segment itself). */
  private def runSparse(ch: DataFrame, method: String, ratio: Int): ConfigRun = {
    // segments span FILE boundaries (destor segments the stream's chunk
    // sequence, not each file: src/index/segmenting_method.c:73-114),
    // so the boundary window runs per STREAM — one linear pass per
    // source, the same inherently-sequential grain as trace replay
    val wStream = Window.partitionBy("source").orderBy("doc_id", "chunk_idx")
    val seg = ch.withColumn("seg_idx",
        sum(when(pmod(xxhash64(col("fp")), lit(SegEvery)) === 0, 1)
          .otherwise(0)).over(wStream))
    val segKey = Seq("source", "seg_idx")

    val wSeg = Window.partitionBy(segKey.map(col): _*).orderBy("doc_id", "chunk_idx")
    val sampled = method match {
      case "random" => seg.filter(pmod(xxhash64(col("fp")), lit(ratio)) === 0)
      case "uniform" => seg.withColumn("rn", row_number().over(wSeg))
        .filter((col("rn") - 1) % ratio === 0)
      case "min" =>
        val wFp = Window.partitionBy(segKey.map(col): _*).orderBy("fp", "doc_id", "chunk_idx")
        val wAll = Window.partitionBy(segKey.map(col): _*)
        seg.withColumn("rk", row_number().over(wFp))
          .withColumn("n", count(lit(1)).over(wAll))
          .filter(col("rk") <= ceil(col("n") / lit(ratio.toDouble)))
      case other => throw new IllegalArgumentException(s"unknown sampling method '$other'")
    }
    val features = sampled
      .select(col("fp").as("feature"), col("source"), col("seg_idx")).distinct()

    // posting lists capped per feature (earliest PostingCap segments)
    val wFeat = Window.partitionBy("feature").orderBy("source", "seg_idx")
    val postings = features.withColumn("prn", row_number().over(wFeat))
      .filter(col("prn") <= PostingCap)
      .select(col("feature"), col("source").as("t_source"), col("seg_idx").as("t_seg"))

    // probe: each segment's features against the postings; candidates
    // are strictly-earlier segments in stream order
    val cand = features.join(postings, "feature")
      .filter(col("t_source") < col("source") ||
        (col("t_source") === col("source") && col("t_seg") < col("seg_idx")))
    val wCh = Window.partitionBy(segKey.map(col): _*)
      .orderBy(col("shares").desc, col("t_source"), col("t_seg"))
    val champion = cand
      .groupBy((segKey.map(col) :+ col("t_source") :+ col("t_seg")): _*)
      .agg(count(lit(1)).as("shares"))
      .withColumn("crk", row_number().over(wCh))
      .filter(col("crk") === 1)
      .select((segKey.map(col) :+ col("t_source") :+ col("t_seg")): _*)

    // a chunk is a dup iff its fp is in the champion segment's recipe
    // (stored or not — the recipe lists every fp) or appeared earlier
    // in its OWN segment
    val segFps = seg.select(col("source").as("t_source"),
      col("seg_idx").as("t_seg"), col("fp")).distinct()
    val inChamp = seg.join(champion, segKey)
      .join(segFps, Seq("t_source", "t_seg", "fp"), "left_semi")
      .select((segKey.map(col) :+ col("doc_id") :+ col("chunk_idx")): _*)
      .withColumn("champ_dup", lit(true))
    val wSegFp = Window.partitionBy((segKey.map(col) :+ col("fp")): _*)
      .orderBy("doc_id", "chunk_idx")
    val flagged = seg.withColumn("seg_rn", row_number().over(wSegFp))
      .join(inChamp, segKey ++ Seq("doc_id", "chunk_idx"), "left")
      .withColumn("stored", col("seg_rn") === 1 && col("champ_dup").isNull)
      .select("source", "doc_id", "chunk_idx", "len", "fp", "stored")

    val probes = features.groupBy("source")
      .agg(count(lit(1)).as("index_lookups"))
    val hits = cand.select(col("source"), col("seg_idx"), col("feature"))
      .distinct().groupBy("source").agg(count(lit(1)).as("index_hits"))
    val counters = features.groupBy("source").agg(count(lit(1)).as("entries_added"))
      .join(probes, Seq("source"), "left").join(hits, Seq("source"), "left")
      .na.fill(0L, Seq("index_lookups", "index_hits"))
    ConfigRun(s"sparse:$method:$ratio", flagged, counters)
  }

  /** Extreme-Binning-style similarity/logical index at file grain:
    * bin = the doc's min fp; dedup against the bin's primary doc. */
  private def runBinning(ch: DataFrame): ConfigRun = {
    val reps = ch.groupBy("source", "doc_id").agg(min("fp").as("rep"))
    val wBin = Window.partitionBy("rep").orderBy("source", "doc_id")
    val binned = reps.withColumn("brn", row_number().over(wBin))
    val primary = binned.filter(col("brn") === 1)
      .select(col("rep"), col("source").as("t_source"), col("doc_id").as("t_doc"))
    val champion = binned.filter(col("brn") > 1)
      .join(primary, "rep")
      .select("source", "doc_id", "t_source", "t_doc")

    val docFps = ch.select(col("source").as("t_source"),
      col("doc_id").as("t_doc"), col("fp")).distinct()
    val inChamp = ch.join(champion, Seq("source", "doc_id"))
      .join(docFps, Seq("t_source", "t_doc", "fp"), "left_semi")
      .select("source", "doc_id", "chunk_idx")
      .withColumn("champ_dup", lit(true))
    val wDocFp = Window.partitionBy("source", "doc_id", "fp").orderBy("chunk_idx")
    val flagged = ch.withColumn("doc_rn", row_number().over(wDocFp))
      .join(inChamp, Seq("source", "doc_id", "chunk_idx"), "left")
      .withColumn("stored", col("doc_rn") === 1 && col("champ_dup").isNull)
      .select("source", "doc_id", "chunk_idx", "len", "fp", "stored")

    val counters = reps.groupBy("source").agg(count(lit(1)).as("index_lookups"))
      .join(champion.groupBy("source").agg(count(lit(1)).as("index_hits")),
        Seq("source"), "left")
      .join(binned.filter(col("brn") === 1).groupBy("source")
        .agg(count(lit(1)).as("entries_added")), Seq("source"), "left")
      .na.fill(0L, Seq("index_hits", "entries_added"))
    ConfigRun("binning", flagged, counters)
  }

  /** backup.log rows for one config: pack the stored chunks per stream
    * (W3), aggregate destor's per-job counters, and accumulate the
    * cumulative/index fields over the job sequence. */
  private def backupRows(run: ConfigRun): DataFrame = {
    val packed = ContainerOps.pack(run.flagged,
      shard = col("source"),
      order = col("doc_id") * lit(1000000) + col("chunk_idx"),
      size = when(col("stored"), col("len")).otherwise(lit(0L)),
      containerBytes = ContainerBytes)
    val sparse = packed.filter(col("stored"))
      .groupBy("source", "container_id").agg(sum("len").as("cbytes"))
      .filter(col("cbytes") < 0.25 * ContainerBytes)
      .groupBy("source").agg(count(lit(1)).as("sparse_containers"))
    val perJob = packed.groupBy("source").agg(
        count(lit(1)).as("n_chunks"),
        sum("len").as("data_bytes"),
        sum(when(col("stored"), col("len")).otherwise(0L)).as("stored_bytes"),
        countDistinct(when(col("stored"), col("container_id"))).as("n_containers"))
      .join(sparse, Seq("source"), "left")
      .join(run.indexCounters, Seq("source"), "left")
      .na.fill(0L, Seq("sparse_containers", "index_lookups", "index_hits", "entries_added"))
    // job sequence + running fields: a per-config window over the
    // per-job aggregate — O(streams) rows, not data-scale
    val wSeq = Window.orderBy("source")
    val wRun = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, 0)
    perJob
      .withColumn("job_seq", row_number().over(wSeq))
      .withColumn("cum_stored_bytes", sum("stored_bytes").over(wRun))
      .withColumn("index_entries", sum("entries_added").over(wRun))
      .withColumn("dedup_ratio",
        round((col("data_bytes") - col("stored_bytes")) / col("data_bytes"), 6))
      .withColumn("rewrite_ratio", lit(0.0)) // rewrite off — destor.config default
      .withColumn("inherited_sparse", lit(0L)) // HAR off with rewrite off
      // destor's index footprint formula keys*(key_size + 8*value_length
      // + 4) (src/index/kvstore_htable.c:142-144) at key=8 B fp, vlen=1
      .withColumn("index_mem_bytes", col("index_entries") * lit(8L + 8L + 4L))
      .withColumn("config", lit(run.name))
      .select("config", "job_seq", "source", "n_chunks", "data_bytes",
        "stored_bytes", "cum_stored_bytes", "dedup_ratio", "rewrite_ratio",
        "n_containers", "sparse_containers", "inherited_sparse",
        "index_lookups", "index_hits", "index_entries", "index_mem_bytes")
  }

  /** Default sweep grid: exact + {random,min,uniform} × {32,128} + binning. */
  def defaultConfigs: Seq[String] =
    "exact" +: (for (m <- Seq("random", "min", "uniform"); r <- Seq(32, 128))
      yield s"sparse:$m:$r") :+ "binning"

  /** The full backup sweep: one backup.log-shaped row per
    * (config, job). `configs` entries are `exact`, `binning`, or
    * `sparse:<method>:<ratio>`. */
  def backupLog(spark: SparkSession, dir: String,
                configs: Seq[String] = defaultConfigs): DataFrame = {
    val ch = chunks(spark, dir)
    val runs = configs.map {
      case "exact" => runExact(ch)
      case "binning" => runBinning(ch)
      case s if s.startsWith("sparse:") =>
        val parts = s.split(":")
        require(parts.length == 3 && parts(2).toIntOption.exists(_ > 0),
          s"bad sparse config '$s' (sparse:<method>:<ratio>)")
        runSparse(ch, parts(1), parts(2).toInt)
      case other => throw new IllegalArgumentException(
        s"unknown sweep config '$other' (exact | binning | sparse:<method>:<ratio>)")
    }
    runs.map(backupRows).reduce(_ unionByName _)
      .orderBy("config", "job_seq")
  }

  /** restore.log rows: the exact-store recipe replayed under the cache
    * sweep (LRU sizes + the optimal and assembly baselines at one
    * size), destor's restore sweep (`scripts/benchmark.sh:17-20`). */
  def restoreLog(spark: SparkSession, dir: String): DataFrame = {
    val rec = RestoreSim.recipe(spark, dir, containerBytes = ContainerBytes)
    val sizes = rec.groupBy("source").agg(sum("len").as("data_bytes"))
    RestoreSim.cacheSim(rec, () => Seq(
        new RestoreSim.LruSim(4), new RestoreSim.LruSim(16), new RestoreSim.LruSim(64),
        new RestoreSim.BeladySim(16, 1 << 20), new RestoreSim.AssemblySim(16, ContainerBytes)))
      .join(sizes, "source")
      // destor's speed factor = data restored per container read
      // (src/do_restore.c:255-256), in container-size units here
      .withColumn("speed_factor",
        round(col("data_bytes") / (col("reads") * ContainerBytes.toDouble), 4))
      .select(col("source"), col("policy"), col("cache_size"),
        col("data_bytes"), col("reads").as("containers_read"), col("speed_factor"))
      .orderBy("source", "policy", "cache_size")
  }

  /** Render the two log tables as destor-shaped text lines. */
  def formatBackupLog(rows: DataFrame): Seq[String] = formatRows(rows.collect())

  /** Log lines of already-collected rows (doubles at 6 decimals). */
  def formatRows(rows: Array[Row]): Seq[String] =
    rows.map { r =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case d: Double => f"$d%.6f"
          case v => v.toString
        }
      }.mkString(" ")
    }.toSeq

  def formatRestoreLog(rows: DataFrame): Seq[String] = formatBackupLog(rows)
}
