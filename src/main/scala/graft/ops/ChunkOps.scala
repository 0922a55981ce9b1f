package graft.ops

import graft.signatures.Chunker
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset-side surface of the CDC chunker family (P2–P6): a narrow
  * typed flatMap over the documents table — no shuffle, no state, the
  * chunk stream stays (id, off, len, fp) so the bytes themselves never
  * leave the scan task. At 100 TB this stage is pure map parallelism;
  * the fingerprints feed the same exact-dedup groupBy as P8.
  */
object ChunkOps {

  /** One chunk of one document under one algorithm. */
  final case class ChunkRow(doc_id: Long, chunk_idx: Int, off: Int, len: Int, fp: Long)

  /** Per-(doc, algo) tiling invariants — the SQL-expressible projection
    * of the chunker contract, oracled in DuckDB (q_chunk_cover). */
  final case class CoverRow(doc_id: Long, algo: String, total_len: Long,
                            cover_ok: Boolean, clamps_ok: Boolean)

  // not private: Catalyst's generated SafeProjection must reach the ctor
  final case class Doc(doc_id: Long, text: String)

  private def docs(spark: SparkSession, dir: String) = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text").as[Doc]
  }

  /** Chunk list for one algorithm over the documents table (rows-only
    * driver check; the tiling invariants are oracled via chunkCover and
    * the byte-level properties in ChunkerSpec). */
  def chunkDocs(spark: SparkSession, dir: String, algo: String,
                p: Chunker.Params = Chunker.docParams): DataFrame =
    chunkDf(docs(spark, dir).toDF(), algo, p)

  /** Same over any (doc_id: long, text: string) DataFrame. */
  def chunkDf(docsDf: DataFrame, algo: String,
              p: Chunker.Params = Chunker.docParams): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    docsDf.select("doc_id", "text").as[Doc].flatMap { d =>
      val b = d.text.getBytes("UTF-8")
      val ends = Chunker.boundaries(algo, b, p)
      var off = 0
      ends.iterator.zipWithIndex.map { case (end, idx) =>
        val row = ChunkRow(d.doc_id, idx, off, end - off, Chunker.rangeFp(b, off, end - off))
        off = end
        row
      }
    }.toDF()
  }

  /** The reference's backup job at chunk granularity (its main "query",
    * §3.1): chunk the byte streams, fingerprint, dedup first-occurrence-
    * wins (J1's self-insertion = row_number over fp), pack the unique
    * chunks into byte-bounded containers (W3), and report the job
    * counters destor prints per backup (A7: chunk/unique counts, raw vs
    * stored bytes, dedup ratio, containers written).
    *
    * Shuffle budget at scale: ONE data-scale hash shuffle on fp for the
    * dedup decision, one on the pack shard for container assignment —
    * the same two destor pays (index probe + container write); the
    * stats are map-side partial aggregations over each.
    */
  /** J1 first-occurrence flag over a chunk stream in (doc, chunk)
    * order — the dedup decision every backup-shaped consumer
    * (chunkBackup, chunkRestore, ChunkIngest, the restore-sim recipes)
    * must share verbatim; the window is the trace jobs' one. */
  private[graft] def flagFirst(chunks: DataFrame): DataFrame =
    graft.sources.TraceJobs.flagFirst(chunks, col("doc_id"), col("chunk_idx"))

  /** W3 container assignment with the ONE pack parameterization the
    * backup job defines (32 fp-hash shards, stream order, conditional
    * size: dup rows contribute 0 bytes, so container boundaries over
    * the unique rows are exactly pack()'s while everything stays ONE
    * plan). RestoreSim's recipes reuse this so their container ids are
    * chunkBackup's by construction, not by copy-paste. */
  private[graft] def packFlagged(flagged: DataFrame, containerBytes: Long): DataFrame =
    ContainerOps.pack(flagged,
      shard = pmod(hash(col("fp")), lit(32)).cast("string"),
      order = col("doc_id") * lit(1000000) + col("chunk_idx"),
      size = when(col("is_first"), col("len")).otherwise(lit(0L)),
      containerBytes = containerBytes)

  def chunkBackup(spark: SparkSession, dir: String, algo: String = "fastcdc",
                  p: Chunker.Params = Chunker.docParams,
                  containerBytes: Long = 4096L): DataFrame = {
    val flagged = flagFirst(chunkDocs(spark, dir, algo, p))
    val packed = packFlagged(flagged, containerBytes)
    packed.agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("is_first"), 1L).otherwise(0L)).as("n_unique"),
        sum("len").as("total_bytes"),
        sum(when(col("is_first"), col("len")).otherwise(0L)).as("stored_bytes"),
        countDistinct(when(col("is_first"), col("container_id"))).as("n_containers"))
      .withColumn("dedup_ratio",
        round((col("total_bytes") - col("stored_bytes")) / col("total_bytes"), 6))
      .select("n_chunks", "n_unique", "total_bytes", "stored_bytes",
        "dedup_ratio", "n_containers")
  }

  /** destor's restore job at chunk granularity (T1/T2/T5): the recipe
    * stream (doc_id, chunk_idx, fp) probes the content store (first
    * occurrence of each fingerprint, a pointer into its source doc) and
    * every fetched piece is compared byte-for-byte against the slice it
    * must reproduce. Per-chunk equality + the tiling contract
    * (q_chunk_cover) together imply byte-identical reconstruction, so
    * no reassembly buffer (collect_list) is ever built — the verify is
    * a streaming join, scale-safe at any document size.
    *
    * Returns one row (missing_chunks, byte_mismatches, all_restored)
    * whose expected value is a constant — the same oracle pattern as
    * q_roundtrip_verify.
    */
  def chunkRestore(spark: SparkSession, dir: String, algo: String = "fastcdc",
                   p: Chunker.Params = Chunker.docParams): DataFrame = {
    val bytesDf = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
    val chunks = chunkDocs(spark, dir, algo, p)
    val store = flagFirst(chunks).filter(col("is_first"))
      .select(col("fp"), col("doc_id").as("src_doc"),
        col("off").as("src_off"), col("len").as("src_len"))
    chunks
      .join(store, Seq("fp"), "left_outer")
      .join(bytesDf.select(col("doc_id").as("src_doc"), col("bytes").as("src_bytes")),
        Seq("src_doc"), "left_outer")
      .join(bytesDf, Seq("doc_id"))
      .agg(
        sum(when(col("src_doc").isNull, 1L).otherwise(0L)).as("missing_chunks"),
        sum(when(col("src_doc").isNotNull &&
          (col("src_len") =!= col("len") ||
            expr("substring(src_bytes, src_off + 1, src_len)") =!=
              expr("substring(bytes, off + 1, len)")), 1L).otherwise(0L))
          .as("byte_mismatches"))
      .select(col("missing_chunks"), col("byte_mismatches"),
        when(col("missing_chunks") === 0 && col("byte_mismatches") === 0, 1L)
          .otherwise(0L).as("all_restored"))
  }

  /** Tiling-invariant projection for ALL five algorithms at once:
    * total_len must equal octet_length(text), the chunks must tile
    * [0, n) contiguously, and every non-final chunk must respect the
    * min/max clamps (a final chunk may undershoot min). DuckDB can
    * state the expected row exactly, making the whole chunker family
    * hash-checkable end-to-end. */
  def chunkCover(spark: SparkSession, dir: String,
                 p: Chunker.Params = Chunker.docParams): DataFrame = {
    import spark.implicits._
    docs(spark, dir).flatMap { d =>
      val b = d.text.getBytes("UTF-8")
      Chunker.algos.map { algo =>
        val ends = Chunker.boundaries(algo, b, p)
        var off = 0
        var total = 0L
        var cover = true
        var clamps = true
        var i = 0
        while (i < ends.length) {
          val len = ends(i) - off
          if (len <= 0) cover = false
          if (len > p.max) clamps = false
          // rabin-family cuts need a full 48-byte window, so their
          // effective floor is max(min, window); only the final chunk
          // may undershoot min
          if (i < ends.length - 1 && len < p.min) clamps = false
          total += len
          off = ends(i)
          i += 1
        }
        if (b.nonEmpty && (ends.isEmpty || ends.last != b.length)) cover = false
        CoverRow(d.doc_id, algo, total, cover, clamps)
      }
    }.toDF()
  }
}
