package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The table-layer contract every pipeline component is written
  * against (their `io` fields are typed as this trait, so swapping the
  * backend touches NO caller): atomic whole-table publish with a
  * config-hash guard, append-oriented batch stores with manifest-first
  * drop, and metadata-only row counts. Each operation maps 1:1 onto
  * Iceberg DDL when those jars are available (none ship in this
  * sandbox — SURVEY.md §7.1):
  *
  *  - publish                   → CREATE OR REPLACE TABLE ... AS
  *                                (atomic snapshot swap); the config
  *                                hash rides a snapshot property
  *  - isPublished/exists        → catalog lookup + snapshot property
  *  - appendBatch               → an append commit (one snapshot),
  *                                runId as a snapshot/partition tag
  *  - stageBatch/commitBatch    → write-audit-publish: a staged
  *                                snapshot (wap.id = runId), made
  *                                current later by cherry-pick
  *  - batchDirs                 → committed + staged snapshot ids
  *  - putBatchMeta/batchMeta/
  *    publishedBy               → snapshot summary properties
  *  - rewriteBatch              → REPLACE of that partition (overwrite
  *                                commit filtered to the batch id)
  *  - dropBatch                 → DELETE WHERE batch = id + snapshot
  *                                expiry (manifest-first discipline is
  *                                exactly Iceberg's: metadata commit
  *                                precedes file reclaim)
  *  - readBatches/Tagged        → plain scans (batch id a column)
  *  - batchRowCount/fileCounts/
  *    batchFileCounts           → manifest/metadata tables, no job
  *  - gcOrphans                 → remove_orphan_files
  *  - drop                      → DROP TABLE PURGE
  */
trait TableBackend {
  def fileCounts(table: String): Seq[(String, Long)]
  def publish(df: DataFrame, table: String, configHash: String, runId: String): Seq[(String, Long)]
  def isPublished(table: String, configHash: String): Boolean
  def publishedBy(table: String): Option[String]
  def read(table: String): DataFrame
  def batches(table: String): Seq[String]
  def batchDirs(table: String): Seq[String]
  def stageBatch(df: DataFrame, table: String, runId: String): Seq[(String, Long)]
  def commitBatch(table: String, runId: String): Unit
  def appendBatch(df: DataFrame, table: String, runId: String): Long = {
    require(!batches(table).contains(runId), s"batch $runId already in $table")
    val files = stageBatch(df, table, runId)
    commitBatch(table, runId)
    files.map(_._2).sum
  }
  def rewriteBatch(df: DataFrame, table: String, runId: String): Unit
  def dropBatch(table: String, runId: String): Unit
  def putBatchMeta(table: String, runId: String, name: String, text: String): Unit
  def batchMeta(table: String, runId: String, name: String): Option[String]
  def readBatch(table: String, runId: String): DataFrame
  def batchFileCounts(table: String, runId: String): Seq[(String, Long)]
  def batchRowCount(table: String, runId: String): Long =
    batchFileCounts(table, runId).map(_._2).sum
  def readBatches(table: String): DataFrame
  def readBatchesTagged(table: String, tagCol: String): DataFrame
  def hasBatches(table: String): Boolean = batches(table).nonEmpty
  def gcOrphans(): Seq[String]
  def exists(table: String): Boolean
  def drop(table: String): Unit
}

/** Atomic table publish on any Hadoop FileSystem — the parquet+manifest
  * stand-in for Iceberg commits (no Iceberg jars ship in this sandbox;
  * the [[TableBackend]] contract is shaped so an Iceberg backend can
  * replace it 1:1).
  *
  * Publish protocol (the analog of destor's sealed-container +
  * recipe-store commit, reference: src/storage/containerstore.c:131-216
  * and src/recipe/recipestore.c:286-484):
  *   1. write parquet to `<table>.tmp-<runId>`
  *   2. delete any previous `<table>`
  *   3. rename tmp -> `<table>`   (atomic on HDFS / posix)
  *   4. write `<table>/_MANIFEST.json` (rows, config hash, run id)
  * A table without a manifest is treated as absent, so a crash between
  * 2 and 4 is safe: the stage simply recomputes on resume.
  *
  * Row counts come from the parquet FOOTERS (driver-side metadata reads,
  * one per file) — round 1 re-scanned the freshly written table twice
  * per stage (once to count, once for per-file lineage), which at 100 TB
  * is two extra full-table passes per stage. Footer reads share the
  * session's Hadoop configuration (no per-read `Configuration` is built
  * or parsed, and session settings reach them), and a write hands back
  * the per-file counts it read, so its caller never reads them again.
  */
final class TableIO(spark: SparkSession, baseDir: String) extends TableBackend {
  private def fs: FileSystem = new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def tablePath(t: String) = new Path(baseDir, t)
  private def manifestPath(t: String) = new Path(tablePath(t), "_MANIFEST.json")

  private def parquetFiles(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)

  /** Open one parquet footer with read options built from the session's
    * Hadoop configuration: the one-argument `ParquetFileReader.open`
    * builds and parses a fresh `Configuration` per file, one that misses
    * the session's settings (a decryption factory, say). */
  private def footer[T](s: org.apache.hadoop.fs.FileStatus)(
      f: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, s.getPath).build())
    try f(reader) finally reader.close()
  }

  /** Per-data-file row counts under one directory, from parquet footer
    * metadata only (driver-side, no Spark job, no data pages read) —
    * the single implementation behind every footer-based count here. */
  private def footerCounts(dir: Path): Seq[(String, Long)] =
    parquetFiles(dir).map(s => s.getPath.getName -> footer(s)(_.getRecordCount))

  /** The Spark schema a directory was written with, from the first
    * parquet footer's row metadata (driver-side). Reading with it skips
    * the schema-inference job a bare `spark.read.parquet` launches. */
  private def footerSchema(dir: Path): Option[StructType] =
    parquetFiles(dir).headOption.flatMap(footer(_)(r =>
      Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])))

  /** Scan parquet dirs with the schema of the first one's footer. */
  private def scan(dirs: Seq[Path]): DataFrame =
    footerSchema(dirs.head) match {
      case Some(schema) => spark.read.schema(schema).parquet(dirs.map(_.toString): _*)
      case None => spark.read.parquet(dirs.map(_.toString): _*)
    }

  private def readText(p: Path): Option[String] = {
    val f = fs
    if (!f.exists(p)) return None
    val in = f.open(p)
    try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  private def writeText(p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
  }

  /** Steps 1-3 of the publish protocol, shared by every table and batch
    * write: parquet to `baseDir/<tmpName>`, delete `dest`, rename the
    * tmp dir over it (its parent created if missing). A failed rename
    * throws `<failure>: <tmp> -> <dest>`. */
  private def writeOver(df: DataFrame, tmpName: String, dest: Path, failure: String): Unit = {
    val f = fs
    val tmp = new Path(baseDir, tmpName)
    f.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    f.delete(dest, true)
    f.mkdirs(dest.getParent)
    if (!f.rename(tmp, dest))
      throw new java.io.IOException(s"$failure: $tmp -> $dest")
  }

  /** Per-data-file row counts of a published table, from parquet footer
    * metadata only (no Spark job, no data pages read). */
  def fileCounts(table: String): Seq[(String, Long)] =
    footerCounts(tablePath(table))

  /** Publish and return the per-file rows written (parquet footers — no
    * re-scan). */
  def publish(df: DataFrame, table: String, configHash: String, runId: String): Seq[(String, Long)] = {
    writeOver(df, s"$table.tmp-$runId", tablePath(table), "atomic publish failed")
    val files = fileCounts(table)
    writeText(manifestPath(table),
      s"""{"table":"$table","rows":${files.map(_._2).sum},"config_hash":"$configHash","run_id":"$runId","ts":${System.currentTimeMillis()}}""")
    files
  }

  /** True iff the table was fully published under the SAME config —
    * a config change invalidates every checkpoint (the configHash guard
    * in DedupConfig; callers fold an input-identity fingerprint into
    * the hash so a different corpus in the same workDir never silently
    * reuses stale stages). */
  def isPublished(table: String, configHash: String): Boolean =
    readText(manifestPath(table)).exists(_.contains(s""""config_hash":"$configHash""""))

  /** Run id recorded by the table's last publish (None if unpublished). */
  def publishedBy(table: String): Option[String] =
    readText(manifestPath(table)).flatMap(
      "\"run_id\":\"([^\"]*)\"".r.findFirstMatchIn(_).map(_.group(1)))

  def read(table: String): DataFrame = scan(Seq(tablePath(table)))

  // ------------------------------------------------------------------
  // Append-oriented batch stores (incremental ingest / retention).
  //
  // Each batch is its own subdirectory `<table>/batch-<runId>`,
  // committed by the same tmp→rename protocol; `_STORE.json` lists the
  // committed batch ids IN INGEST ORDER. A batch directory not listed
  // in the manifest is invisible (a crash mid-append is simply retried):
  // stageBatch writes one, commitBatch lists it, so a staged batch is a
  // durable checkpoint nobody reads until its writer commits it.
  // This is the destor container-store append discipline
  // (src/storage/containerstore.c:131-216: containers are append-only,
  // the manifest/recordset tells which are live) — and what an Iceberg
  // append commit would replace 1:1.
  // ------------------------------------------------------------------
  private def storeManifestPath(t: String) = new Path(tablePath(t), "_STORE.json")
  private def batchPath(t: String, runId: String) = new Path(tablePath(t), s"batch-$runId")

  /** Committed batch run-ids of a store, in ingest order. */
  def batches(table: String): Seq[String] =
    readText(storeManifestPath(table)).toSeq.flatMap { txt =>
      "\"([^\"]+)\"".r.findAllMatchIn(
        txt.substring(txt.indexOf('['), txt.indexOf(']') + 1)).map(_.group(1))
    }

  private def writeStoreManifest(table: String, ids: Seq[String]): Unit =
    writeText(storeManifestPath(table),
      s"""{"table":"$table","batches":[${ids.map("\"" + _ + "\"").mkString(",")}]}""")

  /** Ids of every batch directory in a store, committed or staged. */
  def batchDirs(table: String): Seq[String] = {
    val f = fs
    if (!f.exists(tablePath(table))) return Seq.empty
    f.listStatus(tablePath(table)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
      .map(_.getPath.getName.stripPrefix("batch-"))
  }

  /** Write one batch into place WITHOUT listing it in the store
    * manifest (tmp-write, then rename over any earlier staged copy).
    * Returns the per-file rows written (parquet footers — no re-scan). */
  def stageBatch(df: DataFrame, table: String, runId: String): Seq[(String, Long)] = {
    writeOver(df, s"$table.tmp-$runId", batchPath(table, runId), "batch stage failed")
    batchFileCounts(table, runId)
  }

  /** Make a staged batch visible by listing it in the store manifest
    * (idempotent: a listed batch stays where it is). */
  def commitBatch(table: String, runId: String): Unit = {
    val ids = batches(table)
    if (!ids.contains(runId)) writeStoreManifest(table, ids :+ runId)
  }

  /** Replace one committed batch's data in place (index-entry reclaim:
    * retention rewrites surviving edge batches minus dropped ids). */
  def rewriteBatch(df: DataFrame, table: String, runId: String): Unit = {
    require(batches(table).contains(runId), s"batch $runId not in $table")
    writeOver(df, s"$table.tmp-rw-$runId", batchPath(table, runId), "batch rewrite failed")
  }

  /** Drop one batch: remove it from the manifest FIRST (it becomes
    * invisible), then delete the directory (trunc_manifest discipline,
    * reference src/cma.c:83-139: manifest update precedes reclaim). */
  def dropBatch(table: String, runId: String): Unit = {
    val ids = batches(table)
    if (ids.contains(runId)) writeStoreManifest(table, ids.filterNot(_ == runId))
    fs.delete(batchPath(table, runId), true)
  }

  /** A small driver-written file kept inside a batch directory (the
    * leading `_` hides it from parquet scans); it goes when the batch
    * is dropped. */
  def putBatchMeta(table: String, runId: String, name: String, text: String): Unit =
    writeText(new Path(batchPath(table, runId), s"_$name"), text)

  def batchMeta(table: String, runId: String, name: String): Option[String] =
    readText(new Path(batchPath(table, runId), s"_$name"))

  /** Read one batch (committed or staged) with the schema it was
    * written with. */
  def readBatch(table: String, runId: String): DataFrame = scan(Seq(batchPath(table, runId)))

  /** Per-file row counts of one batch from parquet FOOTERS only —
    * driver-side metadata reads, no Spark job. */
  def batchFileCounts(table: String, runId: String): Seq[(String, Long)] =
    footerCounts(batchPath(table, runId))

  /** Read the whole store (union of committed batches). */
  def readBatches(table: String): DataFrame = {
    val ids = batches(table)
    require(ids.nonEmpty, s"store $table has no batches")
    scan(ids.map(batchPath(table, _)))
  }

  /** Read the whole store with the owning batch id attached as column
    * `tagCol`. One footer schema is pinned for every batch dir — a
    * naive per-dir `spark.read.parquet` launches one schema-inference
    * job per batch, which turns any whole-store pass into O(batches)
    * Spark jobs. */
  def readBatchesTagged(table: String, tagCol: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val ids = batches(table)
    require(ids.nonEmpty, s"store $table has no batches")
    val schema = scan(Seq(batchPath(table, ids.head))).schema
    ids.map { r =>
      spark.read.schema(schema).parquet(batchPath(table, r).toString)
        .withColumn(tagCol, lit(r))
    }.reduce(_ unionByName _)
  }

  /** GC crashed-publish leftovers: `*.tmp-*` directories are invisible
    * by protocol; delete them and report what was reclaimed. */
  def gcOrphans(): Seq[String] = {
    val f = fs
    val base = new Path(baseDir)
    if (!f.exists(base)) return Seq.empty
    f.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains(".tmp-"))
      .map { s => f.delete(s.getPath, true); s.getPath.getName }
  }

  def exists(table: String): Boolean = fs.exists(manifestPath(table))

  def drop(table: String): Unit = fs.delete(tablePath(table), true)
}
