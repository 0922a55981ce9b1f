package graft

import graft.core.{ConfigParser, DedupConfig, ImageRow, Sessions}
import graft.pipeline.{IncrementalDedup, RestoreOps, Retention, TableIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The destor-shaped command-line surface over the persistent store —
  * the job loop a reference user drives (`destor /path`, `-r`, `-s`,
  * `-t`, `-p"config line"`: reference src/destor.c:34-54 usage, job
  * dispatch :260-360), recast over the incremental index stores:
  *
  * {{{
  * backup  <storeDir> <batch.parquet> --id <runId>   ingest one batch
  * restore <storeDir> <runId|all> <outDir>           rebuild rows + verify
  * delete  <storeDir> <runId>[,<runId>...]           expire batches (GC)
  * stats   <storeDir>                                store state (no job)
  * trace   <dataDir> <outDir> [--format text|fsl]    make_trace analog (S2/S3)
  * simulate <traceGlob> [--format text|fsl]          backup driven from a trace
  * }}}
  *
  * Shared options: `--config <file>` then any number of
  * `-p "<key> <value>"` overrides (destor's -p), applied in order and
  * validated once against the cross-knob guards; `--local <cores>`
  * builds a local session (tests/sandbox) — without it the session
  * comes from spark-submit via [[graft.core.Sessions.submit]].
  *
  * Each command returns its one-line job summary (destor's backup/
  * restore log line analog); `main` prints it. */
object Cli {

  val usage: String =
    """usage: graft.Cli <command> [options]
      |  backup  <storeDir> <batch.parquet> --id <runId>
      |  restore <storeDir> <runId|all> <outDir>
      |  delete  <storeDir> <runId>[,<runId>...]
      |  stats   <storeDir>
      |  trace    <dataDir> <outDir> [--format text|fsl]
      |  simulate <traceGlob> [--format text|fsl]
      |  sweep    <dataDir> <outDir>
      |options: --config <file>   -p "<key> <value>"   --local <cores>""".stripMargin

  /** A malformed command line — caught in [[run]]/[[main]] and turned
    * into the usage text instead of a stack trace. */
  private final class BadArgs(msg: String) extends Exception(msg)

  def main(args: Array[String]): Unit = {
    val a = args.toSeq
    val li = a.indexOf("--local")
    val local =
      if (li < 0) None
      else if (li + 1 >= a.length) { println(s"--local needs a core count\n$usage"); return }
      else a(li + 1).toIntOption match {
        case None => println(s"--local needs a core count, got '${a(li + 1)}'\n$usage"); return
        case some => some
      }
    val (spark, rest) = local match {
      case Some(n) => (Sessions.local(n, 32, "graft-cli"), a.patch(li, Nil, 2))
      case None => (Sessions.submit("graft-cli"), a)
    }
    try println(run(rest, spark))
    catch {
      // contract violations (unknown batch, signature-only restore,
      // bad config value) print as one-line errors, not stack traces
      case e: IllegalArgumentException => println(s"error: ${e.getMessage}")
    }
    finally spark.stop()
  }

  /** Split config options out of the arg list and fold them into one
    * DedupConfig. ALL --config files apply first, then ALL -p lines —
    * in destor the -p overrides beat the config file regardless of
    * argv position (load_config then load_config_from_string,
    * src/destor.c:289-293), and ConfigParser is last-line-wins. */
  private def config(args: Seq[String]): (DedupConfig, Seq[String]) = {
    val files = new StringBuilder
    val plines = new StringBuilder
    var rest = Vector.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--config" =>
          if (i + 1 >= args.length) throw new BadArgs("--config needs a file path")
          files.append(java.nio.file.Files.readString(
            java.nio.file.Paths.get(args(i + 1)))).append('\n')
          i += 2
        case "-p" =>
          if (i + 1 >= args.length) throw new BadArgs("-p needs a \"<key> <value>\" line")
          plines.append(args(i + 1)).append('\n')
          i += 2
        case other =>
          rest :+= other
          i += 1
      }
    }
    val text = files.append(plines).toString
    (if (text.isEmpty) DedupConfig.default else ConfigParser.parse(text), rest)
  }

  def run(args0: Seq[String], spark: SparkSession): String = {
    val (cfg, args) =
      try config(args0)
      catch { case e: BadArgs => return s"${e.getMessage}\n$usage" }
    try dispatch(args, cfg, spark)
    catch { case e: BadArgs => s"${e.getMessage}\n$usage" }
  }

  /** One line per stage of a stored ingest record. */
  private def stageLines(rec: Option[graft.core.IngestRecord]): Seq[String] =
    rec.toSeq.flatMap(_.stages).map { s =>
      val counters = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s" $k=${v.toLong}" }.mkString
      f"  ${s.stage}%-15s ${s.rows}%8d rows ${s.file_rows.length}%4d files " +
        f"${s.wall_ms / 1e3}%7.2f s${if (s.resumed) " resumed" else ""}$counters"
    }

  private def traceFormat(rest: Seq[String]): String = rest match {
    case Seq() => "text"
    case Seq("--format", f) if f == "text" || f == "fsl" => f
    case Seq("--format", f) =>
      throw new BadArgs(s"unknown trace format '$f' (text|fsl)")
    case other => throw new BadArgs(s"unexpected args ${other.mkString(" ")}")
  }

  private def dispatch(args: Seq[String], cfg: DedupConfig,
                       spark: SparkSession): String = {
    import spark.implicits._
    args match {

      case Seq("backup", storeDir, input, "--id", runId) =>
        val t0 = System.nanoTime
        val inc = new IncrementalDedup(spark, storeDir, cfg)
        val clusters = inc.ingest(spark.read.parquet(input).as[ImageRow], runId)
        val n = inc.io.batchRowCount(IncrementalDedup.SigStore, runId)
        val agg = clusters.agg(count(lit(1)), countDistinct(col("cluster_id"))).head()
        val (total, nc) = (agg.getLong(0), agg.getLong(1))
        val secs = (System.nanoTime - t0) / 1e9
        val ratio = if (nc == 0) "n/a (empty corpus)" else f"${total.toDouble / nc}%.3f"
        val summary = f"backup $runId: $n images ingested in $secs%.1f s; corpus $total images in " +
          s"$nc clusters (dedup ratio $ratio)"
        (summary +: stageLines(inc.record(runId))).mkString("\n")

      case Seq("restore", storeDir, runId, outDir) =>
        val (pv, cv, all) = RestoreOps.restoreStore(spark, storeDir, runId, outDir, cfg)
        s"restore $runId -> $outDir: psnr_violations=$pv caption_violations=$cv all_restored=$all"

      case Seq("delete", storeDir, runIds) =>
        val ids = runIds.split(",").toSeq
        val have = new TableIO(spark, storeDir).batches(IncrementalDedup.SigStore)
        val missing = ids.filterNot(have.contains)
        require(missing.isEmpty,
          s"unknown batch(es) ${missing.mkString(", ")} (store has: ${have.mkString(", ")})")
        val r = new Retention(spark, storeDir, cfg)
          .expire(ids, s"gc-${ids.mkString("-")}")
        s"delete ${r.droppedBatches.mkString(",")}: ${r.droppedImages} images dropped, " +
          s"${r.reclaimedEdges} edges reclaimed, ${r.survivingImages} images survive"

      case Seq("stats", storeDir) =>
        // destor -s reads the stat file; here: manifests, parquet
        // footers and the stored stage records only — NO Spark job
        val inc = new IncrementalDedup(spark, storeDir, cfg)
        val io = inc.io
        val ids = inc.ingested
        val imgCounts = ids.map(id => id -> io.batchRowCount(IncrementalDedup.SigStore, id))
        val per = imgCounts.flatMap { case (id, n) =>
          val line = s"  $id: $n images, " +
            s"${io.batchRowCount(IncrementalDedup.PostStore, id)} postings, " +
            s"${io.batchRowCount(IncrementalDedup.EdgeStore, id)} edges"
          line +: stageLines(inc.record(id)).map("  " + _)
        }
        (s"store $storeDir: ${ids.length} batches, ${imgCounts.map(_._2).sum} images" +: per)
          .mkString("\n")

      case Seq("simulate", glob, rest @ _*) =>
        // destor's simulation backup: replay ON-DISK trace files (the
        // output of `trace`, or real public FSL traces) through the
        // global first-occurrence dedup and print the job counters —
        // no data moves, one fp shuffle (src/trace_phase.c:146-207 +
        // src/do_backup.c under simulation-level, recast)
        val fmt = traceFormat(rest)
        import graft.sources.TraceJobs
        val r =
          try {
            val flagged =
              if (fmt == "fsl")
                TraceJobs.flagFirst(graft.sources.FslSource.read(spark, glob),
                  col("trace_name"), col("file_seq"), col("chunk_idx"))
              else
                TraceJobs.flagFirst(graft.sources.TraceSource.read(spark, glob),
                  col("trace_name"), col("seq"))
            val cs = countDistinct("trace_name").as("streams") +: TraceJobs.backupCounters
            flagged.agg(cs.head, cs.tail: _*).head()
          } catch {
            // a non-matching glob is a user error, not a stack trace
            case e: org.apache.spark.sql.AnalysisException =>
              throw new BadArgs(
                s"simulate: cannot read '$glob': ${e.getMessage.takeWhile(_ != '\n')}")
            // a malformed trace file that the glob DOES match fails
            // inside the job; the parsers reject it with a descriptive
            // IllegalArgumentException — surface that line, not the
            // SparkException stack
            case e: org.apache.spark.SparkException =>
              Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
                .collectFirst { case i: IllegalArgumentException => i } match {
                case Some(i) => throw new BadArgs(
                  s"simulate: bad trace under '$glob': " +
                    i.getMessage.takeWhile(_ != '\n'))
                case None => throw e
              }
          }
        val (bytes, storedB) = (r.getLong(2), r.getLong(3))
        val ratio = if (bytes == 0) "n/a" else f"${(bytes - storedB).toDouble / bytes}%.4f"
        s"simulate ($fmt): ${r.getLong(0)} streams, ${r.getLong(1)} chunks " +
          s"(${r.getLong(4)} stored), $bytes bytes ($storedB stored), dedup ratio $ratio"

      case Seq("sweep", dataDir, outDir) =>
        // destor's benchmark workflow in one command (scripts/
        // benchmark.sh + edpl.sh + ndll.sh): every index config over
        // the same corpus, plus the restore-cache sweep — emits the
        // backup.log / restore.log-shaped tables
        import graft.ops.SweepOps
        val t0 = System.nanoTime
        val b = SweepOps.backupLog(spark, dataDir)
        val r = SweepOps.restoreLog(spark, dataDir)
        val bRows = b.collect()
        val bLines = SweepOps.formatRows(bRows)
        val rLines = SweepOps.formatRestoreLog(r)
        new java.io.File(outDir).mkdirs()
        def writeLog(name: String, header: String, lines: Seq[String]): Unit =
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, name),
            (header +: lines).mkString("", "\n", "\n"))
        writeLog("backup.log",
          "# config job_seq job n_chunks data_bytes stored_bytes cum_stored_bytes " +
            "dedup_ratio rewrite_ratio n_containers sparse_containers " +
            "inherited_sparse index_lookups index_hits index_entries index_mem_bytes",
          bLines)
        writeLog("restore.log",
          "# job policy cache_size data_bytes containers_read speed_factor", rLines)
        val secs = (System.nanoTime - t0) / 1e9
        // throughput over the exact config's data volume (the measured
        // 13th/5th field destor logs per job; here per sweep run), from
        // the rows already collected — decimal MB
        val dataBytes = bRows.filter(_.getAs[String]("config") == "exact")
          .map(_.getAs[Long]("data_bytes")).sum
        f"sweep: ${SweepOps.defaultConfigs.length} configs, ${bLines.length} backup rows + " +
          f"${rLines.length} restore rows -> $outDir in $secs%.1f s " +
          f"(${dataBytes * SweepOps.defaultConfigs.length / 1e6 / secs}%.1f MB/s swept)"

      case Seq("trace", dataDir, outDir, rest @ _*) =>
        val fmt = traceFormat(rest)
        // destor consumes both its own text grammar and FSL binary
        // hashfiles as trace input (src/trace_phase.c, src/fsl/) — the
        // CLI writes either, one stream file per source
        if (fmt == "fsl")
          graft.sources.FslSource.makeFslTrace(
            graft.sources.FslSource.docChunks(spark, dataDir), outDir)
        else
          graft.sources.TraceSource.makeTrace(
            graft.text.TextOps.docs(spark, dataDir), outDir)
        val n = Option(new java.io.File(outDir).list()).map(_.length).getOrElse(0)
        s"trace: wrote $n $fmt streams to $outDir"

      case _ => usage
    }
  }
}
