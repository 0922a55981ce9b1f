package perfbench

import graft.Cli
import graft.core.{DedupConfig, ImageRow}
import graft.ops.ChunkOps
import graft.pipeline.{ChunkIngest, DedupPipeline, IncrementalDedup, Retention}
import graft.signatures.{Chunker, Sig}
import graft.synth.{CorpusGen, RecallGate}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Input sizes. `full` is what the benchmark measures; `tiny` is the
  * self-test's size. */
object Sizes {
  def oneshotGroups(scale: String): Long = if (scale == "tiny") 40L else 625L
  def lifecycleGroups(scale: String): Long = if (scale == "tiny") 20L else 40L
  def chunkDocs(scale: String): Int = if (scale == "tiny") 40 else 500
}

/** The per-layer metric catalogue (BENCHMARK.json `per_layer`). */
object Layers {
  private val sparkLayers = Seq("signatures", "buckets", "candidates", "verify", "clusters",
    "ingest", "retention", "restore", "chunkingest", "chunkrestore")
  private val generic = Seq("wall_s" -> "s", "jobs" -> "count", "stages" -> "count",
    "task_s" -> "s", "gc_s" -> "s", "shuffle_write_bytes" -> "bytes",
    "shuffle_write_records" -> "count", "shuffle_read_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "task_skew" -> "ratio")
  val metrics: Seq[(String, String)] =
    sparkLayers.flatMap(l => generic.map { case (c, u) => s"$l.$c" -> u }) ++ Seq(
      "signatures.rows_out" -> "count",
      "buckets.rows_out" -> "count",
      "candidates.pairs_out" -> "count",
      "verify.useful_ratio" -> "ratio",
      "clusters.edges_in" -> "count",
      "tableio.bytes_written" -> "bytes",
      "tableio.files_written" -> "count",
      "retention.bytes_reclaimed" -> "bytes",
      "chunker.wall_s" -> "s",
      "chunker.mb_per_s" -> "MB/s",
      "chunkingest.new_chunk_ratio" -> "ratio",
      "chunkingest.dedup_ratio" -> "ratio",
      "driver.s" -> "s",
      "tracing_overhead_s" -> "s")
  /** Counters the self-test requires to repeat between two runs on the
    * same input. Shuffle bytes are left out: they are compressed sizes,
    * and IncrementalDedup.ingest's differ by a few bytes between runs. */
  val exactCounters = Seq("jobs", "stages", "shuffle_write_records", "rows_out", "pairs_out",
    "edges_in", "bytes_written", "files_written")
}

/** The duplicates CorpusGen plants in group k (rows k*8 .. k*8+7,
  * pattern k % 5): rows 0-2 of patterns 1-3 are one duplicate cluster;
  * rows 0-3 of pattern 4 carry the corpus-wide boilerplate caption, so
  * every pattern-4 group's rows 0-3 form ONE cluster, and row 4 is a
  * near-miss negative that must stay out of it. */
object Planted {
  final case class Score(pairs: Int, together: Int, negativesJoined: Int)

  def score(assign: Array[(String, String)]): Score = {
    val cl = assign.iterator.map { case (id, c) => id.substring(3).toLong -> c }.toMap
    val groups = cl.keysIterator.map(_ / CorpusGen.GroupSize).toSet.toSeq.sorted
    val boiler = groups.filter(_ % 5 == 4).map(_ * CorpusGen.GroupSize)
      .flatMap(b => (0 until 4).map(b + _)).filter(cl.contains)
    val pairs = groups.filter(k => k % 5 >= 1 && k % 5 <= 3).flatMap { k =>
      val b = k * CorpusGen.GroupSize
      Seq((b, b + 1), (b, b + 2))
    }.filter { case (x, y) => cl.contains(x) && cl.contains(y) } ++
      boiler.drop(1).map(boiler.head -> _)
    val together = pairs.count { case (x, y) => cl(x) == cl(y) }
    val boilerCluster = boiler.headOption.map(cl)
    val negJoined = groups.filter(_ % 5 == 4).map(_ * CorpusGen.GroupSize + 4)
      .count(n => cl.get(n).exists(c => boilerCluster.contains(c)))
    Score(pairs.length, together, negJoined)
  }

  def digest(assign: Array[(String, String)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    assign.sorted.foreach { case (i, c) => md.update(s"$i=$c\n".getBytes("UTF-8")) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Store directories measured from outside: (bytes, files). */
object StoreDir {
  def stat(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) return (0L, 0L)
    val s = java.nio.file.Files.walk(p)
    try {
      var bytes = 0L
      var files = 0L
      s.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
        bytes += java.nio.file.Files.size(f); files += 1
      }
      (bytes, files)
    } finally s.close()
  }

  def delete(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }

  /** Run one store-writing call; a traced call records the store's
    * growth as `tableio` counts and its shrinkage as `reclaimedKey`. */
  def measured[T](span: Option[Span], dir: String, reclaimedKey: Option[String] = None)(body: => T): T =
    span match {
      case None => body
      case Some(s) =>
        val (b0, f0) = stat(dir)
        val out = body
        val (b1, f1) = stat(dir)
        reclaimedKey match {
          case Some(k) => s.counts(k) = (b0 - b1).max(0L).toDouble
          case None =>
            s.counts("tableio.bytes_written") = (b1 - b0).max(0L).toDouble
            s.counts("tableio.files_written") = (f1 - f0).max(0L).toDouble
        }
        out
    }
}

private object Images {
  def inputBytes(df: DataFrame): Long =
    df.agg(sum(octet_length(col("bytes")) + octet_length(col("caption")))).head().getLong(0)

  def assignment(clusters: DataFrame): Array[(String, String)] =
    clusters.select("image_id", "cluster_id").collect().map(r => (r.getString(0), r.getString(1))).sorted

  /** Every planted pair must share a cluster; no near-miss negative may
    * join the boilerplate cluster. */
  def checkPlanted(r: Rep, assign: Array[(String, String)]): Unit = {
    val sc = Planted.score(assign)
    r.check(sc.together == sc.pairs, s"${sc.pairs - sc.together} of ${sc.pairs} planted pairs split")
    r.check(sc.negativesJoined == 0, s"${sc.negativesJoined} near-miss negatives joined the boilerplate cluster")
    r.planted(sc.pairs, sc.together)
  }
}

/** `oneshot`: DedupPipeline.run over one seeded CorpusGen table. */
final class OneShot(spark: SparkSession, work: String, seed: Long, groups: Long) extends Workload {
  import spark.implicits._
  private val cfg = DedupConfig.default
  private val path = s"$work/input/images.parquet"
  private var images: Dataset[ImageRow] = _
  private var digest: Option[String] = None
  private var gate: Seq[(String, Boolean)] = Nil
  var items = 0L
  var inputBytes = 0L

  def setup(): Unit = {
    CorpusGen.generate(spark, groups, seed).write.mode("overwrite").parquet(path)
    images = spark.read.parquet(path).as[ImageRow]
    items = groups * CorpusGen.GroupSize
  }

  override def references(): Unit = inputBytes = Images.inputBytes(images.toDF())

  /** RecallGate, one of the checks, runs the whole pipeline on its fixed
    * 480-image corpus: the same plans as a pass. Further untimed or
    * measured passes did not make the result steadier (see README). */
  def warmUp(): Unit = {
    val g = RecallGate.report(spark, cfg).head()
    gate = Seq("RecallGate recall_ok" -> (g.getAs[Int]("recall_ok") == 1),
      "RecallGate precision_ok" -> (g.getAs[Int]("precision_ok") == 1))
  }

  /** The traced form materializes each stage in turn, so each stage's
    * jobs land in its own span. */
  private def stageByStage(t: Tracer): DataFrame = {
    val lvl = StorageLevel.MEMORY_AND_DISK_SER
    val sigs = t.span("signatures") { s =>
      val d = DedupPipeline.signatures(images, cfg).persist(lvl)
      s.counts("signatures.rows_out") = d.count().toDouble
      d
    }
    val bk = t.span("buckets") { s =>
      val d = DedupPipeline.buckets(sigs, cfg).persist(lvl)
      s.counts("buckets.rows_out") = d.count().toDouble
      d
    }
    val (cand, nCand) = t.span("candidates") { s =>
      val d = DedupPipeline.candidates(bk, cfg).persist(lvl)
      val n = d.count()
      s.counts("candidates.pairs_out") = n.toDouble
      (d, n)
    }
    val (ver, nVer) = t.span("verify") { s =>
      val d = DedupPipeline.verify(cand, sigs, images, cfg).persist(lvl)
      val n = d.count()
      s.counts("verify.useful_ratio") = n.toDouble / math.max(1L, nCand)
      (d, n)
    }
    val out = t.span("clusters") { s =>
      s.counts("clusters.edges_in") = nVer.toDouble
      DedupPipeline.clusters(images.toDF(), ver, Some(nCand)).localCheckpoint()
    }
    spark.catalog.clearCache()
    out.toDF()
  }

  def rep(r: Rep): Unit = {
    val out = r.op("backup", None) { _ =>
      r.tracer match {
        case None => DedupPipeline.run(images, cfg).toDF()
        case Some(t) => stageByStage(t)
      }
    }
    val assign = Images.assignment(out)
    Images.checkPlanted(r, assign)
    val d = Planted.digest(assign)
    r.check(digest.forall(_ == d), s"cluster digest $d != ${digest.get}")
    if (digest.isEmpty) digest = Some(d)
    r.check(assign.length == items, s"${assign.length} assignments for $items images")
    r.dedupRatio = 1.0 - assign.map(_._2).distinct.length.toDouble / items
  }

  override def gates(): Seq[(String, Boolean)] = gate

  def exact: Seq[(String, String)] = Seq("oneshot.cluster_digest" -> digest.getOrElse(""))
}

/** `store_lifecycle`: destor's jobs on persistent stores. The chunk
  * store: ChunkIngest backups of consecutive versions of a seeded
  * document set, each a 1% word mutation of the one before, then
  * ChunkOps.chunkRestore of the last version. The image store:
  * IncrementalDedup backups of two batches, Retention.expire of the
  * first, then restore of everything through the CLI. The last backup
  * of a pass is the image backup that probes a non-empty store. */
final class StoreLifecycle(spark: SparkSession, work: String, seed: Long, groups: Long, docs: Int)
    extends Workload {
  private val imageJobs = new ImageStoreJobs(spark, work, seed, groups)
  private val chunkJobs = new ChunkStoreJobs(spark, work, seed, docs)
  def items: Long = imageJobs.items + chunkJobs.items
  def inputBytes: Long = imageJobs.inputBytes + chunkJobs.inputBytes

  def setup(): Unit = { chunkJobs.setup(); imageJobs.setup() }

  override def references(): Unit = { chunkJobs.references(); imageJobs.references() }

  /** No warm-up beyond the references, which run DedupPipeline.run twice.
    * Every call of a pass pays seconds of cold cost however small its
    * input, so a warm-up costs as much as a pass: a tiny copy of the pass
    * took 41-65 s, more than the benchmark's time budget leaves for it
    * (see README). */
  def warmUp(): Unit = ()

  def rep(r: Rep): Unit = { chunkJobs.rep(r); imageJobs.rep(r) }

  def exact: Seq[(String, String)] = chunkJobs.exact ++ imageJobs.exact
}

/** Image store half of `store_lifecycle`. */
final class ImageStoreJobs(spark: SparkSession, work: String, seed: Long, groups: Long) {
  import spark.implicits._
  private val cfg = DedupConfig.default
  private val nBatches = 2
  private var batches: Seq[Dataset[ImageRow]] = Nil
  private var refUnion: Array[(String, String)] = Array.empty
  private var refSurvivors: Array[(String, String)] = Array.empty
  var exact: Seq[(String, String)] = Nil
  var items = 0L
  var inputBytes = 0L

  def setup(): Unit = {
    // split WITHIN groups (row id mod batches), so every planted
    // duplicate class has members in both batches and the second
    // backup finds duplicates in the stored index
    val path = s"$work/input/batches.parquet"
    val idNum = substring(col("image_id"), 4, 10).cast("long")
    CorpusGen.generate(spark, groups, seed).withColumn("batch", idNum % nBatches)
      .write.mode("overwrite").partitionBy("batch").parquet(path)
    batches = (0 until nBatches).map(b =>
      spark.read.parquet(path).filter(col("batch") === b).drop("batch").as[ImageRow])
    items = groups * CorpusGen.GroupSize
  }

  /** The two reference runs are independent; they run concurrently
    * (each is bound by its own driver thread). */
  def references(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    def oneShot(b: Seq[Dataset[ImageRow]]) =
      Future(Images.assignment(DedupPipeline.run(b.reduce(_ union _), cfg).toDF()))
    val union = oneShot(batches)
    val survivors = oneShot(batches.tail)
    inputBytes = Images.inputBytes(batches.reduce(_ union _).toDF())
    refUnion = Await.result(union, scala.concurrent.duration.Duration.Inf)
    refSurvivors = Await.result(survivors, scala.concurrent.duration.Duration.Inf)
  }

  def rep(r: Rep): Unit = {
    val store = s"$work/store-${r.index}"
    val out = s"$work/restore-${r.index}"
    try {
      val inc = new IncrementalDedup(spark, store, cfg)
      for (b <- 0 until nBatches)
        r.op("backup", Some("ingest")) { s =>
          StoreDir.measured(s, store)(inc.ingest(batches(b), s"b$b"))
        }
      val merged = Images.assignment(inc.clusters)
      r.check(merged.sameElements(refUnion),
        "clusters_current after the last backup != DedupPipeline.run over the union")
      Images.checkPlanted(r, merged)
      r.dedupRatio = 1.0 - merged.map(_._2).distinct.length.toDouble / merged.length
      val storeStat = StoreDir.stat(store)

      r.op("delete", Some("retention")) { s =>
        StoreDir.measured(s, store, Some("retention.bytes_reclaimed")) {
          new Retention(spark, store, cfg).expire(Seq("b0"), "gc-b0")
        }
      }
      val survived = Images.assignment(inc.clusters)
      r.check(survived.sameElements(refSurvivors),
        "clusters_current after the delete != DedupPipeline.run over the survivors")

      val msg = r.op("restore", Some("restore")) { _ =>
        Cli.run(Seq("restore", store, "all", out), spark)
      }
      r.check(msg.contains("psnr_violations=0 caption_violations=0 all_restored=1"), msg)
      exact = Seq(
        "store_lifecycle.cluster_digest" -> Planted.digest(merged),
        "store_lifecycle.survivor_digest" -> Planted.digest(survived),
        "store_lifecycle.image_store" -> s"${storeStat._1} bytes, ${storeStat._2} files")
    } finally {
      StoreDir.delete(store)
      StoreDir.delete(out)
    }
  }
}

/** Chunk store half of `store_lifecycle`. */
final class ChunkStoreJobs(spark: SparkSession, work: String, seed: Long, nDocs: Int) {
  import spark.implicits._
  private val nVersions = 3
  private val mutation = 0.01
  private val params = Chunker.docParams
  private def dir(v: Int) = s"$work/input/v$v"
  private var texts: Seq[Seq[String]] = Nil
  /** Reference counters per version: (n_chunks, total_bytes, n_new, new_bytes). */
  private var ref: Seq[(Long, Long, Long, Long)] = Nil
  private var lastVersion: Array[Array[Byte]] = Array.empty
  /** Keeps the chunker probe's fingerprints live. */
  @volatile private var sink = 0L
  var exact: Seq[(String, String)] = Nil
  var items = 0L
  var inputBytes = 0L

  private def word(rng: java.util.Random): Int =
    (CorpusGen.vocab.length * math.pow(rng.nextDouble(), 1.5)).toInt.min(CorpusGen.vocab.length - 1)

  /** Word indices of every version of document d. */
  private def versions(d: Int): Seq[Array[Int]] = {
    val rng = new java.util.Random(Sig.mix64(seed * 1000003L + d))
    var w = Array.fill(300 + rng.nextInt(600))(word(rng))
    (0 until nVersions).map { v =>
      if (v > 0) {
        val m = new java.util.Random(Sig.mix64(Sig.mix64(seed + v) ^ d))
        w = w.map(x => if (m.nextDouble() < mutation) word(m) else x)
      }
      w
    }
  }

  def setup(): Unit = {
    texts = (0 until nDocs).map(d => versions(d).map(_.map(CorpusGen.vocab(_)).mkString(" ")))
    for (v <- 0 until nVersions)
      texts.zipWithIndex.map { case (t, d) => (d.toLong, t(v)) }.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"${dir(v)}/documents.parquet")
    items = nDocs.toLong * nVersions
  }

  /** Single-threaded reference dedup of every version, in ChunkIngest's
    * first-occurrence order. */
  def references(): Unit = {
    val seen = new java.util.HashSet[java.lang.Long]()
    ref = (0 until nVersions).map { v =>
      var chunks = 0L; var bytes = 0L; var nNew = 0L; var newBytes = 0L
      texts.foreach { t =>
        val b = t(v).getBytes("UTF-8")
        var off = 0
        Chunker.boundaries("fastcdc", b, params).foreach { end =>
          chunks += 1; bytes += end - off
          if (seen.add(Chunker.rangeFp(b, off, end - off))) { nNew += 1; newBytes += end - off }
          off = end
        }
      }
      (chunks, bytes, nNew, newBytes)
    }
    lastVersion = texts.map(_(nVersions - 1).getBytes("UTF-8")).toArray
    inputBytes = ref.map(_._2).sum
  }

  def rep(r: Rep): Unit = {
    val store = s"$work/chunks-${r.index}"
    try {
      val ing = new ChunkIngest(spark, store)
      val got = (0 until nVersions).map { v =>
        val row = r.op("chunk_backup", Some("chunkingest")) { s =>
          StoreDir.measured(s, store) {
            ing.ingest(spark.read.parquet(s"${dir(v)}/documents.parquet"), s"v$v").collect()(0)
          }
        }
        val c = (row.getAs[Long]("n_chunks"), row.getAs[Long]("total_bytes"),
          row.getAs[Long]("n_new"), row.getAs[Long]("new_bytes"))
        r.check(c == ref(v), s"version $v counters $c != reference ${ref(v)}")
        c
      }
      val storeStat = StoreDir.stat(store)
      val rr = r.op("chunk_restore", Some("chunkrestore")) { _ =>
        ChunkOps.chunkRestore(spark, dir(nVersions - 1)).collect()(0)
      }
      r.check(rr.getLong(0) == 0 && rr.getLong(1) == 0 && rr.getLong(2) == 1,
        s"chunkRestore returned ${rr.mkString("(", ",", ")")}")
      // planted duplicates: the chunks the reference finds already stored
      r.planted(ref.map(c => c._1 - c._3).sum, got.map(c => c._1 - c._3).sum)
      r.tracer.foreach { t =>
        r.counts("chunkingest.new_chunk_ratio") = got.map(_._3).sum.toDouble / got.map(_._1).sum
        r.counts("chunkingest.dedup_ratio") = 1.0 - got.map(_._4).sum.toDouble / got.map(_._2).sum
        val mb = t.span("chunker") { _ =>
          var acc = 0L
          lastVersion.foreach { b =>
            var off = 0
            Chunker.boundaries("fastcdc", b, params).foreach { end =>
              acc ^= Chunker.rangeFp(b, off, end - off); off = end
            }
          }
          sink ^= acc
          lastVersion.map(_.length.toLong).sum / 1e6
        }
        r.counts("chunker.mb_per_s") = mb / t.spansOf(r.index).filter(_.layer == "chunker").map(_.wallS).sum
      }
      exact = Seq(
        "store_lifecycle.chunk_version_counters" -> got.mkString(";"),
        "store_lifecycle.chunk_store" -> s"${storeStat._1} bytes, ${storeStat._2} files")
    } finally StoreDir.delete(store)
  }
}
