package graft

import graft.core.{DedupConfig, ImageRow}
import graft.pipeline.{DedupPipeline, IncrementalDedup, TableIO}
import graft.synth.CorpusGen
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Checkpoint/resume semantics of the stored flow (north_rule): each
  * ingest stage is a staged batch keyed on config + input + committed
  * store, a retried ingest resumes the stages it finished, a changed
  * config or input recomputes, and every commit stores its per-stage
  * lineage + metrics record.
  *
  * A crash just before the commit is made by turning edges_store's
  * manifest (the commit's first write) into a directory: the ingest
  * fails after every stage is staged and before any batch is listed. */
class ResumeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "resume-spec")
  val cfg = DedupConfig.default
  // the median bucket size as cap: each batch records a non-empty HAR list
  val cfgHot = cfg.copy(bucketCap = 2, skewQuantile = 0.5)
  val Stages = Seq("signatures", "images", "postings", "candidate_pairs", "verified_pairs", "clusters")

  import spark.implicits._

  /** Two batches split within dup groups, so B probes A's stored index. */
  private def batches(groups: Int): (Dataset[ImageRow], Dataset[ImageRow]) = {
    val corpus = CorpusGen.generate(spark, groups)
    val idNum = substring(col("image_id"), 4, 10).cast("long")
    (corpus.filter(idNum % 2 === 0), corpus.filter(idNum % 2 === 1))
  }

  /** Ingest `b` as run "b" with the commit failing. */
  private def crashBeforeCommit(inc: IncrementalDedup, dir: String, b: Dataset[ImageRow]): Unit = {
    val manifest = Paths.get(dir, IncrementalDedup.EdgeStore, "_STORE.json")
    val saved = manifest.resolveSibling("saved.json")
    Files.move(manifest, saved)
    Files.createDirectory(manifest)
    try assertThrows[java.io.IOException](inc.ingest(b, "b"))
    finally { Files.delete(manifest); Files.move(saved, manifest) }
    assert(inc.ingested == Seq("a"), "a crashed ingest must not commit")
  }

  private def assignment(inc: IncrementalDedup): Seq[(String, String)] =
    inc.clusters.select("image_id", "cluster_id").as[(String, String)].collect().sorted.toSeq

  /** Rows of every committed batch of every store, plus the clusters. */
  private def storeRows(dir: String): Map[String, Seq[String]] = {
    val io = new TableIO(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => java.util.Arrays.toString(b)
      case v => String.valueOf(v)
    }.mkString(",")).sorted.toSeq
    (for (store <- IncrementalDedup.StageStores; r <- io.batches(store))
      yield s"$store/$r" -> rows(io.readBatch(store, r))).toMap +
      ("clusters" -> rows(io.read(IncrementalDedup.ClustersTable)))
  }

  private def resumedStages(inc: IncrementalDedup, run: String): Set[String] =
    inc.record(run).get.stages.filter(_.resumed).map(_.stage).toSet

  test("checkpointed run == direct run; resume skips all stages; config change recomputes") {
    val (a, b) = batches(10)
    val cleanDir = Files.createTempDirectory("graft-resume-clean").toString
    val clean = new IncrementalDedup(spark, cleanDir, cfg)
    clean.ingest(a, "a")
    clean.ingest(b, "b")
    assert(resumedStages(clean, "b").isEmpty)
    assert(assignment(clean) == DedupPipeline.run(a.union(b), cfg)
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq)

    // the crash-at-commit stores run with a non-empty HAR list, so the
    // resumed candidate stage must hand off the same list as a clean run
    val hotDir = Files.createTempDirectory("graft-resume-hot").toString
    val hot = new IncrementalDedup(spark, hotDir, cfgHot)
    hot.ingest(a, "a")
    hot.ingest(b, "b")
    val hotList = hot.record("b").get.har_hot
    assert(hotList.nonEmpty)

    // full resume: every stage was staged, so the retry recomputes none
    val fullDir = Files.createTempDirectory("graft-resume-full").toString
    val full = new IncrementalDedup(spark, fullDir, cfgHot)
    full.ingest(a, "a")
    crashBeforeCommit(full, fullDir, b)
    // the staged candidates are dropped at commit: take their footers now
    val candFiles = full.io.batchFileCounts(IncrementalDedup.CandStore, "b").map(_._2)
    full.ingest(b, "b")
    assert(resumedStages(full, "b") == Stages.toSet)
    // a resumed stage records the footer counts of the batch it resumed
    IncrementalSpec.assertRecordMatchesFooters(full, "b")
    assert(full.record("b").get.stages.find(_.stage == "candidate_pairs").get.file_rows == candFiles)
    assert(storeRows(fullDir) == storeRows(hotDir))
    assert(full.record("b").get.har_hot == hotList)

    // partial resume: drop the last two stages' outputs -> only they recompute
    val partDir = Files.createTempDirectory("graft-resume-part").toString
    val part = new IncrementalDedup(spark, partDir, cfgHot)
    part.ingest(a, "a")
    crashBeforeCommit(part, partDir, b)
    part.io.dropBatch(IncrementalDedup.EdgeStore, "b")
    part.io.drop(IncrementalDedup.ClustersTable) // cluster maintenance replays the edge store
    part.ingest(b, "b")
    assert(resumedStages(part, "b") == Set("signatures", "images", "postings", "candidate_pairs"))
    IncrementalSpec.assertRecordMatchesFooters(part, "b")
    assert(storeRows(partDir) == storeRows(hotDir))
    assert(part.record("b").get.har_hot == hotList)

    // config change: the staged stages were keyed on the old config
    val cfgDir = Files.createTempDirectory("graft-resume-cfg").toString
    new IncrementalDedup(spark, cfgDir, cfg).ingest(a, "a")
    crashBeforeCommit(new IncrementalDedup(spark, cfgDir, cfg), cfgDir, b)
    val cfg2 = new IncrementalDedup(spark, cfgDir, cfg.copy(jaccardMin = 0.85))
    cfg2.ingest(b, "b")
    assert(resumedStages(cfg2, "b").isEmpty)

    // lineage + metrics record: every stage in order, per-file rows
    // summing to its rows, and the stage counters
    val rec = clean.record("b").get
    assert(rec.run_id == "b" && rec.stages.map(_.stage) == Stages)
    assert(rec.stages.forall(s => s.file_rows.nonEmpty && s.file_rows.sum == s.rows))
    val byStage = rec.stages.map(s => s.stage -> s).toMap
    assert(byStage("signatures").rows == b.count())
    assert(byStage("clusters").rows == a.count() + b.count())
    assert(Seq("degenerate_pixel_rows", "blank_caption_rows")
      .forall(byStage("signatures").counters.contains))
    assert(byStage("candidate_pairs").counters("cap_used") >= cfg.bucketCap)
    assert(byStage("candidate_pairs").counters.contains("har_inherited_buckets"))
    // the commit leaves no staged scratch behind
    assert(clean.io.batchDirs(IncrementalDedup.CandStore).isEmpty)
  }

  test("same config, different corpus => full recompute (input fingerprint)") {
    val (a, b) = batches(10)
    val dir = Files.createTempDirectory("graft-inputfp").toString
    val inc = new IncrementalDedup(spark, dir, cfg)
    inc.ingest(a, "a")
    crashBeforeCommit(inc, dir, b)
    // same config, same runId, DIFFERENT input: nothing may be reused
    val (_, otherB) = batches(12) // the odd ids of 12 groups: not b, still disjoint from a
    inc.ingest(otherB, "b")
    assert(resumedStages(inc, "b").isEmpty, "stale checkpoints reused for a different input")
    assert(inc.clusters.count() == a.count() + otherB.count())
  }

  test("interrupted publish leaves no half-visible table") {
    val dir = Files.createTempDirectory("graft-atomic").toString
    val io = new TableIO(spark, dir)
    io.publish(Seq(1, 2, 3).toDF("x"), "t", "h1", "r1")
    assert(io.isPublished("t", "h1"))
    assert(!io.isPublished("t", "OTHER")) // config mismatch = absent
    // simulate crash after data write but before manifest: delete manifest
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/t/_MANIFEST.json"), false)
    assert(!io.isPublished("t", "h1")) // treated as absent -> recompute
  }
}
