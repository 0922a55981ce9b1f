package graft

import graft.core.{DedupConfig, ImageRow}
import graft.pipeline.{DedupPipeline, IncrementalDedup}
import graft.synth.CorpusGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Signature-only simulation mode (cfg.signatureOnly) — the analog of
  * destor's simulation levels (reference src/destor.h:55-59:
  * metadata-only runs that skip all data movement). The contract under
  * the flag: NO stage reads or writes the `bytes` column, the pixel
  * verify settles on phash evidence, and clusters are identical to the
  * full run wherever pixel evidence is not decisive.
  *
  * The bytes column of every input here is POISONED with a UDF that
  * throws on evaluation — a runtime proof that no plan under the flag
  * ever evaluates it (stronger than inspecting ReadSchemas: it also
  * catches a future stage deserializing ImageRow eagerly). */
class SimulationSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "simulation-spec")
  val cfg = DedupConfig.default
  val simCfg = DedupConfig.default.copy(signatureOnly = true)

  import spark.implicits._

  private def poisoned(images: org.apache.spark.sql.Dataset[ImageRow]) = {
    val boom = udf((id: String) => {
      if (id != null)
        throw new IllegalStateException(s"bytes evaluated in signature-only mode: $id")
      Array.empty[Byte]
    })
    images.toDF().withColumn("bytes", boom(col("image_id"))).as[ImageRow]
  }

  test("signature-only run never evaluates bytes; clusters match the full run " +
    "where pixel evidence is not decisive") {
    val corpus = CorpusGen.generate(spark, 15).cache()
    val full = DedupPipeline.run(corpus, cfg)
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq
    val sim = DedupPipeline.run(poisoned(corpus), simCfg)
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq
    // on the seeded corpus every planted dup class carries caption,
    // metadata-exact, or hamming evidence alongside any pixel evidence,
    // so the simulated assignment is IDENTICAL — the precision loss of
    // phash-only verdicts would only surface on pairs whose sole
    // evidence is a PSNR check that fails
    assert(sim == full)
    // sanity: the poison is live — the FULL pipeline on the same input
    // must trip it (it decodes pixels in the signature stage)
    assertThrows[Throwable] {
      DedupPipeline.run(poisoned(corpus), cfg).count()
    }
    corpus.unpersist()
  }

  test("checkpointed flow under the flag publishes a bytes-free images checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("sim-ckpt").toString
    val corpus = CorpusGen.generate(spark, 10).cache()
    // the checkpointed flow: one ingest into an empty store
    val inc = new IncrementalDedup(spark, dir, simCfg)
    val clusters = inc.ingest(poisoned(corpus), "sim1")
    val full = DedupPipeline.run(corpus, cfg)
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq
    val sim = clusters.as[graft.core.ClusterRow]
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq
    assert(sim == full)
    // the published images stage carries only metadata columns — the
    // simulation skips data movement, not just data compute
    val imagesSchema = inc.io.readBatch(IncrementalDedup.ImagesStore, "sim1")
      .schema.fieldNames.toSet
    assert(imagesSchema == Set("image_id", "caption", "phash"))
    corpus.unpersist()
  }

  test("incremental ingest under the flag: batches == one-shot, stores bytes-free") {
    val dir = java.nio.file.Files.createTempDirectory("sim-incr").toString
    val corpus = CorpusGen.generate(spark, 12).cache()
    val ids = corpus.select("image_id").as[String].collect().sorted
    val half = ids.length / 2
    val firstIds = ids.take(half).toSet
    val batchA = poisoned(corpus.filter(r => firstIds.contains(r.image_id)))
    val batchB = poisoned(corpus.filter(r => !firstIds.contains(r.image_id)))

    val inc = new IncrementalDedup(spark, dir, simCfg)
    inc.ingest(batchA, "a")
    val got = inc.ingest(batchB, "b")
      .select("image_id", "cluster_id").as[(String, String)]
      .collect().sorted.toSeq
    val oneShot = DedupPipeline.run(poisoned(corpus), simCfg)
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq
    assert(got == oneShot)
    // the persisted images store is metadata-only
    val storeSchema = inc.io.readBatches(IncrementalDedup.ImagesStore)
      .schema.fieldNames.toSet
    assert(storeSchema == Set("image_id", "caption", "phash"))
    corpus.unpersist()
  }
}
