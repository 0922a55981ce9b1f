package graft

import graft.core.{DedupConfig, VerifiedPair}
import graft.pipeline.DedupPipeline
import graft.synth.CorpusGen
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Verify's output pinned row for row, its nid-collision fan-out, and
  * its job budget.
  *
  * Regeneration of src/test/resources/golden-verify.txt (only after an
  * INTENTIONAL change to a verify predicate — review the diff line by
  * line): run this suite with `GRAFT_REGOLD=1` in the environment; the
  * golden test rewrites the file and fails once.
  */
class VerifySpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "verify-spec")
  val cfg = DedupConfig.default

  private val goldenPath = java.nio.file.Paths.get("src/test/resources/golden-verify.txt")

  /** One line per verified pair: every field, doubles in Java's shortest
    * round-trip form (full precision). */
  private def line(mode: String, v: VerifiedPair): String =
    s"$mode ${v.id1} ${v.id2} ${v.src} ${v.jaccard} ${v.hamming} ${v.psnr} ${v.verdict}"

  private def verified(c: DedupConfig): Seq[VerifiedPair] = {
    val images = CorpusGen.generate(spark, 40)
    val sigs = DedupPipeline.signatures(images, c)
    val cand = DedupPipeline.candidates(DedupPipeline.buckets(sigs, c), c)
    DedupPipeline.verify(cand, sigs, images, c).collect().toSeq
  }

  test("verify output matches the committed golden file in full and signature-only modes") {
    val got = (verified(cfg).map(line("full", _)) ++
      verified(cfg.copy(signatureOnly = true)).map(line("sim", _))).sorted
    if (sys.env.get("GRAFT_REGOLD").contains("1")) {
      java.nio.file.Files.writeString(goldenPath, got.mkString("", "\n", "\n"))
      fail(s"golden file regenerated at $goldenPath — review the diff and commit")
    }
    val want = java.nio.file.Files.readString(goldenPath).linesIterator.toSeq
    assert(got.exists(_.startsWith("full ")) && got.exists(_.startsWith("sim ")))
    assert(got.exists(l => l.startsWith("full ") && !l.contains(" 1.0E9 ") && !l.contains(" 0.0 ")),
      "no pair carries a computed PSNR")
    assert(got.length == want.length, s"row count drifted: got ${got.length}, golden ${want.length}")
    val diffs = got.zip(want).zipWithIndex.collect {
      case ((g, w), i) if g != w => s"line ${i + 1}: got [$g] golden [$w]"
    }
    assert(diffs.isEmpty, s"${diffs.length} drifted lines (first 5):\n${diffs.take(5).mkString("\n")}")
  }

  test("an nid shared by two images fans out: both real pairs survive, no self-pair appears") {
    import spark.implicits._
    val images = CorpusGen.generate(spark, 8).cache()
    val real = DedupPipeline.signatures(images, cfg).collect().map(s => s.image_id -> s).toMap
    def id(n: Int) = f"img$n%010d"
    // group 1 (pattern 1): row 0 and its lossy re-encode, row 2 — a
    // caption verdict that still needs its PSNR, so pixel rows too; group
    // 6: row 0 and its exact copy, row 1
    val (a0, a1, b0, b1) = (id(8), id(10), id(48), id(49))
    val x = real(a0).nid
    // b0's signature row is fabricated to share a0's nid (its image row
    // still hashes to its own nid, so only a pair that needs no pixels
    // can verify through it)
    val sigs = spark.createDataset(real.values.toSeq.map(s =>
      if (s.image_id == b0) s.copy(nid = x) else s))
    val cand = Seq((x, real(a1).nid, "minhash"), (x, real(b1).nid, "exact"), (x, x, "exact"))
      .toDF("id1", "id2", "src")
    val got = DedupPipeline.verify(cand, sigs, images, cfg).collect()
    assert(got.forall(v => v.id1 != v.id2), s"self-pair: ${got.mkString(", ")}")
    assert(got.map(v => (v.id1, v.id2)).toSet == Set((a0, a1), (b0, b1)), got.mkString(", "))
    // each surviving row is the row its pair verifies to without the
    // collision (a0's pixels were picked out of nid x's fan-out)
    val plain = Seq((real(a0).nid, real(a1).nid, "minhash"), (real(b0).nid, real(b1).nid, "exact"))
      .toDF("id1", "id2", "src")
    val want = DedupPipeline.verify(plain, spark.createDataset(real.values.toSeq), images, cfg).collect()
    assert(got.sortBy(_.id1).toSeq == want.sortBy(_.id1).toSeq)
    assert(got.map(v => v.id1 -> (v.verdict, v.psnr > 0.0 && v.psnr < 1e9)).toMap ==
      Map(a0 -> ("caption", true), b0 -> ("exact", false)), got.mkString(", "))
    images.unpersist()
  }

  test("verify over cached candidates and signatures runs at most 7 jobs") {
    val images = CorpusGen.generate(spark, 40).cache()
    val sigs = DedupPipeline.signatures(images, cfg).cache()
    val cand = DedupPipeline.candidates(DedupPipeline.buckets(sigs, cfg), cfg).cache()
    images.count(); sigs.count(); cand.count()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val n =
      try DedupPipeline.verify(cand, sigs, images, cfg).count()
      finally { org.apache.spark.ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    assert(n > 0)
    assert(jobs.get() <= 7, s"verify ran ${jobs.get()} jobs")
    cand.unpersist(); sigs.unpersist(); images.unpersist()
  }
}
