package graft

import graft.core.DedupConfig
import graft.pipeline.{DedupPipeline, RestoreOps}
import graft.synth.CorpusGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Restore / round-trip verification (T1/T2/T5) — the reference's own
  * definition of correctness (byte reconstruction, do_restore.c) and
  * BASELINE.md's per-row fidelity gate: every row rebuilt from the
  * content store must decode within PSNR >= 40 dB of the original and
  * carry its exact caption. */
class RestoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "restore-spec")
  val cfg = DedupConfig.default

  test("round trip: all rows restored, zero PSNR/caption violations") {
    val report = RestoreOps.roundTrip(CorpusGen.generate(spark, 40), cfg).collect()
    assert(report.length == 1)
    val r = report(0)
    assert(r.getLong(0) == 0, "psnr violations")
    assert(r.getLong(1) == 0, "caption violations")
    assert(r.getLong(2) == 1, "all rows restored")
  }

  test("roundtrip report verifies and counts coverage in a single pass (no standalone count jobs)") {
    import spark.implicits._
    val images = CorpusGen.generate(spark, 6).cache(); images.count()
    val cc = images.select(col("image_id"), col("image_id").as("content_id"))
    val restored = RestoreOps.restore(
      RestoreOps.recipes(images, cc), RestoreOps.contentStore(images, cc)).cache()
    restored.count()
    @volatile var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    val rep =
      try RestoreOps.roundtripReport(images, restored, cfg).collect()
      finally {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
    assert(rep.length == 1)
    assert(rep(0).getLong(0) == 0 && rep(0).getLong(1) == 0 && rep(0).getLong(2) == 1)
    // round-2 ran images.count + restored.distinct.count + a violations
    // aggregation (3+ actions); the report is now ONE query. The full
    // outer join (needed to catch phantom restored rows) can't
    // broadcast, so AQE surfaces one more stage-job than the old left
    // join did at sf-small scale — at corpus scale both sides shuffle
    // either way, so the budget is 4, not 3
    assert(jobs <= 4, s"report ran $jobs jobs")
    // coverage rides the same pass: a missing restored row flips
    // all_restored with no extra count action
    val first = images.first().image_id
    val rep2 = RestoreOps.roundtripReport(images,
      restored.filter(col("image_id") =!= first), cfg).collect()(0)
    assert(rep2.getLong(2) == 0)
    assert(rep2.getLong(0) == 0 && rep2.getLong(1) == 0)
    // ... and so does a PHANTOM restored row (an id the originals never
    // had — a stale/corrupt restore output must not report clean)
    val phantom = restored.limit(1)
      .withColumn("image_id", concat(col("image_id"), lit("#ghost")))
    val rep3 = RestoreOps.roundtripReport(images, restored.union(phantom), cfg).collect()(0)
    assert(rep3.getLong(2) == 0, "phantom restored row not detected")
    assert(rep3.getLong(0) == 0 && rep3.getLong(1) == 0)
    images.unpersist(); restored.unpersist()
  }

  test("content store dedups: fewer stored rows than images, dedup ratio sane") {
    val images = CorpusGen.generate(spark, 40).cache()
    val sigs = DedupPipeline.signatures(images, cfg)
    val cand = DedupPipeline.candidates(DedupPipeline.buckets(sigs, cfg), cfg)
    val ver = DedupPipeline.verify(cand, sigs, images, cfg)
    val cc = RestoreOps.contentClusters(images, RestoreOps.pixelEvidence(ver, cfg), cfg).cache()
    val store = RestoreOps.contentStore(images, cc)
    val n = images.count()
    val stored = store.count()
    // patterns 1 (exact+reenc: 3 rows -> 1) and 2 (jitter pair: 2 -> 1)
    // plant pixel-level dups; everything else stores 1:1
    assert(stored < n, s"content store must deduplicate ($stored vs $n)")
    val expected = n - (40 / 5) * 3 // per pattern-1 group: -2; per pattern-2 group: -1
    assert(stored == expected, s"expected $expected stored contents, got $stored")
    // recipes cover every image exactly once
    val rec = RestoreOps.recipes(images, cc)
    assert(rec.count() == n)
    assert(rec.select("image_id").distinct().count() == n)
    images.unpersist(); cc.unpersist()
  }

  test("fidelity repair: PSNR chain below the gate is demoted, round trip stays clean") {
    import spark.implicits._
    import graft.signatures.Codec
    // PSNR is not transitive: uniform per-channel offsets of 2 give
    // psnr(a,b)=psnr(b,c)=10*log10(255^2/4)=42.1 >= 40 but
    // psnr(a,c)=10*log10(255^2/16)=36.1 < 40 — each edge passes the
    // gate, the chain does not.
    val w = 8; val h = 8
    def img(id: String, base: Int): graft.core.ImageRow = {
      val px = Array.fill((w * h * 3))(base.toByte)
      graft.core.ImageRow(id, Codec.encodePpm(w, h, px), w, h, "ppm", s"caption $id", 0L)
    }
    val a = img("a", 100); val b = img("b", 102); val c = img("c", 104)
    assert(Codec.psnr(Codec.decode(a.bytes, "ppm"), Codec.decode(b.bytes, "ppm")) >= cfg.psnrMin)
    assert(Codec.psnr(Codec.decode(b.bytes, "ppm"), Codec.decode(c.bytes, "ppm")) >= cfg.psnrMin)
    assert(Codec.psnr(Codec.decode(a.bytes, "ppm"), Codec.decode(c.bytes, "ppm")) < cfg.psnrMin)
    val images = Seq(a, b, c).toDS()
    // connected components over the two passing edges put all three in
    // one content cluster with representative "a"
    val chained = Seq(("a", "a"), ("b", "a"), ("c", "a")).toDF("image_id", "content_id")
    // unrepaired: restoring c from a violates the per-row gate
    val restoredBad = RestoreOps.restore(
      RestoreOps.recipes(images, chained), RestoreOps.contentStore(images, chained))
    assert(RestoreOps.roundtripViolations(images, restoredBad, cfg).count() == 1)
    // repaired: c is demoted to its own content cluster, b stays with a
    val repaired = RestoreOps.fidelityRepair(images, chained, cfg)
    val got = repaired.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "c"), s"got $got")
    val restoredOk = RestoreOps.restore(
      RestoreOps.recipes(images, repaired), RestoreOps.contentStore(images, repaired))
    assert(RestoreOps.roundtripViolations(images, restoredOk, cfg).count() == 0)
    // measured-edge fast path: with the verify stage's pixel edges
    // supplied, b (direct a-b edge, PSNR already measured >= gate)
    // skips the re-decode and c (chained through b, no a-c edge) is
    // still checked and demoted — identical output to the full check
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val repairedFast = RestoreOps.fidelityRepair(images, chained, cfg, Some(edges))
    val gotFast = repairedFast.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gotFast == got, s"fast path diverged: $gotFast vs $got")
  }

  test("repair property: fast path == full check and round trip clean on random chain corpora") {
    import spark.implicits._
    import graft.signatures.Codec
    // seeded random corpora of uniform-offset images: bases step by 2,
    // so PSNR between offsets 2k is 10*log10(255^2/(2k)^2) — adjacent
    // steps pass the 40 dB gate, distance >= 2 steps fails, making
    // non-transitive chains the COMMON case rather than a planted one
    val w = 6; val h = 6
    def img(id: String, base: Int): graft.core.ImageRow = {
      val px = Array.fill(w * h * 3)(base.toByte)
      graft.core.ImageRow(id, Codec.encodePpm(w, h, px), w, h, "ppm", s"cap $id", 0L)
    }
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val n = 4 + rnd.nextInt(6)
      val rows = (0 until n).map(i => img(f"d$i%02d", 80 + rnd.nextInt(6) * 2))
      val pass = for {
        i <- rows.indices; j <- rows.indices if i < j
        if Codec.psnr(Codec.decode(rows(i).bytes, "ppm"),
          Codec.decode(rows(j).bytes, "ppm")) >= cfg.psnrMin
      } yield (rows(i).image_id, rows(j).image_id)
      val images = rows.toDS()
      val edges = pass.toDF("src", "dst")
      val cc = graft.cluster.ConnectedComponents.run(spark,
        images.select(col("image_id").as("id")), edges)
        .select(col("id").as("image_id"), col("component").as("content_id"))
        .localCheckpoint()
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val full = toMap(RestoreOps.fidelityRepair(images, cc, cfg))
      val fast = toMap(RestoreOps.fidelityRepair(images, cc, cfg, Some(edges)))
      assert(fast == full, s"seed=$seed: fast $fast != full $full")
      val repaired = fast.toSeq.toDF("image_id", "content_id")
      val restored = RestoreOps.restore(
        RestoreOps.recipes(images, repaired), RestoreOps.contentStore(images, repaired))
      assert(RestoreOps.roundtripViolations(images, restored, cfg).count() == 0,
        s"seed=$seed: round trip violated after repair")
    }
  }

  test("verifier catches a corrupted store (negative control)") {
    val images = CorpusGen.generate(spark, 20).cache()
    val sigs = DedupPipeline.signatures(images, cfg)
    val cand = DedupPipeline.candidates(DedupPipeline.buckets(sigs, cfg), cfg)
    val ver = DedupPipeline.verify(cand, sigs, images, cfg)
    val cc = RestoreOps.contentClusters(images, RestoreOps.pixelEvidence(ver, cfg), cfg)
    // corrupt: point every CAPTION-dup pair's rows at one content too
    // (i.e. cluster by ALL verified pairs, not just pixel evidence) —
    // caption dups have different pixels, so PSNR must flag them
    val badCc = graft.cluster.ConnectedComponents
      .run(spark, images.select(col("image_id").as("id")),
        ver.select(col("id1").as("src"), col("id2").as("dst")))
      .select(col("id").as("image_id"), col("component").as("content_id"))
    val restoredBad = RestoreOps.restore(
      RestoreOps.recipes(images, badCc), RestoreOps.contentStore(images, badCc))
    val violBad = RestoreOps.roundtripViolations(images, restoredBad, cfg)
    assert(violBad.count() > 0, "caption-dup contamination must produce PSNR violations")
    // and the clean content clusters do not
    val restoredOk = RestoreOps.restore(
      RestoreOps.recipes(images, cc), RestoreOps.contentStore(images, cc))
    assert(RestoreOps.roundtripViolations(images, restoredOk, cfg).count() == 0)
    images.unpersist()
  }
}
