package graft

import graft.core.DedupConfig
import graft.pipeline.{DedupPipeline, IncrementalDedup, Retention}
import graft.synth.CorpusGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Delete/GC over the incremental stores (D1-D4): batch expiry drops
  * store data, reclaims index entries by anti-join, recomputes
  * clusters; retention trigger + orphan GC. */
class RetentionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "retention-spec")
  val cfg = DedupConfig.default

  test("expire first batch: stores truncated, no dangling edges, clusters == one-shot over survivors") {
    val dir = Files.createTempDirectory("graft-ret").toString
    val corpus = CorpusGen.generate(spark, 12).cache()
    corpus.count()
    val idNum = substring(col("image_id"), 4, 10).cast("long")
    val batchA = corpus.filter(idNum % 2 === 0).cache()
    val batchB = corpus.filter(idNum % 2 === 1).cache()

    val inc = new IncrementalDedup(spark, dir, cfg)
    inc.ingest(batchA, "rA")
    inc.ingest(batchB, "rB")
    // cross-batch edges exist (discovered by rB's probe, referencing rA ids)
    val aIds = batchA.select("image_id").collect().map(_.getString(0)).toSet
    val edgesBefore = inc.io.readBatches(IncrementalDedup.EdgeStore)
      .select("id1", "id2").collect().map(r => (r.getString(0), r.getString(1)))
    assert(edgesBefore.exists { case (x, y) => aIds.contains(x) ^ aIds.contains(y) },
      "expected cross-batch edges")

    val ret = new Retention(spark, dir, cfg)
    val report = ret.expire(Seq("rA"), "gc1")
    assert(report.droppedBatches == Seq("rA"))
    assert(report.droppedImages == batchA.count())
    assert(report.reclaimedEdges > 0, "rB's cross-batch edges must be reclaimed")
    assert(report.survivingImages == batchB.count())

    // D2: only rB remains in every store
    for (s <- Seq(IncrementalDedup.ImagesStore, IncrementalDedup.SigStore,
        IncrementalDedup.PostStore, IncrementalDedup.EdgeStore))
      assert(inc.io.batches(s) == Seq("rB"), s"store $s")

    // D3: no dangling references anywhere
    val edgesAfter = inc.io.readBatches(IncrementalDedup.EdgeStore)
      .select("id1", "id2").collect().map(r => (r.getString(0), r.getString(1)))
    assert(edgesAfter.forall { case (x, y) => !aIds.contains(x) && !aIds.contains(y) })
    val postNids = inc.io.readBatches(IncrementalDedup.PostStore)
      .select("nid").distinct().collect().map(_.getLong(0)).toSet
    val aNids = aIds.map(graft.signatures.Sig.hash64)
    assert(postNids.intersect(aNids).isEmpty)

    // clusters == one-shot over the survivors (components re-split
    // correctly when their bridge rows died with batch A)
    val oneShotB = DedupPipeline.run(batchB, cfg)
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq
    val got = inc.clusters.select("image_id", "cluster_id")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got == oneShotB)

    // a subsequent ingest keeps working against the compacted index
    val batchC = CorpusGen.generate(spark, 14).filter(idNum >= 96).cache() // groups 12-13, fresh ids
    inc.ingest(batchC, "rC")
    assert(inc.io.batches(IncrementalDedup.ImagesStore) == Seq("rB", "rC"))
    assert(inc.clusters.count() == batchB.count() + batchC.count())

    corpus.unpersist(); batchA.unpersist(); batchB.unpersist(); batchC.unpersist()
  }

  test("expire that crashes after its first drop finishes on retry, equal to a clean expire") {
    val corpus = CorpusGen.generate(spark, 10).cache()
    val idNum = substring(col("image_id"), 4, 10).cast("long")
    val stores = Seq(IncrementalDedup.ImagesStore, IncrementalDedup.SigStore,
      IncrementalDedup.PostStore, IncrementalDedup.EdgeStore)
    /** Every store's batch list and the cluster rows after `expireB0`. */
    def afterExpire(expireB0: (String, IncrementalDedup) => Unit) = {
      val dir = Files.createTempDirectory("graft-ret-crash").toString
      val inc = new IncrementalDedup(spark, dir, cfg)
      (0 until 2).foreach(m => inc.ingest(corpus.filter(idNum % 2 === m), s"b$m"))
      expireB0(dir, inc)
      (stores.map(s => s -> inc.io.batches(s)),
        inc.clusters.collect().map(_.mkString("|")).sorted.toSeq)
    }
    val clean = afterExpire((dir, _) => new Retention(spark, dir, cfg).expire(Seq("b0"), "gc"))
    val retried = afterExpire { (dir, inc) =>
      // crash on the second drop: postings_store's manifest is a directory
      val manifest = java.nio.file.Paths.get(dir, IncrementalDedup.PostStore, "_STORE.json")
      val saved = manifest.resolveSibling("saved.json")
      Files.move(manifest, saved)
      Files.createDirectory(manifest)
      try assertThrows[java.io.IOException](new Retention(spark, dir, cfg).expire(Seq("b0"), "gc"))
      finally { Files.delete(manifest); Files.move(saved, manifest) }
      assert(!inc.io.batches(IncrementalDedup.ImagesStore).contains("b0"), "the first drop ran")
      val report = new Retention(spark, dir, cfg).expire(Seq("b0"), "gc2")
      assert(report.droppedBatches == Seq("b0") && report.droppedImages > 0)
    }
    assert(clean._1.forall(_._2 == Seq("b1")))
    assert(retried == clean)
    corpus.unpersist()
  }

  test("retainLast keeps the newest n batches; orphan tmp dirs are GC'd") {
    val dir = Files.createTempDirectory("graft-ret2").toString
    val corpus = CorpusGen.generate(spark, 9).cache()
    corpus.count()
    val idNum = substring(col("image_id"), 4, 10).cast("long")
    val inc = new IncrementalDedup(spark, dir, cfg)
    (0 until 3).foreach(m => inc.ingest(corpus.filter(idNum % 3 === m), s"r$m"))

    // plant a crashed-publish leftover
    val orphan = java.nio.file.Paths.get(dir, "sig_store.tmp-crashed")
    java.nio.file.Files.createDirectories(orphan)

    val ret = new Retention(spark, dir, cfg)
    val report = ret.retainLast(1, "gc")
    assert(report.droppedBatches == Seq("r0", "r1"))
    assert(inc.io.batches(IncrementalDedup.ImagesStore) == Seq("r2"))
    assert(inc.clusters.count() ==
      inc.io.readBatches(IncrementalDedup.ImagesStore).count())

    val gone = ret.gcOrphans()
    assert(gone.contains("sig_store.tmp-crashed"))
    assert(!java.nio.file.Files.exists(orphan))
    corpus.unpersist()
  }

  test("edge compaction is one union job regardless of batch count; untouched batches stay byte-identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ret-compact").toString
    val io = new graft.pipeline.TableIO(spark, dir)
    val nBatches = 12
    // 12 edge batches; only e3 references the ids being dropped
    for (b <- 0 until nBatches) {
      val rows = (0 until 3).map(i => (s"img_${b}_$i", s"img_${b}_${i + 10}", "exact"))
      io.appendBatch(rows.toDF("id1", "id2", "verdict"),
        IncrementalDedup.EdgeStore, s"e$b")
    }
    def files(r: String): Seq[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir,
          IncrementalDedup.EdgeStore, s"batch-$r")).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => (f.toString, java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSeq.sorted
    }
    val before = (0 until nBatches).filterNot(_ == 3).map(b => b -> files(s"e$b"))

    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val ret = new Retention(spark, dir, cfg)
    val dropIds = Seq("img_3_1", "img_3_11").toDF("image_id")
    val reclaimed =
      try ret.compactEdges(dropIds, "gcT")
      finally {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    // e3 loses its rows containing img_3_1 or img_3_11: rows (1,11)
    // and... id pairs are (img_3_i, img_3_{i+10}), so row i=1 only
    assert(reclaimed == 1L)
    assert(io.batchRowCount(IncrementalDedup.EdgeStore, "e3") == 2L)
    for ((b, f) <- before) assert(files(s"e$b") == f, s"batch e$b was rewritten")
    // the round-2 loop ran >= 2 jobs per batch (24 here); the compaction
    // is now batch-count independent — measured 7 jobs at BOTH 4 and 12
    // batches (schema-pinned union write + count + 1 rewrite + AQE
    // sub-jobs)
    assert(jobs <= 9, s"compaction ran $jobs jobs for $nBatches batches")
  }

  test("expiring everything clears the cluster table; expiring nothing is a no-op") {
    val dir = Files.createTempDirectory("graft-ret3").toString
    val inc = new IncrementalDedup(spark, dir, cfg)
    val c = CorpusGen.generate(spark, 2).cache()
    inc.ingest(c, "r1")
    val ret = new Retention(spark, dir, cfg)
    val noop = ret.expire(Seq("does-not-exist"), "gc0")
    assert(noop.droppedBatches.isEmpty && noop.survivingImages == c.count())
    val all = ret.expire(Seq("r1"), "gc1")
    assert(all.survivingImages == 0)
    assert(!inc.io.exists(IncrementalDedup.ClustersTable))
    c.unpersist()
  }
}
