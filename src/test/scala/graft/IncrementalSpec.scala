package graft

import graft.core.DedupConfig
import graft.pipeline.{DedupPipeline, IncrementalDedup}
import graft.synth.CorpusGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Incremental ingest: batch B dedups against batch A through the
  * persistent signature/posting index — no recompute of A — and the
  * merged clusters equal a one-shot run over A ∪ B. */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "incr-spec")
  val cfg = DedupConfig.default

  import spark.implicits._
  import IncrementalSpec.assertRecordMatchesFooters

  test("two-batch ingest == one-shot over the union; A's batch files untouched by B's ingest") {
    val dir = Files.createTempDirectory("graft-incr").toString
    val corpus = CorpusGen.generate(spark, 16).cache()
    corpus.count()

    // split WITHIN dup groups (odd/even row ids) so every dup class has
    // cross-batch pairs: exact copies, re-encodes, jitters, substr
    // chains and the boilerplate hot bucket all straddle A/B
    val idNum = substring(col("image_id"), 4, 10).cast("long")
    val batchA = corpus.filter(idNum % 2 === 0).cache()
    val batchB = corpus.filter(idNum % 2 === 1).cache()
    assert(batchA.count() + batchB.count() == corpus.count())

    val oneShot = DedupPipeline.run(corpus, cfg)
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq

    val inc = new IncrementalDedup(spark, dir, cfg)
    inc.ingest(batchA, "r1")
    assert(inc.ingested == Seq("r1"))
    assertRecordMatchesFooters(inc, "r1")

    // fingerprint A's committed store files before B's ingest
    def storeFiles(store: String): Seq[(String, Long, Long)] = {
      val p = java.nio.file.Paths.get(dir, store, "batch-r1")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => (f.toString, java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSeq.sorted
    }
    val before = Seq(IncrementalDedup.SigStore, IncrementalDedup.PostStore,
      IncrementalDedup.ImagesStore).map(s => s -> storeFiles(s)).toMap

    val merged = inc.ingest(batchB, "r2")
    assert(inc.ingested == Seq("r1", "r2"))
    assertRecordMatchesFooters(inc, "r2")

    // batch A's signature/posting/image files are byte-stable: nothing
    // about A was recomputed or rewritten
    for ((s, b) <- before) assert(storeFiles(s) == b, s"store $s changed")

    val got = merged.select("image_id", "cluster_id")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got == oneShot)

    // index stores carry exactly one signature/image per ingested row
    assert(inc.io.readBatches(IncrementalDedup.SigStore).count() == corpus.count())
    assert(inc.io.readBatches(IncrementalDedup.ImagesStore).count() == corpus.count())
    // HAR state was handed off in r2's record (the list may be empty at
    // this size; every key on it ran over the cap)
    val rec2 = inc.record("r2").get
    val cap2 = rec2.stages.find(_.stage == "candidate_pairs").get.counters("cap_used")
    assert(rec2.har_hot.forall(_.n > cap2))

    corpus.unpersist(); batchA.unpersist(); batchB.unpersist()
  }

  test("three-batch ingest stays equal to one-shot (assignments replay as star edges)") {
    val dir = Files.createTempDirectory("graft-incr3").toString
    val corpus = CorpusGen.generate(spark, 9).cache()
    corpus.count()
    val idNum = substring(col("image_id"), 4, 10).cast("long")
    val parts = (0 until 3).map(m => corpus.filter(idNum % 3 === m).cache())

    val oneShot = DedupPipeline.run(corpus, cfg)
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq

    val inc = new IncrementalDedup(spark, dir, cfg)
    parts.zipWithIndex.foreach { case (p, i) => inc.ingest(p, s"r$i") }
    val got = inc.clusters.select("image_id", "cluster_id")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got == oneShot)

    corpus.unpersist(); parts.foreach(_.unpersist())
  }

  test("crash debris under a DIFFERENT runId is dropped at the next ingest (SigStore commit set is authoritative)") {
    val dir = Files.createTempDirectory("graft-incr-heal").toString
    val corpus = CorpusGen.generate(spark, 8).cache()
    corpus.count()
    val idNum = substring(col("image_id"), 4, 10).cast("long")
    val batchA = corpus.filter(idNum % 2 === 0).cache()
    val batchB = corpus.filter(idNum % 2 === 1).cache()

    val inc = new IncrementalDedup(spark, dir, cfg)
    inc.ingest(batchA, "r1")

    // simulate a crashed ingest of B that died AFTER the images/postings
    // appends but BEFORE the SigStore commit marker — and is then
    // retried under a DIFFERENT runId (the ADVICE round-2 hole: debris
    // keyed by the crashed id was previously only healed when the retry
    // reused the same id)
    val crashedSigs = DedupPipeline.signatures(batchB, cfg)
    val crashedPost = DedupPipeline.buckets(crashedSigs, cfg)
      .toDF().withColumn("ingest_seq", lit(1))
    inc.io.appendBatch(batchB.toDF(), IncrementalDedup.ImagesStore, "crashX")
    inc.io.appendBatch(crashedPost, IncrementalDedup.PostStore, "crashX")
    assert(inc.io.batches(IncrementalDedup.PostStore).contains("crashX"))

    val merged = inc.ingest(batchB, "r2")
    // the orphan batch is gone from every store
    for (s <- Seq(IncrementalDedup.ImagesStore, IncrementalDedup.PostStore,
        IncrementalDedup.EdgeStore))
      assert(!inc.io.batches(s).contains("crashX"), s"store $s kept debris")
    // and the result equals the clean one-shot (no phantom postings
    // doubled pairs, no images from an uncommitted batch)
    val oneShot = DedupPipeline.run(corpus, cfg)
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq
    val got = merged.select("image_id", "cluster_id")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got == oneShot)
    assert(inc.io.readBatches(IncrementalDedup.ImagesStore).count() == corpus.count())

    corpus.unpersist(); batchA.unpersist(); batchB.unpersist()
  }

  test("verify-side store inputs are bounded by the candidate ids (broadcast prune, O(cand) not O(store))") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.FilterExec
    val corpus = CorpusGen.generate(spark, 6).cache()
    val sigs = DedupPipeline.signatures(corpus, cfg).cache()
    val nStore = corpus.count()
    val imageOf = sigs.collect().map(s => s.nid -> s.image_id).toMap
    /** The (signature, image) ids of the rows that reach verify's
      * exchanges from the store scans; fails unless every store row
      * reaches them through a filter by verify's broadcast candidate-nid
      * predicate. */
    def exchangeInputs(cand: org.apache.spark.sql.DataFrame, nCand: Long): (Set[String], Set[String]) = {
      val ver = DedupPipeline.verifyPairs(cand, nCand, sigs, corpus.toDF(), cfg)
      ver.collect() // settles the adaptive plan
      def stages(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => stages(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: stages(q.plan)
        case other => other +: other.children.flatMap(stages)
      }
      // the nodes of one stage: a cached-table stage belongs to the
      // stage that reads it
      def ownStage(p: SparkPlan): Seq[SparkPlan] = p match {
        case t: org.apache.spark.sql.execution.adaptive.TableCacheQueryStageExec => t +: ownStage(t.plan)
        case _: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(p)
        case other => other +: other.children.flatMap(ownStage)
      }
      // the scans of the cached store tables in a stage
      def storeScans(p: SparkPlan): Seq[SparkPlan] = ownStage(p).collect {
        case s: InMemoryTableScanExec if s.output.exists(a => a.name == "bytes" || a.name == "sha") => s
      }
      val fed = stages(ver.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec if storeScans(e.child).nonEmpty => e
      }
      assert(fed.nonEmpty, "no exchange reads the store")
      for (e <- fed; scan <- storeScans(e.child)) {
        val gates = ownStage(e.child).collect {
          case f: FilterExec if f.condition.exists {
              case u: ScalaUDF => u.udfName.contains(DedupPipeline.CandidateNidFilter)
              case _ => false
            } && ownStage(f.child).exists(_ eq scan) => f
        }
        assert(gates.nonEmpty, s"store rows reach an exchange without the broadcast prune:\n$e")
      }
      val rows = fed.flatMap { e =>
        val out = e.child.output.map(_.name)
        val (id, sha, bytes) = (out.indexOf("image_id"), out.indexOf("sha"), out.indexOf("bytes"))
        e.child.execute().map(r => (r.getUTF8String(id).toString, !r.isNullAt(sha), !r.isNullAt(bytes)))
          .collect()
      }
      (rows.collect { case (i, true, _) => i }.toSet, rows.collect { case (i, _, true) => i }.toSet)
    }
    // two fabricated pairs: a 6-group store contributes 4 rows to each
    // side of verify's join, not nStore
    val ids = imageOf.keys.toSeq.sorted.take(4)
    val (sigIds, pixIds) = exchangeInputs(
      Seq((ids(0), ids(1), "exact"), (ids(2), ids(3), "minhash")).toDF("id1", "id2", "src"), 2L)
    assert(sigIds == ids.map(imageOf).toSet && pixIds == sigIds, s"sig rows $sigIds, image rows $pixIds")
    // the real candidates: the image rows are candidate-touched ids only,
    // fewer than the store holds
    val real = DedupPipeline.candidates(DedupPipeline.buckets(sigs, cfg), cfg).cache()
    val touched = real.select("id1", "id2").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(imageOf(a), imageOf(b)) }.toSet
    val (realSigIds, realPixIds) = exchangeInputs(real, real.count())
    assert(realSigIds == touched)
    assert(realPixIds.nonEmpty && realPixIds.subsetOf(touched) && realPixIds.size < nStore,
      s"image side holds ${realPixIds.size} of $nStore images")
    real.unpersist(); corpus.unpersist(); sigs.unpersist()
  }

  test("the candidate stage finishes its within-batch and cross-batch pairs in one aggregate") {
    val corpus = CorpusGen.generate(spark, 8).cache()
    val idNum = substring(col("image_id"), 4, 10).cast("long")
    // every (id1, id2) aggregate in the plan of each candidates_store write
    val aggregates = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      import org.apache.spark.sql.catalyst.expressions.NamedExpression
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        qe.logical.foreach {
          case w: InsertIntoHadoopFsRelationCommand
              if w.outputPath.toString.contains(IncrementalDedup.CandStore) =>
            aggregates.add(w.query.collect {
              case a: Aggregate if a.groupingExpressions.collect { case n: NamedExpression => n.name } ==
                Seq("id1", "id2") => a
            }.length)
          case _ =>
        }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val inc = new IncrementalDedup(spark, Files.createTempDirectory("graft-incr-agg").toString, cfg)
      inc.ingest(corpus.filter(idNum % 2 === 0), "r1")
      inc.ingest(corpus.filter(idNum % 2 === 1), "r2") // with cross-batch pairs
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val seen = aggregates.toArray.toSeq
    // one candidate write per ingest, one aggregate in each
    assert(seen == Seq(1, 1), s"(id1, id2) aggregates per candidate write: $seen")
    corpus.unpersist()
  }

  test("a postings store in the old (band, bucket) format fails with a named error before any stage runs") {
    val corpus = CorpusGen.generate(spark, 4).cache()
    val idNum = substring(col("image_id"), 4, 10).cast("long")
    val inc = new IncrementalDedup(spark, Files.createTempDirectory("graft-incr-old").toString, cfg)
    inc.ingest(corpus.filter(idNum % 2 === 0), "r1")
    // r1's postings as an older version wrote them
    inc.io.rewriteBatch(Seq((0, 7L, 1L, 0L, 0)).toDF("band", "bucket", "nid", "payload", "ingest_seq"),
      IncrementalDedup.PostStore, "r1")
    val e = intercept[IllegalArgumentException](inc.ingest(corpus.filter(idNum % 2 === 1), "r2"))
    assert(e.getMessage.contains(IncrementalDedup.PostStore) && e.getMessage.contains("(band, bucket)"),
      e.getMessage)
    // nothing committed, nothing staged
    assert(inc.ingested == Seq("r1"))
    for (s <- IncrementalDedup.StageStores) assert(!inc.io.batchDirs(s).contains("r2"), s"$s staged r2")
    corpus.unpersist()
  }

  test("HAR through ingest: batch 2 inherits batch 1's hot keys and clusters as without the list") {
    // cap = max(2, median bucket size) = 2: batch A's dup-group and
    // boilerplate buckets are over the cap, so A publishes a hot list
    val cfgHot = cfg.copy(bucketCap = 2, skewQuantile = 0.5)
    val corpus = CorpusGen.generate(spark, 16).cache()
    val idNum = substring(col("image_id"), 4, 10).cast("long")
    val batchA = corpus.filter(idNum % 2 === 0).cache()
    val batchB = corpus.filter(idNum % 2 === 1).cache()
    def clustersOf(inc: IncrementalDedup) = inc.clusters.select("image_id", "cluster_id", "representative")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).sorted.toSeq
    def candStage(inc: IncrementalDedup) = inc.record("r2").get.stages.find(_.stage == "candidate_pairs").get
    def inherited(inc: IncrementalDedup) = candStage(inc).counters("har_inherited_buckets")
    // batch 2's pair set (candidate count, cap) and verified edges
    def pairsOf(inc: IncrementalDedup) = (candStage(inc).rows, candStage(inc).counters("cap_used"),
      inc.io.readBatch(IncrementalDedup.EdgeStore, "r2").collect().map(_.mkString("|")).sorted.toSeq)

    /** Ingest A, then `between` the two ingests, then B. */
    def twoIngests(between: IncrementalDedup => Unit): IncrementalDedup = {
      val inc = new IncrementalDedup(spark, Files.createTempDirectory("graft-incr-har").toString, cfgHot)
      inc.ingest(batchA, "r1")
      between(inc)
      inc.ingest(batchB, "r2")
      inc
    }

    val har = twoIngests { inc =>
      val hot = inc.record("r1").get.har_hot
      // the list is (key, n) on the packed posting key of A's postings
      val keys = inc.io.readBatch(IncrementalDedup.PostStore, "r1")
        .select("key").as[Long].collect().toSet
      assert(hot.forall(h => keys.contains(h.key)))
      assert(hot.nonEmpty, "batch A recorded no hot key")
    }
    assert(inherited(har) > 0)
    /** Rewrite r1's stored record through `f` on its JSON. */
    def editRecord(inc: IncrementalDedup)(f: org.json4s.JValue => org.json4s.JValue): Unit = {
      import org.json4s.jackson.JsonMethods.{compact, parse, render}
      val rec = inc.io.batchMeta(IncrementalDedup.SigStore, "r1", "RECORD.json").get
      inc.io.putBatchMeta(IncrementalDedup.SigStore, "r1", "RECORD.json", compact(render(f(parse(rec)))))
    }
    // the list dropped from the record: no list
    val plain = twoIngests(editRecord(_)(_.replace(List("har_hot"), org.json4s.JArray(Nil))))
    assert(inherited(plain) == 0)
    assert(pairsOf(har) == pairsOf(plain))
    assert(clustersOf(har) == clustersOf(plain))
    // a record written before it carried the list counts as no list, and
    // an older store's har_hot_buckets table is no longer read
    val old = twoIngests { inc =>
      editRecord(inc)(_.removeField(_._1 == "har_hot"))
      inc.io.publish(Seq((1L, 9L)).toDF("key", "n"), "har_hot_buckets", cfgHot.configHash, "r1")
    }
    assert(inherited(old) == 0)
    assert(pairsOf(old) == pairsOf(plain) && clustersOf(old) == clustersOf(plain))

    corpus.unpersist(); batchA.unpersist(); batchB.unpersist()
  }

  test("re-ingesting a committed batch id is rejected") {
    val dir = Files.createTempDirectory("graft-incr-dup").toString
    val inc = new IncrementalDedup(spark, dir, cfg)
    val c = CorpusGen.generate(spark, 2).cache()
    inc.ingest(c, "r1")
    assertThrows[IllegalArgumentException](inc.ingest(c, "r1"))
    c.unpersist()
  }
}

object IncrementalSpec {
  import org.scalatest.Assertions._

  /** The stages whose outputs outlive the commit, and the store each
    * one stages into (the candidate batch is dropped at commit). */
  private val StageStore = Map("signatures" -> IncrementalDedup.SigStore,
    "images" -> IncrementalDedup.ImagesStore, "postings" -> IncrementalDedup.PostStore,
    "verified_pairs" -> IncrementalDedup.EdgeStore)

  /** A committed ingest's record keeps the per-file rows its stages
    * staged: each equals the footer counts of that stage's batch, and
    * the clusters stage's those of the published table (so `runId` must
    * be the latest ingest). */
  def assertRecordMatchesFooters(inc: IncrementalDedup, runId: String): Unit = {
    val recorded = inc.record(runId).get.stages.map(s => s.stage -> s.file_rows).toMap
    val footers = StageStore.map { case (stage, store) =>
      stage -> inc.io.batchFileCounts(store, runId).map(_._2)
    } + ("clusters" -> inc.io.fileCounts(IncrementalDedup.ClustersTable).map(_._2))
    for ((stage, files) <- footers) assert(recorded(stage) == files, s"$runId $stage")
  }
}
