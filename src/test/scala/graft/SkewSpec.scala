package graft

import graft.core.{BucketRow, DedupConfig, HotKey}
import graft.ops.{PairGen, SkewControl}
import graft.pipeline.DedupPipeline
import graft.synth.CorpusGen
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** CBR adaptive cap (skewQuantile is LIVE) + HAR cross-run hot-bucket
  * feedback: the two data-driven skew controllers of SkewControl /
  * candidatesSkewAware. */
class SkewSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "skew-spec")
  val cfg = DedupConfig.default

  import spark.implicits._

  /** The posting key of a synthetic bucket (minhash class unless named). */
  private def key(band: Int, bucket: Long, cls: Int = PairGen.ClassMinhash): Long =
    PairGen.postingKey(band, bucket, cls)

  // synthetic nid scheme: bucket b's members are [b*100000, b*100000+n)
  private def postings(sizes: Seq[Int]): Seq[BucketRow] =
    sizes.zipWithIndex.flatMap { case (n, b) =>
      (0 until n).map(i => BucketRow(key(0, b.toLong * 1000003L), b.toLong * 100000 + i))
    }

  /** The finished candidate pairs of a skew-aware run. */
  private def finished(sk: DedupPipeline.SkewAwareCandidates) =
    DedupPipeline.finishCandidates(sk.pairs)

  /** `f` run with `listener` registered; every event `f` caused has
    * reached it when this returns. */
  private def listening[T](listener: SparkListener)(f: => T): T = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.ListenerBusDrain(sc)
      out
    } finally sc.removeSparkListener(listener)
  }

  test("CBR: shifted bucket-size distribution re-derives the cap (knob not dead)") {
    // a corpus whose TYPICAL bucket has 100 members — above the static
    // floor of 64 — plus one mega-bucket outlier
    val dist = Seq.fill(200)(100) :+ 5000
    val bk = spark.createDataset(postings(dist))
    val sizes = SkewControl.bucketSizes(bk.toDF())
    val cap = SkewControl.adaptiveCap(sizes, cfg.skewQuantile, cfg.bucketCap)
    // quantile of sizes at 0.99 over (200 x 100, 1 x 5000) is 100:
    // the effective cap follows the distribution up from the static 64
    assert(cap >= 100 && cap < 5000, s"cap=$cap")

    // with the adaptive cap, a 100-member bucket is all-pairs (C(100,2)
    // per bucket), NOT star-paired (99) — the static cap would have
    // star-paired the entire corpus
    val sk = DedupPipeline.candidatesSkewAware(bk, cfg)
    val one = finished(sk).filter("id1 < 100000").count()
    assert(sk.capUsed == cap)
    assert(one == 100L * 99 / 2, s"bucket0 pairs=$one")
    // the mega-bucket is above the adaptive cap: star pairs only
    val mega = finished(sk).filter("id1 >= 20000000 or id2 >= 20000000").count()
    assert(mega == 4999, s"mega pairs=$mega")
    // and it is reported as hot for the next run (HAR handoff)
    val hot = sk.hotList
    assert(hot.length == 1 && hot.head.n == 5000)
  }

  test("CBR: one-shot candidates all-pair a bucket under the re-derived cap") {
    // the shifted distribution above: a 100-member bucket is within the
    // 0.99-quantile cap, so `candidates` (run, roundTrip) all-pairs it
    // instead of star-pairing it to 99 pairs under the static floor
    val bk = spark.createDataset(postings(Seq.fill(200)(100) :+ 5000))
    val one = DedupPipeline.candidates(bk, cfg).filter("id1 < 100000").count()
    assert(one == 100L * 99 / 2, s"bucket0 pairs=$one")
  }

  test("HAR: the over-cap scan runs only when the hot list is read") {
    val dist = Seq.fill(200)(8) :+ 500 // one bucket over the static floor of 64
    val bk = spark.createDataset(postings(dist))
    /** Jobs started while `f` runs. */
    def jobs[T](f: => T): (T, Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val out = listening(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      })(f)
      (out, n.get)
    }
    def pairsOnly(c: DedupConfig) = {
      val sk = DedupPipeline.candidatesSkewAware(bk, c)
      finished(sk).collect()
      sk
    }
    // building and consuming the pairs takes the jobs of the same plan
    // with no over-cap run (where no version scans)
    val (sk, built) = jobs(pairsOnly(cfg))
    val (_, builtNoHot) = jobs(pairsOnly(cfg.copy(bucketCap = 1000)))
    assert(built == builtNoHot, s"jobs $built vs $builtNoHot without an over-cap run")
    // the first read runs the scan, once
    val (hot, read) = jobs(sk.hotList)
    assert(read == 1)
    assert(jobs(sk.hotList)._2 == 0)
    // the list is the one an eager scan of the posting sort returns
    val cap = sk.capUsed
    val eager = PairGen.sortByKey(bk.toDF()).queryExecution.toRdd
      .mapPartitions(PairGen.hotRuns(_, cap)).collect()
      .map { case (k, n) => HotKey(k, n) }.toSeq
    assert(eager.map(_.n) == Seq(500L))
    assert(hot == eager)
  }

  test("candidates equal the static-cap expander on the sf-tiny corpus") {
    // the golden corpus's 0.99-quantile bucket size is under the floor,
    // so the one candidate path gives the old static-cap pair set
    val corpus = CorpusGen.generate(spark, 15)
    val bk = DedupPipeline.buckets(DedupPipeline.signatures(corpus, cfg), cfg)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "srcmask", "src").as[(Long, Long, Int, String)].collect().toSet
    val static = DedupPipeline.finishCandidates(
      PairGen.expandPairs(PairGen.sortByKey(bk.toDF()), cfg.bucketCap, cfg.hammingMax))
    val want = rows(static)
    assert(want.nonEmpty)
    assert(rows(DedupPipeline.candidates(bk, cfg)) == want)
  }

  test("HAR: inherited hot buckets take the broadcast min-join path with an identical pair set") {
    val dist = Seq.fill(200)(8) :+ 500 // one planted hot bucket (q99 of sizes = 8 -> cap stays at the static 64)
    val bk = spark.createDataset(postings(dist))

    val base = DedupPipeline.candidatesSkewAware(bk, cfg)
    val basePairs = finished(base).select("id1", "id2", "srcmask").as[(Long, Long, Int)]
      .collect().toSet
    val hot = base.hotList
    assert(hot.length == 1)

    // run 2 "inherits" run 1's hot list: identical candidates, but the
    // hot bucket's postings never enter the sort shuffle
    val har = DedupPipeline.candidatesSkewAware(bk, cfg, hot)
    val harPairs = finished(har).select("id1", "id2", "srcmask").as[(Long, Long, Int)]
      .collect().toSet
    assert(harPairs == basePairs)
  }

  test("HAR: inherited keys still count in the CBR cap (pair set and cap unchanged)") {
    // 2 of 102 buckets hold 5 members: the 0.99-quantile cap over ALL
    // sizes is 5, so they are all-paired; a cap taken over the cold
    // sizes alone (singletons) would fall to the floor and star them
    val bk = spark.createDataset(postings(Seq.fill(100)(1) ++ Seq(5, 5)))
    val cfgLow = cfg.copy(bucketCap = 2)
    val base = DedupPipeline.candidatesSkewAware(bk, cfgLow)
    val har = DedupPipeline.candidatesSkewAware(bk, cfgLow,
      Seq(HotKey(key(0, 100L * 1000003L), 9L), HotKey(key(0, 101L * 1000003L), 9L)))
    def pairs(sk: DedupPipeline.SkewAwareCandidates) =
      finished(sk).select("id1", "id2", "srcmask").as[(Long, Long, Int)].collect().toSet
    assert(base.capUsed == 5 && har.capUsed == 5)
    assert(pairs(har) == pairs(base) && pairs(base).size == 20)
  }

  test("HAR: hamming-LSH hot bucket still rejects far members at emission") {
    // phash band id => hamming semantics; payloads: 3 near the min, 2 far.
    // 200 singleton buckets keep the adaptive cap at the static floor
    // (4 here) so the 5-member bucket counts as hot.
    val cfgSmall = cfg.copy(bucketCap = 4)
    val band = DedupPipeline.BandPhash
    val members = Seq(
      (1L, 0L), (2L, 1L), (3L, 3L), // hamming(0, x) <= 2 bits
      (4L, 0x00ffffffffL), (5L, 0xffff000000L)) // far
    val filler = (0 until 200).map(i => BucketRow(key(0, 500L + i), 900000L + i))
    val bk = spark.createDataset(
      members.map { case (id, p) => BucketRow(key(band, 7L, PairGen.ClassPhash), id, p) } ++ filler)
    val hot = Seq(HotKey(key(band, 7L, PairGen.ClassPhash), 5L))
    val har = DedupPipeline.candidatesSkewAware(bk, cfgSmall, hot)
    assert(har.capUsed == 4)
    val pairs = finished(har).select("id1", "id2").as[(Long, Long)].collect().toSet
    // star from min member nid 1 (payload 0): far members rejected by
    // the hamming gate exactly as the streamed expander would
    assert(pairs == Set((1L, 2L), (1L, 3L)))
  }

  test("HAR: an inherited key that shrank below the cap is all-paired again") {
    // run-2 bucket has only 3 members though it was hot last run: the
    // star path must NOT fire (pair set == plain expander's all-pairs)
    val filler = (0 until 200).map(i => BucketRow(key(0, 500L + i), 900000L + i))
    val bk = spark.createDataset(
      Seq(1L, 2L, 3L).map(id => BucketRow(key(0, 7L), id)) ++ filler)
    val hot = Seq(HotKey(key(0, 7L), 999L))
    val har = DedupPipeline.candidatesSkewAware(bk, cfg, hot)
    val pairs = finished(har).select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("nothing is cached and the postings take one shuffle, with and without an inherited list") {
    // one band, disjoint buckets: every pair is emitted exactly once, so
    // the pair-dedup shuffle writes exactly |pairs| records and any
    // other shuffle write shows up on its own
    val dist = Seq.fill(200)(8) :+ 500
    val bk = spark.createDataset(postings(dist))
    val nPostings = dist.sum.toLong
    val sc = spark.sparkContext
    /** Shuffle records written per completed stage while `f` runs. */
    def stageWrites[T](f: => T): (T, Seq[Long]) = {
      val recs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val out = listening(new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          recs.add(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      })(f)
      (out, recs.toArray.toSeq.map(_.asInstanceOf[Long]).filter(_ > 0))
    }
    // suites share one session: drop what earlier suites left cached,
    // so anything cached from here on was cached by this test
    spark.catalog.clearCache()
    val persistedBefore = sc.getPersistentRDDs.keySet
    def nothingCached(): Unit = {
      assert(sc.getPersistentRDDs.keySet == persistedBefore,
        s"persisted: ${sc.getPersistentRDDs -- persistedBefore}")
      assert(spark.sharedState.cacheManager.isEmpty)
    }

    val ((plainPairs, hot), plainWrites) = stageWrites {
      val sk = DedupPipeline.candidatesSkewAware(bk, cfg)
      (finished(sk).collect().length.toLong, sk.hotList)
    }
    nothingCached()
    // the posting exchange wrote |postings| records, once; the pair
    // dedup |pairs|; the size histogram shuffled nothing
    assert(plainWrites.sorted == Seq(nPostings, plainPairs).sorted, s"writes=$plainWrites")
    assert(hot.map(_.n) == Seq(500L))

    val (harPairs, harWrites) = stageWrites {
      finished(DedupPipeline.candidatesSkewAware(bk, cfg, hot)).collect().length.toLong
    }
    nothingCached()
    assert(harPairs == plainPairs)
    // the inherited bucket bypasses the posting exchange; the only other
    // write is the per-key min aggregate (at most one row per input
    // partition)
    val rest = harWrites.diff(Seq(nPostings - 500, plainPairs))
    assert(harWrites.length == rest.length + 2, s"writes=$harWrites")
    assert(rest.sum <= sc.defaultParallelism, s"writes=$harWrites")
  }

  test("pipeline end-to-end result is invariant under HAR inheritance") {
    val corpus = CorpusGen.generate(spark, 8).cache()
    corpus.count()
    val direct = DedupPipeline.run(corpus, cfg)
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq

    val sigs = DedupPipeline.signatures(corpus, cfg).cache()
    val bk = DedupPipeline.buckets(sigs, cfg)
    // inherit a FABRICATED hot list naming real buckets: result must
    // not change (only the physical path for those keys does)
    val someBuckets = bk.toDF().groupBy("key")
      .count().withColumnRenamed("count", "n").limit(20).as[HotKey].collect().toSeq
    val sk = DedupPipeline.candidatesSkewAware(bk, cfg, someBuckets)
    val ver = DedupPipeline.verify(finished(sk), sigs, corpus, cfg)
    val got = DedupPipeline.clusters(corpus.toDF(), ver)
      .collect().map(r => (r.image_id, r.cluster_id)).sorted.toSeq
    assert(got == direct)
    sigs.unpersist(); corpus.unpersist()
  }
}
