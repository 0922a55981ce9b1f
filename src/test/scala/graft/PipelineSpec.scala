package graft

import graft.core.DedupConfig
import graft.pipeline.DedupPipeline
import graft.synth.{CorpusGen, Oracle}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end gate: pipeline cluster assignments vs the brute-force
  * oracle at the same DedupConfig — dup-pair recall >= 0.99 (BASELINE
  * .json `metric`) and pair-level precision 1.0 (verification uses the
  * exact oracle predicates, so any emitted pair must be true).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "pipeline-spec")

  val cfg = DedupConfig.default
  val nGroups = 40 // 320 rows — all 5 patterns x8

  lazy val corpus = CorpusGen.generate(spark, nGroups).cache()
  lazy val local = corpus.collect().toSeq
  lazy val oraclePairs = Oracle.truePairs(local, cfg)
  lazy val oracleClusters = Oracle.clusters(local.map(_.image_id), oraclePairs)

  test("corpus is deterministic and planted structure exists") {
    spark.sparkContext.setLogLevel("WARN")
    assert(local.size == nGroups * 8)
    assert(local.map(_.image_id).distinct.size == local.size)
    val again = CorpusGen.generate(spark, nGroups).collect()
    assert(again.map(_.image_id).sorted.toSeq == local.map(_.image_id).sorted)
    assert(oraclePairs.nonEmpty, "oracle must find planted dups")
    // every planted class appears: exact (pattern 1), pixel (2), substr (3), skew (4)
    assert(oraclePairs.size > nGroups, s"expected rich dup structure, got ${oraclePairs.size}")
  }

  test("planted dup classes are each caught by the oracle") {
    val byId = local.map(r => r.image_id -> r).toMap
    def id(g: Long, t: Int) = f"img${g * 8 + t}%010d"
    // find first group of each pattern
    def grp(p: Int): Long = (0L until nGroups).find(_ % 5 == p).get
    val g1 = grp(1); val g2 = grp(2); val g3 = grp(3); val g4 = grp(4)
    assert(oraclePairs.contains((id(g1, 0), id(g1, 1))), "exact copy")
    assert(oraclePairs.contains((id(g1, 0), id(g1, 2))), "reenc copy")
    assert(oraclePairs.contains((id(g2, 0), id(g2, 1))), "pixel jitter")
    assert(oraclePairs.contains((id(g2, 0), id(g2, 2))), "caption edit")
    assert(oraclePairs.contains((id(g3, 0), id(g3, 1))), "substring")
    assert(oraclePairs.contains((id(g3, 1), id(g3, 2))), "chain edge")
    assert(oraclePairs.contains((id(g4, 0), id(g4, 3))), "skew bucket")
    // negative must NOT be a dup of the boilerplate rows
    assert(!oraclePairs.contains((id(g4, 0), id(g4, 4))), "negative near-miss")
    assert(byId(id(g4, 4)).caption.startsWith("stock photo"))
  }

  test("pipeline matches oracle: cluster-pair recall >= 0.99, precision == 1.0") {
    val verified = DedupPipeline.run(corpus, cfg) // clusters
    val assign = verified.collect().map(c => c.image_id -> c.cluster_id).toMap
    assert(assign.size == local.size)
    val gotPairs = Oracle.clusterPairs(assign)
    val wantPairs = Oracle.clusterPairs(oracleClusters)
    val missed = wantPairs -- gotPairs
    val extra = gotPairs -- wantPairs
    val recall = if (wantPairs.isEmpty) 1.0 else (wantPairs.size - missed.size).toDouble / wantPairs.size
    assert(recall >= 0.99, s"recall=$recall missed=${missed.take(5)}")
    assert(extra.isEmpty, s"precision violation: ${extra.take(5)}")
  }

  test("verified pairs are a subset of oracle pairs (pair-level precision)") {
    val sigs = DedupPipeline.signatures(corpus, cfg)
    val bk = DedupPipeline.buckets(sigs, cfg)
    val cand = DedupPipeline.candidates(bk, cfg)
    val ver = DedupPipeline.verify(cand, sigs, corpus, cfg).collect()
    val verPairs = ver.map(v => (v.id1, v.id2)).toSet
    val bad = verPairs -- oraclePairs
    assert(bad.isEmpty, s"false positives: ${bad.take(5)}")
    // and candidate generation is why recall holds: oracle pairs minus
    // candidates must be (nearly) empty (candidates speak nids —
    // translate back through the image_id hash and normalize order)
    val byNid = local.map(r => graft.signatures.Sig.hash64(r.image_id) -> r.image_id).toMap
    val candPairs = cand.collect().map { r =>
      val a = byNid(r.getLong(0)); val b = byNid(r.getLong(1))
      if (a <= b) (a, b) else (b, a)
    }.toSet
    val missedCand = oraclePairs -- candPairs
    assert(missedCand.size <= math.max(1, oraclePairs.size / 100), s"candidate misses: ${missedCand.take(5)}")
  }

  test("buckets emits Spark's xxhash64(band, bucket) & -4 | class as each posting's key") {
    import spark.implicits._
    import org.apache.spark.sql.functions.xxhash64
    import graft.signatures.Sig
    val few = DedupPipeline.signatures(corpus, cfg).limit(3).collect().toSeq
    val got = DedupPipeline.buckets(spark.createDataset(few), cfg).collect()
      .map(r => (r.key, r.nid, r.payload)).sorted.toSeq
    // (band, bucket, class, nid, payload) of every posting by the band
    // layout: minhash bands, phash combos, caption fingerprints, sha, pixsha
    val layout = few.flatMap { s =>
      val pk = Sig.hammingComboKeys(s.phash, cfg.phashBlocks, cfg.phashCombo)
      val fps =
        if (s.caption.length >= cfg.substrMinChars)
          Sig.captionFingerprints(s.caption, cfg.substrGram, cfg.substrWindow).toSeq
        else Seq.empty
      s.bands.indices.map(b => (b, s.bands(b), 0L, s.nid, 0L)) ++
        pk.indices.map(b => (DedupPipeline.BandPhash + b, pk(b), 1L, s.nid, s.phash)) ++
        fps.map(f => (DedupPipeline.BandSubstr, f, 2L, s.nid, 0L)) ++
        Seq((DedupPipeline.BandExactSha, Sig.hash64(s.sha), 3L, s.nid, 0L),
          (DedupPipeline.BandExactPix, Sig.hash64(s.pixsha), 3L, s.nid, 0L))
    }
    assert(layout.map(_._3).toSet == Set(0L, 1L, 2L, 3L))
    val want = layout.toDF("band", "bucket", "cls", "nid", "payload")
      .select(xxhash64($"band", $"bucket").bitwiseAND(-4L).bitwiseOR($"cls"), $"nid", $"payload")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == want)
  }

  test("cluster assignment is invariant to partitioning") {
    val a = DedupPipeline.run(corpus.repartition(3), cfg).collect()
      .map(c => c.image_id -> c.cluster_id).sortBy(_._1).toSeq
    val b = DedupPipeline.run(corpus.repartition(17), cfg).collect()
      .map(c => c.image_id -> c.cluster_id).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("connected components uses reliable checkpoints when a checkpoint dir is set") {
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    // chain long enough to cross the every-4-rounds truncation point
    val n = 64L
    val verts = spark.range(n).select(concat(lit("v"), col("id")).as("id"))
    val edges = spark.range(n - 1).select(
      concat(lit("v"), col("id")).as("src"),
      concat(lit("v"), col("id") + 1).as("dst"))
    val plain = graft.cluster.ConnectedComponents.run(spark, verts, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).sortBy(_._1).toSeq
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val durable = graft.cluster.ConnectedComponents.run(spark, verts, edges)
        .collect().map(r => r.getString(0) -> r.getString(1)).sortBy(_._1).toSeq
      assert(durable == plain)
      // the reliable cut actually wrote checkpoint state
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "expected RDD checkpoint files under the checkpoint dir")
    } finally {
      sc.setCheckpointDir(null) // Option(null) => None: back to localCheckpoint
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("hot-bucket skew is capped (CAP analog): star pairs, no quadratic blowup") {
    val cfgHot = cfg.copy(bucketCap = 8)
    val skewIds = local.filter(_.caption.startsWith("stock photo no description available")).map(_.image_id).toSet
    assert(skewIds.size == 4 * (nGroups / 5 + (if (nGroups % 5 > 4) 1 else 0)))
    val sigs = DedupPipeline.signatures(corpus, cfgHot)
    val bk = DedupPipeline.buckets(sigs, cfgHot)
    val byNid = local.map(r => graft.signatures.Sig.hash64(r.image_id) -> r.image_id).toMap
    val cand = DedupPipeline.candidates(bk, cfgHot).collect()
      .map(r => (byNid(r.getLong(0)), byNid(r.getLong(1))))
    val hotPairs = cand.filter { case (a, b) => skewIds(a) && skewIds(b) }
    val n = skewIds.size
    val allPairs = n * (n - 1) / 2
    assert(hotPairs.length <= 4 * n, s"hot pairs ${hotPairs.length} should be linear in $n, not ~$allPairs")
    // star pairing still spans the whole hot set -> one cluster after CC
    val clusters = DedupPipeline.run(corpus, cfgHot).collect()
    val hotClusters = clusters.filter(c => skewIds(c.image_id)).map(_.cluster_id).toSet
    assert(hotClusters.size == 1, s"hot set must stay one cluster, got $hotClusters")
  }
}
