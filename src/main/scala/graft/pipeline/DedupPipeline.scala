package graft.pipeline

import graft.core._
import graft.signatures.{Codec, Sig}
import graft.cluster.ConnectedComponents
import graft.ops.PairGen
import graft.ops.PairGen.{ClassExact, ClassMinhash, ClassPhash, ClassSubstr, SrcExact, SrcMinhash,
  SrcSubstr, postingKey}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The near-duplicate detection + clustering pipeline — destor's backup
  * pipeline (reference: src/do_backup.c:31-210, six pthread stages over
  * bounded SyncQueues) recast as a DAG of Dataset stages:
  *
  *   images → signatures → lsh_buckets → candidate_pairs →
  *   verified_pairs → clusters
  *
  * Thread boundaries become stage/shuffle boundaries; SyncQueue
  * backpressure becomes Spark scheduling; the index_lock serialization
  * (src/dedup_phase.c:87-91) disappears because within-batch
  * canonicalization is a min-aggregate, not a mutable buffer.
  *
  * Scale design (100 TB / 10^12 rows):
  *  - signatures is a NARROW stage (mapPartitions; no shuffle); `bytes`
  *    is read once here and never again except for the small pixel-
  *    verify side-join (column pruning keeps it out of all other scans).
  *  - candidate generation shuffles on the packed posting key — the
  *    only O(data) shuffle; bucket sizes are bounded by the CAP-analog
  *    skew stage (star pairing for buckets > bucketCap) so no O(n^2)
  *    explosion.
  *  - all joins are equi-joins; AQE splits residual skew.
  */
/** Intermediate verify-stage row (pre pixel check). Top-level so the
  * Catalyst product encoder resolves (local case classes have no
  * TypeTag). */
private[pipeline] final case class Mid(id1: String, id2: String, src: String,
    jaccard: Double, hamming: Int, verdict: String, needPixel: Boolean)

object DedupPipeline extends Serializable {

  private val HexDigits = "0123456789abcdef".toCharArray

  private def hex(b: Array[Byte]): String = {
    // char-table encode: a Formatter-based (f"%02x") loop allocated one
    // java.util.Formatter per BYTE and showed up in task stack samples
    // of the signatures stage (~16M instances at 400k images)
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      out(i * 2) = HexDigits(v >>> 4)
      out(i * 2 + 1) = HexDigits(v & 0xf)
      i += 1
    }
    new String(out)
  }

  // --- band-id namespaces: one flat posting key space for every
  //     candidate source (minhash LSH, phash hamming-LSH, winnowing
  //     substring postings, exact sha) — a single shuffle serves all.
  //     The band id only salts the key hash (PairGen.postingKey).
  val BandPhash = 1000
  val BandSubstr = 2000
  val BandExactSha = 3000
  val BandExactPix = 3001

  /** Stage 1 — per-image signature bundle (narrow, no shuffle).
    * Analog of destor's chunk+hash phases (src/chunk_phase.c,
    * src/hash_phase.c:8-38). Under cfg.signatureOnly the metadata-only
    * variant runs instead (never reads `bytes`). */
  def signatures(images: Dataset[ImageRow], cfg: DedupConfig): Dataset[SignatureRow] =
    if (cfg.signatureOnly) signaturesMetaOnly(images.toDF(), cfg)
    else signaturesFull(images, cfg)

  /** Signature-only simulation variant (destor's simulation levels,
    * src/destor.h:55-59: metadata-only runs that skip data movement):
    * computes every caption/phash-derived signature, selects ONLY the
    * metadata columns (so column pruning keeps `bytes` out of the scan),
    * and substitutes the two pixel-derived keys —
    *  - `sha` degrades to METADATA identity, sha1(phash ++ caption):
    *    exact-dup evidence becomes "same caption and phash";
    *  - `pixsha` is per-image unique, so the pixel-identity family can
    *    never fire without pixels (no false "pixel" verdicts);
    *  - `degenerate` is false (undecidable without pixels). */
  private def signaturesMetaOnly(images: DataFrame, cfg: DedupConfig): Dataset[SignatureRow] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id"), col("caption"), col("phash"))
      .as[(String, String, Long)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-1")
        it.map { case (id, caption, phash) =>
          md.reset()
          var i = 56
          while (i >= 0) { md.update((phash >>> i).toByte); i -= 8 }
          md.update(caption.getBytes("UTF-8"))
          val sha = hex(md.digest())
          md.reset()
          md.update("sim:".getBytes("UTF-8"))
          md.update(id.getBytes("UTF-8"))
          val pixsha = hex(md.digest())
          val shingles = Sig.shingleHashes(caption, cfg.shingleSize)
          SignatureRow(
            image_id = id,
            nid = Sig.hash64(id),
            sha = sha,
            pixsha = pixsha,
            bands = Sig.bandKeys(Sig.minhash(shingles, cfg), cfg),
            simhash = Sig.simhash64(shingles, null),
            phash = phash,
            shingle_count = shingles.length,
            caption = caption,
            degenerate = false)
        }
      }
  }

  private def signaturesFull(images: Dataset[ImageRow], cfg: DedupConfig): Dataset[SignatureRow] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-1")
      it.map { r =>
        md.reset()
        md.update(r.bytes)
        // length delimiter between the two fields: without it, distinct
        // rows whose bytes/caption boundary shifts ("ab"/"c" vs "a"/"bc")
        // would collide into the same exact-dup key
        val len = r.bytes.length
        md.update(Array[Byte]((len >>> 24).toByte, (len >>> 16).toByte, (len >>> 8).toByte, len.toByte))
        md.update(r.caption.getBytes("UTF-8"))
        val sha = hex(md.digest())
        val pix = Codec.decode(r.bytes, r.fmt)
        md.reset()
        md.update(pix)
        val pixsha = hex(md.digest())
        val shingles = Sig.shingleHashes(r.caption, cfg.shingleSize)
        // P9 degenerate guard: uniform decoded pixels (all-black etc.)
        var uniform = pix.length > 0
        var i = 1
        while (uniform && i < pix.length) { uniform = pix(i) == pix(0); i += 1 }
        SignatureRow(
          image_id = r.image_id,
          nid = Sig.hash64(r.image_id),
          sha = sha,
          pixsha = pixsha,
          bands = Sig.bandKeys(Sig.minhash(shingles, cfg), cfg),
          simhash = Sig.simhash64(shingles, null),
          phash = r.phash,
          shingle_count = shingles.length,
          caption = r.caption,
          degenerate = uniform)
      }
    }
  }

  /** Stage 2 — LSH bucket postings (narrow flatMap). Analog of the
    * feature→segment kv postings (src/index/kvstore_htable.c:11-53).
    * Emits, per image: b minhash band keys, phashBands hamming band
    * keys (pigeonhole guarantee for hamming<=hammingMax since
    * hammingMax < phashBands), winnowed caption fingerprints
    * (guaranteed substring recall), and the two exact keys, each under
    * its packed posting key (PairGen.postingKey) with the class of the
    * family that emits it. */
  def buckets(sigs: Dataset[SignatureRow], cfg: DedupConfig): Dataset[BucketRow] = {
    val spark = sigs.sparkSession
    import spark.implicits._
    sigs.flatMap { s =>
      val bk = s.bands
      val pk = Sig.hammingComboKeys(s.phash, cfg.phashBlocks, cfg.phashCombo)
      val fps =
        if (s.caption.length >= cfg.substrMinChars)
          Sig.captionFingerprints(s.caption, cfg.substrGram, cfg.substrWindow)
        else Array.emptyLongArray
      // exact-size output (one growth-free array per image; the posting
      // stage runs at ~60 rows/image so buffer churn is measurable)
      val out = new Array[BucketRow](bk.length + pk.length + fps.length + 2)
      var o = 0
      def post(band: Int, bucket: Long, cls: Int, payload: Long = 0L): Unit = {
        out(o) = BucketRow(postingKey(band, bucket, cls), s.nid, payload); o += 1
      }
      var b = 0
      while (b < bk.length) { post(b, bk(b), ClassMinhash); b += 1 }
      b = 0
      while (b < pk.length) { post(BandPhash + b, pk(b), ClassPhash, s.phash); b += 1 }
      var i = 0
      while (i < fps.length) { post(BandSubstr, fps(i), ClassSubstr); i += 1 }
      post(BandExactSha, Sig.hash64(s.sha), ClassExact)
      post(BandExactPix, Sig.hash64(s.pixsha), ClassExact)
      out
    }
  }

  /** Stage 3 — candidate pair generation with explicit skew handling.
    * ONE shuffle groups postings per packed posting key; pairs are
    * expanded locally by PairGen's run-length expander — all-pairs for
    * buckets <= bucketCap, star pairing to the min image_id above it
    * (destor's CAP capping, src/cap_rewrite.c:44-107: bounded fan-in per
    * bucket, connectivity preserved for clustering). Pair dedup across
    * bands is the second shuffle. (The earlier sizes-join + self-join
    * formulation computed the posting subtree twice and shuffled each
    * pair row three times.)
    */
  def candidates(bk: Dataset[BucketRow], cfg: DedupConfig): DataFrame =
    finishCandidates(PairGen.expandPairs(
      PairGen.sortByKey(bk.toDF()), cfg.bucketCap, cfg.hammingMax))

  /** Cross-band pair dedup + provenance: bit-OR the source bits of every
    * band a pair was seen in, label with the strongest evidence class.
    * Takes raw (id1, id2, srcbit) pairs; every candidate path finishes
    * its pairs here exactly once. */
  private[graft] def finishCandidates(pairs: DataFrame): DataFrame =
    pairs
      // nid-collision guard: two distinct images hashing to the same nid
      // inside one bucket would emit a degenerate self-pair — drop it
      // (the real A-B pair still surfaces through verify's m:n sig join)
      .filter(col("id1") =!= col("id2"))
      .groupBy("id1", "id2")
      .agg(expr("cast(bit_or(srcbit) as int)").as("srcmask"))
      .withColumn("src",
        when(col("srcmask").bitwiseAND(SrcExact) =!= 0, "exact")
          .when(col("srcmask").bitwiseAND(SrcMinhash) =!= 0, "minhash")
          .when(col("srcmask").bitwiseAND(SrcSubstr) =!= 0, "substr")
          .otherwise("phash"))

  /** Skew-aware candidate generation result: the raw (id1, id2, srcbit)
    * pairs (a plain lazy query — nothing is cached — that the caller
    * finishes with [[finishCandidates]], together with any other pairs
    * of the batch), this run's HAR hot list as a driver-side (key, n)
    * list on the packed posting key (the NEXT run's inherited list), and
    * the CBR-derived effective cap. */
  final case class SkewAwareCandidates(pairs: DataFrame, hotList: Seq[HotKey], capUsed: Int)

  /** Stage 3 with BOTH adaptive skew controllers live (see SkewControl):
    *  - CBR: effective cap = skewQuantile-quantile of this run's bucket
    *    sizes, floored at cfg.bucketCap — a shifted bucket-size
    *    distribution re-derives the cap instead of star-pairing the
    *    bulk of the corpus;
    *  - HAR: postings of `inheritedHot` keys (the previous run's list)
    *    bypass the big posting sort entirely — star pairs come from a
    *    broadcast min-per-key join, so known-skewed keys never land on
    *    one sort partition.
    * Inherited keys' sizes count in the CBR histogram and runs are
    * keyed on the packed key on every path, so the cap and the pair SET
    * are the non-HAR path's (star pairs to the same per-key min member),
    * colliding keys included; only the physical plan for hot keys
    * changes. Driver actions: the size histogram, the inherited keys'
    * (min, size) rows, and an over-cap scan only when the histogram
    * shows an over-cap run.
    */
  def candidatesSkewAware(
      bk: Dataset[BucketRow],
      cfg: DedupConfig,
      inheritedHot: Seq[HotKey] = Seq.empty): SkewAwareCandidates = {
    val spark = bk.sparkSession
    import spark.implicits._
    val posts = bk.toDF()

    // HAR: split the inherited keys out BEFORE the posting shuffle — the
    // whole point is that known-skewed keys never land on one sort
    // partition (destor equally acts on the inherited sparse list
    // up-front, har_rewrite.c:186-201). One broadcast semi/anti-join on
    // the packed key.
    val (cold, hotPosts) =
      if (inheritedHot.isEmpty) (posts, None)
      else {
        val hotKeys = broadcast(inheritedHot.map(_.key).distinct.toDF("key"))
        (posts.join(hotKeys, Seq("key"), "left_anti"), Some(posts.join(hotKeys, Seq("key"), "left_semi")))
      }

    // THE posting shuffle, its raw rows taken ONCE: the bucket-size scan
    // (CBR), the pair expansion and the over-cap scan (HAR) all read the
    // output of this one shuffle — each re-sorts its partitions locally
    // (a radix sort on one long), none shuffles again and nothing is
    // cached.
    val sorted = PairGen.sortByKey(cold).queryExecution.toRdd

    // per-inherited-key (key, min nid, its payload, size) from a partial
    // aggregation, collected: one row per inherited key, broadcast below
    // anyway
    val minPer = hotPosts.fold(Array.empty[(Long, Long, Long, Long)])(_.groupBy("key")
      .agg(min(struct(col("nid"), col("payload"))).as("m"), count(lit(1)).as("n"))
      .select("key", "m.nid", "m.payload", "n").as[(Long, Long, Long, Long)].collect())

    // bucket-size HISTOGRAM from the run lengths of the sort, merged on
    // the driver (~hundreds of (size, runs) rows per partition).
    // Inherited keys' sizes count too, so the cap (and the pair set) is
    // the non-HAR path's.
    def merged(h: Seq[(Long, Long)]) = h.groupMapReduce(_._1)(_._2)(_ + _).toArray
    val coldHist = merged(sorted.mapPartitions(PairGen.runHistogram).collect().toSeq)
    val cap = math.max(cfg.bucketCap, graft.ops.SkewControl.histogramQuantile(
      merged(coldHist.toSeq ++ minPer.map(m => (m._4, 1L))), cfg.skewQuantile))

    val coldPairs = PairGen.expandPairs(spark, sorted, cap, cfg.hammingMax)
    val (stillHot, shrunk) = minPer.partition(_._4 > cap)
    // this run's over-cap keys ARE the next run's list: over-cap runs
    // of the sort (scanned only when the histogram saw one — rare by
    // construction: cap is the skewQuantile tail) plus the still-hot
    // inherited keys
    val coldHot =
      if (coldHist.exists(_._1 > cap)) sorted.mapPartitions(PairGen.hotRuns(_, cap)).collect()
      else Array.empty[(Long, Long)]
    val hotList = (coldHot ++ stillHot.map(m => (m._1, m._4))).map { case (k, n) => HotKey(k, n) }

    val cls = col("key").bitwiseAND(3L)
    // still-hot inherited keys: star pairs via broadcast min-join
    val starred = for (hp <- hotPosts if stillHot.nonEmpty) yield hp
      .join(broadcast(stillHot.toSeq.toDF("key", "m_nid", "m_payload", "n")), "key")
      .filter(col("nid") =!= col("m_nid"))
      .filter(PairGen.hammingOk(cls, col("payload"), col("m_payload"), cfg.hammingMax))
      .select(col("m_nid").as("id1"), col("nid").as("id2"), PairGen.srcbitCol(cls).as("srcbit"))
    // inherited keys that SHRANK below the cap must be all-paired —
    // re-routed through a (tiny) expander pass so the pair set stays
    // exactly the non-HAR path's
    val backPairs = for (hp <- hotPosts if shrunk.nonEmpty) yield PairGen.expandPairs(
      PairGen.sortByKey(hp.join(broadcast(shrunk.map(_._1).toSeq.toDF("key")), Seq("key"), "left_semi")),
      cap, cfg.hammingMax)
    SkewAwareCandidates((Seq(coldPairs) ++ starred ++ backPairs).reduce(_ union _), hotList.toSeq, cap)
  }

  /** Stage 4 — verification with the EXACT oracle predicates (same
    * DedupConfig): sha equality, exact shingle Jaccard, normalized
    * substring containment, phash hamming + decoded-pixel PSNR. Only
    * pairs that need the pixel check touch `bytes` (small side-join —
    * column pruning keeps the scan narrow). Analog of destor's
    * per-chunk dedup decision (src/index/index.c:140-217). */
  def verify(
      cand: DataFrame,
      sigs: Dataset[SignatureRow],
      images: Dataset[ImageRow],
      cfg: DedupConfig): Dataset[VerifiedPair] =
    verifyWithCleanup(cand, sigs, images.toDF(), cfg)._1

  /** verify() plus a cleanup thunk that unpersists the internal Mid
    * cache — call it AFTER the returned dataset has been materialized
    * (otherwise repeated pipeline invocations in one session accumulate
    * cached blocks for the session's lifetime) — plus the resolved
    * candidate-pair count, which rides the Mid materialization for free
    * and serves downstream as an edge-count upper bound (CC partitioner
    * sizing without an extra counting pass). */
  private[graft] def verifyWithCleanup(
      cand: DataFrame,
      sigs: Dataset[SignatureRow],
      images: DataFrame,
      cfg: DedupConfig): (Dataset[VerifiedPair], () => Unit, Long) = {
    val spark = cand.sparkSession
    import spark.implicits._

    // NOTE: no phash pre-filter join here — the pair generator already
    // rejects hamming-far pairs AT EMISSION (candidates() checks
    // Sig.hamming against payload phashes inside every hamming-LSH
    // bucket), so every phash-only candidate that reaches verify is
    // hamming-close by construction. Round 1 carried a redundant
    // two-join bit_count pre-filter here; it filtered nothing and cost
    // two exchanges plus a second consumer of `cand`.
    // candidates carry 64-bit nids; the sig join resolves them back to
    // string image ids (every downstream consumer — CC, restore, API —
    // speaks image_id). An nid collision fans out m:n here; each joined
    // row is verified EXACTLY below, so collisions cost extra rows,
    // never correctness (self-combos are dropped by the img_1 != img_2
    // filter).
    val toFull = cand.select("id1", "id2", "src")

    val s1 = sigs.select(
      col("nid").as("id1"), col("image_id").as("img_1"),
      col("sha").as("sha_1"), col("pixsha").as("pixsha_1"),
      col("phash").as("phash_1"), col("caption").as("cap_1"))
    val s2 = sigs.select(
      col("nid").as("id2"), col("image_id").as("img_2"),
      col("sha").as("sha_2"), col("pixsha").as("pixsha_2"),
      col("phash").as("phash_2"), col("caption").as("cap_2"))
    // SHUFFLE_HASH, not broadcast: the signature side is O(corpus) — at
    // cluster scale it can never broadcast (Catalyst's stats would agree),
    // and locally the driver-side hash-relation build (collect 400k rows
    // + single-threaded build, twice) was pure serial time that made the
    // whole verify stage scale NEGATIVELY with cores. The hint pins the
    // cluster-correct plan at every scale.
    val joined = toFull
      .join(s1.hint("shuffle_hash"), "id1")
      .join(s2.hint("shuffle_hash"), "id2")
      .filter(col("img_1") =!= col("img_2"))

    val mid = joined
      .select("img_1", "img_2", "src", "sha_1", "sha_2", "pixsha_1", "pixsha_2",
        "phash_1", "phash_2", "cap_1", "cap_2")
      .as[(String, String, String, String, String, String, String, Long, Long, String, String)]
      .mapPartitions { it =>
        // per-partition memo: pairs arrive grouped by id1 (post-shuffle),
        // so each caption's shingle set is computed ~once, not per pair;
        // identical boilerplate captions (hot clusters) also dedupe here
        val memo = new java.util.HashMap[String, Array[Long]]()
        def shingles(cap: String): Array[Long] = {
          if (memo.size > 100000) memo.clear()
          var r = memo.get(cap)
          if (r == null) { r = Sig.shingleHashes(cap, cfg.shingleSize); memo.put(cap, r) }
          r
        }
        it.map { case (i1, i2, src, sA, sB, pA, pB, hA, hB, cA, cB) =>
          // canonical pair order = lexicographic image_id (nids order the
          // shuffle; output pairs keep the string-id convention)
          val flip = i1 > i2
          val (id1, id2) = if (flip) (i2, i1) else (i1, i2)
          val (shaA, shaB) = if (flip) (sB, sA) else (sA, sB)
          val (pixA, pixB) = if (flip) (pB, pA) else (pA, pB)
          val (phA, phB) = if (flip) (hB, hA) else (hA, hB)
          val (capA, capB) = if (flip) (cB, cA) else (cA, cB)
          val ham = Sig.hamming(phA, phB)
          val ja =
            if (shaA == shaB) 1.0 // identical bytes+caption
            else Sig.jaccard(shingles(capA), shingles(capB))
          val la = capA.toLowerCase
          val lb = capB.toLowerCase
          val substr =
            (la.length >= cfg.substrMinChars && lb.contains(la) && la != lb) ||
            (lb.length >= cfg.substrMinChars && la.contains(lb) && la != lb)
          val verdict =
            if (shaA == shaB) "exact"
            else if (ja >= cfg.jaccardMin) "caption"
            else if (substr) "substr"
            else if (pixA == pixB) "pixel" // identical decoded pixels: PSNR = inf
            else ""
          // pixel evidence is computed for EVERY hamming-close pair
          // with distinct pixels — including caption/substr-verdict
          // pairs — so downstream content dedup (RestoreOps) can rely
          // on psnr regardless of which cheaper predicate fired first
          // (a lossy re-encode with an identical caption settles as
          // "caption" but still needs its PSNR for the store).
          val needPixel = ham <= cfg.hammingMax &&
            verdict != "exact" && verdict != "pixel"
          Mid(id1, id2, src, ja, ham, verdict, needPixel)
        }
      }
      // two consumers (settled + pixel side-join) in ONE downstream job
      // — persist AND materialize eagerly, otherwise the union's
      // subplans race and each computes the caption joins
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // eager materialization (see above) with the total and needPixel
    // counts riding the same job — they drive the broadcast decision
    // below and the CC partitioner hint for free
    val countsRow = mid.toDF().agg(
      count(lit(1)), sum(when(col("needPixel"), 1L).otherwise(0L)))
      .first()
    val midCount = countsRow.getLong(0)
    val needCount = countsRow.getAs[Any](1) match { case null => 0L; case n: Long => n }

    val settled = mid.filter(m => m.verdict.nonEmpty && !m.needPixel).map(m =>
      VerifiedPair(m.id1, m.id2, m.src, m.jaccard, m.hamming,
        if (m.verdict == "exact" || m.verdict == "pixel") 1e9 else 0.0, m.verdict))

    // signature-only simulation (destor src/destor.h:55-59): the pixel
    // side-join is the ONLY stage that reads `bytes` — skip it entirely.
    // Pairs that would have been PSNR-checked settle on phash evidence
    // alone (hamming <= hammingMax by needPixel's definition) with
    // psnr = -1 ("not computed"); pairs that already hold a cheaper
    // verdict keep it, likewise without a recorded psnr. Precision of
    // the phash-only verdicts is the documented simulation tradeoff —
    // exactly the fidelity destor gives up when a simulated store skips
    // chunk data.
    if (cfg.signatureOnly) {
      val simSettled = mid.filter(_.needPixel).map(m =>
        VerifiedPair(m.id1, m.id2, m.src, m.jaccard, m.hamming, -1.0,
          if (m.verdict.nonEmpty) m.verdict else "phash"))
      return (settled.union(simSettled),
        () => { mid.unpersist(blocking = false); () },
        midCount)
    }

    // pixel-verify side-join: only hamming-close, otherwise-unverified
    // pairs. The `bytes` column is scanned ONCE — a semi-join prunes
    // the image scan to the ids any pending pair touches, and the
    // (small) pruned set is materialized so the two per-side joins
    // don't each re-scan and re-decompress the full corpus bytes
    // column (the pipeline's widest column; round 1 scanned it twice).
    val needPix = mid.filter(_.needPixel).toDF()
    val needIdsRaw = needPix.select(col("id1").as("image_id"))
      .union(needPix.select(col("id2").as("image_id"))).distinct()
    // broadcast the pruning ids when bounded: a shuffled semi-join here
    // hash-exchanges the ENTIRE corpus `bytes` column just to match ids
    // (measured 25 s of a 59 s pipeline at 400k images — the single
    // largest verify job). With the id list broadcast, `bytes` rows
    // stream scan→filter→cache and never hit a shuffle. Above the
    // threshold (pathological corpus where most pairs need pixel
    // verification) the shuffled join is the correct plan and AQE
    // handles it.
    val needIds =
      if (needCount * 2 <= 4000000L) broadcast(needIdsRaw) else needIdsRaw
    val pix = images.select(col("image_id"), col("bytes"), col("fmt"))
      .join(needIds, "image_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    pix.count() // eager: two consumers below; without this both race to compute it
    val pixVerified = needPix
      .join(pix.select(col("image_id").as("id1"), col("bytes").as("bytes_1"), col("fmt").as("fmt_1")), "id1")
      .join(pix.select(col("image_id").as("id2"), col("bytes").as("bytes_2"), col("fmt").as("fmt_2")), "id2")
      .select("id1", "id2", "src", "jaccard", "hamming", "verdict", "bytes_1", "fmt_1", "bytes_2", "fmt_2")
      .as[(String, String, String, Double, Int, String, Array[Byte], String, Array[Byte], String)]
      .map { case (id1, id2, src, ja, ham, v0, b1, f1, b2, f2) =>
        val pa = Codec.decode(b1, f1)
        val pb = Codec.decode(b2, f2)
        val p = if (pa.length == pb.length) Codec.psnr(pa, pb) else 0.0
        // an earlier (cheaper) verdict survives with its psnr recorded;
        // an otherwise-unverified pair is a dup only past the PSNR gate
        val verdict = if (v0.nonEmpty) v0 else if (p >= cfg.psnrMin) "pixel" else ""
        VerifiedPair(id1, id2, src, ja, ham, p, verdict)
      }
      .filter(_.verdict.nonEmpty)

    (settled.union(pixVerified),
      () => { mid.unpersist(blocking = false); pix.unpersist(blocking = false); () },
      midCount)
  }

  /** Stage 5 — connected components + deterministic representative.
    * `images` only contributes the vertex id column, so any frame with
    * an `image_id` column works (the simulation flow passes a bytes-free
    * projection). */
  def clusters(
      images: DataFrame,
      verified: Dataset[VerifiedPair],
      edgeCountHint: Option[Long] = None): Dataset[ClusterRow] = {
    import images.sparkSession.implicits._
    assign(images, verified.select(col("id1").as("src"), col("id2").as("dst")), edgeCountHint)
      .as[ClusterRow]
  }

  /** Cluster assignment (image_id, cluster_id, representative) of the
    * `image_id` vertices under (src, dst) edges — the one projection of
    * connected components that every clustering caller (one-shot,
    * ingest, retention) publishes. */
  private[pipeline] def assign(vertices: DataFrame, edges: DataFrame,
      edgeCountHint: Option[Long] = None): DataFrame =
    ConnectedComponents.run(vertices.sparkSession, vertices.select(col("image_id").as("id")),
        edges, edgeCountHint = edgeCountHint)
      .select(col("id").as("image_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("representative"))

  /** Signatures → postings → lean candidates → verify, in memory: the
    * verified pairs, the candidate-pair count (CC partitioner hint) and
    * a cleanup to call once the pairs are materialized. Signatures are
    * persisted: three consumers (bucket postings, both verify sides)
    * would otherwise recompute the most expensive narrow stage;
    * spill-safe via MEMORY_AND_DISK_SER. */
  private[graft] def verifiedPairs(
      images: Dataset[ImageRow],
      cfg: DedupConfig): (Dataset[VerifiedPair], Long, () => Unit) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val sigs = signatures(images, cfg).persist(lvl)
    val bk = buckets(sigs, cfg)
    // LEAN candidate path for the one-shot run: static CAP cap
    // (destor's rewrite_capping_level is equally a static per-run knob,
    // destor.config:140), pairs streaming straight out of the single
    // posting sort-shuffle into the verify joins in ONE query — no
    // persisted copy of the exchange, no bucket-size histogram job.
    // Star-pairing above the cap preserves bucket connectivity, so
    // cluster output is cap-invariant wherever verification passes.
    // The ADAPTIVE controllers (CBR quantile cap, HAR hot-bucket
    // inheritance) live on the cross-run ingest flow — see
    // candidatesSkewAware / IncrementalDedup — where destor's own
    // feedback loops operate (cbr_rewrite.c keeps a cross-job utility
    // history; har_rewrite.c loads the previous job's sparse list).
    val cand = candidates(bk, cfg)
    val (ver, cleanupMid, pairCount) = verifyWithCleanup(cand, sigs, images.toDF(), cfg)
    (ver, pairCount, () => { sigs.unpersist(blocking = false); cleanupMid() })
  }

  /** Whole pipeline in one call, in memory. The stored, resumable form
    * with per-stage records is IncrementalDedup.ingest: a one-shot
    * checkpointed run is one ingest into an empty store. The result is
    * eagerly materialized (small: one row per image, three narrow
    * columns) so every intermediate cache can be dropped before
    * returning — repeated invocations in one session leak nothing. */
  def run(images: Dataset[ImageRow], cfg: DedupConfig): Dataset[ClusterRow] = {
    val (ver, pairCount, cleanup) = verifiedPairs(images, cfg)
    val out = clusters(images.toDF(), ver, Some(pairCount)).localCheckpoint() // eager
    cleanup()
    out
  }
}
