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
  *    is read once here and again only by verify, for the candidate-
  *    touched images (column pruning keeps it out of all other scans).
  *  - candidate generation shuffles on the packed posting key — the
  *    only O(data) shuffle; bucket sizes are bounded by the CAP-analog
  *    skew stage (star pairing for buckets above the CBR effective cap)
  *    so no O(n^2) explosion.
  *  - all joins are equi-joins; AQE splits residual skew.
  */
/** One side of a candidate pair in verify, resolved to a signature row
  * (`sha` set) or to a pixel row (`bytes` set) of an image with that
  * side's nid. Top-level so the Catalyst product encoder resolves
  * (local case classes have no TypeTag). */
private[pipeline] final case class PairSide(id1: Long, id2: Long, src: String, side: Int,
    image_id: String, sha: String, pixsha: String, phash: Long, caption: String,
    bytes: Array[Byte], fmt: String)

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

  /** Stage 3 — the finished candidate pairs (id1, id2, srcmask, src) of
    * one posting table: [[candidatesSkewAware]] with no inherited hot
    * list, then [[finishCandidates]]. The HAR hot list is never read
    * here, so its over-cap scan never runs. */
  def candidates(bk: Dataset[BucketRow], cfg: DedupConfig): DataFrame =
    finishCandidates(candidatesSkewAware(bk, cfg).pairs)

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
    * of the batch), the CBR-derived effective cap, and this run's HAR
    * hot list as a driver-side (key, n) list on the packed posting key
    * (the NEXT run's inherited list). The list is computed on its first
    * read: the over-cap scan it may need runs only for a caller that
    * hands the list on (ingest). */
  final class SkewAwareCandidates(val pairs: DataFrame, hot: => Seq[HotKey], val capUsed: Int) {
    lazy val hotList: Seq[HotKey] = hot
  }

  /** Stage 3's pair generation, the one candidate path every caller
    * runs. ONE shuffle groups postings per packed posting key; pairs are
    * expanded locally by PairGen's run-length expander — all-pairs for
    * runs up to the effective cap, star pairing to the min member above
    * it (destor's CAP capping, src/cap_rewrite.c:44-107: bounded fan-in
    * per bucket, connectivity preserved for clustering). Both adaptive
    * skew controllers are live (see SkewControl):
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
    * changes. Driver actions: the size histogram and the inherited
    * keys' (min, size) rows here; the over-cap scan on the first read of
    * `hotList`, and only when the histogram shows an over-cap run.
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
    def hotList = {
      val coldHot =
        if (coldHist.exists(_._1 > cap)) sorted.mapPartitions(PairGen.hotRuns(_, cap)).collect()
        else Array.empty[(Long, Long)]
      (coldHot ++ stillHot.map(m => (m._1, m._4))).map { case (k, n) => HotKey(k, n) }.toSeq
    }

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
    new SkewAwareCandidates((Seq(coldPairs) ++ starred ++ backPairs).reduce(_ union _), hotList, cap)
  }

  /** Candidate ids (pairs * 2) at or below which verify collects and
    * broadcasts the candidate nid list that prunes its signature and
    * image inputs; a long id is 8 bytes, so 4M ids is a ~32 MB array.
    * Above it (pathological, corpus-sized candidate sets) the shuffled
    * semi-join is the correct plan and AQE handles it. */
  private val BroadcastIdLimit = 4000000L

  /** The name of verify's broadcast candidate-nid predicate in a plan. */
  private[graft] val CandidateNidFilter = "candidate_nid"

  /** The nid of an image id (Sig.hash64), for the image rows verify
    * resolves by nid. */
  private val nidOf = udf((id: String) => Sig.hash64(id))

  /** Stage 4 — verification with the EXACT oracle predicates (same
    * DedupConfig): sha equality, exact shingle Jaccard, normalized
    * substring containment, phash hamming + decoded-pixel PSNR. Analog
    * of destor's per-chunk dedup decision, made in one lookup pass
    * (src/index/index.c:140-217). `cand` is a set of (id1, id2, src)
    * nid pairs; the candidate-pair bound that picks the broadcast prune
    * is the plan's row count when Catalyst knows it (a materialized
    * cache), else one count. See [[verifyPairs]]. */
  def verify(
      cand: DataFrame,
      sigs: Dataset[SignatureRow],
      images: Dataset[ImageRow],
      cfg: DedupConfig): Dataset[VerifiedPair] =
    verifyPairs(cand, cand.queryExecution.optimizedPlan.stats.rowCount.fold(cand.count())(_.toLong),
      sigs, images.toDF(), cfg)

  /** [[verify]] with the caller's upper bound `candPairs` of the
    * candidate pairs, as ONE lazy query after one driver action (the
    * candidate-nid collect below) — nothing persisted:
    *  - each candidate pair explodes into its two sides, (id1, id2, src,
    *    side, nid);
    *  - one shuffle-hash join on `nid` resolves every side against the
    *    signature rows and the (image_id, bytes, fmt) rows of one images
    *    scan, both pruned to the candidate nids by a filter on one
    *    broadcast of those nids while `candPairs` keeps it small — so
    *    verify's exchanges carry O(touched) rows, never O(corpus or
    *    store), and the image store is never hash-exchanged whole;
    *  - the joined sides regroup by pair (one exchange, sorted within
    *    partitions), and one mapPartitions computes every predicate,
    *    decoding pixels only for the hamming-close pairs that still need
    *    PSNR.
    * An nid collision fans out m:n: every (image, image) combination of
    * a pair's two sides verifies, its pixel rows matched to its
    * signature rows by image_id, and a combination of an image with
    * itself is dropped. Image rows are keyed by Sig.hash64(image_id),
    * the nid `signatures` gives each signature row. Under
    * cfg.signatureOnly `images` is not read at all. */
  private[graft] def verifyPairs(
      cand: DataFrame,
      candPairs: Long,
      sigs: Dataset[SignatureRow],
      images: DataFrame,
      cfg: DedupConfig): Dataset[VerifiedPair] = {
    val spark = cand.sparkSession
    import spark.implicits._
    val candNids = cand.select(col("id1").as("nid")).union(cand.select(col("id2").as("nid")))
    // below the limit ONE job collects the candidate nids into a
    // broadcast variable that both prunes read: a broadcast semi-join per
    // input plans one broadcast exchange each (Spark reuses no exchange
    // over a cached relation, and the candidates are cached in `run`),
    // and one semi-join over the union of both inputs is pushed back into
    // each branch by Catalyst
    val pruned: DataFrame => DataFrame =
      if (candPairs * 2 > BroadcastIdLimit) _.join(candNids, Seq("nid"), "left_semi")
      else {
        val ids = candNids.as[Long].collect()
        java.util.Arrays.sort(ids)
        val bc = spark.sparkContext.broadcast(ids)
        val touched = udf((nid: Long) => java.util.Arrays.binarySearch(bc.value, nid) >= 0)
          .withName(CandidateNidFilter)
        _.filter(touched(col("nid")))
      }
    val str = lit(null).cast("string")
    val sigRows = pruned(sigs.select(col("nid"), col("image_id"), col("sha"), col("pixsha"),
      col("phash"), col("caption"), lit(null).cast("binary").as("bytes"), str.as("fmt")))
    // signature-only simulation (destor src/destor.h:55-59): `bytes` is
    // never read; the pairs that would need PSNR settle on phash
    // evidence alone (see verifyPair)
    val resolved =
      if (cfg.signatureOnly) sigRows
      else sigRows.unionByName(pruned(images.select(nidOf(col("image_id")).as("nid"),
        col("image_id"), str.as("sha"), str.as("pixsha"), lit(0L).as("phash"), str.as("caption"),
        col("bytes"), col("fmt"))))
    // SHUFFLE_HASH, not broadcast: the resolved side is every touched
    // image with its bytes — at cluster scale far past any broadcast
    // budget, and locally a driver-side hash-relation build is serial
    // time that made verify scale NEGATIVELY with cores. The hint pins
    // the cluster-correct plan.
    cand.select(col("id1"), col("id2"), col("src"),
        posexplode(array(col("id1"), col("id2"))).as(Seq("side", "nid")))
      .join(resolved.hint("shuffle_hash"), "nid")
      .repartition(col("id1"), col("id2"), col("src"))
      .sortWithinPartitions("id1", "id2", "src")
      .as[PairSide]
      .mapPartitions(verifyGroups(_, cfg))
  }

  /** Verify the sorted, pair-grouped side rows of one partition. */
  private def verifyGroups(rows: Iterator[PairSide], cfg: DedupConfig): Iterator[VerifiedPair] = {
    val it = rows.buffered
    // per-partition memo: pairs arrive sorted by id1, so each caption's
    // shingle set is computed ~once, not per pair; identical boilerplate
    // captions (hot clusters) also dedupe here
    val memo = new java.util.HashMap[String, Array[Long]]()
    def shingles(cap: String): Array[Long] = {
      if (memo.size > 100000) memo.clear()
      var r = memo.get(cap)
      if (r == null) { r = Sig.shingleHashes(cap, cfg.shingleSize); memo.put(cap, r) }
      r
    }
    def sameGroup(a: PairSide, b: PairSide) = a.id1 == b.id1 && a.id2 == b.id2 && a.src == b.src
    Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
      val head = it.head
      val group = scala.collection.mutable.ArrayBuffer.empty[PairSide]
      while (it.hasNext && sameGroup(it.head, head)) group += it.next()
      val (sigRows, pixRows) = group.partition(_.sha != null)
      val pixOf = pixRows.iterator.map(p => p.image_id -> p).toMap
      for {
        a <- sigRows.iterator if a.side == 0
        b <- sigRows.iterator if b.side == 1 && a.image_id != b.image_id
        v <- verifyPair(if (a.image_id > b.image_id) (b, a) else (a, b), pixOf, shingles, cfg)
      } yield v
    }
  }

  /** The verdict of one (image, image) combination of a pair, its
    * sides in canonical (lexicographic image_id) order. */
  private def verifyPair(ab: (PairSide, PairSide), pixOf: Map[String, PairSide],
      shingles: String => Array[Long], cfg: DedupConfig): Option[VerifiedPair] = {
    val (a, b) = ab
    val ham = Sig.hamming(a.phash, b.phash)
    val ja =
      if (a.sha == b.sha) 1.0 // identical bytes+caption
      else Sig.jaccard(shingles(a.caption), shingles(b.caption))
    val la = a.caption.toLowerCase
    val lb = b.caption.toLowerCase
    val substr =
      (la.length >= cfg.substrMinChars && lb.contains(la) && la != lb) ||
      (lb.length >= cfg.substrMinChars && la.contains(lb) && la != lb)
    val verdict =
      if (a.sha == b.sha) "exact"
      else if (ja >= cfg.jaccardMin) "caption"
      else if (substr) "substr"
      else if (a.pixsha == b.pixsha) "pixel" // identical decoded pixels: PSNR = inf
      else ""
    def pair(psnr: Double, v: String) = VerifiedPair(a.image_id, b.image_id, a.src, ja, ham, psnr, v)
    // pixel evidence is computed for EVERY hamming-close pair with
    // distinct pixels — including caption/substr-verdict pairs — so
    // downstream content dedup (RestoreOps) can rely on psnr regardless
    // of which cheaper predicate fired first (a lossy re-encode with an
    // identical caption settles as "caption" but still needs its PSNR
    // for the store).
    val needPixel = ham <= cfg.hammingMax && verdict != "exact" && verdict != "pixel"
    if (!needPixel)
      Option.when(verdict.nonEmpty)(pair(if (verdict == "exact" || verdict == "pixel") 1e9 else 0.0, verdict))
    // signature-only: the phash evidence settles the pair (hamming <=
    // hammingMax by needPixel's definition) with psnr = -1 ("not
    // computed"); a cheaper verdict is kept, likewise without a psnr.
    // Precision of the phash-only verdicts is the documented simulation
    // tradeoff — exactly the fidelity destor gives up when a simulated
    // store skips chunk data.
    else if (cfg.signatureOnly) Some(pair(-1.0, if (verdict.nonEmpty) verdict else "phash"))
    else (pixOf.get(a.image_id), pixOf.get(b.image_id)) match {
      case (Some(pa), Some(pb)) =>
        val da = Codec.decode(pa.bytes, pa.fmt)
        val db = Codec.decode(pb.bytes, pb.fmt)
        val p = if (da.length == db.length) Codec.psnr(da, db) else 0.0
        // an earlier (cheaper) verdict survives with its psnr recorded;
        // an otherwise-unverified pair is a dup only past the PSNR gate
        val v = if (verdict.nonEmpty) verdict else if (p >= cfg.psnrMin) "pixel" else ""
        Option.when(v.nonEmpty)(pair(p, v))
      case _ => None // an image without its row holds no pixel evidence
    }
  }

  /** Stage 5 — connected components + deterministic representative.
    * `images` only contributes the vertex id column, so any frame with
    * an `image_id` column works (the simulation flow passes a bytes-free
    * projection). `edgeCountHint` must be an upper bound of the verified
    * pairs: it picks connected components' plan (ConnectedComponents.run). */
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

  /** Signatures → postings → candidates → verify, in memory: the
    * verified pairs, the candidate-pair count (verify's broadcast gate
    * and the CC edge-count hint) and a cleanup to call once the pairs
    * are materialized. Signatures are persisted (two consumers: bucket
    * postings and verify) and so are the candidates (verify reads them
    * twice: the pair sides and the broadcast nid prune), both
    * spill-safe via MEMORY_AND_DISK_SER; the candidates' one count job
    * materializes both. */
  private[graft] def verifiedPairs(
      images: Dataset[ImageRow],
      cfg: DedupConfig): (Dataset[VerifiedPair], Long, () => Unit) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val sigs = signatures(images, cfg).persist(lvl)
    val cand = candidates(buckets(sigs, cfg), cfg).persist(lvl)
    val nCand = cand.count()
    (verifyPairs(cand, nCand, sigs, images.toDF(), cfg), nCand,
      () => { cand.unpersist(blocking = false); sigs.unpersist(blocking = false); () })
  }

  /** Whole pipeline in one call, in memory. The stored, resumable form
    * with per-stage records is IncrementalDedup.ingest: a one-shot
    * checkpointed run is one ingest into an empty store. The result is
    * eagerly materialized (small: one row per image, three narrow
    * columns) so every intermediate cache can be dropped before
    * returning — repeated invocations in one session leak nothing. */
  def run(images: Dataset[ImageRow], cfg: DedupConfig): Dataset[ClusterRow] = {
    val (ver, pairCount, cleanup) = verifiedPairs(images, cfg)
    // pairCount (candidate pairs) bounds the verified edges from above:
    // the edgeCountHint contract
    val out = clusters(images.toDF(), ver, Some(pairCount)).localCheckpoint() // eager
    cleanup()
    out
  }
}
