package graft.text

import graft.core.DedupConfig
import graft.signatures.Sig
import graft.cluster.ConnectedComponents
import graft.ops.PairGen
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + document-dedup operators over the `documents` table
  * (doc_id:long, text:string, lang:string, source:string, n_chars:long)
  * — the training-data-pipeline operator family, built from the same
  * signature stack as the image pipeline.
  *
  * Design for 100 TB: every per-document computation is a narrow
  * projection (codegen'd builtins where possible, typed map otherwise);
  * the only shuffles are the LSH bucket joins and the final groupBys,
  * all equi-keyed and AQE-managed.
  */
object TextOps extends Serializable {

  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Repartition GATED on the plan being under-parallel: a small
    * parquet table reads as one split (the whole documents table at
    * sf0.1 is a single row group), so any CPU-heavy narrow stage built
    * on it — winnowing, MinHash UDFs, gram explodes — runs on ONE core
    * regardless of the session's parallelism (measured: the
    * ngram-pruned gram explode was 1.94 s of a 2.33 s query before
    * this). A deployment-scale table with real splits never pays the
    * shuffle — the gate only fires when the scan has fewer partitions
    * than cores. */
  private def spread(df: DataFrame): DataFrame = {
    // streaming plans can't be partition-inspected (df.rdd is illegal);
    // micro-batch parallelism is the source's concern there
    if (df.isStreaming) return df
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Exact dedup: hash-groupBy on md5(text) — destor's exact-physical
    * DDFS index (reference: src/index/index.c:140-217) as one
    * aggregation; canonical = min doc_id (first-occurrence-wins,
    * src/index/index.c:282-315). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("dup_key"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Corpus-level dedup-ratio metrics (destor's backup.log analog,
    * src/do_backup.c:108-114): unique vs total text bytes. */
  def dedupStats(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val uniq = d.groupBy(md5(col("text")).as("k"))
      .agg(min("n_chars").as("sz"))
    d.agg(count(lit(1)).as("total_docs"), sum("n_chars").as("total_chars"))
      .crossJoin(uniq.agg(count(lit(1)).as("unique_docs"), sum("sz").as("unique_chars")))
      .select(col("total_docs"), col("unique_docs"), col("total_chars"), col("unique_chars"))
  }

  /** CFL selective rewrite over the documents table (R2/R7 +
    * container packing W3, reference src/cfl_rewrite.c:19-93, switch
    * src/filter_phase.c:105-117): canonicals are packed into per-source
    * byte-bounded containers; a partial restore job (every 7th doc)
    * references its canonical's container; dup docs referencing
    * under-utilized containers are flagged for rewrite, the whole pass
    * gated by the job's CFL (ContainerOps). Fully SQL-expressible, so
    * DuckDB hash-checks packing, utilization, CFL, and both decisions. */
  def cflRewrite(spark: SparkSession, dir: String,
      containerBytes: Long = 4096L, usageThreshold: Double = 0.25,
      cflRequire: Double = 0.6): DataFrame = {
    import graft.ops.ContainerOps
    val d = docs(spark, dir)
    val canon = d.groupBy(md5(col("text")).as("k")).agg(min("doc_id").as("canonical_id"))
    // canonical rows carry their own source/size — the packing inputs
    val canonRows = canon.join(
      d.select(col("doc_id").as("canonical_id"), col("source"), col("n_chars")),
      "canonical_id")
    val packed = ContainerOps.pack(
      canonRows, col("source"), col("canonical_id"), col("n_chars"), containerBytes)
      .select(col("k"), col("canonical_id").as("content_id"),
        col("container_id"), col("n_chars").as("content_bytes"))
    // the restore job: every 7th doc, resolved to its content container
    val refs = d.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), md5(col("text")).as("k"))
      .join(packed, "k")
    ContainerOps.selectiveRewrite(refs, "doc_id", containerBytes,
        usageThreshold, cflRequire)
      .select(col("doc_id"), col("content_id"), col("container_id"),
        round(col("utilization"), 4).as("util"),
        col("out_of_order").cast("int").as("ooo"),
        col("rewrite").cast("int").as("rewrite"))
  }

  /** HAR sparse-container list for the documents store (A2 + O4,
    * reference close_har src/har_rewrite.c:87-168): canonicals packed
    * into per-source byte-bounded containers exactly as in
    * [[cflRewrite]]; containers under `utilThreshold` full are sparse,
    * ascending-size running sum trimmed at `rewriteLimit` of total
    * stored volume. Fully SQL-expressible → DuckDB-oracled
    * (`q_har_sparse`). */
  def harSparse(spark: SparkSession, dir: String,
      containerBytes: Long = 4096L, utilThreshold: Double = 0.8,
      rewriteLimit: Double = 0.01): DataFrame = {
    import graft.ops.ContainerOps
    val d = docs(spark, dir)
    val canon = d.groupBy(md5(col("text")).as("k")).agg(min("doc_id").as("canonical_id"))
    val canonRows = canon.join(
      d.select(col("doc_id").as("canonical_id"), col("source"), col("n_chars")),
      "canonical_id")
    val containers = ContainerOps.pack(
        canonRows, col("source"), col("canonical_id"), col("n_chars"), containerBytes)
      .groupBy("container_id").agg(sum("n_chars").as("size"))
    ContainerOps.harSparseTrim(containers, containerBytes, utilThreshold, rewriteLimit)
  }

  /** Segment-level MinHash via the merge UDAF (U2): one signature per
    * source from the per-doc signatures already computed — equal by the
    * union property to re-shingling the whole source (ContainerCflSpec
    * asserts it), with map-side combine so the shuffle carries one
    * K-long array per (source, partition). Pairwise source similarity
    * then costs a broadcast-size self-join (sources are few). */
  def sourceMinhash(spark: SparkSession, dir: String,
      cfg: DedupConfig = DedupConfig.default): DataFrame = {
    val sigUdf = udf((text: String) =>
      Sig.minhash(Sig.shingleHashes(text, cfg.shingleSize), cfg))
    docs(spark, dir)
      .select(col("source"), col("doc_id"), sigUdf(col("text")).as("sig"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        graft.signatures.MinHashMerge.column(cfg.minhashK, col("sig")).as("sig"))
  }

  /** Driver-checkable form of [[sourceMinhash]]: the raw array<bigint>
    * signature column is un-sortable by the driver's pandas harness, so
    * the QUERY emits scalars only — per source, `n_docs` plus
    * `merge_ok` = 1 iff the UDAF-merged signature equals an INDEPENDENT
    * recompute (posexplode the per-doc signatures, min per position —
    * the element-wise-min definition the Aggregator must implement,
    * exercising zero/reduce/merge/map-side combine against a plain
    * builtin aggregation). The DuckDB oracle is then the constant
    * merge_ok=1 row per source — the q_roundtrip_verify pattern: the
    * invariant holds at any corpus or it hash-mismatches. The union
    * property (merged == re-shingled whole source) is separately
    * proven exactly in ContainerCflSpec. */
  def sourceMinhashDigest(spark: SparkSession, dir: String,
      cfg: DedupConfig = DedupConfig.default): DataFrame = {
    val sigUdf = udf((text: String) =>
      Sig.minhash(Sig.shingleHashes(text, cfg.shingleSize), cfg))
    val perDoc = docs(spark, dir)
      .select(col("source"), sigUdf(col("text")).as("sig"))
    val merged = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        graft.signatures.MinHashMerge.column(cfg.minhashK, col("sig")).as("merged"))
    val alt = perDoc
      .select(col("source"), posexplode(col("sig")).as(Seq("pos", "v")))
      .groupBy("source", "pos").agg(min("v").as("mv"))
      .groupBy("source")
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), s -> s.mv)").as("alt"))
    merged.join(alt, "source")
      .select(col("source"), col("n_docs"),
        (col("merged") === col("alt")).cast("int").as("merge_ok"))
  }

  /** Whitespace token count per doc (codegen'd builtins only). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"))

  /** Quality scoring: length / punctuation / stopword ratios — all
    * builtin higher-order functions, so the whole row stays inside one
    * WholeStageCodegen span. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is")
    docs(spark, dir).select(
      col("doc_id"),
      length(col("text")).as("n_chars2"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"),
      (length(col("text")) - length(regexp_replace(col("text"), "[a-z0-9 ]", ""))).as("n_alnum"),
      expr(s"size(filter(split(trim(text), '\\\\s+'), t -> t in (${stop.map("'" + _ + "'").mkString(",")})))")
        .as("n_stopwords"))
  }

  /** Bag-of-words document fingerprint: md5 over the sorted distinct
    * token set — an order-invariant content fingerprint (the hex-codec
    * P10 + fingerprinting P8 analog, src/hash_phase.c:8-38). */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(split(trim(col("text")), "\\s+"))), " "))
        .as("fingerprint"))

  /** Language ID: stopword-profile heuristic (n-gram/stopword voting).
    * Deterministic, pure-builtin scoring; emits best guess + the
    * English-stopword hit count as evidence. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "a", "is", "that"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
      "fr" -> Seq("le", "la", "les", "et", "est", "une"),
      "es" -> Seq("el", "la", "los", "y", "es", "una"),
      "zh" -> Seq("的", "是", "了", "在"))
    def hits(words: Seq[String]): Column =
      expr(s"size(filter(split(trim(text), '\\\\s+'), t -> t in (${words.map("'" + _ + "'").mkString(",")})))")
    val scored = profiles.foldLeft(docs(spark, dir)) { case (df, (lang, words)) =>
      df.withColumn(s"h_$lang", hits(words))
    }
    val best = profiles.map { case (l, _) => struct(col(s"h_$l").as("h"), lit(l).as("l")) }
    scored.select(
      col("doc_id"),
      greatest(best: _*).getField("l").as("lang_pred"),
      col(s"h_en").as("en_hits"))
  }

  // ---------------- near-dup family ----------------

  /** Per-doc MinHash band postings (doc_id, band, bucket) — narrow
    * per-row map, the LSH index entry stream. Public because it is the
    * shared front half of both the batch pair generator below and the
    * streaming stateful one (StreamingOps.streamingCandidatePairs). */
  def minhashBands(d: DataFrame, cfg: DedupConfig): DataFrame = {
    val mh = udf((text: String) => {
      val sh = Sig.shingleHashes(text, cfg.shingleSize)
      Sig.bandKeys(Sig.minhash(sh, cfg), cfg)
    })
    // the shingle+minhash UDF is the heavy narrow stage — spread it
    // when the scan is under-parallel (one-split tables otherwise run
    // it on one core)
    spread(d).select(col("doc_id"), posexplode(mh(col("text"))).as(Seq("band", "bucket")))
  }

  /** Join each candidate pair with both documents' texts and verify in
    * a typed mapPartitions with per-partition memoized feature
    * extraction: pairs arrive grouped by join key, so each text's
    * feature array is computed ~once per partition instead of per pair,
    * and no Array[Long] columns ever enter a shuffle (round-1's verify
    * shipped two full shingle arrays per pair — the image pipeline's
    * compact-join + memo shape, back-ported). */
  private def verifyPairsWithTexts(
      d: DataFrame, cand: DataFrame,
      score: (String, String) => Double): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val t1 = d.select(col("doc_id").as("id1"), col("text").as("tx1"))
    val t2 = d.select(col("doc_id").as("id2"), col("text").as("tx2"))
    cand.join(t1, "id1").join(t2, "id2")
      .select(col("id1"), col("id2"), col("tx1"), col("tx2"))
      .as[(Long, Long, String, String)]
      .mapPartitions { it =>
        it.map { case (id1, id2, tx1, tx2) => (id1, id2, score(tx1, tx2)) }
      }
      .toDF("id1", "id2", "score")
  }

  /** MinHash+LSH near-dup clusters over documents: shingle → minhash →
    * band → bucket-join → exact-Jaccard verify → connected components.
    * Returns (doc_id, cluster_id). */
  def minhashDedup(spark: SparkSession, dir: String, cfg: DedupConfig = DedupConfig.default,
      jaccardMin: Double = 0.7): DataFrame = {
    val d = docs(spark, dir)
    val cand = PairGen.bucketPairsLong(minhashBands(d, cfg), cfg.bucketCap)
    val k = cfg.shingleSize
    val memoScore = memoized((t: String) => Sig.shingleHashes(t, k))(Sig.jaccard)
    val verified = verifyPairsWithTexts(d, cand, memoScore)
      .filter(col("score") >= jaccardMin)
      .select("id1", "id2")
    val vertices = d.select(col("doc_id").as("id"))
    ConnectedComponents.run(spark, vertices,
        verified.select(col("id1").as("src"), col("id2").as("dst")))
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
  }

  /** Per-partition memoized pairwise scorer: extract(text) results are
    * cached in a bounded map (pairs arrive clustered by join key, so
    * hit rates are high; hot boilerplate texts dedupe too). The
    * returned closure is fresh per partition via the deserialized
    * lambda, so the cache never crosses task boundaries. */
  private def memoized[F](extract: String => F)(score: (F, F) => Double): (String, String) => Double =
    new Function2[String, String, Double] with Serializable {
      @transient private lazy val memo = new java.util.HashMap[String, F]()
      private def get(t: String): F = {
        if (memo.size > 100000) memo.clear()
        var r = memo.get(t)
        if (r == null) { r = extract(t); memo.put(t, r) }
        r
      }
      def apply(a: String, b: String): Double = score(get(a), get(b))
    }

  /** SimHash near-dup pairs: 64-bit simhash over token hashes,
    * hamming-band LSH, verified hamming <= max. Returns
    * (id1, id2, hamming).
    *
    * The combo-key scheme is DERIVED from the threshold: blocks =
    * hammingMax + 3 with 3-slice combo keys, so the pigeonhole
    * guarantee (a pair within hammingMax differs in at most hammingMax
    * slices, leaving >= 3 clean slices = one shared key) holds for ANY
    * threshold — the old hard-coded (9, 3) silently lost recall above
    * hammingMax = 6 (the same trap as the fixed-64 hyperplane dim).
    * The default threshold still produces the identical (9, 3) keys. */
  def simhashDedup(spark: SparkSession, dir: String,
      hammingMax: Int = 6): DataFrame = {
    // width 64/blocks must stay >= 3 bits or slice values degenerate
    // into huge buckets; hamming > 18 on a 64-bit simhash is far
    // outside near-dup territory anyway
    require(hammingMax >= 0 && hammingMax <= 18,
      s"hammingMax ($hammingMax) must be in [0, 18] for the 64-bit combo scheme")
    val blocks = hammingMax + 3
    val d = docs(spark, dir)
    val sim = udf((text: String) => Sig.simhash64(Sig.shingleHashes(text, 2), null))
    val sigs = spread(d).select(col("doc_id"), sim(col("text")).as("simhash"))
    val bandU = udf((s: Long) => Sig.hammingComboKeys(s, blocks, 3))
    val postings = sigs.select(col("doc_id"), posexplode(bandU(col("simhash"))).as(Seq("band", "bucket")))
    val cand = PairGen.bucketPairsLong(postings, 64)
    // simhash is one Long per doc — the compact join needs no arrays
    val s1 = sigs.select(col("doc_id").as("id1"), col("simhash").as("sim1"))
    val s2 = sigs.select(col("doc_id").as("id2"), col("simhash").as("sim2"))
    cand.join(s1, "id1").join(s2, "id2")
      .withColumn("hamming", expr("cast(bit_count(sim1 ^ sim2) as int)"))
      .filter(col("hamming") <= hammingMax)
      .select("id1", "id2", "hamming")
  }

  /** Driver-visible SimHash gate (the q_recall_gate pattern for the
    * rows-only `q_simhash_dedup`): the LSH pair set must EQUAL the
    * brute-force hamming pair set — the combo-key pigeonhole makes
    * this exact, not approximate — verified IN-QUERY against an
    * all-pairs cross join over the one-Long signatures (cheap at
    * verify scale; never a deployment path) and emitted as a constant
    * verdict row, so a single missed or invented pair anywhere
    * hash-mismatches. */
  def simhashGate(spark: SparkSession, dir: String,
      hammingMax: Int = 6): DataFrame = {
    import spark.implicits._
    val lsh = simhashDedup(spark, dir, hammingMax).select("id1", "id2")
    val sim = udf((text: String) => Sig.simhash64(Sig.shingleHashes(text, 2), null))
    val sigs = docs(spark, dir).select(col("doc_id"), sim(col("text")).as("sh"))
    val brute = sigs.toDF("id1", "sim1").crossJoin(sigs.toDF("id2", "sim2"))
      .filter(col("id1") < col("id2"))
      .filter(expr(s"cast(bit_count(sim1 ^ sim2) as int) <= $hammingMax"))
      .select("id1", "id2")
    val nBrute = brute.count()
    val missing = brute.except(lsh).count()
    val extra = lsh.except(brute).count()
    Seq((
      if (nBrute > 0) 1 else 0,
      if (missing == 0 && extra == 0) 1 else 0))
      .toDF("pairs_found", "lsh_equals_brute")
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  private def hexLower(b: Array[Byte]): String = {
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

  /** Engine-portable winnowing selection over one document, exactly the
    * semantics the `q_substr_dups` DuckDB oracle spells in SQL: grams
    * are `g` CODE POINTS at every position (both engines' substring
    * counts code points), hashed to lowercase MD5 hex of their UTF-8
    * bytes, the fingerprint of each FULL `w`-window is its
    * lexicographic-min gram hash (varchar min in SQL), and the result
    * is the document's DISTINCT fingerprint set. Sliding min via a
    * monotonic deque — O(n) total, no per-window rescan. The caller
    * guarantees at least one full window (length >= w + g - 1). */
  private[graft] def winnowMd5(t: String, g: Int, w: Int,
      md: java.security.MessageDigest): scala.collection.Set[String] = {
    val cps = t.codePoints().toArray
    val n = cps.length - g + 1
    // hashing fused with the sliding min: the deque only ever references
    // the last w positions, so gram hashes live in a w-slot ring —
    // per-task memory is O(w + distinct fingerprints), never O(doc)
    // (an unbounded per-doc gram array would make one pathological
    // multi-MB document allocate GBs of transient strings in one task)
    val ring = new Array[String](w)
    val out = scala.collection.mutable.HashSet.empty[String]
    val dq = new java.util.ArrayDeque[Int]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < g) { sb.appendCodePoint(cps(i + j)); j += 1 }
      md.reset()
      val h = hexLower(md.digest(sb.toString.getBytes("UTF-8")))
      ring(i % w) = h
      while (!dq.isEmpty && ring(dq.peekLast() % w) >= h) dq.pollLast()
      dq.addLast(i)
      if (i >= w - 1) {
        val start = i - w + 1
        while (dq.peekFirst() < start) dq.pollFirst()
        out += ring(dq.peekFirst() % w)
      }
      i += 1
    }
    out
  }

  private def sortedGramSet(text: String, k: Int): Array[Long] = {
    val g = Sig.charGramHashes(text.toLowerCase, k)
    java.util.Arrays.sort(g)
    var m = 0
    var i = 0
    while (i < g.length) {
      if (m == 0 || g(m - 1) != g(i)) { g(m) = g(i); m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(g, m)
  }

  /** N-gram (char trigram) Jaccard near-dup pairs: MinHash bands over
    * the trigram SET (the right LSH for set-Jaccard; winnowing only
    * guarantees shared contiguous runs) -> exact trigram Jaccard
    * verify. Returns (id1, id2, jaccard3 rounded). */
  def ngramJaccardDedup(spark: SparkSession, dir: String, jaccardMin: Double = 0.5): DataFrame = {
    val d = docs(spark, dir)
    val cfg = DedupConfig.default
    val mhBands = udf((text: String) =>
      Sig.bandKeys(Sig.minhash(sortedGramSet(text, 3), cfg), cfg))
    val postings = spread(d).select(col("doc_id"), posexplode(mhBands(col("text"))).as(Seq("band", "bucket")))
    val cand = PairGen.bucketPairsLong(postings, 64)
    val memoScore = memoized((t: String) => sortedGramSet(t, 3))(Sig.jaccard)
    verifyPairsWithTexts(d, cand, memoScore)
      .withColumn("jaccard3", round(col("score"), 4))
      .filter(col("jaccard3") >= jaccardMin)
      .select("id1", "id2", "jaccard3")
  }

  /** EXACT char-trigram Jaccard dups via an inverted-index join — the
    * all-postings twin of the LSH-approximate `ngramJaccardDedup`
    * above, mirroring destor's exact-physical index vs its sampled
    * near-exact ones (reference: src/index/index.c:140-217 vs
    * sampling_method.c). The threshold test runs in INTEGER arithmetic
    * (5*shared >= 2*(n1+n2)  <=>  shared/union >= 2/3), so the output
    * (id1, id2, shared, union_sz) is bit-stable against a SQL oracle
    * with no float-rounding hazard.
    *
    * Scale shape: two equi-joins + groupBys, all codegen'd; the gram
    * self-join is quadratic in a gram's doc-frequency, so at corpus
    * scale you either df-prune the posting list (CAP-style capping,
    * identically on both engine and oracle) or run the LSH variant —
    * this form is the exactness baseline the approximate family is
    * graded against. The gram-extraction subtree appears in three plan
    * branches (both self-join sides + the count aggregate); the join
    * sides canonicalize to one exchange once AQE plans a shuffle join,
    * and the narrow per-doc explode is deliberately recomputed for the
    * count branch rather than forcing a persist barrier into an
    * oracled query (same tradeoff as harSparse; a deployment-scale
    * caller would checkpoint `grams` like streamingIngest pins its
    * batch). */
  def ngramJaccardExact(spark: SparkSession, dir: String): DataFrame = {
    // distinct trigrams of lower(text), positions 1..len-2 (1-indexed
    // substring in both Spark and DuckDB). Length filter and position
    // range both run on the LOWERCASED string on both engines — a
    // lower() that changes character count (e.g. U+0130) must not
    // desynchronize the enumerations.
    val grams = docs(spark, dir)
      .withColumn("t", lower(col("text")))
      .filter(length(col("t")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"))).as("gram"))
    val cnt = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = grams.toDF("id1", "gram")
      .join(grams.toDF("id2", "gram"), "gram")
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("shared"))
    shared
      .join(cnt.toDF("id1", "n1"), "id1")
      .join(cnt.toDF("id2", "n2"), "id2")
      .filter(col("shared") * 5 >= (col("n1") + col("n2")) * 2)
      .select(col("id1"), col("id2"), col("shared"),
        (col("n1") + col("n2") - col("shared")).as("union_sz"))
  }

  /** The df-PRUNED scale form of [[ngramJaccardExact]] — the knob that
    * query only documents, made live: posting lists of grams with
    * document frequency above `dfCap` are dropped BEFORE the pairing
    * self-join (destor's CAP capping applied to an inverted index), so
    * pair-generation cost is O(postings * dfCap) instead of Σ df².
    * Surviving candidate pairs are then re-scored EXACTLY over the
    * FULL (unpruned) gram sets — the recompute join is reordered
    * candidate-first, so its cost is bounded by the candidate list,
    * never by df² — and the same integer-arithmetic threshold emits
    * the same bit-stable (id1, id2, shared, union_sz) row shape.
    * Recall loss is confined to pairs whose EVERY shared gram is
    * boilerplate-hot (the substrDedup discipline); the DuckDB oracle
    * applies the identical HAVING prune so the query stays
    * hash-matched. */
  def ngramJaccardPruned(spark: SparkSession, dir: String, dfCap: Int = 64): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
      .withColumn("t", lower(col("text")))
      .filter(length(col("t")) >= 3)
    // SINGLE-DERIVATION gram path. Profiling the round-3 plan at sf0.1
    // found the real costs in this order (doc/plan-audit.md's ×4-explode
    // hypothesis was wrong — measured, a persist of the grams table was
    // SLOWER than the recompute, the columnar cache write costing more
    // than the narrow explode saves):
    //  1. the documents parquet reads as ONE split at sf0.1, so the
    //     gram explode ran single-threaded (1.94 s of the 2.33 s
    //     query). A repartition BEFORE the explode — gated on the input
    //     being under-parallel, so a deployment-scale table with real
    //     splits never pays a full-data shuffle — takes it to 0.53 s;
    //  2. the df prune as a count WINDOW over gram (one exchange+sort,
    //     0.66 s to candidates) beats the groupBy + join-back spelling
    //     (1.16 s) once the explode parallelizes, and leaves the
    //     pairing self-join consuming the SAME pruned subtree on both
    //     sides — which canonicalizes to ONE exchange (ReusedExchange:
    //     the explode executes once, spec-asserted);
    //  3. the exact re-score runs over candidate TEXTS in a memoized
    //     mapPartitions (the verifyPairsWithTexts shape): per-doc
    //     distinct code-point trigram sets are computed ~once per
    //     partition and intersected exactly, eliminating the per-doc
    //     count aggregate and BOTH recompute gram joins.
    // Semantics are unchanged: grams are 3 CODE POINTS (Spark/DuckDB
    // substring both count code points), sets are distinct-per-doc, and
    // the integer threshold emits the same bit-stable row shape, so the
    // DuckDB oracle stays hash-matched.
    val grams = spread(d)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"))).as("gram"))
    val dfW = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    val kept = grams
      .withColumn("df", count(lit(1)).over(dfW))
      .filter(col("df") <= dfCap)
      .select("doc_id", "gram")
    val cand = kept.toDF("id1", "gram").join(kept.toDF("id2", "gram"), "gram")
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val t1 = d.select(col("doc_id").as("id1"), col("t").as("tx1"))
    val t2 = d.select(col("doc_id").as("id2"), col("t").as("tx2"))
    // per-partition memoized gram sets (the generic memoized() helper
    // returns a Double scorer; this pass emits three integers, so it
    // carries its own bounded memo map with the same discipline)
    cand.join(t1, "id1").join(t2, "id2")
      .select(col("id1"), col("id2"), col("tx1"), col("tx2"))
      .as[(Long, Long, String, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, java.util.HashSet[String]]()
        def get(t: String): java.util.HashSet[String] = {
          if (memo.size > 100000) memo.clear()
          var r = memo.get(t)
          if (r == null) { r = triGramSet(t); memo.put(t, r) }
          r
        }
        it.flatMap { case (id1, id2, tx1, tx2) =>
          val g1 = get(tx1); val g2 = get(tx2)
          val (small, big) = if (g1.size <= g2.size) (g1, g2) else (g2, g1)
          var shared = 0L
          val sit = small.iterator()
          while (sit.hasNext) if (big.contains(sit.next())) shared += 1
          val n1 = g1.size.toLong; val n2 = g2.size.toLong
          if (shared * 5 >= (n1 + n2) * 2)
            Iterator.single((id1, id2, shared, n1 + n2 - shared))
          else Iterator.empty
        }
      }
      .toDF("id1", "id2", "shared", "union_sz")
  }

  /** Distinct code-point trigrams of an (already lowercased) text —
    * EXACTLY the SQL enumeration `substring(t, i, 3)` for i in
    * 1..len-2, where both engines' substring counts CODE POINTS (a
    * Java-chars loop would desynchronize on supplementary planes). */
  private def triGramSet(t: String): java.util.HashSet[String] = {
    val cps = t.codePoints().toArray
    val out = new java.util.HashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + 2 < cps.length) {
      sb.setLength(0)
      sb.appendCodePoint(cps(i)).appendCodePoint(cps(i + 1)).appendCodePoint(cps(i + 2))
      out.add(sb.toString)
      i += 1
    }
    out
  }

  /** The round-3 pure-DataFrame spelling of [[ngramJaccardPruned]] over
    * an already-derived distinct trigram posting table (doc_id, gram) —
    * kept as the oracle-shaped twin (the spec asserts it produces
    * identical rows to the fused form) and as the entry point for a
    * caller with a persisted/checkpointed grams table, where all four
    * consumers read the materialized postings. */
  def ngramJaccardPrunedOver(grams: DataFrame, dfCap: Int = 64): DataFrame = {
    val cnt = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val kept = grams.join(
      grams.groupBy("gram").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select("gram"),
      "gram")
    val cand = kept.toDF("gram", "id1").join(kept.toDF("gram", "id2"), "gram")
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    // exact recompute over FULL gram sets, candidate-first join order:
    // cand x grams(id1) is Σ_cand n1 rows, then a keyed equi-join on
    // (id2, gram) — candidate-bounded, never df²-bounded
    val shared = cand
      .join(grams.toDF("id1", "gram"), "id1")
      .join(grams.toDF("id2", "gram"), Seq("id2", "gram"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("shared"))
    shared
      .join(cnt.toDF("id1", "n1"), "id1")
      .join(cnt.toDF("id2", "n2"), "id2")
      .filter(col("shared") * 5 >= (col("n1") + col("n2")) * 2)
      .select(col("id1"), col("id2"), col("shared"),
        (col("n1") + col("n2") - col("shared")).as("union_sz"))
  }

  /** Exact substring-containment dups WITHIN each source shard:
    * winnowing fingerprints (Schleimer et al. SIGMOD'03) guarantee a
    * shared fingerprint for any contained text >= substrMinChars;
    * candidates are verified with a real `contains`. Returns (id1, id2)
    * where one text contains the other.
    *
    * BOUNDED BY CONSTRUCTION: fingerprint postings with document
    * frequency > cfg.substrDfCap (per source) are dropped BEFORE
    * pairing — destor's CAP capping recast as a df-prune — so one
    * boilerplate mega-bucket can no longer force O(n²) pair expansion
    * (the round-2 weakness: the exact oracle required an uncapped
    * expander). To keep the query hash-matched under the prune, the
    * whole selection is expressed in engine-portable primitives —
    * md5(char-16-gram) hashes, window-min-of-24 winnowing selection,
    * HAVING count(*) <= cap — and the DuckDB oracle applies the
    * IDENTICAL prune, so engine and oracle drop exactly the same
    * pairs. Recall loss is confined to pairs whose every shared
    * fingerprint is boilerplate-hot (DocOpsSpec plants one and checks
    * equality against a local brute force of the same semantics).
    *
    * Scale shape: all-builtin narrow gram/winnow stages (one window
    * shuffle per doc partition), a (source,fp) df window, then the
    * shared streamed expander over buckets whose size the prune bounds
    * at dfCap — pair volume is O(postings * dfCap) worst case. */
  def substrDedup(spark: SparkSession, dir: String, cfg: DedupConfig = DedupConfig.default): DataFrame = {
    import spark.implicits._
    val g = cfg.substrGram
    val w = cfg.substrWindow
    // only docs long enough to BE contained (or to contain one) emit
    // postings: a qualifying pair's contained side is >= minChars and
    // its container is at least as long, so shorter docs are inert
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= cfg.substrMinChars)
    // winnowed fingerprints per doc in ONE NARROW PASS (spread across
    // cores when the scan is under-parallel — the MD5 winnowing is the
    // query's heaviest narrow stage and a one-split table would run it
    // on one core): winnowing is a
    // per-document local computation, so the gram hashing + window-min
    // selection runs in mapPartitions (the formulation the image
    // pipeline's captionFingerprints always used). A previous version
    // spelled the same selection in posexplode + THREE window
    // functions for oracle visibility; that shuffled every gram
    // position twice and was ~9x the whole query's runtime (exposed
    // when the bench ledger's protocol bump un-pooled its pre-prune
    // samples). Parity with the DuckDB oracle is preserved EXACTLY:
    // grams are g CODE POINTS (Spark substring and DuckDB substring
    // both count code points — a Java-chars implementation would
    // desynchronize on supplementary planes), hashed as lowercase MD5
    // hex of UTF-8 bytes (= Spark md5() = DuckDB md5()), window min is
    // lexicographic on hex strings (= varchar min both engines), full
    // windows only, distinct per doc.
    val fps = spread(d).as[(Long, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, src, t) =>
          winnowMd5(t, g, w, md).iterator.map(fp => (id, src, fp))
        }
      }
      .toDF("doc_id", "source", "fp")
    // df-prune per (source, fp) — the oracle's HAVING count(*) <= cap.
    // A count window over the (already tiny) fingerprint table, NOT a
    // groupBy + self-join: fps is the expensive subtree (all the MD5
    // hashing) and it is un-cached by design in an oracled query, so a
    // two-consumer formulation would evaluate the winnowing pass twice
    val dfW = org.apache.spark.sql.expressions.Window.partitionBy("source", "fp")
    val postings = fps
      .withColumn("df", count(lit(1)).over(dfW))
      .filter(col("df") <= cfg.substrDfCap)
      .select(col("doc_id"), col("source").as("band"), col("fp").as("bucket"))
    // buckets are <= dfCap members post-prune, so the expander is
    // all-pairs everywhere (the cap argument is just its buffer bound).
    // The expander keys runs on a 64-bit hash of (source, fp): TWO
    // pruned buckets colliding would merge into one run of <= 2*dfCap,
    // so the cap is 2*dfCap to keep that run all-pairs (no star
    // fallback = no lost oracle pairs); only a >= triple collision
    // (~2^-128 per bucket triple) could still star. Long math then
    // clamp: a user cap of Int.MaxValue must stay exact all-pairs,
    // not overflow negative and star everything
    val cand = PairGen.bucketPairsLong(postings,
      math.min(2L * cfg.substrDfCap, Int.MaxValue.toLong).toInt)
    val t1 = d.select(col("doc_id").as("id1"), col("t").as("tx1"), col("source").as("src1"))
    val t2 = d.select(col("doc_id").as("id2"), col("t").as("tx2"), col("source").as("src2"))
    cand.join(t1, "id1").join(t2, "id2")
      .filter(col("src1") === col("src2"))
      .filter(
        (col("tx2").contains(col("tx1")) && col("tx1") =!= col("tx2")) ||
        (col("tx1").contains(col("tx2")) && col("tx1") =!= col("tx2")))
      .select("id1", "id2")
  }

  /** Exact substring-containment dups via a generalized suffix array
    * per source shard — the suffix-array pass the north rule names
    * next to MinHash/SimHash, and the exact twin of [[substrDedup]]:
    * no fingerprints, no df-prune, so no recall loss on
    * boilerplate-hot substrings. Same gate (both docs >= substrMinChars
    * after lowercasing) and same output shape (id1 < id2, one row per
    * containment pair with unequal texts).
    *
    * Scale shape: per-source totals (narrow agg) decide a group count
    * G = ceil(source chars / cfg.saShardMaxChars); docs hash into G
    * groups BY TEXT, and every unordered group pair {g1, g2} becomes
    * one GSA shard (the doc replicates into its G shards) — classic
    * block-partitioned theta-join decomposition, so per-task memory is
    * bounded at ~2 x saShardMaxChars x ~20 B regardless of source
    * skew, while every cross-doc pair still meets in exactly ONE shard
    * (its two groups' shard), keeping the operator EXACT. The common
    * un-skewed source has G = 1 and degenerates to the single-shard
    * plan. Cost honesty: replication is G-fold, so work grows as
    * G x source — the inherent price of exact all-pairs containment
    * without pruning (the winnowing family remains the sub-quadratic
    * path, SURVEY.md §7.4 risk 4); a SINGLE document longer than the
    * cap still lands in one group (texts are atomic) and the
    * O(shard) `require` inside SuffixArrays stays the hard backstop.
    * destor analog: exact verify after a candidate probe, with
    * segment-scoped processing bounding every unit (reference
    * src/index/index.c:181-204, src/index/segmenting_method.c:73-114).
    */
  def substrDedupSA(spark: SparkSession, dir: String,
      cfg: DedupConfig = DedupConfig.default): DataFrame = {
    import spark.implicits._
    val cap = cfg.saShardMaxChars
    val d = docs(spark, dir)
      .select(col("source"), col("doc_id"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= cfg.substrMinChars)

    // shared per-shard GSA walk: rows are (doc_id, text, gid); a cross
    // shard (g1 < g2) owns ONLY its cross-group pairs (same-group pairs
    // belong to that group's self shard — they would otherwise be
    // emitted G times). Builds the GSA over DISTINCT texts only:
    // identical copies are the common case in a dedup corpus, and each
    // copy would both bloat the SA and force a wasted LCP-interval
    // rescan (equal texts never pair). Containment is a property of
    // the TEXTS, so pairs expand across the duplicate groups afterwards
    // — that expansion is output-sized, exactly what the oracle's
    // quadratic join emits. No dups possible: containment is
    // one-directional (strictly shorter in longer), texts are distinct,
    // a doc lives in ONE source, and each text pair meets in exactly
    // one shard — so no post-group distinct (and no second shuffle) is
    // needed.
    def shardPairs(g1: Int, g2: Int,
        rows: Iterator[(Long, String, Int)]): Iterator[(Long, Long)] = {
      val byText = rows.toArray
        .groupBy(_._2).map { case (t, g) => (t, g.map(_._1), g.head._3) }.toArray
      val texts = byText.map(_._1)
      val ids = byText.map(_._2)
      val gids = byText.map(_._3)
      SuffixArrays.containmentPairs(texts).iterator
        .filter { case (i, j) => g1 == g2 || gids(i) != gids(j) }
        .flatMap { case (i, j) =>
          for (a <- ids(i).iterator; b <- ids(j))
            yield (math.min(a, b), math.max(a, b))
        }
    }

    // Size gate FOLDED INTO THE PLAN (round 5, serial-floor item): the
    // earlier version ran a separate driver pre-scan job
    // (totals.agg(max).head()) to choose between a one-shuffle plan
    // and the block re-shard — a pure per-job-floor cost, because the
    // un-skewed case makes the sharded plan DEGENERATE to the
    // one-shuffle plan anyway: nG = 1 gives gid = 0 and
    // sequence(0, 0) explodes to a single row (zero replication), and
    // the totals side is one row per source, so its join broadcasts.
    // The per-source group count is now computed in-flight with the
    // same pair semantics and the same bounded-memory guarantee, one
    // Spark job fewer per run.
    // The totals come from the table's n_chars METADATA column — a
    // 2-column pruned scan, no text decode — because they only feed a
    // memory BUDGET (the group count G), not the pair semantics:
    // n_chars tracks length(text), and lower() changes char counts
    // only in exotic locales, noise far below the hash-variance slack
    // the budget already tolerates. Unfiltered on purpose: every
    // source in `d` is guaranteed a totals row (the inner join must
    // never drop docs), at the cost of counting below-min-length docs
    // into the budget — an overestimate, i.e. slightly more groups,
    // never an overflow.
    val totals = docs(spark, dir)
      .groupBy("source").agg(sum(col("n_chars")).as("src_chars"))
    // gid hashes the TEXT (not the doc id): identical copies land in
    // one group, so the per-shard distinct-text dedup keeps working,
    // and a pair's shard assignment is a pure function of its two
    // texts. Each doc replicates to the G shards {min(gid,h),
    // max(gid,h)} — the (g,g) self shard once, each cross shard once.
    // no broadcast hint: one row per source is broadcast-sized for any
    // destor-shaped corpus and AQE picks that plan itself, but a
    // 10^8-source corpus must be allowed to fall back to a shuffle join
    val sharded = d.join(totals, "source")
      .withColumn("nG", expr(s"greatest(1L, (src_chars + ${cap - 1}) div $cap)").cast("int"))
      .withColumn("gid", pmod(xxhash64(col("t")), col("nG")).cast("int"))
      .select(col("source"), col("doc_id"), col("t"), col("gid"),
        explode(expr("sequence(0, nG - 1)")).as("h"))
      .select(col("source"), col("doc_id"), col("t"), col("gid"),
        least(col("gid"), col("h")).as("g1"), greatest(col("gid"), col("h")).as("g2"))
    sharded.as[(String, Long, String, Int, Int, Int)]
      .groupByKey(r => (r._1, r._5, r._6))
      .flatMapGroups { (key: (String, Int, Int), rows: Iterator[(String, Long, String, Int, Int, Int)]) =>
        shardPairs(key._2, key._3, rows.map(r => (r._2, r._3, r._4)))
      }
      .toDF("id1", "id2")
  }
}
