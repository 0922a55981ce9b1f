package graft.sim

import graft.signatures.Sig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table
  * (vec_id:long, embedding:array<float>, label:int).
  *
  * Two paths, per the brief:
  *  - brute-force cosine top-k: the correctness baseline. All math in
  *    builtin higher-order functions (zip_with + aggregate) so the dot
  *    product stays inside codegen; the pairing is a block cross-join.
  *  - hyperplane-LSH (SimHash-for-vectors) bucketed ANN: the scale
  *    path — candidates only within matching hash buckets, so cost is
  *    ~O(n * bucket) instead of O(n^2).
  */
object EmbedOps {

  def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** cosine(a,b) as a Column over two array<double> columns —
    * sequential double accumulation (matches DuckDB's
    * list_cosine_similarity on DOUBLE[] for oracle parity). */
  private def cosine(a: String, b: String) = {
    val dot = expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)")
    val na = expr(s"aggregate($a, cast(0.0 as double), (acc, v) -> acc + v * v)")
    val nb = expr(s"aggregate($b, cast(0.0 as double), (acc, v) -> acc + v * v)")
    dot / sqrt(na * nb)
  }

  /** Brute-force cosine top-k neighbors per vector. Output
    * (vec_id, neighbor_id, rk) with deterministic tie-break, scores
    * rounded to 6 decimals before ranking so engine ulp noise can't
    * flip ranks. */
  def cosineTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val a = e.select(col("vec_id"), col("v").as("va"))
    val b = e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("neighbor_id"))
    a.crossJoin(b)
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosine("va", "vb"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("vec_id", "neighbor_id", "rk", "cos")
  }

  /** Random-hyperplane LSH signature (`planes` planes from a seeded
    * deterministic pseudo-Gaussian), banded like the image phash path:
    * vectors within small angular distance share a band slice with
    * high probability. The (plane, dim) → splitmix stream index uses a
    * stride of max(1024, dim): for dim <= 1024 this is the historical
    * `p*1024 + d` layout (existing codes unchanged), and for wider
    * embeddings the stride grows with dim so no two (plane, dim) cells
    * ever share a Gaussian — planes stay independent at 4096-dim. */
  def hyperplaneSig(dim: Int, planes: Int = 64, seed: Long = 42L): Array[Array[Double]] = {
    val stride = math.max(1024L, dim.toLong)
    Array.tabulate(planes) { p =>
      Array.tabulate(dim) { d =>
        // Box-Muller on splitmix streams — deterministic pseudo-Gaussian
        val u1 = (Sig.mix64(seed ^ (p * stride + d)) >>> 11) / 9007199254740992.0
        val u2 = (Sig.mix64(seed ^ (p * stride + d) ^ 0x5bf03635L) >>> 11) / 9007199254740992.0
        math.sqrt(-2.0 * math.log(u1 + 1e-12)) * math.cos(2.0 * math.Pi * u2)
      }
    }
  }

  /** Embedding dimensionality derived from the corpus itself: ONE
    * limit-1 row (a LocalLimit over the narrowest projection — no full
    * scan). Every LSH caller sizes its hyperplanes from this and the
    * code UDF then `require`s each vector matches, so a mixed-width or
    * mis-declared corpus fails loudly instead of silently hashing a
    * 64-dim prefix (the round-3 recall trap for 768-dim embeddings). */
  private def corpusDim(e: DataFrame): Int = {
    val head = e.select(size(col("v")).as("d")).head()
    val d = head.getInt(0)
    require(d > 0, "embedding corpus has an empty first vector")
    d
  }

  /** Exact cosine over two primitive vectors, rounded to 6 decimals
    * HALF_UP — shared by BOTH re-rank paths so the gated plan switch
    * can never flip a rank (bit-identical accumulation order). */
  private def cosRounded(va: Array[Double], vb: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var x = 0
    val n = math.min(va.length, vb.length)
    while (x < n) { dot += va(x) * vb(x); na += va(x) * va(x); nb += vb(x) * vb(x); x += 1 }
    BigDecimal(dot / math.sqrt(na * nb))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** ANN via multi-table hyperplane LSH + exact cosine re-rank.
    *
    * L independent tables of kBits hyperplane signs each: a neighbor at
    * angular similarity p = 1 - theta/pi collides in one table with
    * prob p^kBits, across L tables with 1-(1-p^kBits)^L. Defaults
    * (L=16, k=4) target recall ~0.9 for cos~0.3 neighbors — this
    * corpus is near-random, the hardest regime. kBits is the scale
    * knob: at n vectors, expected bucket size is n/2^kBits, so raise
    * kBits with log2(n) to hold candidate cost at
    * ~L * n * bucket << n^2. Candidates are deduped across tables
    * before the (expensive) exact re-rank.
    *
    * Re-rank plan is SIZE-GATED on the corpus row count (the pattern
    * of verify's broadcast candidate-nid prune): at or below
    * `maxBroadcastVectors` the vector table broadcasts and the
    * dedup+re-rank+top-k runs in ONE shuffle
    * of id-only pairs; above it the vectors are resolved by
    * CO-PARTITIONED shuffle-hash joins on vec_id/neighbor_id — shuffle
    * bytes grow by the vector payload, but nothing ever collects to
    * the driver, so the path has no memory ceiling at corpus scale. */
  def annTopK(spark: SparkSession, dir: String, k: Int = 5,
      tables: Int = 16, kBits: Int = 4,
      maxBroadcastVectors: Long = 200000L): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val codesU = bandCodesUdf(spark, tables, kBits, corpusDim(e))
    // postings carry ONLY ids — the candidate join and pair-dedup must
    // never shuffle the vectors themselves (at 16 tables the pair
    // stream is ~16x the deduped pair count; carrying two 64-dim
    // vectors through it multiplied shuffle bytes ~60x)
    // spread the posting build BEFORE the self-join: a small vector
    // table reads as few input partitions, the tiny build side turns
    // the join into a broadcast, and without this the entire
    // multi-million-row bucket expansion runs in however many tasks the
    // parquet split produced (measured: ONE 2.3 s task at sf0.1)
    val par = spark.sparkContext.defaultParallelism
    val postings = e.repartition(par).select(col("vec_id"),
      posexplode(codesU(col("v"))).as(Seq("band", "bucket")))
    val a = postings.select(col("band"), col("bucket"), col("vec_id"))
    val b = postings.select(col("band"), col("bucket"), col("vec_id").as("neighbor_id"))
    val rawPairs = a.join(b, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select("vec_id", "neighbor_id")
    rerankTopK(spark, e, rawPairs, k, maxBroadcastVectors)
  }

  /** The banded hyperplane-code UDF shared by every LSH candidate
    * generator: `tables` independent codes of `kBits` sign bits each,
    * planes sized to the CORPUS dimension (derived by the caller via
    * [[corpusDim]]) and broadcast once per query. Id-only postings
    * downstream — the codes are the ONLY thing derived from the vector
    * that enters a shuffle. Each row `require`s its vector matches the
    * derived dim: a ragged corpus fails the job loudly rather than
    * degrading recall by hashing a truncated prefix. */
  private def bandCodesUdf(spark: SparkSession, tables: Int, kBits: Int, dim: Int) = {
    val planesB = spark.sparkContext.broadcast(hyperplaneSig(dim, tables * kBits))
    udf((v: Seq[Double]) => {
      require(v.length == dim,
        s"embedding dim ${v.length} != corpus dim $dim (mixed-width corpus)")
      val planes = planesB.value
      Array.tabulate(tables) { t =>
        var code = 0L
        var b = 0
        while (b < kBits) {
          val pl = planes(t * kBits + b)
          var s = 0.0
          var i = 0
          while (i < dim) { s += pl(i) * v(i); i += 1 }
          if (s > 0) code |= (1L << b)
          b += 1
        }
        code
      }
    })
  }

  /** Embedding-cosine near-dup PAIRS at threshold `tau` — the exact
    * all-pairs baseline (same oracle-twin discipline as
    * [[cosineTopK]]): intentionally O(n^2), the correctness yardstick
    * the LSH-bucketed [[embedDedup]] is graded against. Scores round
    * to 6 decimals BEFORE thresholding (DuckDB
    * list_cosine_similarity parity + engine stability at the
    * boundary). Output (id1 < id2, cos). */
  def cosineDups(spark: SparkSession, dir: String, tau: Double = 0.35): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val a = e.select(col("vec_id").as("id1"), col("v").as("va"))
    val b = e.select(col("vec_id").as("id2"), col("v").as("vb"))
    a.crossJoin(b)
      .filter(col("id1") < col("id2"))
      .withColumn("cos", round(cosine("va", "vb"), 6))
      .filter(col("cos") >= tau)
      .select("id1", "id2", "cos")
  }

  /** Exact rounded-cosine scores for a raw candidate-pair stream
    * (id1 < id2, duplicates across tables allowed): pair-dedup FIRST
    * on narrow id rows, then the same SIZE-GATED vector resolution as
    * [[rerankTopK]] — broadcast map below `maxBroadcastVectors`,
    * co-partitioned shuffle-hash joins above it, so vectors never ride
    * the duplicated stream and nothing collects to the driver on the
    * scale path. */
  private def exactPairScores(spark: SparkSession, e: DataFrame,
      rawPairs: DataFrame, maxBroadcastVectors: Long): DataFrame = {
    import spark.implicits._
    val dd = rawPairs.groupBy("id1", "id2").agg(lit(1)).select("id1", "id2")
    val nVecs = e.select("vec_id").count()
    if (nVecs <= maxBroadcastVectors) {
      val vecB = spark.sparkContext.broadcast(
        e.as[(Long, Array[Double])].collect().toMap)
      dd.as[(Long, Long)]
        .mapPartitions { it =>
          val m = vecB.value
          it.map { case (i, j) => (i, j, cosRounded(m(i), m(j))) }
        }
        .toDF("id1", "id2", "cos")
    } else joinScores(spark, e, dd)
  }

  /** Exact rounded-cosine over an already-DEDUPED (id1, id2) pair
    * stream via co-partitioned shuffle-hash joins — THE shared
    * no-driver-ceiling resolution both scale paths use
    * ([[exactPairScores]] above the broadcast gate, [[rerankTopK]]'s
    * join branch), so the bit-identical-accumulation invariant lives
    * in exactly one place: vectors resolved per side on the pair key,
    * cosine in the same primitive loop as the broadcast path. */
  private def joinScores(spark: SparkSession, e: DataFrame, dd: DataFrame): DataFrame = {
    import spark.implicits._
    dd.join(e.select(col("vec_id").as("id2"), col("v").as("vb")).hint("shuffle_hash"), "id2")
      .join(e.select(col("vec_id").as("id1"), col("v").as("va")).hint("shuffle_hash"), "id1")
      .select(col("id1"), col("id2"), col("va"), col("vb"))
      .as[(Long, Long, Array[Double], Array[Double])]
      .mapPartitions(_.map { case (i, j, va, vb) => (i, j, cosRounded(va, vb)) })
      .toDF("id1", "id2", "cos")
  }

  /** Embedding-cosine near-dup CLUSTERS — the dedup-family member the
    * LSH paths complete (exact / MinHash / SimHash / ngram /
    * embedding-cosine): hyperplane-LSH bucketed candidates (id-only
    * postings, same table construction as [[annTopK]] but wider
    * buckets — kBits=3 — because near-dup thresholds sit at lower
    * angular similarity than top-k ranks), exact-cosine verify
    * >= `tau` via [[exactPairScores]] (size-gated, no driver ceiling),
    * then min-id connected components over verified pairs. Precision
    * is 1.0 by construction (every emitted edge is exactly verified);
    * recall is the LSH collision bound 1-(1-p^kBits)^tables with
    * p = 1 - acos(tau)/pi (~0.985 at tau=0.35 under the defaults,
    * approaching 1 rapidly as tau rises into true near-dup
    * territory). Output (vec_id, cluster_id) for EVERY vector,
    * singletons included — the embedding analog of the image
    * pipeline's cluster table. */
  def embedDedup(spark: SparkSession, dir: String, tau: Double = 0.35,
      tables: Int = 16, kBits: Int = 3,
      maxBroadcastVectors: Long = 200000L): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val codesU = bandCodesUdf(spark, tables, kBits, corpusDim(e))
    val par = spark.sparkContext.defaultParallelism
    val postings = e.repartition(par).select(col("vec_id"),
      posexplode(codesU(col("v"))).as(Seq("band", "bucket")))
    val a = postings.select(col("band"), col("bucket"), col("vec_id").as("id1"))
    val b = postings.select(col("band"), col("bucket"), col("vec_id").as("id2"))
    val rawPairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
    val edges = exactPairScores(spark, e, rawPairs, maxBroadcastVectors)
      .filter(col("cos") >= tau)
      .select(col("id1").as("src"), col("id2").as("dst"))
    graft.cluster.ConnectedComponents.run(spark, e.select(col("vec_id").as("id")), edges)
      .select(col("id").as("vec_id"), col("component").as("cluster_id"))
  }

  /** Shared exact-cosine re-rank + top-k over a raw candidate-pair
    * stream (vec_id, neighbor_id; duplicates allowed) — the back half
    * of BOTH ANN paths (hyperplane-LSH and IVF), so the two candidate
    * generators produce rank-identical results for identical candidate
    * sets. Plan is SIZE-GATED on the corpus row count (the pattern of
    * verify's broadcast candidate-nid prune): broadcast below the
    * threshold, co-partitioned shuffle-hash joins above it (no driver
    * collect, no memory ceiling). `e` must be (vec_id, v: array<double>).
    */
  private def rerankTopK(spark: SparkSession, e: DataFrame,
      rawPairs: DataFrame, k: Int, maxBroadcastVectors: Long,
      knownCount: Option[Long] = None): DataFrame = {
    import spark.implicits._
    // count() on the narrow side gates the plan choice; the scan reads
    // no vector payload (column pruning leaves vec_id only). Callers
    // that already counted (ivfTopK's codebook auto-gate) pass it in
    // so one query never runs the count job twice
    val nVecs = knownCount.getOrElse(e.select("vec_id").count())
    if (nVecs <= maxBroadcastVectors) {
      // FAST PATH (corpus fits one executor's memory comfortably):
      // dedup-across-tables + exact re-rank + top-k in ONE shuffle: the
      // raw (multi-table, duplicated) candidate stream is partitioned by
      // vec_id and sorted, then a linear scan per vector dedups neighbors
      // with a hash set, computes cosine as a primitive double loop over
      // broadcast vectors, and keeps a bounded k-heap. Round 1 ran this
      // as distinct + two vector-carrying joins + interpreted `aggregate`
      // lambdas + a window rank — three exchanges and ~8 s at 2.5k
      // vectors; this is one exchange and no vector ever enters a
      // shuffle. The broadcast is the same side-table pattern Catalyst
      // picks for a dim join.
      val vecB = spark.sparkContext.broadcast(
        e.as[(Long, Array[Double])].collect().toMap)
      rawPairs
        .repartition(col("vec_id"))
        .sortWithinPartitions("vec_id") // single long key -> radix sort
        .as[(Long, Long)]
        .mapPartitions { it =>
          val m = vecB.value
          graft.ops.PairGen.groupRuns[Long, (Long, Long, Int, Double)](
            it.map { case (v, nb) => (0, v, nb, 0L) },
            (_, vecId, neighbors, _) => {
              // sort neighbors locally (cheaper than a comparator-driven
              // shuffle sort); dedup is then a linear uniq, top-k a
              // bounded insertion into a k-sized array (k is tiny)
              java.util.Arrays.sort(neighbors)
              val topN = new Array[Long](k)
              val topC = new Array[Double](k)
              var filled = 0
              var prev = Long.MinValue
              var i = 0
              while (i < neighbors.length) {
                val nb = neighbors(i)
                if (nb != prev) {
                  prev = nb
                  val c = cosRounded(m(vecId), m(nb))
                  // insertion position by (cos desc, neighbor asc)
                  var p = filled
                  while (p > 0 && (topC(p - 1) < c || (topC(p - 1) == c && topN(p - 1) > nb))) p -= 1
                  if (p < k) {
                    val last = math.min(filled, k - 1)
                    var q = last
                    while (q > p) { topN(q) = topN(q - 1); topC(q) = topC(q - 1); q -= 1 }
                    topN(p) = nb; topC(p) = c
                    if (filled < k) filled += 1
                  }
                }
                i += 1
              }
              (0 until filled).iterator.map(r => (vecId, topN(r), r + 1, topC(r)))
            },
            minRun = 1) // a vector with a single candidate still gets its rk=1 row
        }
        .toDF("vec_id", "neighbor_id", "rk", "cos")
    } else {
      // SCALE PATH (corpus too big to broadcast): vectors stay
      // DISTRIBUTED and are resolved per pair side by co-partitioned
      // shuffle-hash equi-joins — at 10^12 rows each join hash-exchanges
      // pairs and vectors on the same key, no driver collect, no
      // broadcast build. Pair dedup first (groupBy, narrow id rows) so
      // the vector payload rides only the DEDUPED pair stream (~1/L of
      // the raw one); cosine runs in the same primitive loop as the
      // fast path, and the final top-k is a window over narrow
      // (vec_id, neighbor_id, cos) rows — ranks identical to the fast
      // path by the shared rounding + (cos desc, neighbor asc) order.
      val dd = rawPairs.groupBy("vec_id", "neighbor_id").agg(lit(1))
        .select(col("vec_id").as("id1"), col("neighbor_id").as("id2"))
      val scored = joinScores(spark, e, dd)
        .select(col("id1").as("vec_id"), col("id2").as("neighbor_id"), col("cos"))
      val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("neighbor_id"))
      scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select("vec_id", "neighbor_id", "rk", "cos")
    }
  }

  /** Driver-visible ANN gate (the q_recall_gate pattern for the
    * rows-only `q_embed_ann`): micro-recall@k of the LSH ANN against
    * the brute-force cosine top-k, computed IN-QUERY (each side has
    * exactly k rows per vector, so micro recall == mean per-query
    * recall), emitted as a constant-shaped verdict row. The bar sits
    * under the measured 0.89-0.93 with honest margin — floor raised 0.75 -> 0.85 in round 5, matching annScaleGate (this corpus is
    * near-random — the hardest ANN regime; DocOpsSpec gates the same
    * property at 0.7). No corpus-size literals in the row, so the
    * oracle SQL is a pure constant at any sf. */
  def annGate(spark: SparkSession, dir: String, k: Int = 5,
      recallMin: Double = 0.85): DataFrame = {
    val bf = cosineTopK(spark, dir, k).select("vec_id", "neighbor_id")
    val ann = annTopK(spark, dir, k).select("vec_id", "neighbor_id")
    recallVerdict(recallCounts(bf, ann), recallMin)
  }

  /** One row (total, hits): the `truth` rows, and those of them that
    * `found` holds too — both counts in one aggregate, no driver
    * action. */
  private def recallCounts(truth: DataFrame, found: DataFrame): DataFrame =
    truth.join(found.distinct().withColumn("hit", lit(1)), Seq("vec_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("total"), count(col("hit")).as("hits"))

  /** The constant-shaped recall verdict row of a (total, hits) row. */
  private def recallVerdict(counts: DataFrame, recallMin: Double): DataFrame =
    counts.select(
      when(col("total") > 0, 1).otherwise(0).as("pairs_found"),
      when(col("total") > 0 && col("hits") >= col("total") * recallMin, 1).otherwise(0).as("recall_ok"))

  /** Bench-scale ANN recall gate: recall@k of the LSH ANN against
    * EXACT ground truth for a deterministic hash-sample of query
    * vectors. [[annGate]]'s oracle is the full O(n^2) brute-force
    * top-k, which stops being runnable long before the corpus does;
    * here the exact side costs |sample| * n distances — the sampled
    * queries broadcast against ONE corpus scan, so the oracle cost is
    * bounded by the sample COUNT (pick `sampleMod` so n/sampleMod stays
    * a few hundred: 10 at sf-scale, ~10^6 per 10^9 vectors — the
    * 1-in-1000-queries discipline of large-scale ANN evaluation). The
    * ANN side runs the FULL corpus query unchanged; recall is micro
    * recall@k over the sampled queries, emitted as the constant-shaped
    * verdict row. Floor 0.85 (annGate now matches): at/above the
    * measured 0.87-0.91 band minus honest margin on a near-random
    * corpus, raised per the round-4 review. */
  def annScaleGate(spark: SparkSession, dir: String, k: Int = 5,
      sampleMod: Int = 10, recallMin: Double = 0.85): DataFrame =
    recallVerdict(sampledRecallCounts(spark, dir, k, sampleMod), recallMin)

  /** Measured micro recall@k of [[annTopK]] vs the sampled exact
    * ground truth (the number [[annScaleGate]] thresholds) — for bench
    * reporting. */
  def annScaleRecall(spark: SparkSession, dir: String, k: Int = 5,
      sampleMod: Int = 10): Double = {
    val r = sampledRecallCounts(spark, dir, k, sampleMod).head()
    val (total, hits) = (r.getLong(0), r.getLong(1))
    if (total == 0) 0.0 else hits.toDouble / total
  }

  /** One (exact ground-truth pairs, ANN hits) row over the hash-sampled
    * query set — the shared body of the scale gate and its reporter. */
  private def sampledRecallCounts(spark: SparkSession, dir: String,
      k: Int, sampleMod: Int): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val q = e.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // exact top-k for the sampled queries only: one distributed pass
    // over the corpus per the broadcast sample, same rounded-cosine +
    // neighbor-id tie-break as cosineTopK so ranks are engine-stable
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("neighbor_id"))
    val exact = e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("cos", round(cosine("qv", "vb"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid").as("vec_id"), col("neighbor_id"))
    val ann = annTopK(spark, dir, k).select("vec_id", "neighbor_id")
      .join(q.select(col("qid").as("vec_id")), Seq("vec_id"), "left_semi")
    recallCounts(exact, ann)
  }

  /** Driver-visible IVF exactness gate: with nprobe == nC the probe
    * covers every cell, so [[ivfTopK]] must reproduce [[cosineTopK]]
    * RANK-FOR-RANK (IvfSpec proves it; this row makes the property a
    * hash-checked driver signal). Emitted as the constant verdict
    * row — any broken rank anywhere hash-mismatches. */
  def ivfGate(spark: SparkSession, dir: String, k: Int = 5, nC: Int = 16): DataFrame = {
    val brute = cosineTopK(spark, dir, k).select("vec_id", "rk", "neighbor_id")
    val ivf = ivfTopK(spark, dir, k, nC = nC, nprobe = nC).select("vec_id", "rk", "neighbor_id")
    // (n, agree) and nIvf: two aggregates of one row each, crossed into
    // the verdict row — no driver action
    brute.join(ivf.distinct().withColumn("hit", lit(1)), Seq("vec_id", "rk", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n"), count(col("hit")).as("agree"))
      .crossJoin(ivf.agg(count(lit(1)).as("n_ivf")))
      .select(
        when(col("n") > 0, 1).otherwise(0).as("pairs_found"),
        when(col("agree") === col("n") && col("n_ivf") === col("n"), 1).otherwise(0).as("exact_match"))
  }

  /** Label-centroid assignment: mean vector per label, then each
    * vector's nearest centroid — the IVF coarse-quantizer step. */
  def nearestCentroid(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), col("label"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    // per-dimension mean via posexplode+groupBy — no collect_list of
    // whole vectors, so centroid computation scales with n*dim rows
    val cent = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg("x").as("m"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("centroid"))
      .select(col("label").as("c_label"), col("centroid"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("c_label"))
    e.crossJoin(broadcast(cent))
      .withColumn("cos", round(cosine("v", "centroid"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("c_label").as("nearest_label"))
  }

  /** Deterministic Lloyd k-means coarse quantizer (cosine assignment):
    * ONE Spark job collects the bounded training sample (a
    * deterministic 1/trainModulus hash-slice — classic IVF discipline:
    * the quantizer trains on a sample, the full corpus only gets
    * ASSIGNED once), then the Lloyd rounds run locally at the driver
    * over the vec_id-sorted sample — nC*dim*|sample| flops per round,
    * partition-invariant by construction. The sample is bounded by
    * DEFAULT (trainModulus auto-derived from an id-only count, below)
    * so the collected slice stays ~tens of MB at any corpus size
    * (the codebook itself is nC x dim — tiny — either way). An earlier
    * variant ran each Lloyd round as its own Spark job with a fresh
    * UDF: ~9 s of scheduling+codegen overhead PER ROUND on data whose
    * math takes milliseconds — measured 46 s for 5 rounds over 2k
    * vectors, vs <1 s for this shape. Init = the nC sample vectors
    * with the smallest mixed id hash; empty cells keep their previous
    * centroid. Returns cell -> centroid.
    *
    * trainModulus <= 0 (the default) SELF-GATES: an id-only count
    * derives the modulus so the expected collected sample stays under
    * `maxTrainVectors` rows (~64 MB of doubles at the default) — the
    * training collect gets the same no-driver-ceiling discipline as
    * the re-rank's broadcast gate, instead of trusting the caller to
    * know the corpus size. An explicit modulus is honored verbatim.
    */
  def kmeansCentroids(spark: SparkSession, e: DataFrame, nC: Int,
      iters: Int = 5, seed: Long = 42L, trainModulus: Int = 0,
      maxTrainVectors: Int = 131072, knownCount: Option[Long] = None): Array[Array[Double]] = {
    import spark.implicits._
    val modulus =
      if (trainModulus > 0) trainModulus
      else {
        val n = knownCount.getOrElse(e.select("vec_id").count())
        math.max(1L, (n + maxTrainVectors - 1) / maxTrainVectors).toInt
      }
    val train =
      if (modulus <= 1) e
      else e.filter(pmod(xxhash64(col("vec_id"), lit(seed + 1)), lit(modulus)) === 0)
    val sample: Array[(Long, Array[Double])] =
      train.select("vec_id", "v").as[(Long, Array[Double])].collect().sortBy(_._1)
    require(sample.length >= nC,
      s"training sample (${sample.length}) smaller than nC ($nC): lower trainModulus or nC")
    var cents: Array[Array[Double]] = sample
      .map { case (id, v) => (Sig.mix64(id ^ seed), v) }
      .sortBy(_._1).take(nC).map(_._2.clone())
    // wrap each sample vector ONCE (nearestCell takes Seq for the UDF
    // callers; the implicit Array->IndexedSeq conversion would copy
    // every vector on every Lloyd round)
    val wrapped: Array[Seq[Double]] =
      sample.map(s => scala.collection.immutable.ArraySeq.unsafeWrapArray(s._2))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nC)(new Array[Double](cents(0).length))
      val counts = new Array[Long](nC)
      var i = 0
      while (i < sample.length) {
        val v = sample(i)._2
        val c = nearestCell(cents, wrapped(i))
        val s = sums(c)
        var d = 0
        val n = math.min(s.length, v.length)
        while (d < n) { s(d) += v(d); d += 1 }
        counts(c) += 1
        i += 1
      }
      val next = cents.map(_.clone())
      var c = 0
      while (c < nC) {
        if (counts(c) > 0) {
          var d = 0
          while (d < next(c).length) { next(c)(d) = sums(c)(d) / counts(c); d += 1 }
        }
        c += 1
      }
      cents = next
      it += 1
    }
    cents
  }

  /** argmax-cosine cell with deterministic tie-break (lowest cell id). */
  private def nearestCell(cents: Array[Array[Double]], v: Seq[Double]): Int = {
    var best = 0; var bestCos = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cos = cosRaw(cents(c), v)
      if (cos > bestCos) { bestCos = cos; best = c }
      c += 1
    }
    best
  }

  /** Top-`nprobe` cells by cosine, deterministic (cos desc, cell asc). */
  private def probeCells(cents: Array[Array[Double]], v: Seq[Double], nprobe: Int): Array[Int] =
    cents.indices.map(c => (-cosRaw(cents(c), v), c)).sorted.take(nprobe).map(_._2).toArray

  private def cosRaw(a: Array[Double], v: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.length, v.length)
    var i = 0
    while (i < n) { val x = v(i); dot += a(i) * x; na += a(i) * a(i); nb += x * x; i += 1 }
    if (na == 0 || nb == 0) Double.NegativeInfinity else dot / math.sqrt(na * nb)
  }

  /** ANN via IVF (inverted-file) probing — the second scale path next
    * to the hyperplane-LSH tables, completing the classic pairing
    * (IVF-Flat): a small k-means codebook partitions the corpus into
    * nC cells; each query probes its `nprobe` nearest cells and exact
    * re-ranks only those members. Candidate cost per query is
    * ~ nprobe * n / nC, so nC scales with sqrt(n) (and nprobe trades
    * recall for cost); the candidate join is one cell-keyed shuffle of
    * id-only rows, and the re-rank is [[rerankTopK]] — the same
    * size-gated plan as [[annTopK]], so results are rank-identical for
    * identical candidate sets. With nprobe == nC the candidate set is
    * all-pairs and the result EQUALS [[cosineTopK]] (the spec asserts
    * this), making the exactness-vs-cost knob auditable. Hot cells are
    * the residual skew (a dense corpus region): raise nC or split on
    * cell size with the same CAP discipline as the LSH buckets.
    */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 5,
      nC: Int = 16, nprobe: Int = 4, iters: Int = 5,
      maxBroadcastVectors: Long = 200000L, trainModulus: Int = 0): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    // ONE id-only count serves both gates (codebook training sample +
    // re-rank broadcast decision)
    val nVecs = e.select("vec_id").count()
    val cents = kmeansCentroids(spark, e, nC, iters,
      trainModulus = trainModulus, knownCount = Some(nVecs))
    val cb = spark.sparkContext.broadcast(cents)
    val cellU = udf((v: Seq[Double]) => nearestCell(cb.value, v))
    val probeU = udf((v: Seq[Double]) => probeCells(cb.value, v, nprobe))
    val par = spark.sparkContext.defaultParallelism
    // inverted file: cell -> member ids (id-only, never vectors)
    val index = e.repartition(par).select(cellU(col("v")).as("cell"), col("vec_id").as("neighbor_id"))
    val probes = e.repartition(par).select(col("vec_id"), explode(probeU(col("v"))).as("cell"))
    // a member lives in exactly ONE cell and probed cells are distinct,
    // so each (query, neighbor) pair appears at most once — no dedup
    // shuffle needed before the re-rank
    val rawPairs = probes.join(index, "cell")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select("vec_id", "neighbor_id")
    rerankTopK(spark, e, rawPairs, k, maxBroadcastVectors, Some(nVecs))
  }
}
