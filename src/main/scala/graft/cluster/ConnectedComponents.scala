package graft.cluster

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Connected components with a deterministic representative: every
  * vertex is labelled with the minimum id of its component.
  *
  * Two plans, picked by size with the same gate the singleton stitch
  * uses (`maxBroadcastLabels`): at or below it the label table is
  * broadcast from the driver anyway, so the labels are computed there.
  *
  * DRIVER PATH (2·|edges| <= maxBroadcastLabels): ONE job collects the
  * (src, dst) edges, packed per partition into one flat array, and a
  * union-find on the driver settles every component in one in-memory
  * pass — the analog of destor's `index_check_buffer`
  * (src/index/index.c:282-315), where the first occurrence's id is
  * adopted by every later copy. Ids are mapped to dense indices in
  * ascending id order (primitive arrays for long ids, no per-edge
  * boxing), so "the smaller index is the root" keeps the minimum id as
  * each set's root; `find` is iterative with path compression. Only
  * the non-root vertices become label rows, handed to the broadcast
  * stitch as a local relation. No shuffle, no per-round job: on the
  * one-shot benchmark (5k images, 1,499 verified edges) the traced
  * clustering layer went from 7 stages and 12,083 shuffle records to 3
  * stages and none, at the same 3 jobs.
  *
  * LOOP (above the gate): distributed min-label propagation with
  * per-round pointer-jump compression, deliberately RDD-based (the
  * same reason GraphX is): the loop body is a fixed join+reduce over
  * two-column tables where Catalyst has nothing to optimize, while
  * per-round DataFrame re-planning dominated wall time — measured 24
  * driver-materialized jobs / 6.3 s for a 30k-edge graph whose total
  * task work is <1 s, FLAT from 2 to 32 cores. The RDD loop submits
  * ONE job per TWO propagate steps with zero planning: the
  * bidirectional edge table is hash-partitioned ONCE and every
  * per-step join against it is narrow (co-partitioned), so a step
  * moves only the (small) label table — and since the per-job floor,
  * not the data, dominates round wall time, batching two steps per job
  * halves the loop's job count for the same total shuffle work.
  *
  * Propagate steps needed ≈ log2(diameter) thanks to pointer jumping
  * (jobs ≈ half that). In this engine's dedup workload the diameter is
  * structurally small: hot buckets emit STAR pairs (PairGen cap —
  * diameter 2) and natural near-dup chains are short.
  *
  * Both plans are generic in the vertex-id type: long-keyed graphs
  * (doc ids) keep NUMERIC min labels, everything else runs on strings
  * (`compareTo` order) — an earlier version upcast every id to string,
  * which silently made the representative the LEXICOGRAPHIC min
  * ("10" < "2") and changed the output schema for long-id callers.
  *
  * Scale notes: the loop's partition count derives from the edge count
  * (capped by spark.sql.shuffle.partitions — the operator's
  * cluster-sizing knob); only edge-touching vertices get a label row
  * (singletons — the vast majority in a dedup corpus — are stitched
  * back by the final Catalyst left join); loop labels persist
  * MEMORY_AND_DISK_SER per round and are localCheckpoint-truncated
  * every few rounds so recovery never cascades to round 0.
  */
object ConnectedComponents {

  private val lvl = StorageLevel.MEMORY_AND_DISK_SER

  /** Max label rows the singleton stitch will broadcast: above this the
    * stitch is a shuffle join (the label table is O(dup members) — at
    * corpus scale it can never broadcast). It is also the driver path's
    * gate: the labels are computed on the driver when 2·|edges|, the
    * most label rows the edges can produce, is within it. 2M two-column
    * rows matches the broadcast payload verify's `needIds` gate allows
    * (up to 2M single-column rows; a label row carries id + label, so
    * the row budget is the same order, not the byte budget doubled). */
  val MaxBroadcastLabels = 2000000L

  /** @param vertices single-column DF `id` (all nodes, incl. singletons)
    * @param edges two-column DF `src`,`dst`
    * @param maxIter cap on the loop's propagate steps (the driver path
    *   always runs to the fixpoint)
    * @param edgeCountHint an UPPER BOUND of |edges| when the caller
    *   already knows one. It picks the plan (2·hint <= maxBroadcastLabels
    *   collects the edges to the driver) and sizes the loop partitioner,
    *   and saves the counting job that otherwise sizes both. An
    *   underestimate stays correct but may collect more edges to the
    *   driver than the gate allows.
    * @param maxBroadcastLabels the plan and stitch gate above; 0 sends
    *   every non-empty edge set to the distributed loop and the stitch
    *   to a shuffle join
    * @return DF (id, component) where component = min id reachable,
    *   typed like the input id column (long in, long out)
    */
  def run(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 64, edgeCountHint: Option[Long] = None,
      maxBroadcastLabels: Long = MaxBroadcastLabels): DataFrame = {
    import spark.implicits._
    val (labelDf, nLabels) =
      if (vertices.schema("id").dataType == LongType)
        labels(spark, pairsOf(edges, "long")(_.getLong(_)),
          maxIter, edgeCountHint, maxBroadcastLabels)(denseLongs)
      else
        labels(spark, pairsOf(edges, "string")(_.getUTF8String(_).toString),
          maxIter, edgeCountHint, maxBroadcastLabels)(denseStrings)
    // singleton stitch under Catalyst (data-proportional, one pass).
    // The label table holds only edge-touching vertices and its exact
    // row count is known (the driver path built it; the loop's last
    // materialization counted it), so when it is bounded we BROADCAST
    // it: the full vertex list then streams scan→join→downstream with
    // no exchange at all (measured: the shuffle stitch exchanged
    // ~335 MB of vertex ids per consumer at 1.6M images — a
    // core-count-independent cost the broadcast removes). Above the
    // gate the shuffle join is the correct plan.
    val labelSide =
      if (nLabels <= maxBroadcastLabels) broadcast(labelDf) else labelDf
    vertices.select(col("id"))
      .join(labelSide, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("component"))
  }

  /** The (src, dst) edges cast to `idType`, read from the plan's
    * internal rows: `Dataset.rdd` would plan the whole edge lineage a
    * second time for its deserializer — measured ~0.1 s of driver time
    * per call over the one-shot benchmark's verify output. */
  private def pairsOf[K](edges: DataFrame, idType: String)(
      get: (InternalRow, Int) => K): RDD[(K, K)] =
    edges.select(col("src").cast(idType), col("dst").cast(idType))
      .queryExecution.toRdd.map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1), "null vertex id in an edge")
        (get(r, 0), get(r, 1))
      }

  /** (id, label) rows and their count, by the plan the edge count
    * picks. Without a hint the edges are persisted for one counting job
    * that both plans then read from the cache. */
  private def labels[K](spark: SparkSession,
      pairs: RDD[(K, K)], maxIter: Int, edgeCountHint: Option[Long],
      maxBroadcastLabels: Long)(dense: Array[K] => (Array[K], Array[Int]))(
      implicit ord: Ordering[K], ct: scala.reflect.ClassTag[K],
      enc: Encoder[(K, K)]): (DataFrame, Long) = {
    val src = if (edgeCountHint.isEmpty) pairs.persist(lvl) else pairs
    val nEdges = edgeCountHint.getOrElse(src.count())
    try {
      if (2L * nEdges <= maxBroadcastLabels) {
        val rows = driverLabels(collectEnds(src), dense)
        (spark.createDataset(rows.toSeq).toDF("id", "label"), rows.length.toLong)
      } else {
        val bidir = src.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
        val (l, n) = loop(spark, bidir, maxIter, 2L * nEdges)
        (spark.createDataset(l).toDF("id", "label"), n)
      }
    } finally if (edgeCountHint.isEmpty) src.unpersist(blocking = false)
  }

  /** Every edge's endpoints, (src, dst) at (2i, 2i+1), in ONE job:
    * each partition packs its edges into one flat array, so the driver
    * receives a few arrays (primitive for long ids), not a tuple per
    * edge. */
  private def collectEnds[K: scala.reflect.ClassTag](pairs: RDD[(K, K)]): Array[K] =
    Array.concat(pairs.mapPartitions { it =>
      val b = Array.newBuilder[K]
      it.foreach { case (s, d) => b += s; b += d }
      Iterator.single(b.result())
    }.collect().toIndexedSeq: _*)

  /** Sorted distinct ids of `ends` and each end's index into them. */
  private def denseLongs(ends: Array[Long]): (Array[Long], Array[Int]) = {
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val uniq = java.util.Arrays.copyOf(ids, n)
    val idx = new Array[Int](ends.length)
    i = 0
    while (i < ends.length) { idx(i) = java.util.Arrays.binarySearch(uniq, ends(i)); i += 1 }
    (uniq, idx)
  }

  /** [[denseLongs]] for string ids, in `Ordering[String]` order — the
    * order the loop's min uses. */
  private def denseStrings(ends: Array[String]): (Array[String], Array[Int]) = {
    val ids = ends.clone()
    java.util.Arrays.sort(ids, Ordering.String)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val uniq = java.util.Arrays.copyOf(ids, n)
    val idx = new Array[Int](ends.length)
    i = 0
    while (i < ends.length) {
      idx(i) = java.util.Arrays.binarySearch(uniq, ends(i), Ordering.String)
      i += 1
    }
    (uniq, idx)
  }

  /** (id, min id of its component) for every edge-touching vertex whose
    * label is not itself — a root's row would only repeat what the
    * stitch's `coalesce(label, id)` already yields. */
  private def driverLabels[K: scala.reflect.ClassTag](ends: Array[K],
      dense: Array[K] => (Array[K], Array[Int])): Array[(K, K)] = {
    val (ids, idx) = dense(ends)
    val root = minRoots(ids.length, idx)
    val out = Array.newBuilder[(K, K)]
    var v = 0
    while (v < ids.length) { if (root(v) != v) out += ((ids(v), ids(root(v)))); v += 1 }
    out.result()
  }

  /** Union-find over dense vertex indices `0 until n` with edges
    * (ends(2i), ends(2i+1)); returns each index's root. Indices follow
    * ascending id order and a union always hangs the larger root under
    * the smaller, so every root is its set's minimum — and parent(v) <= v
    * throughout. `find` is iterative (a 200k-long chain must not
    * recurse) and compresses the path it walked. */
  private def minRoots(n: Int, ends: Array[Int]): Array[Int] = {
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    var i = 0
    while (i < ends.length) {
      val a = find(ends(i))
      val b = find(ends(i + 1))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 2
    }
    var v = 0
    while (v < n) { parent(v) = find(v); v += 1 }
    parent
  }

  /** The min-label loop over an already-bidirectional edge RDD of
    * `nBidir` (at most) rows, generic in the id type (Ordering supplies
    * the min; Long ids stay numeric). Returns (labels, labelRowCount) —
    * the count rides the last round's materialization, so it is free
    * for the caller's stitch-plan gate. */
  private def loop[K](spark: SparkSession, raw: RDD[(K, K)],
      maxIter: Int, nBidir: Long)(
      implicit ord: Ordering[K], ct: scala.reflect.ClassTag[K]): (RDD[(K, K)], Long) = {
    val sc = spark.sparkContext
    val min2: (K, K) => K = (a, b) => if (ord.lteq(a, b)) a else b

    // bidirectional edge table: partitioned ONCE, reused narrow by every
    // round's join. No dedup pass: duplicate edges only produce
    // duplicate messages into a min() reduce — harmless — and this
    // engine's pair stream is already unique per (id1<id2).
    // NO eager materialization here: round 1's job computes the edge
    // shuffle and both persists in one go.
    val confPartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val part = new HashPartitioner(
      math.min(confPartitions, math.max(8, (nBidir / 200000L).toInt + 1)))
    val bidir = raw.partitionBy(part).persist(lvl)

    // round 0 init fused with round 1 propagate: under identity labels
    // the neighbor message along (src→dst) is src itself, so
    // label(v) = min(v, min neighbor) needs no join at all.
    var labels: RDD[(K, K)] = bidir
      .mapPartitions(_.flatMap { case (s, d) => Iterator((d, s), (s, s)) })
      .reduceByKey(part, min2)
      .persist(lvl)

    // one propagate step (lazy): narrow join vs bidir + message reduce
    // + min-adopt; label changes ride `acc` (task retries can only
    // overcount — harmless: convergence only tests for zero). Both the
    // input and the result are co-partitioned by `part`, so chaining
    // two steps inside one job adds only the (message-sized) reduce
    // shuffle of the second step, no re-partitioning.
    def propagate(cur: RDD[(K, K)], acc: org.apache.spark.util.LongAccumulator): RDD[(K, K)] = {
      val msgs = bidir.join(cur, part)
        .map { case (_, (dst, lab)) => (dst, lab) }
        .reduceByKey(part, min2)
      cur.leftOuterJoin(msgs, part)
        .mapPartitions(_.map { case (id, (old, m)) =>
          val nw = m match { case Some(x) if ord.lt(x, old) => x; case _ => old }
          if (nw != old) acc.add(1L)
          (id, nw)
        }, preservesPartitioning = true)
    }

    // TWO propagate steps per JOB: on the measured workloads each
    // round's wall is dominated by a fixed per-job floor (driver
    // scheduling + planning latency, ~0.5 s — see
    // doc/shuffle-scaling-notes.md), not by data, so batching two steps
    // into one lazily-composed job halves the job count for the same
    // total shuffle work. Convergence is detected WITHIN the job via
    // two accumulators: c1 == 0 means the entering labels were already
    // the fixpoint, c2 == 0 means step one reached it — either way the
    // loop exits this job instead of scheduling another one. A graph
    // that needed r propagate steps after the fused init now costs
    // ceil((r+1)/2) loop jobs instead of r+1 (the old one-step rounds
    // paid a full extra job just to observe zero changes).
    var step = 1 // the fused init above is propagate step 1
    var job = 0
    var converged = false
    var nLabels = 0L
    val retired = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    while (!converged && step < maxIter) {
      val c1 = sc.longAccumulator(s"cc-changed-${step + 1}")
      val c2 = sc.longAccumulator(s"cc-changed-${step + 2}")
      val s1 = propagate(labels, c1)
      val s2 = propagate(s1, c2)
      // pointer jump label'(v) = label(label(v)) — DEFERRED past the
      // first loop job (propagate steps 2-3): the jump costs two extra
      // shuffles (the swap re-keys by label, the result re-keys by id)
      // and buys nothing on graphs that converge in <= 3 propagate
      // steps — which star-capped pair streams (CAP hot buckets →
      // diameter 2) and natural short near-dup chains do structurally.
      // From the second loop job on, the graph has proven itself deep
      // and jumping restores the O(log diameter) bound for adversarial
      // chains. The fixpoint (per-component min everywhere) is the same
      // with or without jumping — only the step count changes — and
      // `s2` is already co-partitioned by `part` (leftOuterJoin
      // preserves it), so skipping the jump skips its partitionBy too.
      val next =
        if (step < 3) s2.persist(lvl)
        else s2
          .mapPartitions(_.map(_.swap), preservesPartitioning = false)
          .join(s2, part)
          .map { case (_, (id, lab2)) => (id, lab2) }
          .partitionBy(part)
          .persist(lvl)
      // truncate the recovery chain every couple of jobs (~4 propagate
      // steps): a lost block otherwise recomputes recursively back to
      // round 0 at cluster scale. With a configured checkpoint dir the
      // cut is RELIABLE (survives executor loss — the write piggybacks
      // on the count() job below, reading from the fresh cache);
      // otherwise localCheckpoint (persist + lineage cut) keeps
      // single-box runs cheap.
      job += 1
      if (job % 2 == 0) {
        if (spark.sparkContext.getCheckpointDir.isDefined) next.checkpoint()
        else next.localCheckpoint()
      }
      nLabels = next.count()
      retired += labels
      labels = next
      converged = c1.value == 0L || c2.value == 0L
      step += 2
    }
    if (nLabels == 0L) nLabels = labels.count() // degenerate: loop never entered
    // deferred unpersist: each round's labels feed the NEXT round's
    // lineage (and possibly the final stitch), so blocks drop only
    // after the surviving result is consumed downstream — cheap, they
    // are small and non-blocking.
    retired.foreach(_.unpersist(blocking = false))
    (labels, nLabels)
  }
}
