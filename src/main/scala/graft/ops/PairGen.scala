package graft.ops

import graft.signatures.Sig
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Streamed run-length candidate-pair expansion from LSH bucket
  * postings — the ONE shape every dedup family (image minhash/phash/
  * winnowing, doc minhash/simhash/ngram/substring) uses for pair
  * generation, and the one home of its three pieces: the run-length
  * loop over key-sorted postings ([[RunLengths]]), the CAP pair
  * expander built on it ([[expand]]), and the signature-class rule
  * (class → source bit, hamming gate).
  *
  * Why this shape: a `groupBy(band,bucket).agg(collect_list(id))`
  * formulation materializes each bucket's full member list in a single
  * aggregation buffer — object-aggregation fallback, unbounded per-key
  * memory, and measured ~170 s at 100k rows in round 1. Here the
  * postings take ONE Tungsten sort shuffle on a packed 64-bit key
  * (repartition + sortWithinPartitions: a pure radix sort) and pairs
  * stream out of a linear scan over the sorted runs; the only buffer is
  * the current bucket's member array, and hot buckets emit only star
  * pairs (destor's CAP capping, reference: src/cap_rewrite.c:44-107 —
  * bounded fan-in, connectivity preserved for connected-components
  * clustering).
  *
  * Posting rows are (key, id, payload) longs. The key's low two bits
  * hold the signature CLASS; a key collision between two buckets of one
  * class merely merges them — candidates only gain members and every
  * caller verifies pairs exactly, so recall and correctness are
  * unaffected.
  */
object PairGen {

  // source bit flags — a pair's srcmask is the bit-OR across every
  // band it was seen in (a pair can be a candidate from several
  // signature families; verify routes on the full set)
  val SrcExact = 1
  val SrcMinhash = 2
  val SrcPhash = 4
  val SrcSubstr = 8

  /** Signature classes — a posting key's low two bits. Phash buckets
    * are hamming-LSH: their members pair only when the payloads
    * (phashes) are within hammingMax bits. */
  val ClassMinhash = 0
  val ClassPhash = 1
  val ClassSubstr = 2
  val ClassExact = 3

  /** Signature class → source bit. */
  private val ClassSrcbit = Array(SrcMinhash, SrcPhash, SrcSubstr, SrcExact)

  /** The posting key of bucket `bucket` of band `band`, class `cls`:
    * Spark's `xxhash64(band, bucket)` (seed 42) with the class in the
    * low two bits, so buckets of different classes never merge. It is
    * the posting's only key — the posting sort, the HAR hot list, the
    * stored index and the cross-batch probe all use it — so a posting
    * row is exactly (key, id, payload), three longs, 32 bytes in an
    * UnsafeRow instead of 48 with band and bucket alongside: postings
    * are the pipeline's one O(data) shuffle, and the Tungsten sort on
    * one long key is a pure radix sort (zero comparator calls). */
  def postingKey(band: Int, bucket: Long, cls: Int): Long =
    (XXH64.hashLong(bucket, XXH64.hashInt(band, 42L)) & -4L) | cls

  /** The class rule as columns, for the join-shaped pair paths (HAR
    * star pairs, the cross-batch probe): the class's source bit, and
    * the hamming gate between two payloads. */
  def srcbitCol(cls: Column): Column =
    ClassSrcbit.indices.tail.foldLeft(when(cls === 0, ClassSrcbit(0)))(
      (c, i) => c.when(cls === i, ClassSrcbit(i)))

  def hammingOk(cls: Column, a: Column, b: Column, hamMax: Int): Column =
    cls =!= ClassPhash || bit_count(a.bitwiseXOR(b)) <= hamMax

  /** Repartition + sort a (key, ...) posting table on its key: the one
    * posting shuffle. */
  def sortByKey(postings: DataFrame): DataFrame =
    postings.repartition(col("key")).sortWithinPartitions("key")

  /** The one run-length loop over InternalRows sorted by the long key
    * in field 0 (raw `queryExecution.toRdd` rows: zero allocation per
    * posting). `member(row, i)` sees the i-th row of the current run as
    * it streams by; `run(key, n)` is called once the run ends, and its
    * output is drained before the next run's first `member` call, so a
    * subclass may reuse its run buffers. Both are methods, not
    * functions, so the primitive arguments are never boxed. */
  private abstract class RunLengths[T](rows: Iterator[InternalRow]) extends Iterator[T] {
    protected def member(row: InternalRow, i: Int): Unit = ()
    protected def run(key: Long, n: Int): Iterator[T]

    private var row: InternalRow = if (rows.hasNext) rows.next() else null
    private var out: Iterator[T] = Iterator.empty

    def hasNext: Boolean = {
      while (!out.hasNext && row != null) {
        val key = row.getLong(0)
        var n = 0
        while (row != null && row.getLong(0) == key) {
          member(row, n)
          n += 1
          row = if (rows.hasNext) rows.next() else null
        }
        out = run(key, n)
      }
      out.hasNext
    }

    def next(): T =
      if (hasNext) out.next() else throw new NoSuchElementException("end of runs")
  }

  /** Run-size histogram of one sorted partition: (size, runs). The
    * obvious `groupBy(key).count` built a ~20M-entry BytesToBytesMap
    * per task whose page allocations serialized every worker on the
    * HeapMemoryAllocator pool lock at 32 threads (task-time sum 9 s →
    * 374 s from 8 to 32 cores); this emits ~hundreds of rows per
    * partition. */
  def runHistogram(rows: Iterator[InternalRow]): Iterator[(Long, Long)] = {
    val h = scala.collection.mutable.LongMap.empty[Long]
    new RunLengths[Nothing](rows) {
      protected def run(key: Long, n: Int): Iterator[Nothing] = {
        h(n) = h.getOrElse(n, 0L) + 1L
        Iterator.empty
      }
    }.foreach(_ => ())
    h.iterator
  }

  /** Runs longer than `cap` as (key, n) — the HAR hot list, keyed on
    * the same packed key the postings are partitioned on. */
  def hotRuns(rows: Iterator[InternalRow], cap: Int): Iterator[(Long, Long)] =
    new RunLengths[(Long, Long)](rows) {
      protected def run(key: Long, n: Int): Iterator[(Long, Long)] =
        if (n > cap) Iterator.single((key, n.toLong)) else Iterator.empty
    }

  /** CAP-capped pair expansion over one partition of (key, id, payload)
    * rows sorted by key: all pairs (id1 < id2) for runs ≤ cap, star
    * pairs to the min member above it (linear fan-in for hot buckets;
    * the star keeps the bucket one connected component, which is all
    * clustering needs). Hamming-class runs reject far pairs AT
    * EMISSION, before they hit the pair-dedup shuffle (bucket key
    * saturation makes random collisions ~n^2/keyspace at scale).
    *
    * Primitive long buffers: a `Dataset[(Long,Long,Long)]` form
    * allocated a Tuple3 + three boxed Longs PER POSTING — ~10^8
    * short-lived objects per scan at 400k images, and the resulting GC
    * pauses stall all workers at once (measured 105-156 GC-seconds per
    * scan stage at 32 threads). The only per-pair allocation left is
    * the bounded output tuple. Over-cap (star) runs use a single min
    * scan instead of a full sort — a hot bucket's member order is
    * irrelevant when only (min → other) pairs are emitted. */
  def expand(rows: Iterator[InternalRow], cap: Int, hamMax: Int): Iterator[(Long, Long, Int)] =
    new Expander(rows, cap, hamMax)

  private final class Expander(rows: Iterator[InternalRow], cap: Int, hamMax: Int)
      extends RunLengths[(Long, Long, Int)](rows) {
    private var m = new Array[Long](64)
    private var p = new Array[Long](64)

    override protected def member(row: InternalRow, i: Int): Unit = {
      if (i == m.length) {
        m = java.util.Arrays.copyOf(m, m.length * 2)
        p = java.util.Arrays.copyOf(p, p.length * 2)
      }
      m(i) = row.getLong(1); p(i) = row.getLong(2)
    }

    protected def run(key: Long, len: Int): Iterator[(Long, Long, Int)] = {
      if (len < 2) return Iterator.empty
      val cls = (key & 3L).toInt
      val sb = ClassSrcbit(cls)
      val ham = cls == ClassPhash
      if (len <= cap) {
        // primitive dual-array insertion sort (len is cap-bounded);
        // canonical id1 < id2 within the bucket
        var i = 1
        while (i < len) {
          val k = m(i); val pl = p(i); var j = i - 1
          while (j >= 0 && m(j) > k) { m(j + 1) = m(j); p(j + 1) = p(j); j -= 1 }
          m(j + 1) = k; p(j + 1) = pl; i += 1
        }
        for (i <- (0 until len).iterator; j <- (i + 1) until len
             if !ham || Sig.hamming(p(i), p(j)) <= hamMax)
          yield (m(i), m(j), sb)
      } else {
        var minI = 0; var i = 1
        while (i < len) { if (m(i) < m(minI)) minI = i; i += 1 }
        val mi = minI
        (0 until len).iterator
          .filter(j => j != mi && (!ham || Sig.hamming(p(mi), p(j)) <= hamMax))
          .map(j => (m(mi), m(j), sb))
      }
    }
  }

  /** Raw candidate pairs (id1, id2, srcbit) of a key-sorted (key, id,
    * payload) table (see [[sortByKey]]). */
  def expandPairs(sorted: DataFrame, cap: Int, hamMax: Int): DataFrame =
    expandPairs(sorted.sparkSession, sorted.queryExecution.toRdd, cap, hamMax)

  /** The same over a sorted table's raw rows, so that several scans can
    * read the output of one posting shuffle. */
  def expandPairs(spark: SparkSession, rows: RDD[InternalRow], cap: Int, hamMax: Int): DataFrame =
    spark.createDataFrame(rows.mapPartitions(expand(_, cap, hamMax))).toDF("id1", "id2", "srcbit")

  /** Generic run-length grouping over a partition iterator whose rows
    * arrive sorted by (band, bucket): for each maximal run of equal
    * keys, `emit(band, bucket, ids, payloads)` is invoked once with the
    * members in arrival (= sorted-id) order. The arrays passed to
    * `emit` are fresh copies, so `emit` may return a lazy iterator.
    * Buffer is bounded by the largest single bucket. (Not a pair
    * expansion: EmbedOps.rerankTopK groups neighbor lists with it.)
    */
  def groupRuns[I, T](
      it: Iterator[(Int, Long, I, Long)],
      emit: (Int, Long, Array[I], Array[Long]) => Iterator[T],
      minRun: Int = 2)(
      implicit ct: scala.reflect.ClassTag[I]): Iterator[T] = {
    val ids = new scala.collection.mutable.ArrayBuffer[I](64)
    val pls = new scala.collection.mutable.ArrayBuffer[Long](64)
    var curBand = 0
    var curBucket = 0L
    var open = false
    def flush(): Iterator[T] =
      if (ids.length < minRun) Iterator.empty
      else emit(curBand, curBucket, ids.toArray, pls.toArray)
    val body = it.flatMap { case (band, bucket, id, payload) =>
      if (!open || band != curBand || bucket != curBucket) {
        val out = if (open) flush() else Iterator.empty
        open = true
        curBand = band
        curBucket = bucket
        ids.clear(); pls.clear()
        ids += id; pls += payload
        out
      } else {
        ids += id; pls += payload
        Iterator.empty
      }
    }
    // trailing flush once the sorted stream is exhausted
    body ++ new Iterator[T] {
      private var tail: Iterator[T] = null
      private def t: Iterator[T] = { if (tail == null) { tail = if (open) flush() else Iterator.empty }; tail }
      def hasNext: Boolean = t.hasNext
      def next(): T = t.next()
    }
  }

  /** Candidate pairs from a Long-id posting table with columns
    * (band, bucket, doc_id) — the doc/embedding-side entry point: the
    * shared expander over `xxhash64(band, bucket)` (class bits cleared:
    * one class, no hamming gate), then cross-band pair dedup. `cap` =
    * all-pairs threshold (CAP star-pairing above); pass Int.MaxValue
    * for exact all-pairs semantics (oracled queries).
    */
  def bucketPairsLong(postings: DataFrame, cap: Int): DataFrame =
    expandPairs(
      sortByKey(postings.select(
        xxhash64(col("band"), col("bucket")).bitwiseAND(lit(-4L)).as("key"),
        col("doc_id").cast("long")))
        // payload added after the sort: it never rides the shuffle
        .withColumn("payload", lit(0L)),
      cap, 0)
      .select("id1", "id2")
      .distinct()
}
