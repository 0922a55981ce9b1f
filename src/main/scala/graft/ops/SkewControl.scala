package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adaptive skew control over LSH bucket postings — the Spark recast of
  * destor's two data-driven rewrite controllers:
  *
  *  - CBR adaptive threshold (reference: src/cbr_rewrite.c:27-55): destor
  *    keeps a 10k-bin utility histogram and re-derives the rewrite
  *    threshold so only the configured fraction of chunks is rewritten.
  *    Here the "utility" is the bucket SIZE distribution: the effective
  *    all-pairs cap is the `skewQuantile`-quantile of bucket sizes,
  *    floored at the static `bucketCap` — so when a corpus's bucket-size
  *    distribution shifts up (boilerplate captions, empty-ish images),
  *    the cap rises with it and only the top (1-q) tail gets CAP
  *    star-pairing, instead of the static cap silently star-pairing
  *    most of the corpus.
  *
  *  - HAR cross-run hot-bucket feedback (reference: src/har_rewrite.c:
  *    17-57 init_har reads the PREVIOUS backup's sparse-container list;
  *    :96-101 writes this backup's; :173-219 rewrites their chunks
  *    immediately, without waiting for this run's monitor): a run
  *    records its over-cap runs as (key, n) on the packed posting key
  *    (PairGen.hotRuns) in its IngestRecord — the `bvN.sparse` analog,
  *    har_rewrite.c:28-54; the next run routes postings of inherited keys
  *    through a broadcast min-join star-pairing path that never enters
  *    the big posting sort — the known-skewed keys are split out BEFORE
  *    the shuffle instead of being discovered inside it.
  *
  * Both live in the one candidate stage, DedupPipeline.candidatesSkewAware,
  * that every run goes through: a one-shot run (DedupPipeline.candidates)
  * derives its cap from its own bucket sizes exactly as an ingest does,
  * but has no previous list to inherit and does not read its own.
  *
  * Cost model: the pipeline takes bucket sizes as the run lengths of
  * its one posting sort (PairGen.runHistogram, per partition, merged on
  * the driver) and walks their histogram with `histogramQuantile`. `bucketSizes`/`adaptiveCap` are
  * the same quantile from a plain map-side-combined aggregation over
  * the posting table (one row per DISTINCT bucket — at 10^12 rows
  * ~b·n/avg_bucket rows of 3 small columns): the reference SkewSpec
  * checks the pipeline's cap against.
  */
object SkewControl {

  /** Bucket-size table (key, n) from a posting table — ONE
    * partial-aggregated shuffle, tiny result. */
  def bucketSizes(postings: DataFrame): DataFrame =
    postings.groupBy("key").agg(count(lit(1)).as("n"))

  /** CBR adaptive cap: the `skewQuantile`-quantile of bucket sizes,
    * never below `floor` (the static bucketCap). Computed EXACTLY via a
    * size histogram — `groupBy(n).count` collapses a billion buckets to
    * a few hundred distinct sizes (destor's own mechanism is a 10k-bin
    * histogram, src/cbr_rewrite.c:27-55), so the driver-side quantile
    * walk is exact and costs one tiny aggregation instead of an
    * approx_percentile sketch merge (measured: the sketch over ~1.4M
    * size values dominated the pass at 20k images). */
  def adaptiveCap(sizes: DataFrame, skewQuantile: Double, floor: Int): Int =
    math.max(floor, histogramQuantile(
      sizes.groupBy("n").count().collect()
        .map(r => (r.getLong(0), r.getLong(1))), skewQuantile))

  /** Exact quantile from a (value, count) histogram: the smallest value
    * whose cumulative count reaches q * total (0 on an empty histogram). */
  def histogramQuantile(hist: Array[(Long, Long)], q: Double): Int = {
    val sorted = hist.sortBy(_._1)
    val total = sorted.map(_._2).sum
    if (total == 0L) return 0
    val target = math.max(1L, math.ceil(q * total).toLong)
    var cum = 0L
    var i = 0
    while (i < sorted.length) {
      cum += sorted(i)._2
      if (cum >= target) return math.min(sorted(i)._1, Int.MaxValue.toLong).toInt
      i += 1
    }
    math.min(sorted.last._1, Int.MaxValue.toLong).toInt
  }
}
