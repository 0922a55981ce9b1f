package graft

import graft.core.DedupConfig
import graft.ops.PairGen
import graft.streaming.StreamingOps
import graft.text.TextOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Stateful streaming LSH candidate generation
  * (StreamingOps.streamingCandidatePairs): agreement with the batch
  * pair generator when the state FIFO is uncapped, and destor-style
  * bounded fan-in when it is capped. */
class StreamingPairsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "stream-pairs-spec")

  // a small corpus with planted near-dups: shared sentences produce
  // shared shingle minima, hence shared LSH buckets
  private val base = Seq(
    "the quick brown fox jumps over the lazy dog near the old river bank",
    "pack my box with five dozen liquor jugs before the market closes today",
    "a completely different sentence about distributed query engines and shuffles")
  private def corpus: Seq[(Long, String)] =
    (0L until 30L).map { i =>
      val b = base((i % 3).toInt)
      val tweak = if (i % 5 == 0) b + " extra token " + i else b
      (i, tweak)
    }

  test("uncapped streaming pairs == batch bucket pairs (set equality)") {
    import spark.implicits._
    val cfg = DedupConfig.default.copy(indexValueLength = 1 << 28)
    val staticDf = corpus.toDF("doc_id", "text")
    val want = PairGen.bucketPairsLong(TextOps.minhashBands(staticDf, cfg), Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val streamed = StreamingOps.streamingCandidatePairs(ms.toDS().toDF("doc_id", "text"), cfg)
    val q = streamed.writeStream.format("memory").queryName("spairs").outputMode("append").start()
    val (a, b) = corpus.partition(_._1 % 2 == 0)
    ms.addData(a)
    q.processAllAvailable()
    ms.addData(b)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("spairs").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("capped state FIFO bounds fan-in like destor's index_value_length") {
    import spark.implicits._
    val cfg = DedupConfig.default.copy(indexValueLength = 2)
    val text = base(0)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val streamed = StreamingOps.streamingCandidatePairs(ms.toDS().toDF("doc_id", "text"), cfg)
    val q = streamed.writeStream.format("memory").queryName("spairs_cap").outputMode("append").start()
    // one doc per micro-batch: state order is the ingest order exactly
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      ms.addData(Seq(id -> text))
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("spairs_cap").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical text -> identical buckets in every band; with cap 2 the
    // FIFO holds the two newest ids, so 4 pairs with 1 and 2 evicted in
    // turn: (1,4) must NOT be a candidate
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)), s"got $got")
  }
}
