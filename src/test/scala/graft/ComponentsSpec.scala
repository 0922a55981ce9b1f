package graft

import graft.cluster.ConnectedComponents
import graft.synth.Oracle
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected components' two plans — the driver union-find (graphs at
  * or below the broadcast gate) and the distributed loop (forced with
  * `maxBroadcastLabels = 0`) — against each other and a union-find
  * oracle, plus what the driver path costs in jobs and shuffle. */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "components-spec")

  /** (vertices, edges) of a seeded random graph over 20–79 distinct ids
    * drawn from 1..1000 (so "10" vs "2" orders differ as strings):
    * random edges plus self-loops, duplicate and reversed edges, a
    * 2-star whose center is the largest id, and vertices no edge
    * touches. */
  def randomGraph(seed: Int): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((1L to 1000L).toVector).take(20 + rnd.nextInt(60))
    val pick = () => ids(rnd.nextInt(ids.length))
    val random = Seq.fill(ids.length / 2)((pick(), pick()))
    val loops = Seq.fill(3) { val v = pick(); (v, v) }
    val dups = random.take(4) ++ random.take(4).map(_.swap)
    val sorted = ids.sorted
    val star = Seq((sorted.last, sorted(0)), (sorted.last, sorted(1)))
    (ids, rnd.shuffle(random ++ loops ++ dups ++ star))
  }

  def rows(df: DataFrame): Seq[(Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1))).toSeq.sortBy(_._1.toString)

  test("connected components: driver path == loop == union-find oracle (long and string ids)") {
    import spark.implicits._
    for (seed <- 1 to 8) {
      val (ids, edges) = randomGraph(seed)
      // long ids: numeric min labels
      val vl = ids.toDF("id")
      val el = edges.toDF("src", "dst")
      val driver = rows(ConnectedComponents.run(spark, vl, el))
      val hinted = rows(ConnectedComponents.run(spark, vl, el, edgeCountHint = Some(edges.size.toLong)))
      val loop = rows(ConnectedComponents.run(spark, vl, el, maxBroadcastLabels = 0L))
      val want = Oracle.clusters(ids, edges.toSet).toSeq.map { case (a, b) => (a: Any, b: Any) }
        .sortBy(_._1.toString)
      assert(driver == loop, s"seed $seed long: driver != loop")
      assert(hinted == loop, s"seed $seed long: hinted driver != loop")
      assert(driver == want, s"seed $seed long: driver != oracle")
      // string ids: lexicographic min labels ("10" < "2")
      val vs = ids.map(_.toString).toDF("id")
      val es = edges.map { case (a, b) => (a.toString, b.toString) }
      val esDf = es.toDF("src", "dst")
      val sDriver = rows(ConnectedComponents.run(spark, vs, esDf))
      val sLoop = rows(ConnectedComponents.run(spark, vs, esDf, maxBroadcastLabels = 0L))
      val sWant = Oracle.clusters(ids.map(_.toString), es.toSet).toSeq
        .map { case (a, b) => (a: Any, b: Any) }.sortBy(_._1.toString)
      assert(sDriver == sLoop, s"seed $seed string: driver != loop")
      assert(sDriver == sWant, s"seed $seed string: driver != oracle")
    }
    // the order case itself, on both plans
    for (gate <- Seq(ConnectedComponents.MaxBroadcastLabels, 0L)) {
      val l = ConnectedComponents.run(spark, Seq(2L, 10L).toDF("id"),
        Seq((10L, 2L)).toDF("src", "dst"), maxBroadcastLabels = gate)
      assert(l.schema("component").dataType == org.apache.spark.sql.types.LongType)
      assert(rows(l) == Seq((10L, 2L), (2L, 2L)), s"gate $gate long")
      val s = ConnectedComponents.run(spark, Seq("2", "10").toDF("id"),
        Seq(("2", "10")).toDF("src", "dst"), maxBroadcastLabels = gate)
      assert(rows(s) == Seq(("10", "10"), ("2", "10")), s"gate $gate string")
    }
  }

  test("connected components: a null edge endpoint fails with a named error on both plans") {
    import spark.implicits._
    val vertices = Seq("a", "b").toDF("id")
    val edges = Seq(("a", null: String)).toDF("src", "dst")
    for (gate <- Seq(ConnectedComponents.MaxBroadcastLabels, 0L)) {
      val e = intercept[Exception](
        ConnectedComponents.run(spark, vertices, edges, maxBroadcastLabels = gate).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("null vertex id")), s"gate $gate: $e")
    }
  }

  test("connected components: a 200,000-node path solves on the driver without recursion") {
    // the path's edges arrive from the far end down, so min-root unions
    // build the parent chain n -> n-1 -> ... -> 1; the closing reversed
    // edge then asks find(n), which walks the whole chain — a recursive
    // find would overflow the stack here
    val n = 200000L
    val vertices = spark.range(1, n + 1).toDF("id")
    val edges = spark.range(0, n - 1, 1, 1)
      .select((lit(n - 1) - col("id")).as("src"), (lit(n) - col("id")).as("dst"))
      .union(spark.range(1).select(lit(n).as("src"), lit(n - 1).as("dst")))
    val out = ConnectedComponents.run(spark, vertices, edges)
      .agg(count(lit(1)), min(col("component")), max(col("component"))).head()
    assert(out.getLong(0) == n && out.getLong(1) == 1L && out.getLong(2) == 1L, s"got $out")
  }

  /** Jobs started (with their stages' call sites), and shuffle records
    * written, while `body` runs. */
  def costOf(body: => Unit): (Seq[String], Long) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(js.stageInfos.map(_.details).mkString("\n"))
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          records.addAndGet(te.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener events are async: poll until the counts are quiescent
      var last = (-1, -1L)
      var spins = 0
      while ((jobs.size, records.get) != last && spins < 30) {
        last = (jobs.size, records.get); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (jobs.asScala.toSeq, records.get)
  }

  test("connected components: a hinted small graph costs 3 jobs, no shuffle, no loop job") {
    import spark.implicits._
    val vertices = (1L to 40L).toDF("id")
    val pairs = Seq((30L, 4L), (4L, 9L), (12L, 13L), (40L, 12L), (7L, 7L))
    val edges = pairs.toDF("src", "dst")
    val fromLoop = (js: Seq[String]) => js.count(_.contains("ConnectedComponents$.loop"))
    var got = Map.empty[Long, Long]
    val (jobs, records) = costOf {
      got = ConnectedComponents.run(spark, vertices, edges, edgeCountHint = Some(pairs.size.toLong))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got(30L) == 4L && got(9L) == 4L && got(40L) == 12L && got(7L) == 7L && got(1L) == 1L)
    // the edge collect, the stitch's broadcast build, the caller's collect
    assert(jobs.size == 3, s"expected 3 jobs, saw ${jobs.size}")
    assert(fromLoop(jobs) == 0, "the driver path started a loop job")
    assert(records == 0L, s"the driver path wrote $records shuffle records")
    // control: the same graph forced onto the loop is seen by both probes
    val (loopJobs, loopRecords) = costOf {
      ConnectedComponents.run(spark, vertices, edges, edgeCountHint = Some(pairs.size.toLong),
        maxBroadcastLabels = 0L).collect()
    }
    assert(fromLoop(loopJobs) > 0 && loopRecords > 0L)
  }
}
