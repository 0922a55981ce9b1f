package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Task counters of one executed stage. */
final class StageAcc(val stageId: Int) {
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskDurationsMs = ArrayBuffer.empty[Long]
}

/** A Spark job: the child span of the layer call that started it. */
final class JobSpan(val jobId: Int, val startMs: Long) {
  var endMs: Long = startMs
}

/** One call into a layer's public entry point. `counts` holds the
  * layer-specific counts measured at the call (rows out, bytes written). */
final class Span(val id: Int, val layer: String, val rep: Int) {
  val startMs: Long = System.currentTimeMillis()
  private val startNs = System.nanoTime()
  var endMs: Long = startMs
  var wallS: Double = 0.0
  val jobs = ArrayBuffer.empty[JobSpan]
  val stages = ArrayBuffer.empty[StageAcc]
  val counts = mutable.LinkedHashMap.empty[String, Double]

  private[perfbench] def end(): Unit = {
    wallS = (System.nanoTime() - startNs) / 1e9
    endMs = System.currentTimeMillis()
  }
}

/** In-memory span recorder. Every layer call runs inside [[span]], which
  * tags the calling thread with the span id through
  * `sc.setLocalProperty`; Spark copies local properties into each job's
  * and stage's properties, so the listener attributes jobs, stages and
  * task metrics to the call that caused them. Attached from outside the
  * program; nothing in the program knows it is traced. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Key

  private val spans = ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Int, Span]
  private val stageOf = mutable.HashMap.empty[Int, StageAcc]
  private val jobOf = mutable.HashMap.empty[Int, JobSpan]
  /** Start times of jobs that carried no span tag. */
  private val untagged = ArrayBuffer.empty[Long]
  var rep: Int = 0

  sc.addSparkListener(this)

  def detach(): Unit = sc.removeSparkListener(this)

  def span[T](layer: String)(body: Span => T): T = {
    val s = synchronized {
      val s = new Span(spans.length, layer, rep)
      spans += s
      byId(s.id) = s
      s
    }
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    try body(s)
    finally {
      s.end()
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.setLocalProperty(Key, prev)
    }
  }

  private def owner(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).flatMap(id => byId.get(id.toInt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    owner(e.properties) match {
      case Some(s) =>
        val j = new JobSpan(e.jobId, e.time)
        s.jobs += j
        jobOf(e.jobId) = j
      case None => untagged += e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOf.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    owner(e.properties).foreach { s =>
      if (!stageOf.contains(e.stageInfo.stageId)) {
        val a = new StageAcc(e.stageInfo.stageId)
        s.stages += a
        stageOf(a.stageId) = a
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOf.get(e.stageId).foreach { acc =>
      acc.taskDurationsMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        acc.taskMs += m.executorRunTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def spansOf(rep: Int): Seq[Span] = synchronized(spans.filter(_.rep == rep).toSeq)

  /** Untagged jobs that started while a span was open: work a layer
    * caused but the trace did not attribute to it (none expected). */
  def untaggedJobs: Int = synchronized {
    untagged.count(t => spans.exists(s => s.startMs <= t && t <= s.endMs))
  }

  /** Wall seconds inside `[fromMs, toMs]` during which no Spark job of
    * the given spans was running: the driver's own time. */
  def driverSeconds(ss: Seq[Span], fromMs: Long, toMs: Long): Double = {
    val iv = ss.flatMap(_.jobs).map(j => (j.startMs max fromMs, j.endMs min toMs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    covered += curB - curA
    ((toMs - fromMs) - covered).max(0L) / 1e3
  }

  /** All spans, jobs as child spans, as one JSON document. */
  def toJson: String = synchronized {
    val sb = new StringBuilder("[\n")
    var first = true
    def item(s: String): Unit = { if (!first) sb.append(",\n"); first = false; sb.append(s) }
    for (s <- spans) {
      val counts = s.counts.map { case (k, v) => s"\"$k\": ${Json.num(v)}" }.mkString(", ")
      item(s"""{"id": "s${s.id}", "name": "${s.layer}", "parent": null, """ +
        s""""rep": ${s.rep}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "wall_s": ${Json.num(s.wallS)}, """ +
        s""""stages": ${s.stages.length}, "counts": {$counts}}""")
      for (j <- s.jobs)
        item(s"""{"id": "j${j.jobId}", "name": "job", "parent": "s${s.id}", "rep": ${s.rep}, """ +
          s""""start_ms": ${j.startMs}, "end_ms": ${j.endMs}}""")
    }
    sb.append("\n]\n").toString
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Per-layer metrics named `<layer>.<counter>` over one rep's spans;
    * span counts carry their full names and are summed over all spans. */
  def layerMetrics(ss: Seq[Span]): Map[String, Double] =
    ss.flatMap(_.counts).groupMapReduce(_._1)(_._2)(_ + _) ++
    ss.groupBy(_.layer).flatMap { case (layer, group) =>
      val stages = group.flatMap(_.stages)
      val largest = stages.sortBy(st => (-st.taskMs, st.stageId)).headOption
      val skew = largest.filter(_.taskDurationsMs.nonEmpty).map { st =>
        val d = st.taskDurationsMs.sorted
        d.last.toDouble / math.max(1L, d(d.length / 2))
      }.getOrElse(0.0)
      Map(
        s"$layer.wall_s" -> group.map(_.wallS).sum,
        s"$layer.jobs" -> group.map(_.jobs.length).sum.toDouble,
        s"$layer.stages" -> stages.length.toDouble,
        s"$layer.task_s" -> stages.map(_.taskMs).sum / 1e3,
        s"$layer.gc_s" -> stages.map(_.gcMs).sum / 1e3,
        s"$layer.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
        s"$layer.shuffle_write_records" -> stages.map(_.shuffleWriteRecords).sum.toDouble,
        s"$layer.shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum.toDouble,
        s"$layer.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
        s"$layer.task_skew" -> skew)
    }
}

object Json {
  /** Full-precision JSON number; non-finite values have no JSON form. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
}
