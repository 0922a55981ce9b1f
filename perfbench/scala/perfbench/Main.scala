package perfbench

import graft.core.Sessions
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** One timed call into the program. `ok` turns false when the call
  * throws or its output fails a check. */
final class Op(val kind: String, val seconds: Double, val startMs: Long, val endMs: Long) {
  var ok = true
}

/** One pass over a workload's operation sequence: the timed calls, the
  * quality figures of its output, and (traced reps) the layer spans. */
final class Rep(val index: Int, val tracer: Option[Tracer]) {
  val ops = ArrayBuffer.empty[Op]
  /** The pass stopped on an exception: its later calls never ran. */
  var threw = false
  var dedupRatio = 0.0
  private var plantedTotal = 0L
  private var plantedFound = 0L
  /** Traced reps: rep-level per-layer counts that no single span owns. */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Time one call. In a traced rep the call is also a span of `layer`;
    * `layer` None means the body opens its own layer spans. */
  def op[T](kind: String, layer: Option[String])(body: Option[Span] => T): T = {
    val t0 = System.nanoTime()
    val m0 = System.currentTimeMillis()
    def record(ok: Boolean): Unit = {
      val o = new Op(kind, (System.nanoTime() - t0) / 1e9, m0, System.currentTimeMillis())
      o.ok = ok
      ops += o
    }
    try {
      val out = (tracer, layer) match {
        case (Some(t), Some(l)) => t.span(l)(s => body(Some(s)))
        case _ => body(None)
      }
      record(ok = true)
      out
    } catch {
      case e: Throwable => record(ok = false); throw e
    }
  }

  /** A failed check fails the most recent call, whose output it checks. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      ops.last.ok = false
      Console.err.println(s"perfbench: CHECK FAILED (rep $index, ${ops.last.kind}): $what")
    }

  /** The pass stopped on an exception. One thrown inside a timed call
    * has already failed that call; one thrown by a check fails the call
    * it checks, the most recent one (or counts as a failed call of its
    * own when none ran yet). */
  def abort(e: Throwable): Unit = {
    threw = true
    if (ops.isEmpty) ops += new Op("pass_start", 0.0, 0L, 0L)
    ops.last.ok = false
    Console.err.println(s"perfbench: pass $index stopped after ${ops.last.kind}: $e")
  }

  /** A pass counts only when it ran to its end and every call passed. */
  def complete: Boolean = !threw && ops.nonEmpty && ops.forall(_.ok)

  /** Count planted duplicates and how many of them the output found. */
  def planted(total: Long, found: Long): Unit = { plantedTotal += total; plantedFound += found }
  def plantedRecall: Double = if (plantedTotal == 0) 1.0 else plantedFound.toDouble / plantedTotal

  def wallS: Double = ops.map(_.seconds).sum
  def summary: String = ops.map(o => f"${o.kind} ${o.seconds}%.2f").mkString(", ")
  def backups: Seq[Double] = ops.filter(_.kind == "backup").map(_.seconds).toSeq
}

/** A workload: its inputs and references are built by [[setup]] from
  * the seed; [[rep]] runs the timed operation sequence once and checks
  * each output outside the timed calls. */
trait Workload {
  def items: Long
  def inputBytes: Long
  /** Generate the inputs from the seed (repeated; see Main.SetupReps). */
  def setup(): Unit
  /** Compute the reference results the checks compare against (once). */
  def references(): Unit = ()
  def rep(r: Rep): Unit
  /** Untimed warm-up before the measured passes. */
  def warmUp(): Unit
  /** Checks run once per process (name, passed); each counts as an operation. */
  def gates(): Seq[(String, Boolean)] = Nil
  /** Outputs of the last rep that must repeat exactly (self-test). */
  def exact: Seq[(String, String)]
}

object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
      trace: Boolean = false, work: String = "", scale: String = "full",
      spansOut: Option[String] = None, exactOut: Option[String] = None)

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--scale" :: v :: rest => parse(rest, a.copy(scale = v))
    case "--spans-out" :: v :: rest => parse(rest, a.copy(spansOut = Some(v)))
    case "--exact-out" :: v :: rest => parse(rest, a.copy(exactOut = Some(v)))
    case Nil => a
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** Setup is repeated this many times per process and its median kept. */
  private val SetupReps = 3

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Heap still in use after the measured passes and a full collection:
    * what the workload keeps alive. (The peak RSS of a fixed-size heap
    * follows GC timing and spread ±25% between identical runs.) */
  private def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    // Spark's ContextCleaner drops the blocks of unreferenced datasets
    // asynchronously after a GC: collect until the heap stops shrinking
    var prev = Long.MaxValue
    var used = collect()
    var rounds = 0
    while (used < prev - prev / 100 && rounds < 20) {
      Thread.sleep(250)
      prev = used
      used = collect()
      rounds += 1
    }
    used / 1e6
  }

  /** Steal ticks of all CPUs (time the host ran something else). */
  private def stealTicks(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+")(8).toLong
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv.toList)
    require(a.work.nonEmpty, "--work <dir> is required")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark: SparkSession = Sessions.local(cores, 4 * cores, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl: Workload = a.workload match {
      case "oneshot" => new OneShot(spark, a.work, a.seed, Sizes.oneshotGroups(a.scale))
      case "store_lifecycle" => new StoreLifecycle(spark, a.work, a.seed,
        Sizes.lifecycleGroups(a.scale), Sizes.chunkDocs(a.scale))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    var repIdx = 0
    def runRep(tracer: Option[Tracer]): Rep = {
      val r = new Rep(repIdx, tracer)
      tracer.foreach(_.rep = repIdx)
      repIdx += 1
      try {
        wl.rep(r)
        Console.err.println(s"perfbench: pass ${r.index}${if (tracer.isDefined) " (traced)" else ""} ${r.summary}")
      } catch {
        case e: Throwable =>
          r.abort(e)
          e.printStackTrace()
      }
      r
    }

    // set-up: session start, input generation (repeated, median kept),
    // the reference results, and the warm-up (a traced run reports no
    // setup_s, so it generates its inputs once)
    val setups = (1 to (if (a.trace) 1 else SetupReps)).map { _ =>
      val s0 = System.nanoTime()
      wl.setup()
      val s = (System.nanoTime() - s0) / 1e9
      Console.err.println(f"perfbench: session $sessionS%.2f s, inputs $s%.2f s")
      s
    }
    val r0 = System.nanoTime()
    wl.references()
    val refS = (System.nanoTime() - r0) / 1e9
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(setups) + refS + warmS
    Console.err.println(f"perfbench: references $refS%.2f s, warm-up $warmS%.2f s, setup_s $setupS%.2f")

    // measured passes: untraced, or alternating untraced/traced
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val plain = ArrayBuffer.empty[Rep]
    val traced = ArrayBuffer.empty[Rep]
    val m0 = System.nanoTime()
    val steal0 = stealTicks()
    def elapsed = (System.nanoTime() - m0) / 1e9
    do {
      plain += runRep(None)
      if (tracer.isDefined) traced += runRep(tracer)
    } while (elapsed < a.seconds)
    // not a metric: a run with many steal ticks was slowed by the host
    Console.err.println(f"perfbench: measured $elapsed%.2f s, ${stealTicks() - steal0} steal ticks")
    val gates = wl.gates()

    val measured = (plain ++ traced).toSeq
    val attempted = measured.map(_.ops.length).sum + gates.length
    val failed = measured.map(_.ops.count(!_.ok)).sum + gates.count(!_._2)
    gates.filterNot(_._2).foreach(g => Console.err.println(s"perfbench: GATE FAILED: ${g._1}"))
    val good = plain.filter(_.complete).toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val wall = if (good.isEmpty) 0.0 else median(good.map(_.wallS))
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", wall, "s"),
          ("items_per_s", if (wall > 0) wl.items / wall else 0.0, "1/s"),
          ("mb_per_s", if (wall > 0) wl.inputBytes / 1e6 / wall else 0.0, "MB/s"),
          ("backup_p50_s", if (good.isEmpty) 0.0 else median(good.flatMap(_.backups)), "s"),
          ("backup_last_s", if (good.isEmpty) 0.0 else median(good.map(_.backups.last)), "s"),
          ("dedup_ratio", if (good.isEmpty) 0.0 else median(good.map(_.dedupRatio)), "ratio"),
          ("planted_recall", if (good.isEmpty) 0.0 else median(good.map(_.plantedRecall)), "ratio"),
          ("live_heap_mb", liveHeapMb(), "MB"),
          ("ok_op_share", if (attempted == 0) 0.0 else (attempted - failed).toDouble / attempted, "ratio"))
      } else {
        val t = tracer.get
        val tracedGood = traced.filter(_.complete).toSeq
        val perRep = tracedGood.map { r =>
          val ss = t.spansOf(r.index)
          val m = Tracer.layerMetrics(ss) ++ r.counts
          val drv = r.ops.map(o => t.driverSeconds(ss, o.startMs, o.endMs)).sum
          m + ("driver.s" -> drv)
        }
        val overhead =
          if (tracedGood.isEmpty || good.isEmpty) 0.0
          else median(tracedGood.map(_.wallS)) - median(good.map(_.wallS))
        Layers.metrics.map { case (name, unit) =>
          val v =
            if (name == "tracing_overhead_s") overhead
            else {
              val xs = perRep.flatMap(_.get(name))
              if (xs.isEmpty) 0.0 else median(xs)
            }
          (name, v, unit)
        }
      }

    a.spansOut.foreach(p => tracer.foreach(t => write(p, t.toJson)))
    // exact counters of the first complete traced rep, for the self-test
    for (p <- a.exactOut; t <- tracer; r <- traced.find(_.complete)) {
      val layer = Tracer.layerMetrics(t.spansOf(r.index)).toSeq
        .filter { case (k, _) => Layers.exactCounters.exists(c => k.endsWith("." + c)) }
        .map { case (k, v) => k -> Json.num(v) }
      val fields = (layer ++ wl.exact ++ Seq("untagged_jobs" -> t.untaggedJobs.toString)).sorted
      write(p, fields.map { case (k, v) => "\"" + k + "\": \"" + v + "\"" }.mkString("{", ", ", "}\n"))
    }
    tracer.foreach(_.detach())

    val correct = failed == 0 && good.nonEmpty
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    spark.stop()
    Console.err.println(f"perfbench: JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")
    println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, "failed": $failed, "metrics": {$body}}""")
    sys.exit(if (correct) 0 else 1)
  }

  private def write(path: String, text: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, text)
  }
}
