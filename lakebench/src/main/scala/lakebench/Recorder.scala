package lakebench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Times every call the benchmark makes into the program, one client
  * thread in a closed loop: each call starts when the previous one has
  * returned.
  *
  * Pass 0 of a run is its warm-up: its results are checked like every
  * other pass, but it pays for class loading and JIT compilation of the
  * workload's code paths, so the metrics leave it out. The measured
  * passes follow it.
  *
  * In a traced run, the passes after the warm-up run with the [[Probe]]
  * registered and record spans (name, start, end, parent, run id)
  * around each call, with the Spark work counted inside it, and count
  * the `_SUCCESS` files each pass leaves under `markerRoot`. Spans stay
  * in memory until [[result]]. */
final class Recorder(spark: SparkSession, traceRun: Boolean, runId: String,
    markerRoot: java.io.File, deadlineMs: Long) {
  private val probe = new Probe(spark)
  private val origin = System.nanoTime()
  val calls = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var pass = -1
  private var traced = false
  private var passSpan: Option[String] = None

  private def ms(ns: Long): Double = ns / 1e6

  private def span(name: String, parent: Option[String], start: Long, end: Long,
      id: String = s"$runId-${spans.size}"): String = {
    spans += Map("id" -> id, "name" -> name, "parent" -> parent.orNull,
      "start_ms" -> ms(start - origin), "end_ms" -> ms(end - origin), "run" -> runId)
    id
  }

  /** Runs `body(pass)` once to warm up, then until `seconds` have passed
    * since the first measured pass started, at least once. Past the
    * first measured pass, no pass starts that would end after
    * `deadlineMs` (epoch milliseconds) if it took as long as the last.
    * `prepare(pass)` runs before each pass, outside its time. */
  def loop(seconds: Double, prepare: Int => Unit = _ => ())(body: Int => Unit): Unit = {
    var i = 0
    var lastMs = 0L
    def next(): Unit = {
      prepare(i)
      val t0 = System.currentTimeMillis()
      onePass(i)(body(i))
      lastMs = System.currentTimeMillis() - t0
      i += 1
    }
    next()
    val start = System.nanoTime()
    next()
    while (System.nanoTime() - start < seconds * 1e9 &&
        System.currentTimeMillis() + lastMs < deadlineMs) next()
  }

  /** Paths of the `_SUCCESS` files under `dir`. */
  private def successMarkers(dir: java.io.File): Set[String] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) successMarkers(f)
      else if (f.getName == "_SUCCESS") Set(f.getPath) else Set.empty[String]
    }.toSet

  private def onePass(i: Int)(body: => Unit): Unit = {
    pass = i
    traced = traceRun && i >= 1
    val markers = if (traced) successMarkers(markerRoot) else Set.empty[String]
    if (traced) probe.start()
    val before = if (traced) probe.snapshot() else Map.empty[String, Long]
    val t0 = System.nanoTime()
    passSpan = if (traced) Some(s"$runId-pass-$i") else None
    body
    val t1 = System.nanoTime()
    val rec = mutable.Map[String, Any]("pass" -> i, "traced" -> traced,
      "wall_s" -> (t1 - t0) / 1e9)
    if (traced) {
      rec("counters") = Probe.delta(probe.snapshot(), before)
      probe.stop()
      span("pass", None, t0, t1, id = passSpan.get)
      // `_SUCCESS` files this pass left behind, wherever it wrote them
      rec("success_markers") = (successMarkers(markerRoot) -- markers).size
    }
    passes += rec.toMap
    traced = false
    passSpan = None
  }

  /** Times one call into `layer`. A call that throws is recorded as
    * failed and yields None; the workload goes on. */
  def call[A](layer: String, op: String, kind: String)(body: => A): Option[A] = {
    val before = if (traced) probe.snapshot() else Map.empty[String, Long]
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val rec = mutable.Map[String, Any]("pass" -> pass, "traced" -> traced,
      "layer" -> layer, "op" -> op, "kind" -> kind, "ms" -> ms(t1 - t0),
      "ok" -> out.isRight)
    out.left.foreach { e =>
      rec("error") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    if (traced) {
      rec("counters") = Probe.delta(probe.snapshot(), before)
      rec("span") = span(s"$layer.$op", passSpan, t0, t1)
    }
    calls += rec
    out.toOption
  }

  /** Attaches observed values to the last call, for the checks. */
  def observe(kv: (String, Any)*): Unit = calls.last ++= kv

  def result: Map[String, Any] =
    Map("passes" -> passes.toSeq, "calls" -> calls.map(_.toMap).toSeq,
      "spans" -> spans.toSeq)
}
