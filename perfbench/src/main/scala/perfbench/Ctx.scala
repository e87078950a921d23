package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** A correctness gate that did not hold. */
final class GateFailure(msg: String) extends RuntimeException(msg)

/** One reported figure: name, unit, value and the number of samples behind it. */
final case class Figure(name: String, unit: String, value: Double, n: Int)

/** A workload of the benchmark. The runner calls [[setup]] (untimed, part of
  * `setup_s`), then [[step]] until the run's seconds are spent or it returns
  * false (the closed loop: one client, the next op only after the last one
  * returned), then [[verify]] (end-of-run gates) and always [[close]]. */
trait Workload {
  def setup(): Unit
  /** Runs the next closed-loop op(s); false when the workload has no more. */
  def step(): Boolean
  def verify(): Unit
  def close(): Unit
  /** The benchmark's end-to-end metrics, as this workload defines them. */
  def endToEnd: Seq[Figure]
  /** The workload's own named metrics, printed in the human-readable report. */
  def report: Seq[Figure]
  /** The span names this workload records in traced runs. */
  def spans: Seq[String]
}

/** State of one run: the session, the seed, the clock, the samples, the
  * attempted and failed operation counts and the store roots to delete. */
final class Ctx(val spark: SparkSession, val workDir: String, val seed: Long,
    val seconds: Double, val tracer: Option[Tracer], launchEpochMs: Long) {

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  // latencies of alternating ops, per (kind, traced)
  private val overhead = mutable.LinkedHashMap.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
  private val alternation = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val rootDirs = mutable.ArrayBuffer.empty[String]
  private var timedStartNs = -1L
  private var opIdx = 0

  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  var setupS: Double = Double.NaN

  /** Ends set-up: `setup_s` runs from the JVM launch to this call. */
  def markTimedStart(): Unit = if (timedStartNs < 0) {
    setupS = (System.currentTimeMillis() - launchEpochMs) / 1000.0
    timedStartNs = System.nanoTime()
  }

  /** Progress line on stderr, stamped with seconds since the JVM launch. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - launchEpochMs) / 1000.0}%8.2f s  $msg")

  def deadlinePassed: Boolean = System.nanoTime() - timedStartNs >= seconds * 1e9

  /** In a traced run, true while some alternating op kind has not yet run
    * traced and untraced after its first op, so the tracing overhead can be
    * measured. */
  def overheadPending: Boolean = tracer.nonEmpty && alternation.values.exists(_ < 3)

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty[Double]) += v

  def samplesOf(metric: String): Seq[Double] = samples.get(metric).map(_.toSeq).getOrElse(Nil)

  /** A store root under the run's work directory, deleted when the run ends. */
  def root(name: String): String = {
    val p = s"$workDir/$name"
    rootDirs += p
    p
  }

  def roots: Seq[String] = rootDirs.toSeq

  def gate(cond: Boolean, msg: => String): Unit = if (!cond) throw new GateFailure(msg)

  /** One closed-loop operation. `body` gets the op's index and returns its
    * latency in seconds; a throw or failed gate counts the op as failed. In a
    * traced run, ops with `alternate` set are traced and untraced in turn per
    * `kind`, and their latencies after the kind's first op (which may be the
    * first run of its code path) give the tracing overhead; other ops are
    * always traced. */
  def op(kind: String, alternate: Boolean = false)(body: Int => Double): Option[Double] = {
    val i = opIdx
    opIdx += 1
    attempted += 1
    val nth = alternation(kind)
    val traced = tracer.exists { t =>
      val on = !alternate || nth % 2 == 0
      t.setActive(on)
      on
    }
    if (alternate) alternation(kind) = nth + 1
    try {
      val s = body(i)
      log(f"$kind op $i: ${s * 1000}%.0f ms${if (traced) " (traced)" else ""}")
      if (alternate && tracer.nonEmpty && nth > 0)
        overhead.getOrElseUpdate((kind, traced), mutable.ArrayBuffer.empty[Double]) += s
      Some(s)
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$kind op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** End-of-run gates: a failure counts as one failed operation. */
  def verifyGate(body: => Unit): Unit =
    try body
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"verify: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }

  def correct: Boolean = failed == 0

  /** A span of the current op (a no-op outside traced ops). */
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name, opIdx - 1)(body)
    case None => body
  }

  /** A span of the current op whose interval was measured elsewhere. */
  def recordSpan(name: String, startMs: Long, endMs: Long, wallS: Double): Unit =
    tracer.foreach(_.record(name, opIdx - 1, startMs, endMs, wallS))

  /** Tracing overhead of the alternating ops: per kind, median traced minus
    * median untraced latency, in seconds and as a share of the untraced
    * median; averaged over kinds. None without both traced and untraced ops. */
  def tracingOverhead: Option[(Double, Double)] = {
    val perKind = overhead.keys.map(_._1).toSeq.distinct.flatMap { k =>
      for (t <- overhead.get((k, true)); u <- overhead.get((k, false))) yield {
        val (mt, mu) = (Stats.median(t.toSeq), Stats.median(u.toSeq))
        (mt - mu, (mt - mu) / mu)
      }
    }
    if (perKind.isEmpty) None
    else Some((perKind.map(_._1).sum / perKind.size, perKind.map(_._2).sum / perKind.size))
  }
}

object Ctx {
  /** Wall seconds of `body`, with its result. */
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def figure(name: String, unit: String, xs: Seq[Double]): Figure =
    Figure(name, unit, if (xs.isEmpty) Double.NaN else Stats.median(xs), xs.size)
}
