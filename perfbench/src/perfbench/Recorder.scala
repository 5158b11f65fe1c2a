package perfbench

import org.apache.spark.SparkContext
import scala.collection.mutable

/** Timing samples by key. Each timed call is also a tracer call, so with
  * tracing on it becomes a span that parents the Spark jobs it runs.
  * Calls of `alternateKey` run untraced, traced, traced, untraced, and so
  * on (a drift that is linear over four calls cancels out); their samples
  * are also kept apart under `<key>.untraced` and `<key>.traced`. */
final class Recorder(val tracer: Tracer, sc: SparkContext, alternateKey: String = "") {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var alternateCalls = 0

  /** Runs `body` as a call into layer `kind`, recording its seconds under `key`. */
  def time[T](key: String, kind: String)(body: => T): T = {
    val alternate = key == alternateKey
    val untraced = alternate && alternateCalls % 4 % 3 == 0
    if (alternate) alternateCalls += 1
    val t0 = System.nanoTime()
    val out = if (untraced) tracer.suspended(sc)(body) else tracer.call(sc, key, kind)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    add(key, dt)
    if (alternate) add(s"$key.${if (untraced) "untraced" else "traced"}", dt)
    out
  }

  def add(key: String, seconds: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Double]) += seconds

  /** A value measured by counting (files, bytes, buckets). */
  def count(key: String, v: Double): Unit =
    counts.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Double]) += v

  def seconds(key: String): Seq[Double] = samples.get(key).map(_.toSeq).getOrElse(Nil)
  def counted(key: String): Seq[Double] = counts.get(key).map(_.toSeq).getOrElse(Nil)

  /** Median seconds of a key (0 when the key has no samples). */
  def med(key: String): Double = { val s = seconds(key); if (s.isEmpty) 0.0 else Stats.median(s) }
  def mean(key: String): Double = { val s = counted(key); if (s.isEmpty) 0.0 else s.sum / s.size }
}
