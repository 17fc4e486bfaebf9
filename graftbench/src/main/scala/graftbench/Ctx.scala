package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Growable sample of latencies in nanoseconds. */
final class Lat {
  private var a = new Array[Long](1024)
  private var n = 0
  def add(ns: Long): Unit = synchronized {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = ns; n += 1
  }
  def addAll(o: Lat): Unit = o.values.foreach(add)
  def values: Array[Long] = synchronized(java.util.Arrays.copyOf(a, n))
  /** Nearest-rank percentile in nanoseconds (NaN when empty). */
  def pct(p: Double): Double = {
    val v = values
    if (v.isEmpty) Double.NaN
    else {
      java.util.Arrays.sort(v)
      v(math.min(v.length - 1, math.max(0, math.ceil(p * v.length).toInt - 1))).toDouble
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

/** Everything one run shares: session, inputs, accounting, the
  * attempted/failed counters behind `error_rate`, the correctness
  * checks, and the metric values the run reports. */
final class Ctx(val spark: SparkSession, val shape: Shape,
                val corpus: Corpus, val workDir: java.nio.file.Path,
                val acct: Accounting) {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val checks = new ConcurrentHashMap[String, Array[Long]]()
  private val dirs = new AtomicInteger

  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Diagnostics for the `# record` line: name -> JSON value. */
  val record = mutable.LinkedHashMap.empty[String, String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** A layer value observed once per call; reported as the median. */
  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def sampled: Map[String, Double] = synchronized {
    samples.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
  }

  /** One correctness check; a failure counts as a failed operation. */
  def check(name: String, ok: Boolean, what: => String): Boolean = {
    val c = checks.computeIfAbsent(name, _ => new Array[Long](2))
    c.synchronized { if (ok) c(0) += 1 else c(1) += 1 }
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      System.err.println(s"[check] $name FAILED: $what")
    }
    ok
  }

  def checkCounts: Map[String, (Long, Long)] =
    checks.asScala.map { case (k, v) => k -> (v(0), v(1)) }.toMap

  /** One attempted operation; an exception counts it as failed. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed.incrementAndGet()
        System.err.println(s"[op] $name FAILED: $e")
        None
    }
  }

  def freshDir(prefix: String): String =
    workDir.resolve(s"$prefix-${dirs.incrementAndGet()}").toString

  def now: Long = System.nanoTime()
}
