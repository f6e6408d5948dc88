package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Everything one workload run shares: the session, the seed, a private
  * work directory inside the checkout, the tracer and the check ledger. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
                val tracer: Tracer, val checks: Checks, val cores: Int,
                val scale: Double) {
  /** Scaled size: every generator sizes its inputs through this, so the
    * self-test can run the same code on tiny inputs. */
  def n(base: Int): Int = math.max(4, math.round(base * scale).toInt)
}

/** Ledger of attempted and failed operations. Every transfer run, every
  * request and every correctness check counts once; a failure is
  * recorded with a message and makes the run exit non-zero. */
final class Checks {
  private var attemptedN = 0L
  private val failures = ArrayBuffer.empty[String]
  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failures.size.toLong)
  def messages: Seq[String] = synchronized(failures.toList)

  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = synchronized {
    attemptedN += 1
    if (!ok) failures += s"$what: $detail"
    ok
  }
  /** An operation that may throw; the exception counts as a failure. */
  def op[A](what: String)(body: => A): Option[A] = {
    val r = try Right(body) catch { case e: Exception => Left(e) }
    r match {
      case Right(v) => check(what, ok = true); Some(v)
      case Left(e) => check(what, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }
}

object Stats {
  /** Linear-interpolation quantile (the "exclusive" rule of Python's
    * statistics.quantiles is not needed here: these summarise one run). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Clock {
  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Fs {
  def delete(p: Path): Unit = deleteFile(p.toFile)
  private def deleteFile(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteFile)
    f.delete()
  }
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { val it = s.iterator(); val b = Seq.newBuilder[Path]
        while (it.hasNext) { val f = it.next(); if (Files.isRegularFile(f)) b += f }
        b.result() }
      finally s.close()
    }
  def parquetFiles(p: Path): Seq[Path] = files(p).filter(_.getFileName.toString.endsWith(".parquet"))
  def bytes(fs: Seq[Path]): Long = fs.map(Files.size).sum
  def sha256(fs: Seq[Path]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    fs.sortBy(_.toString).foreach { f =>
      md.update(f.getFileName.toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Minimal JSON writer for the report lines (no library dependency). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** A metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** What one workload reports: the end-to-end metrics of the result
  * line, the rest of the report (every other metric of this workload and
  * the generated input counts) and the per-layer metrics. */
final class Report {
  val endToEnd = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
  val inputs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
}

object Par {
  /** Map over a few items concurrently (each typically runs a Spark job). */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, xs.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    finally pool.shutdown()
  }
}
