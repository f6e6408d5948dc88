package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. A run calls `setup` several times
  * (setup_s is their median plus the session start), an unmeasured
  * `warmup`, then measured cycles until the run's seconds are spent. Timed phases are wrapped in `phase` so the traced run can
  * attribute Spark's counters to them. */
trait Workload {
  def ctx: Ctx
  /** Generate the seeded inputs and place them where graft reads them.
    * Starts from nothing each time; the same seed gives the same bytes. */
  def setup(): Unit
  /** Generated counts for the report (rows, documents, vectors). */
  def inputs: Seq[(String, Long)]
  /** Measured cycles a run needs at least (percentile sample counts). */
  def minCycles: Int = 1
  /** One cycle; returns its timed seconds (the sum of its phases).
    * `traced` also makes the direct per-layer calls. */
  def cycle(traced: Boolean, measured: Boolean): Double
  /** Unmeasured warm-up before the measured cycles (JIT, class loading,
    * file caches). */
  def warmup(): Unit = cycle(traced = false, measured = false)
  /** End-to-end figures from the measured cycles: must set
    * `items_per_s` and `cycle_ms`, and may add report-only extras. */
  def report(r: Report): Unit
  /** Per-layer figures of this workload's own layers from the traced
    * cycles; layers it bypasses are reported as 0 by [[Layers]]. */
  def layers(r: Report, rec: SparkRecorder): Unit

  protected def phase[A](name: String)(body: => A): (A, Double) =
    ctx.tracer.span("phase." + name)(Clock.seconds(body))
}

object Main {
  val Workloads: Seq[String] = Seq("transfer_parquet", "transfer_jdbc", "curate_text", "ann_query")
  val SetupRepeats = 3

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
                        trace: Boolean = false, work: String = "", traces: String = "",
                        selftest: Boolean = false)

  def parse(args: Array[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case "--workload" :: v :: t => go(a.copy(workload = v), t)
      case "--seed" :: v :: t => go(a.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(a.copy(seconds = v.toInt), t)
      case "--trace" :: v :: t => go(a.copy(trace = v == "1"), t)
      case "--work" :: v :: t => go(a.copy(work = v), t)
      case "--traces" :: v :: t => go(a.copy(traces = v), t)
      case "--selftest" :: t => go(a.copy(selftest = true), t)
      case Nil => a
      case x :: _ => sys.error(s"unknown argument: $x")
    }
    go(Args(), args.toList)
  }

  def session(work: Path, cores: Int): SparkSession =
    graft.Sessions.builder("graftbench", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .getOrCreate()

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "transfer_parquet" => new TransferParquet(ctx)
    case "transfer_jdbc" => new TransferJdbc(ctx)
    case "curate_text" => new CurateText(ctx)
    case "ann_query" => new AnnQuery(ctx)
    case other => sys.error(s"unknown workload '$other' (one of ${Workloads.mkString(", ")})")
  }

  /** Timeline note on stderr (the runner keeps it in jvm.log). */
  def note(s: String): Unit = System.err.println(
    f"[graftbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2f s] $s")

  def cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = Paths.get(a.work)
    Files.createDirectories(work)
    val code =
      if (a.selftest) SelfTest.run(work)
      else run(a, work)
    System.exit(code)
  }

  def run(a: Args, work: Path): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work, cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    note(f"session ready after ${sessionS}%.2f s")
    val runId = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(runId, a.trace)
    val checks = new Checks
    val rec = if (a.trace) { val r = new SparkRecorder; r.attach(spark); Some(r) } else None
    val ctx = new Ctx(spark, a.seed, work, tracer, checks, cores, 1.0)
    val report = new Report
    var completed = false
    try {
      val wl = workload(a.workload, ctx)
      val setups = (1 to SetupRepeats).map(_ => Clock.seconds(wl.setup())._2)
      wl.inputs.foreach { case (k, v) => report.inputs(k) = v }
      note(f"setup done: session ${sessionS}%.2f s, setups ${setups.map(x => f"$x%.2f").mkString(" ")}")
      wl.warmup()
      note("warm-up done")

      // measured loop; the traced run alternates untraced and traced
      // cycles, at least untraced-traced-untraced, so the overhead
      // compares cycles at the same point of the JVM's warm-up
      val traced = ArrayBuffer.empty[Double]
      val plain = ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      var i = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (i < wl.minCycles || elapsed < a.seconds || (a.trace && i < 3)) {
        val on = a.trace && i % 2 == 1
        tracer.on = on
        val wall = tracer.span("cycle")(wl.cycle(traced = on, measured = true))
        tracer.on = false
        rec.foreach(_.drain(spark))
        (if (on) traced else plain) += wall
        note(f"cycle $i traced=$on timed ${wall}%.3f s, elapsed ${elapsed}%.2f s")
        i += 1
      }
      wl.report(report)
      report.endToEnd("setup_s") = Metric(sessionS + Stats.median(setups), "s")
      report.extra("session_s") = Metric(sessionS, "s")
      report.extra("setup_generate_s") = Metric(Stats.median(setups), "s")
      report.extra("cycles") = Metric(i.toDouble, "count")
      rec.foreach { r =>
        r.drain(spark)
        wl.layers(report, r)
        Layers.spark(report, tracer, r, cores)
        report.layers("trace.overhead_ms") =
          Metric((Stats.median(traced.toSeq) - Stats.median(plain.toSeq)) * 1000.0, "ms")
        Layers.fillMissing(report)
        if (a.traces.nonEmpty) tracer.write(Paths.get(a.traces, s"$runId.jsonl"))
      }
      completed = true
    } catch {
      case e: Throwable =>
        checks.check("workload run", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    report.endToEnd("peak_rss_mb") = Metric(peakRssMb, "MB")
    report.extra("error_rate") = Metric(
      if (checks.attempted == 0) 1.0 else checks.failed.toDouble / checks.attempted, "ratio")
    try spark.stop() catch { case _: Throwable => () }
    val correct = completed && checks.failed == 0
    Output.print(a, report, checks, correct)
    if (correct) 0 else 1
  }
}

object Output {
  /** The result line's metrics: the end-to-end set with --trace 0, the
    * per-layer set with --trace 1. */
  val EndToEnd: Seq[String] = Seq("setup_s", "peak_rss_mb", "items_per_s", "cycle_ms")

  def print(a: Main.Args, r: Report, checks: Checks, correct: Boolean): Unit = {
    def line(m: scala.collection.Map[String, Metric]) =
      m.toSeq.map { case (k, v) => s"  $k = ${Json.num(v.value)} ${v.unit}" }
    println(s"# graft benchmark: workload=${a.workload} seed=${a.seed} " +
      s"seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
    println("# inputs: " + r.inputs.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println("# end-to-end:"); line(r.endToEnd).foreach(println)
    println("# workload metrics:"); line(r.extra).foreach(println)
    if (a.trace) { println("# per-layer:"); line(r.layers).foreach(println) }
    println(s"# checks: attempted=${checks.attempted} failed=${checks.failed}")
    checks.messages.foreach(m => println(s"# FAILED $m"))
    val chosen =
      if (a.trace) r.layers.toSeq
      else EndToEnd.flatMap(k => r.endToEnd.get(k).map(k -> _))
    val metrics = Json.obj(chosen.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    })
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, checks.attempted).toString,
      "failed" -> checks.failed.toString,
      "metrics" -> metrics)))
  }
}
