package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** `run.py --selftest`: checks of the benchmark itself on tiny inputs.
  *
  *  1. every workload runs a traced cycle at tiny size with no failed
  *     check, and reports every end-to-end and per-layer metric that
  *     BENCHMARK.json declares, with the declared unit;
  *  2. the same seed reproduces each workload's inputs byte for byte,
  *     and another seed does not;
  *  3. a dropped row, a duplicated row and an altered value in a
  *     transfer destination each make the destination check fail.
  */
object SelfTest {
  val DefaultScale = 0.05
  /** The IVF recall floor needs cells of realistic size: the ANN
    * self-test runs at a quarter of the full size. */
  val Scale: Map[String, Double] = Map("ann_query" -> 0.25)

  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def run(work: Path): Int = {
    val spark = Main.session(work, Main.cores)
    val rec = new SparkRecorder
    rec.attach(spark)
    def ctx(name: String, seed: Long) = new Ctx(spark, seed, work.resolve(name),
      new Tracer(name), new Checks, Main.cores, Scale.getOrElse(name.takeWhile(_ != '-'), DefaultScale))
    try {
      val declared = Declared.load(Paths.get("BENCHMARK.json"))
      Main.Workloads.foreach(w => tinyRun(ctx(w, 5), w, rec, declared))
      tamper(ctx("tamper", 7))
      reproducible(ctx, "transfer_parquet", c => {
        val w = new TransferParquet(c); w.setup(); Fs.sha256(Fs.parquetFiles(w.sourceDir)) })
      reproducible(ctx, "transfer_jdbc", c => digest(new TransferJdbc(c).tables
        .flatMap(t => t.base ++ t.delta).map(_.mkString("|"))))
      reproducible(ctx, "curate_text", c => {
        val w = new CurateText(c); w.setup(); Fs.sha256(Fs.parquetFiles(c.work)) })
      reproducible(ctx, "ann_query", c => {
        val v = new AnnQuery(c).data
        digest((v.index ++ v.queries).map(_.mkString(",")))
      })
    } catch {
      case e: Exception => expect(s"self-test ran: $e", ok = false); e.printStackTrace()
    } finally spark.stop()
    println(s"selftest: ${if (failures == 0) "passed" else s"$failures failed"}")
    if (failures == 0) 0 else 1
  }

  private def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The metric names and units BENCHMARK.json declares. */
  final case class Declared(endToEnd: Map[String, String], perLayer: Map[String, String])
  object Declared {
    def load(p: Path): Declared = {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
      def metrics(key: String) = root.get(key).elements().asScala
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toMap
      Declared(metrics("end_to_end"), metrics("per_layer"))
    }
  }

  /** One warm-up and one traced cycle of a workload at tiny size. */
  private def tinyRun(c: Ctx, name: String, rec: SparkRecorder, d: Declared): Unit = {
    val wl = Main.workload(name, c)
    val r = new Report
    wl.setup()
    wl.warmup()
    c.tracer.on = true
    c.tracer.span("cycle")((1 to wl.minCycles).map(_ => wl.cycle(traced = true, measured = true)))
    c.tracer.on = false
    rec.drain(c.spark)
    wl.report(r)
    r.endToEnd("setup_s") = Metric(1.0, "s")
    r.endToEnd("peak_rss_mb") = Metric(Main.peakRssMb, "MB")
    wl.layers(r, rec)
    Layers.spark(r, c.tracer, rec, c.cores)
    r.layers("trace.overhead_ms") = Metric(0.0, "ms")
    Layers.fillMissing(r)
    expect(s"$name: a tiny traced cycle passes every check" +
      c.checks.messages.map("; " + _).mkString, c.checks.failed == 0 && c.checks.attempted > 0)
    expect(s"$name: reports every declared end-to-end metric with its unit",
      d.endToEnd.forall { case (k, u) => r.endToEnd.get(k).exists(_.unit == u) } &&
        Output.EndToEnd.toSet == d.endToEnd.keySet)
    expect(s"$name: reports every declared per-layer metric with its unit",
      d.perLayer.forall { case (k, u) => r.layers.get(k).exists(_.unit == u) } &&
        r.layers.keySet == d.perLayer.keySet)
  }

  private def reproducible(ctx: (String, Long) => Ctx, name: String, digest: Ctx => String): Unit = {
    val a = digest(ctx(s"$name-a", 11))
    val b = digest(ctx(s"$name-b", 11))
    val c = digest(ctx(s"$name-c", 12))
    expect(s"$name: the same seed gives byte-identical inputs", a == b)
    expect(s"$name: another seed gives other inputs", a != c)
  }

  /** Run the tiny parquet transfer, damage its destination three ways,
    * and require the check to catch each. */
  private def tamper(c: Ctx): Unit = {
    val w = new TransferParquet(c)
    w.setup()
    w.fullOnly()
    w.verifyBase()
    expect("transfer_parquet: an untouched destination passes the check", c.checks.failed == 0)
    val edits: Seq[(String, Seq[Row] => Seq[Row])] = Seq(
      "a dropped row" -> (rows => rows.tail),
      "a duplicated row" -> (rows => rows.head +: rows),
      "an altered value" -> (rows => Row.fromSeq(rows.head.toSeq.updated(1, "ALTERED")) +: rows.tail))
    edits.foreach { case (what, edit) =>
      w.fullOnly()
      rewriteOneFile(c, w.destDir("facts"), edit)
      val before = c.checks.failed
      val beforeMsgs = c.checks.messages.size
      w.verifyBase()
      val caught = c.checks.messages.drop(beforeMsgs)
      expect(s"transfer_parquet: $what in the destination fails the content check",
        c.checks.failed == before + 1 && caught.forall(_.contains("matches the expected")))
    }
  }

  private def rewriteOneFile(c: Ctx, dir: Path, edit: Seq[Row] => Seq[Row]): Unit = {
    val file = Fs.parquetFiles(dir).minBy(_.toString)
    val df: DataFrame = c.spark.read.parquet(file.toString)
    val rows = edit(df.collect().toSeq)
    val tmp = c.work.resolve("rewrite")
    Fs.delete(tmp)
    c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.parquet(tmp.toString)
    Files.delete(file)
    // the local file system's checksum of the old bytes would fail the read
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
    Files.move(Fs.parquetFiles(tmp).head, file)
    Fs.delete(tmp)
  }
}
