package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.core.{ExpressionValidator, TransferSpec}
import graft.engine.{TransferOutcome, TransferRunner}

/** Shared by both transfer workloads: spec text, run bookkeeping and the
  * per-table destination check. */
abstract class TransferWorkload extends Workload {
  def tables: Seq[GenTable]
  /** This workload's spec text. */
  def spec: String

  /** The spec as a user writes it: every table incremental (a first run
    * is a full transfer), 4 workers × 4 chunks in flight, and a rate
    * limit that never binds. */
  protected def specYaml(kind: String, src: String, dst: String, cp: java.nio.file.Path,
                         batchSize: Int): String = {
    val tableYaml = tables.map { t =>
      val tr = t.transforms.map { case (c, e) =>
        s"""        - source_column: "$c"
           |          expression: "$e"""".stripMargin
      }.mkString("\n")
      val part = if (t.partitionBy.isEmpty) "" else
        s"\n      partition_by: [${t.partitionBy.mkString(", ")}]"
      s"""    - name: "${t.name}"
         |      primary_key: "${t.primaryKey.mkString(", ")}"
         |      incremental: true$part
         |      column_transformations:
         |$tr""".stripMargin
    }.mkString("\n")
    s"""source:
       |  type: $kind
       |  path: "$src"
       |  tables:
       |$tableYaml
       |destination:
       |  type: $kind
       |  path: "$dst"
       |migration:
       |  batch_size: $batchSize
       |  workers: 4
       |  rate_limit: 1000000000
       |  checkpoint_dir: "$cp"
       |  progress_interval: 3600
       |  checkpoint_row_threshold: $batchSize
       |  checkpoint_interval: 1
       |  chunk_parallelism: 4
       |  language: en
       |""".stripMargin
  }

  /** The runners' log callback (the JDBC workload reads its row counts). */
  protected val log: String => Unit = _ => ()

  /** `TransferSpec.fromYaml` plus validation of every transformation —
    * the `core` layer's whole share of a run. */
  protected def loadSpec(): TransferSpec = ctx.tracer.span("core.spec") {
    val spec = TransferSpec.fromYaml(this.spec)
    spec.source.tables.flatMap(_.columnTransformations).foreach { ct =>
      ExpressionValidator.validate(ctx.spark, ct.expression) match {
        case Left(why) => sys.error(s"transform ${ct.expression} rejected: $why")
        case Right(()) => ()
      }
    }
    spec
  }

  /** Count one attempted operation per table; a failed table fails. */
  protected def outcomes(phase: String, rs: Seq[TransferRunner.TableResult]): Seq[TransferOutcome] =
    rs.flatMap { r =>
      r.outcome match {
        case Success(o) => ctx.checks.check(s"$phase ${r.table}", ok = true); Some(o)
        case Failure(e) => ctx.checks.check(s"$phase ${r.table}", ok = false, e.getMessage); None
      }
    }
  protected def allCompleted(phase: String, os: Seq[TransferOutcome]): Unit =
    ctx.checks.check(s"$phase: every table completed",
      os.size == tables.size && os.forall(_ == TransferOutcome.Completed), os.mkString(", "))

  private val expectedSums = scala.collection.mutable.Map.empty[(String, Int), Checksum]
  /** Expected checksum of a table's destination; `state` names the
    * source state (0 = base, 1 = base + delta, 2 = base + delta after
    * the upsert pass's mutation). */
  protected def expectedSum(t: GenTable, state: Int, rows: => Seq[Row]): Checksum =
    expectedSums.getOrElseUpdate((t.name, state), Checksum.ofRows(ctx.spark, t.destSchema, rows))

  protected def destSum(t: GenTable): Checksum

  /** Check every table's destination (tables read in parallel). */
  protected def verify(phase: String, state: Int, rowsOf: GenTable => Seq[Row]): Unit = {
    val wants = tables.map(t => expectedSum(t, state, rowsOf(t)))
    val gots = Par.map(tables)(t => ctx.checks.op(s"$phase: read ${t.name}")(destSum(t)))
    tables.zip(wants).zip(gots).foreach { case ((t, want), got) =>
      got.foreach(g => ctx.checks.check(s"$phase: ${t.name} matches the expected transformed source",
        g == want, s"destination $g, expected $want"))
    }
  }

  /** Per-cycle timings of the measured cycles. */
  protected val measuredCycles = ArrayBuffer.empty[Map[String, Double]]
  /** The full run's recorded control of each traced cycle. */
  protected val tracedFull = ArrayBuffer.empty[RecordingControl]

  protected def baseRows: Long = tables.map(_.base.size.toLong).sum
  protected def med(k: String): Double = Stats.median(measuredCycles.map(_(k)).toSeq)

  protected def commonReport(r: Report): Unit = {
    val rowsPerS = Stats.median(measuredCycles.map(c => baseRows / c("full_s")).toSeq)
    r.endToEnd("items_per_s") = Metric(rowsPerS, "1/s")
    r.endToEnd("cycle_ms") = Metric(med("cycle_s") * 1000.0, "ms")
    r.extra("rows_per_s") = Metric(rowsPerS, "1/s")
    r.extra("full_s") = Metric(med("full_s"), "s")
    r.extra("killed_s") = Metric(med("killed_s"), "s")
    r.extra("resume_s") = Metric(med("resume_s"), "s")
    r.extra("delta_s") = Metric(med("delta_s"), "s")
  }

  protected def engineLayers(r: Report, rec: SparkRecorder): Seq[Span] = {
    val fulls = ctx.tracer.named("phase.full")
    Layers.engine(r, rec, fulls.zip(tracedFull))
    Layers.put(r, "core.spec_ms", Stats.median(ctx.tracer.named("core.spec").map(_.durMs)))
    fulls
  }

  /** One transfer run through the runner, with recorded hooks. */
  protected def runOnce(spec: TransferSpec, control: RecordingControl): Seq[TransferRunner.TableResult]

  protected def timedRun(name: String, spec: TransferSpec, control: RecordingControl,
                         traced: Boolean): (Seq[TransferOutcome], Double) = {
    val parent = ctx.tracer.currentSpan
    val (rs, s) = phase(name)(runOnce(spec, control))
    if (traced) Layers.engineSpans(ctx.tracer, parent, control)
    (outcomes(name, rs), s)
  }

  /** Full transfer, kill at about half the chunks + resume, incremental
    * delta; returns the timed seconds of each. */
  protected def transferPhases(spec: TransferSpec, traced: Boolean,
                               resetDest: () => Unit, appendDelta: () => Unit)
      : Map[String, Double] = {
    val full = new RecordingControl()
    val (o1, fullS) = timedRun("full", spec, full, traced)
    allCompleted("full", o1)
    if (traced) tracedFull += full
    verify("full", 0, _.expected(false))
    val afterFull = afterFullHook()

    resetDest()
    val killAt = math.max(1, full.checks / 2)
    val (o2, killedS) = timedRun("killed", spec, new RecordingControl(Some(killAt)), traced)
    ctx.checks.check("killed: the run stopped early",
      o2.exists(_.isInstanceOf[TransferOutcome.Interrupted]), o2.mkString(", "))
    val (o3, resumeS) = timedRun("resume", spec, new RecordingControl(), traced)
    ctx.checks.check("resume: every table completed",
      o3.size == tables.size && o3.forall(o => o == TransferOutcome.Completed ||
        o == TransferOutcome.SkippedComplete), o3.mkString(", "))
    verify("resume", 0, _.expected(false))

    appendDelta()
    val (o4, deltaS) = timedRun("delta", spec, new RecordingControl(), traced)
    allCompleted("delta", o4)
    verify("delta", 1, _.expected(true))
    afterFull ++ Map("full_s" -> fullS, "killed_s" -> killedS, "resume_s" -> resumeS,
      "delta_s" -> deltaS)
  }

  /** Measurements taken right after the full transfer (untimed). */
  protected def afterFullHook(): Map[String, Double] = Map.empty
}

/** `transfer_parquet`: the reference's core job from a YAML spec over
  * four multi-file parquet tables (see perfbench/README.md). */
final class TransferParquet(val ctx: Ctx) extends TransferWorkload {
  import TransferParquet._

  private val src = ctx.work.resolve("tp/src")
  private val dst = ctx.work.resolve("tp/dst")
  private val cp = ctx.work.resolve("tp/cp")
  private val staged = ctx.work.resolve("tp/delta")

  val tables: Seq[GenTable] = generate(ctx.seed, ctx.n)

  def inputs: Seq[(String, Long)] =
    tables.map(t => s"${t.name}_rows" -> t.base.size.toLong) ++
      tables.map(t => s"${t.name}_delta_rows" -> t.delta.size.toLong) :+
      ("seed" -> ctx.seed)

  def setup(): Unit = {
    Fs.delete(ctx.work.resolve("tp"))
    tables.foreach { t =>
      writeParts(t, t.base, src.resolve(s"${t.name}.parquet"), "part")
      writeParts(t, t.delta, staged.resolve(t.name), "delta")
    }
  }

  /** Source bytes of the base tables. */
  def sourceBytes: Long = Fs.bytes(Fs.parquetFiles(src))

  /** Rows split over part files the way a parallel export writes them:
    * each part holds mostly one key range plus stragglers from every
    * other, so part-file key ranges overlap. */
  private def writeParts(t: GenTable, rows: IndexedSeq[Row], dir: Path, prefix: String): Unit = {
    val parts = math.max(1, math.min(PartsPerTable, rows.size / 500))
    val r = Gen.rng(ctx.seed, t.name.hashCode)
    val owner = rows.indices.map { i =>
      if (r.nextDouble() < 0.75) i * parts / rows.size else r.nextInt(parts)
    }
    (0 until parts).foreach { p =>
      ParquetOut.write(dir.resolve(f"$prefix-$p%05d.parquet"), t.schema,
        rows.indices.filter(owner(_) == p).map(rows))
    }
  }

  def spec: String = specYaml("parquet", src.toString, dst.toString, cp, BatchSize)

  protected def runOnce(spec: TransferSpec, control: RecordingControl) =
    TransferRunner.run(ctx.spark, spec, control, log)

  protected def destSum(t: GenTable): Checksum = {
    val df =
      if (t.partitionBy.nonEmpty) ctx.spark.read.parquet(dst.resolve(s"${t.name}-final").toString)
      else ctx.spark.read.option("recursiveFileLookup", "true")
        .parquet(dst.resolve(t.name).toString)
    Checksum.of(df)
  }

  private def resetDest(): Unit = { Fs.delete(dst); Fs.delete(cp) }
  private def removeDelta(): Unit =
    tables.foreach(t => Fs.files(src.resolve(s"${t.name}.parquet"))
      .filter(_.getFileName.toString.startsWith("delta-")).foreach(Files.delete))
  private def appendDelta(): Unit =
    tables.foreach(t => Fs.parquetFiles(staged.resolve(t.name)).foreach { f =>
      Files.copy(f, src.resolve(s"${t.name}.parquet").resolve(f.getFileName),
        StandardCopyOption.REPLACE_EXISTING)
    })

  override protected def afterFullHook(): Map[String, Double] = {
    val files = Fs.parquetFiles(dst)
    Map("dest_bytes_ratio" -> Fs.bytes(files).toDouble / sourceBytes,
      "dest_files" -> files.size.toDouble, "dest_bytes" -> Fs.bytes(files).toDouble)
  }

  override def warmup(): Unit = fullOnly()

  /** Reset and run the full transfer once (warm-up and self-test). */
  def fullOnly(): Unit = {
    removeDelta(); resetDest()
    outcomes("warm-up", runOnce(loadSpec(), new RecordingControl()))
  }
  /** Check every destination table against the base source. */
  def verifyBase(): Unit = verify("check", 0, _.expected(false))
  /** Destination directory of a non-partitioned table. */
  def destDir(table: String): Path = dst.resolve(table)
  def sourceDir: Path = src

  def cycle(traced: Boolean, measured: Boolean): Double = {
    removeDelta(); resetDest()
    val spec = loadSpec()
    val m = transferPhases(spec, traced, () => resetDest(), () => appendDelta())
    val cycleS = m("full_s") + m("killed_s") + m("resume_s") + m("delta_s")
    if (measured) measuredCycles += (m + ("cycle_s" -> cycleS))
    cycleS
  }

  def report(r: Report): Unit = {
    commonReport(r)
    r.extra("dest_bytes_ratio") = Metric(med("dest_bytes_ratio"), "ratio")
  }

  def layers(r: Report, rec: SparkRecorder): Unit = {
    val fulls = engineLayers(r, rec)
    val tasks = fulls.map(rec.tasksIn)
    val read = Stats.median(tasks.map(_.map(_.inRecords).sum.toDouble))
    val written = Stats.median(tasks.map(_.map(_.outRecords).sum.toDouble))
    Layers.put(r, "sources.rows_read", read)
    Layers.put(r, "sources.bytes_read", Stats.median(tasks.map(_.map(_.inBytes).sum.toDouble)))
    Layers.put(r, "sources.read_amplification", if (written > 0) read / written else 0.0)
    Layers.put(r, "sinks.rows_written", written)
    Layers.put(r, "sinks.bytes_written", Stats.median(tasks.map(_.map(_.outBytes).sum.toDouble)))
    val files = med("dest_files")
    Layers.put(r, "sinks.files_written", files)
    Layers.put(r, "sinks.bytes_per_file", if (files > 0) med("dest_bytes") / files else 0.0)
  }
}

object TransferParquet {
  val BatchSize = 2000
  val PartsPerTable = 6

  private def upper(s: String) = s.toUpperCase(java.util.Locale.ROOT)

  /** The four source tables; sizes at scale 1.0. */
  def generate(seed: Long, n: Int => Int): Seq[GenTable] = {
    // facts: large, skewed gappy BIGINT key (range chunks)
    val facts = {
      val r = Gen.rng(seed, 1)
      val keys = Gen.gappyKeys(r, n(12000) + n(600), 1000000L)
      val rows = keys.map(k => Row(k, Gen.phrase(r, 2), r.nextInt(100000) / 100.0,
        r.nextInt(500), Seq("eu", "us", "ap")(r.nextInt(3)), Gen.word(r)))
      val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
        StructField("price", DoubleType), StructField("qty", IntegerType),
        StructField("region", StringType), StructField("note", StringType)))
      GenTable("facts", schema, Seq("id"), Nil,
        Seq("name" -> "UPPER(name)", "price" -> "price * 100", "note" -> "CONCAT('n-', note)"),
        schema,
        x => Row(x.getLong(0), upper(x.getString(1)), x.getDouble(2) * 100, x.getInt(3),
          x.getString(4), "n-" + x.getString(5)),
        rows.take(n(12000)), rows.drop(n(12000)))
    }
    // accounts: VARCHAR key (hash-bucket chunks); delta keys sort above
    val accounts = {
      val r = Gen.rng(seed, 2)
      def rows(prefix: String, count: Int) = {
        val keys = scala.collection.mutable.LinkedHashSet.empty[String]
        while (keys.size < count) keys += f"$prefix${r.nextLong() & 0xffffffffffL}%010x"
        keys.toIndexedSeq.map(k => Row(k, Gen.phrase(r, 2), r.nextInt(1000000).toLong,
          Seq("gold", "silver", "bronze")(r.nextInt(3))))
      }
      val schema = StructType(Seq(StructField("acct", StringType), StructField("owner", StringType),
        StructField("balance", LongType), StructField("tier", StringType)))
      GenTable("accounts", schema, Seq("acct"), Nil,
        Seq("owner" -> "UPPER(owner)", "balance" -> "balance * 3", "tier" -> "CONCAT(tier, '/x')"),
        schema,
        x => Row(x.getString(0), upper(x.getString(1)), x.getLong(2) * 3, x.getString(3) + "/x"),
        rows("a", n(4000)), rows("b", n(200)))
    }
    // lines: composite (order_id, line_no) key, skewed lines per order
    val lines = {
      val r = Gen.rng(seed, 3)
      def rows(firstOrder: Long, count: Int) = {
        val b = IndexedSeq.newBuilder[Row]
        var o = firstOrder; var k = 0
        while (k < count) {
          val ls = 1 + (if (r.nextDouble() < 0.8) r.nextInt(3) else r.nextInt(12))
          (1 to ls).takeWhile(_ => k < count).foreach { l =>
            b += Row(o, l, Gen.word(r), r.nextInt(10000) / 4.0, Seq("new", "paid", "sent")(r.nextInt(3)))
            k += 1
          }
          o += 1 + r.nextInt(3)
        }
        b.result()
      }
      val base = rows(1L, n(4000))
      val schema = StructType(Seq(StructField("order_id", LongType), StructField("line_no", IntegerType),
        StructField("sku", StringType), StructField("amount", DoubleType), StructField("status", StringType)))
      GenTable("lines", schema, Seq("order_id", "line_no"), Nil,
        Seq("sku" -> "UPPER(sku)", "amount" -> "amount + 0.5", "status" -> "CONCAT('s:', status)"),
        schema,
        x => Row(x.getLong(0), x.getInt(1), upper(x.getString(2)), x.getDouble(3) + 0.5,
          "s:" + x.getString(4)),
        base, rows(base.last.getLong(0) + 10, n(200)))
    }
    // events: small, partition_by kind (the publish pass)
    val events = {
      val r = Gen.rng(seed, 4)
      val rows = (0 until n(1000) + n(100)).map { i =>
        Row(10L * i + r.nextInt(10), Seq("click", "view", "buy", "share")(r.nextInt(4)),
          Gen.phrase(r, 3), r.nextInt(1000), Gen.word(r))
      }
      val schema = StructType(Seq(StructField("event_id", LongType), StructField("kind", StringType),
        StructField("payload", StringType), StructField("score", IntegerType), StructField("tag", StringType)))
      // the publish layout moves the partition column last
      val destSchema = StructType(Seq(StructField("event_id", LongType), StructField("payload", StringType),
        StructField("score", IntegerType), StructField("tag", StringType), StructField("kind", StringType)))
      GenTable("events", schema, Seq("event_id"), Seq("kind"),
        Seq("payload" -> "UPPER(payload)", "score" -> "score * 2", "tag" -> "CONCAT('t-', tag)"),
        destSchema,
        x => Row(x.getLong(0), upper(x.getString(2)), x.getInt(3) * 2, "t-" + x.getString(4), x.getString(1)),
        rows.take(n(1000)), rows.drop(n(1000)))
    }
    Seq(facts, accounts, lines, events)
  }
}
