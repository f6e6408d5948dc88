package graftbench

import java.sql.{Connection, DriverManager, SQLException}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.core.TransferSpec
import graft.engine.{Checkpoint, JdbcTransferJob, TransferRunner}
import graft.sinks.JdbcUpsert
import graft.sources.JdbcCatalog

/** `transfer_jdbc`: the same engine against live embedded Derby, from a
  * source database into a destination database (see perfbench/README.md).
  * Phases per cycle: full (every row inserts), kill at about half the
  * chunks + resume, incremental append, and an upsert pass that mutates
  * a fixed share of source rows, prunes the completed checkpoints and
  * re-runs, so every row takes MERGE's matched branch. */
final class TransferJdbc(val ctx: Ctx) extends TransferWorkload {
  import TransferJdbc._

  private val dbTag = s"gb${ProcessHandle.current().pid()}x${System.identityHashCode(this)}"
  private val srcUrl = s"jdbc:derby:memory:${dbTag}src"
  private val dstUrl = s"jdbc:derby:memory:${dbTag}dst"
  private val cp = ctx.work.resolve("tj/cp")

  val tables: Seq[GenTable] = generate(ctx.seed, ctx.n)

  def inputs: Seq[(String, Long)] =
    tables.map(t => s"${t.name}_rows" -> t.base.size.toLong) ++
      tables.map(t => s"${t.name}_delta_rows" -> t.delta.size.toLong) :+
      ("seed" -> ctx.seed)

  // -- database plumbing (the benchmark's own, not graft's) -------------

  private def connect(url: String): Connection = {
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    DriverManager.getConnection(url)
  }
  private def exec(url: String, sqls: String*): Unit = {
    val c = connect(url)
    try { val st = c.createStatement(); sqls.foreach(st.execute); st.close() }
    finally c.close()
  }
  private def dropDb(url: String): Unit =
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case _: SQLException => () } // Derby reports a successful drop as an exception

  private def insert(c: Connection, t: GenTable, rows: Seq[Row]): Unit = {
    val cols = t.schema.fieldNames
    val ps = c.prepareStatement(
      s"INSERT INTO ${t.name} (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})")
    rows.foreach { r =>
      cols.indices.foreach(i => ps.setObject(i + 1, r.get(i)))
      ps.addBatch()
    }
    ps.executeBatch(); ps.close()
  }

  /** Seed the source database; the destination starts empty. */
  def setup(): Unit = {
    Fs.delete(ctx.work.resolve("tj"))
    dropDb(srcUrl); dropDb(dstUrl)
    exec(dstUrl + ";create=true", "VALUES 1")
    val c = connect(srcUrl + ";create=true")
    try {
      c.setAutoCommit(false)
      tables.foreach { t =>
        val st = c.createStatement(); st.executeUpdate(ddl(t)); st.close()
        insert(c, t, t.base)
      }
      c.commit()
    } finally c.close()
  }

  def spec: String = specYaml("jdbc", srcUrl, dstUrl, cp, BatchSize)

  private val upserted = new java.util.concurrent.atomic.AtomicLong(0)
  private val UpsertedLine = """.*: (\d+) rows upserted into .*""".r
  override protected val log: String => Unit = {
    case UpsertedLine(n) => upserted.addAndGet(n.toLong)
    case _ => ()
  }

  protected def runOnce(spec: TransferSpec, control: RecordingControl) =
    TransferRunner.runJdbc(ctx.spark, spec, JdbcUpsert.Derby, log, control)

  protected def destSum(t: GenTable): Checksum = {
    val df = ctx.spark.read.jdbc(dstUrl, t.name, new java.util.Properties())
    Checksum.of(df.toDF(df.columns.map(_.toLowerCase): _*))
  }

  private def resetDest(): Unit = {
    Fs.delete(cp)
    tables.foreach(t => try exec(dstUrl, s"DROP TABLE ${t.name}") catch { case _: SQLException => () })
  }
  /** Whether the source currently carries the upsert pass's mutation. */
  private var isMutated = false
  private def resetSource(): Unit = {
    exec(srcUrl, tables.map(t => s"DELETE FROM ${t.name} WHERE gen = 1"): _*)
    if (isMutated) exec(srcUrl, tables.map(t => s"UPDATE ${t.name} SET n = n - $Bump WHERE grp = 0"): _*)
    isMutated = false
  }
  private def appendDelta(): Unit = {
    val c = connect(srcUrl)
    try tables.foreach(t => insert(c, t, t.delta)) finally c.close()
  }
  private def mutate(): Unit = {
    exec(srcUrl, tables.map(t => s"UPDATE ${t.name} SET n = n + $Bump WHERE grp = 0"): _*)
    isMutated = true
  }
  /** Delete the completed checkpoints exactly as the CLI's
    * `--prune-completed` derives them. */
  private def pruneCheckpoints(spec: TransferSpec): Unit =
    spec.source.tables.foreach(t => Checkpoint.delete(spec.migration.checkpointDir, "jdbc",
      JdbcTransferJob.checkpointName(spec.source.path, t, TransferRunner.jdbcDestUrl(spec))))

  override def warmup(): Unit = {
    resetSource(); resetDest()
    outcomes("warm-up", runOnce(loadSpec(), new RecordingControl()))
  }

  def cycle(traced: Boolean, measured: Boolean): Double = {
    resetSource(); resetDest()
    val spec = loadSpec()
    upserted.set(0)
    val m = transferPhases(spec, traced, () => resetDest(), () => appendDelta())

    mutate()
    pruneCheckpoints(spec)
    val rowsBefore = upserted.get()
    val (o5, upsertS) = timedRun("upsert", spec, new RecordingControl(), traced)
    allCompleted("upsert", o5)
    ctx.checks.check("upsert: every row re-merged",
      upserted.get() - rowsBefore == tables.map(t => t.base.size + t.delta.size).sum,
      s"${upserted.get() - rowsBefore} rows")
    verify("upsert", 2, t => (t.base ++ t.delta).map(mutated).map(t.expect))

    if (traced) layerProbes()
    val cycleS = m("full_s") + m("killed_s") + m("resume_s") + m("delta_s") + upsertS
    if (measured) measuredCycles += (m ++ Map("upsert_s" -> upsertS, "cycle_s" -> cycleS))
    cycleS
  }

  override protected def afterFullHook(): Map[String, Double] =
    Map("full_rows_upserted" -> upserted.get().toDouble)

  /** Direct timed calls into the sources and sinks layers (traced cycles). */
  private def layerProbes(): Unit = {
    ctx.tracer.span("sources.jdbc_introspect") {
      tables.foreach { t =>
        JdbcCatalog.columns(srcUrl, t.name)
        JdbcCatalog.primaryKey(srcUrl, t.name)
      }
    }
    val probe = tables.head
    val batch = probe.base.take(ctx.n(ProbeRows)).map(probe.expect)
    val df = ctx.spark.createDataFrame(java.util.Arrays.asList(batch: _*), probe.destSchema).coalesce(1)
    exec(dstUrl, ddl(probe).replace(s"TABLE ${probe.name} ", "TABLE merge_probe "))
    try {
      val factory = JdbcTransferJob.connectionFactory(dstUrl)
      ctx.tracer.span("sinks.merge_insert")(JdbcUpsert.write(df, JdbcUpsert.Derby, "merge_probe",
        probe.primaryKey, BatchSize)(factory))
      ctx.tracer.span("sinks.merge_update")(JdbcUpsert.write(df, JdbcUpsert.Derby, "merge_probe",
        probe.primaryKey, BatchSize)(factory))
    } finally exec(dstUrl, "DROP TABLE merge_probe")
  }

  def report(r: Report): Unit = {
    commonReport(r)
    val rows = tables.map(t => t.base.size + t.delta.size).sum.toDouble
    r.extra("upsert_rows_per_s") = Metric(
      Stats.median(measuredCycles.map(c => rows / c("upsert_s")).toSeq), "1/s")
    r.extra("upsert_s") = Metric(med("upsert_s"), "s")
  }

  def layers(r: Report, rec: SparkRecorder): Unit = {
    val fulls = engineLayers(r, rec)
    val tasks = fulls.map(rec.tasksIn)
    val read = Stats.median(tasks.map(_.map(_.inRecords).sum.toDouble))
    val written = med("full_rows_upserted")
    Layers.put(r, "sources.rows_read", read)
    Layers.put(r, "sources.read_amplification", if (written > 0) read / written else 0.0)
    Layers.put(r, "sources.jdbc_introspect_ms",
      Stats.median(ctx.tracer.named("sources.jdbc_introspect").map(_.durMs)))
    Layers.put(r, "sinks.rows_written", written)
    val probeRows = ctx.n(ProbeRows).toDouble
    Layers.put(r, "sinks.merge_insert_rows_per_s",
      Stats.median(ctx.tracer.named("sinks.merge_insert").map(s => probeRows / s.durS)))
    Layers.put(r, "sinks.merge_update_rows_per_s",
      Stats.median(ctx.tracer.named("sinks.merge_update").map(s => probeRows / s.durS)))
  }
}

object TransferJdbc {
  val BatchSize = 1000
  val ProbeRows = 1000
  /** The upsert pass adds this to `n` on the `grp = 0` rows (a tenth). */
  val Bump = 7

  private def upper(s: String) = s.toUpperCase(java.util.Locale.ROOT)

  private def sqlType(f: StructField): String = f.dataType match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR(64)"
    case other => sys.error(s"no Derby type for $other")
  }
  def ddl(t: GenTable): String =
    s"CREATE TABLE ${t.name} (" + t.schema.fields.map(f => s"${f.name} ${sqlType(f)} NOT NULL")
      .mkString(", ") + s", PRIMARY KEY (${t.primaryKey.mkString(", ")}))"

  /** The upsert pass's source mutation in plain Scala (every table's
    * last three columns are n, grp, gen). */
  def mutated(r: Row): Row = {
    val s = r.toSeq
    val n = s.size
    if (r.getInt(n - 2) == 0) Row.fromSeq(s.updated(n - 3, r.getInt(n - 3) + Bump)) else r
  }

  private val tail = Seq(StructField("n", IntegerType), StructField("grp", IntegerType),
    StructField("gen", IntegerType))

  /** Three source tables; sizes at scale 1.0. Every table ends in
    * (n, grp, gen): `n` is what the upsert pass changes on `grp = 0`
    * rows, `gen` is 1 on appended rows. */
  def generate(seed: Long, n: Int => Int): Seq[GenTable] = {
    def extra(r: scala.util.Random, gen: Int) = Seq(r.nextInt(1000), r.nextInt(10), gen)

    // orders: numeric key (histogram plan)
    val orders = {
      val r = Gen.rng(seed, 11)
      val keys = Gen.gappyKeys(r, n(4000) + n(200), 1L)
      val rows = keys.zipWithIndex.map { case (k, i) =>
        Row.fromSeq(Seq(k, Gen.phrase(r, 2), r.nextInt(100000) / 100.0, Gen.word(r)) ++
          extra(r, if (i < n(4000)) 0 else 1))
      }
      val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
        StructField("price", DoubleType), StructField("note", StringType)) ++ tail)
      GenTable("orders", schema, Seq("id"), Nil,
        Seq("name" -> "UPPER(name)", "price" -> "price * 100", "note" -> "CONCAT('n-', note)"),
        schema,
        x => Row.fromSeq(Seq(x.getLong(0), upper(x.getString(1)), x.getDouble(2) * 100,
          "n-" + x.getString(3)) ++ x.toSeq.drop(4)),
        rows.take(n(4000)), rows.drop(n(4000)))
    }
    // users: VARCHAR key (keyset walk); appended keys sort above
    val users = {
      val r = Gen.rng(seed, 12)
      def rows(prefix: String, count: Int, gen: Int) = {
        val keys = scala.collection.mutable.LinkedHashSet.empty[String]
        while (keys.size < count) keys += f"$prefix${r.nextLong() & 0xffffffffffL}%010x"
        keys.toIndexedSeq.map(k => Row.fromSeq(Seq(k, Gen.phrase(r, 2), r.nextInt(1000000).toLong,
          Seq("gold", "silver", "bronze")(r.nextInt(3))) ++ extra(r, gen)))
      }
      val schema = StructType(Seq(StructField("uid", StringType), StructField("email", StringType),
        StructField("score", LongType), StructField("tier", StringType)) ++ tail)
      GenTable("users", schema, Seq("uid"), Nil,
        Seq("email" -> "UPPER(email)", "score" -> "score * 3", "tier" -> "CONCAT(tier, '/x')"),
        schema,
        x => Row.fromSeq(Seq(x.getString(0), upper(x.getString(1)), x.getLong(2) * 3,
          x.getString(3) + "/x") ++ x.toSeq.drop(4)),
        rows("a", n(2000), 0), rows("b", n(100), 1))
    }
    // items: composite (order_id, line_no) key (keyset walk over the tuple)
    val items = {
      val r = Gen.rng(seed, 13)
      def rows(firstOrder: Long, count: Int, gen: Int) = {
        val b = IndexedSeq.newBuilder[Row]
        var o = firstOrder; var k = 0
        while (k < count) {
          val ls = 1 + (if (r.nextDouble() < 0.8) r.nextInt(3) else r.nextInt(12))
          (1 to ls).takeWhile(_ => k < count).foreach { l =>
            b += Row.fromSeq(Seq(o, l, Gen.word(r), r.nextInt(10000) / 4.0,
              Seq("new", "paid", "sent")(r.nextInt(3))) ++ extra(r, gen))
            k += 1
          }
          o += 1 + r.nextInt(3)
        }
        b.result()
      }
      val base = rows(1L, n(2000), 0)
      val schema = StructType(Seq(StructField("order_id", LongType), StructField("line_no", IntegerType),
        StructField("sku", StringType), StructField("amount", DoubleType),
        StructField("status", StringType)) ++ tail)
      GenTable("items", schema, Seq("order_id", "line_no"), Nil,
        Seq("sku" -> "UPPER(sku)", "amount" -> "amount + 0.5", "status" -> "CONCAT('s:', status)"),
        schema,
        x => Row.fromSeq(Seq(x.getLong(0), x.getInt(1), upper(x.getString(2)), x.getDouble(3) + 0.5,
          "s:" + x.getString(4)) ++ x.toSeq.drop(5)),
        base, rows(base.last.getLong(0) + 10, n(100), 1))
    }
    Seq(orders, users, items)
  }
}
