package graftbench

/** Per-layer metrics: the full list with units, the Spark-runtime ones
  * every workload shares, and the engine ones both transfer workloads
  * derive from the recorded control hooks. A workload that bypasses a
  * layer reports its metrics as 0 — that workload is the layer's control. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.core_busy_ratio" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "core.spec_ms" -> "ms",
    "engine.plan_s" -> "s", "engine.chunks" -> "count", "engine.jobs_per_chunk" -> "ratio",
    "engine.chunk_gap_p50_ms" -> "ms", "engine.chunk_gap_max_ms" -> "ms",
    "engine.finish_s" -> "s", "engine.table_skew" -> "ratio",
    "sources.rows_read" -> "count", "sources.bytes_read" -> "bytes",
    "sources.read_amplification" -> "ratio", "sources.jdbc_introspect_ms" -> "ms",
    "sinks.rows_written" -> "count", "sinks.bytes_written" -> "bytes",
    "sinks.files_written" -> "count", "sinks.bytes_per_file" -> "bytes",
    "sinks.merge_insert_rows_per_s" -> "1/s", "sinks.merge_update_rows_per_s" -> "1/s",
    "ops.dedup.exact_s" -> "s", "ops.dedup.lsh_s" -> "s", "ops.dedup.clusters_s" -> "s",
    "ops.dedup.keep_s" -> "s", "ops.dedup.pairs" -> "count", "ops.dedup.ids_over_cap" -> "count",
    "ops.text.langid_s" -> "s",
    "ops.similarity.train_s" -> "s", "ops.similarity.assign_s" -> "s",
    "ops.similarity.jobs_per_query" -> "ratio", "ops.similarity.candidates_per_query" -> "ratio",
    "ops.similarity.cell_skew" -> "ratio",
    "trace.overhead_ms" -> "ms")
  private val unitOf = Units.toMap

  def put(r: Report, name: String, v: Double): Unit = {
    require(unitOf.contains(name), s"undeclared per-layer metric $name")
    r.layers(name) = Metric(v, unitOf(name))
  }

  /** Zero for every layer metric the workload did not set, then the
    * declared order. */
  def fillMissing(r: Report): Unit = {
    val have = r.layers.toMap
    r.layers.clear()
    Units.foreach { case (k, u) => r.layers(k) = have.getOrElse(k, Metric(0.0, u)) }
  }

  /** Traced cycles' timed phases → Spark runtime counters, median per cycle. */
  def spark(r: Report, t: Tracer, rec: SparkRecorder, cores: Int): Unit = {
    val perCycle = t.named("cycle").map { c =>
      val phases = t.all.filter(s => s.name.startsWith("phase.") && s.startMs >= c.startMs &&
        s.endMs <= c.endMs)
      val tasks = phases.flatMap(rec.tasksIn)
      val wallS = phases.map(_.durS).sum
      val runS = tasks.map(_.runMs).sum / 1000.0
      Map(
        "spark.jobs" -> phases.map(rec.jobsIn).sum.toDouble,
        "spark.stages" -> phases.map(rec.stagesIn).sum.toDouble,
        "spark.tasks" -> tasks.size.toDouble,
        "spark.task_run_s" -> runS,
        "spark.core_busy_ratio" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
        "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
        "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
        "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
        "spark.gc_s" -> tasks.map(_.gcMs).sum / 1000.0)
    }
    if (perCycle.nonEmpty)
      perCycle.head.keys.foreach(k => put(r, k, Stats.median(perCycle.map(_(k)))))
  }

  /** Engine metrics of the full-transfer phases, from the control hooks
    * recorded in traced cycles (`runs` = one control per traced full run,
    * with that run's phase span). */
  def engine(r: Report, rec: SparkRecorder, runs: Seq[(Span, RecordingControl)]): Unit = {
    if (runs.isEmpty) return
    val tables = runs.flatMap(_._2.tables)
    val gaps = tables.flatMap(_.gapsMs)
    put(r, "engine.plan_s", Stats.medianOr0(tables.flatMap(_.planS)))
    put(r, "engine.chunks", Stats.median(runs.map(_._2.checks.toDouble)))
    put(r, "engine.jobs_per_chunk", Stats.median(runs.map { case (s, c) =>
      rec.jobsIn(s).toDouble / math.max(1, c.checks) }))
    put(r, "engine.chunk_gap_p50_ms", Stats.medianOr0(gaps))
    put(r, "engine.chunk_gap_max_ms", if (gaps.isEmpty) 0.0 else gaps.max)
    put(r, "engine.finish_s", Stats.medianOr0(tables.flatMap(_.finishS)))
    put(r, "engine.table_skew", Stats.median(runs.map { case (_, c) =>
      val w = c.tables.map(_.wallS)
      if (w.isEmpty) 0.0 else w.max / Stats.mean(w) }))
  }

  /** Reconstruct the engine's per-table intervals as spans under `parent`. */
  def engineSpans(t: Tracer, parent: Int, c: RecordingControl): Unit =
    c.tables.foreach { th =>
      t.record("engine.table", parent, th.startNs, th.endNs, th.thread)
      th.checkNs.headOption.foreach(f => t.record("engine.plan", parent, th.startNs, f, th.thread))
      th.checkNs.sliding(2).foreach {
        case Seq(a, b) => t.record("engine.chunk_gap", parent, a, b, th.thread)
        case _ => ()
      }
      th.checkNs.lastOption.foreach(l => t.record("engine.finish", parent, l, th.endNs, th.thread))
    }
}
