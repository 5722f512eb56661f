package lakebench

import scala.collection.mutable

import graft.lake.DuckLake

/** Per-layer numbers of a traced run, from the spans and counts the
  * benchmark records around its calls into each module, and from the
  * per-operation Spark stage metrics. Times and per-cycle counts are
  * averages over the traced cycles; catalog state is read at the end.
  */
object Layers {
  /** The per-layer metrics of the result line. Every workload reports
    * every one: a time or a count reads 0 where its layer does no work.
    */
  val Reported: Seq[(String, String)] = Seq(
    "catalog.snapshot_ms" -> "ms", "catalog.resolve_ms" -> "ms",
    "catalog.files_ms" -> "ms", "catalog.columns_ms" -> "ms", "catalog.stats_ms" -> "ms",
    "catalog.live_files" -> "count", "catalog.delete_files" -> "count",
    "catalog.deleted_rows" -> "count", "catalog.snapshots" -> "count",
    "catalog.db_bytes" -> "bytes",
    "scan.build_ms" -> "ms", "scan.files_kept" -> "count",
    "scan.relations" -> "count", "scan.lake_tax" -> "ratio",
    "sql.analyze_ms" -> "ms", "sql.plan_ms" -> "ms", "plan.df_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
    "exec.task_gc_ms" -> "ms",
    "exec.input_bytes" -> "bytes", "exec.input_rows" -> "count",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.output_bytes" -> "bytes",
    "rowlevel.input_rows" -> "count", "rowlevel.read_amplification" -> "ratio",
    "write.job_ms" -> "ms", "write.driver_ms" -> "ms", "write.files_added" -> "count",
    "write.delete_files_added" -> "count", "write.bytes_written" -> "bytes",
    "maint.rewrite_ms" -> "ms", "maint.expire_ms" -> "ms", "maint.vacuum_ms" -> "ms",
    "maint.bytes_rewritten" -> "bytes", "maint.files_removed" -> "count",
    "dedup.build_ms" -> "ms", "dedup.exec_ms" -> "ms", "dedup.candidates" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.candidate_yield" -> "ratio",
    "dedup.sort_aggregates" -> "count",
    "jvm.gc_ms" -> "ms", "trace.overhead" -> "ratio")

  private val Writes = Set("append", "delete", "update", "merge")

  private def tableRec(lake: DuckLake, table: String, snap: Long) = {
    val Array(schema, name) = table.split('.')
    val sch = lake.store.getSchemaByName(schema, snap).getOrElse(sys.error(s"no schema $schema"))
    lake.store.getTableByName(sch.schemaId, name, snap).getOrElse(sys.error(s"no table $table"))
  }

  /** The catalog round trips a scan build makes, each timed on its own. */
  def catalogCalls(t: Tracer, lake: DuckLake, table: String, snapshot: Option[Long]): Unit = {
    val cur = t.span("catalog.snapshot")(lake.store.currentSnapshot)
    val snap = snapshot.getOrElse(cur)
    val tr = t.span("catalog.resolve")(tableRec(lake, table, snap))
    t.span("catalog.columns")(lake.store.getTableColumns(tr.tableId, snap))
    t.span("catalog.files")(lake.store.getDataFiles(tr.tableId, snap))
    t.span("catalog.stats")(lake.store.getFileStats(tr.tableId))
  }

  /** Live data files, files with deletes and deleted rows, summed over tables. */
  def fileState(lake: DuckLake, tables: Seq[String]): (Long, Long, Long) = {
    val snap = lake.store.currentSnapshot
    val files = tables.flatMap(t => lake.store.getDataFiles(tableRec(lake, t, snap).tableId, snap))
    (files.size.toLong, files.count(_.deleteFile.isDefined).toLong,
      files.flatMap(_.deleteFile.map(_.recordCount)).sum)
  }

  private def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  /** Medians of each tax read on its three paths: (name, raw, df, sql). */
  private def ladder(ctx: Ctx, reads: Seq[TaxRead]): Seq[(String, Double, Double, Double)] =
    reads.map { r =>
      def med(body: => Unit): Double = { body; Stats.median((1 to 3).map(_ => timeMs(body))) }
      (r.name, med(r.raw().collect()), med(r.lakeDf().collect()),
        med(ctx.spark.sql(r.sql).collect()))
    }

  /** The reported metrics and the printed per-layer report. */
  def report(ctx: Ctx, wl: Workload, cycleMs: Seq[(Boolean, Double)], gcMs: Double)
      : (Seq[(String, (Double, String))], Seq[String]) = {
    val t = ctx.tracer
    val n = cycleMs.count(_._1).toDouble
    val self = t.selfMs
    val m = mutable.LinkedHashMap.empty[String, Double]
    def per(name: String) = self.getOrElse(name, 0.0) / n
    Seq("catalog.snapshot", "catalog.resolve", "catalog.files", "catalog.columns",
      "catalog.stats", "scan.build", "sql.analyze", "sql.plan", "plan.df")
      .foreach(s => m(s"${s}_ms") = per(s))

    val execByOp = t.ops.map(o => o -> t.execOf(o)).toSeq
    val all = new ExecTotals
    execByOp.foreach(e => all.add(e._2))
    m("exec.ms") = all.jobMs / n
    m("exec.jobs") = all.jobs / n
    m("exec.stages") = all.stages / n
    m("exec.tasks") = all.tasks / n
    m("exec.task_run_ms") = all.taskRunMs / n
    m("exec.task_cpu_ms") = all.taskCpuMs / n
    m("exec.task_gc_ms") = all.taskGcMs / n
    m("exec.input_bytes") = all.inputBytes / n
    m("exec.input_rows") = all.inputRows / n
    m("exec.shuffle_write_bytes") = all.shuffleWriteBytes / n
    m("exec.spill_bytes") = all.spillBytes / n
    m("exec.output_bytes") = all.outputBytes / n

    def ofKinds(p: String => Boolean) = execByOp.filter(e => p(e._1.kind))
    val rowLevel = ofKinds(k => k == "update" || k == "merge")
    m("rowlevel.input_rows") = rowLevel.map(_._2.inputRows).sum / n
    val changed = t.counts.getOrElse("rowlevel.rows_changed", 0.0) / n
    m("rowlevel.read_amplification") = if (changed > 0) m("rowlevel.input_rows") / changed else 0.0
    val writes = ofKinds(Writes)
    m("write.job_ms") = writes.map(_._2.jobMs).sum / n
    m("write.driver_ms") = writes.map(e => e._1.wallMs - e._2.jobMs).sum / n
    m("write.bytes_written") = writes.map(_._2.outputBytes).sum / n
    val rewrites = ofKinds(_ == "maint.rewrite")
    m("maint.bytes_rewritten") = rewrites.map(_._2.outputBytes).sum / n
    Seq("maint.rewrite", "maint.expire", "maint.vacuum")
      .foreach(k => m(s"${k}_ms") = per(s"op.$k"))
    Seq("dedup.build", "dedup.exec").foreach(s => m(s"${s}_ms") = per(s))
    t.counts.foreach { case (k, v) => if (k != "rowlevel.rows_changed") m(k) = v / n }

    val (live, withDel, delRows) = fileState(wl.lake, wl.tables)
    m("catalog.live_files") = live.toDouble
    m("catalog.delete_files") = withDel.toDouble
    m("catalog.deleted_rows") = delRows.toDouble
    m("catalog.snapshots") = wl.lake.store.snapshots.size.toDouble
    m("catalog.db_bytes") = Files.du(new java.io.File(wl.root, "meta")).toDouble
    wl.layerCounts(ctx).foreach { case (k, v) => m(k) = v }
    m("jvm.gc_ms") = gcMs / n
    val traced = Stats.median(cycleMs.filter(_._1).map(_._2))
    val untraced = Stats.median(cycleMs.filterNot(_._1).map(_._2))
    m("trace.overhead") = traced / untraced

    val lad = ladder(ctx, wl.taxReads(ctx))
    m("scan.lake_tax") = lad.map(_._3).sum / lad.map(_._2).sum

    val lines = mutable.ArrayBuffer.empty[String]
    lines += f"[lakebench] traced cycles=${n.toInt} cycle_ms traced=$traced%.1f untraced=$untraced%.1f " +
      f"overhead=${(traced / untraced - 1) * 100}%.1f%%"
    lines += "[lakebench] self time per traced cycle, by span (ms):"
    self.toSeq.sortBy(-_._2).foreach { case (k, v) =>
      lines += f"[lakebench]   $k%-22s ${v / n}%10.2f"
    }
    lines += "[lakebench] lake-tax ladder (median ms; raw parquet ignores deletes):"
    lines += f"[lakebench]   ${"read"}%-18s ${"raw"}%9s ${"df"}%9s ${"sql"}%9s ${"df/raw"}%7s ${"sql/raw"}%7s"
    lad.foreach { case (name, raw, df, sql) =>
      lines += f"[lakebench]   $name%-18s $raw%9.1f $df%9.1f $sql%9.1f ${df / raw}%7.2f ${sql / raw}%7.2f"
    }
    (Reported.map { case (k, u) => k -> (m.getOrElse(k, 0.0), u) }, lines.toSeq)
  }
}
