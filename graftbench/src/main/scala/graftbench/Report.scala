package graftbench

/**
 * Turns one run's op records and spans into metrics: the end-to-end set
 * (untraced run), a readable report of every end-to-end figure with its
 * sample count, and the per-layer set (traced run). Each metric is
 * name → (value, unit).
 */
final class Report(recs: Seq[Rec], tracer: Tracer,
    manifest: Seq[(Double, Long, Int, Int)], scanApiMs: Seq[Double],
    bytesAfterSetup: Long, bytesAtEnd: Long, wl: Workload) {
  import Stats._

  type Metrics = Seq[(String, (Double, String))]

  val Classes = Seq("commit", "get", "scan", "lookup", "refresh", "maintain")
  val Templates = Seq("get", "range", "filter", "agg", "count")

  // End-to-end figures come from untraced ops only.
  private val plain = recs.filterNot(_.traced)
  private def ms(cls: String, rs: Seq[Rec] = plain) = rs.filter(_.cls == cls).map(_.ms)

  /** Ops per second of op latency, `maintain` included: one client with
    * no think time, so the untimed model checks between ops stay out. */
  private def opsPerS(rs: Seq[Rec]): Double = rs.size / (rs.map(_.ms).sum / 1000.0)

  /** Bytes every op added under the table directories ÷ logical bytes of
    * the rows the commits mutated. */
  private def writeAmp: Double =
    recs.map(_.bytes).sum.toDouble / (recs.map(_.rows).sum * wl.rowWidth)

  private def spaceAmp: Double = bytesAtEnd.toDouble / bytesAfterSetup

  def endToEnd(setupS: Double): Metrics = Seq(
    "setup_s" -> (setupS, "s"),
    "ops_per_s" -> (opsPerS(plain), "1/s"),
    "get_ms_p50" -> (median(ms("get")), "ms"))

  /** Every end-to-end figure of the workload, with sample counts; a p90
    * is shown only with at least 100 samples. */
  def print(setupS: Double, attempted: Int, failed: Int): Unit = {
    def line(name: String, v: String) = println(f"metric $name%-16s $v")
    line("setup_s", f"$setupS%.3f s")
    def lat(name: String, cls: String, p90: Boolean): Unit = {
      val xs = ms(cls)
      if (xs.nonEmpty) {
        line(s"${name}_ms_p50", f"${median(xs)}%.2f ms (n=${xs.size})")
        if (p90) {
          if (xs.size >= 100) line(s"${name}_ms_p90", f"${quantile(xs, 0.9)}%.2f ms (n=${xs.size})")
          else line(s"${name}_ms_p90", s"omitted (n=${xs.size} < 100)")
        }
      }
    }
    lat("commit", "commit", p90 = true)
    lat("get", "get", p90 = true)
    lat("scan", "scan", p90 = true)
    lat("lookup", "lookup", p90 = false)
    lat("refresh", "refresh", p90 = false)
    lat("maintain", "maintain", p90 = false)
    line("ops_per_s", f"${opsPerS(plain)}%.3f 1/s (n=${plain.size})")
    if (recs.exists(_.cls == "commit")) {
      line("write_amp", f"$writeAmp%.3f ratio")
      line("space_amp", f"$spaceAmp%.3f ratio")
    }
    line("error_rate", f"${failed.toDouble / math.max(1, attempted)}%.3f ratio (failed=$failed of $attempted)")
  }

  private def spans(name: String) = tracer.spans.toSeq.filter(_.name == name)
  private def meanOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else mean(xs)
  private def medOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)

  /** Tracing overhead: (untraced − traced) ops/s ÷ untraced, with both
    * halves weighted to the run's op mix (per-template mean latencies). */
  private def overheadPct: Double = {
    val byT = recs.groupBy(_.template).filter { case (_, rs) =>
      rs.exists(_.traced) && rs.exists(!_.traced) }
    val untraced = byT.values.map(rs => rs.size * mean(rs.filterNot(_.traced).map(_.ms))).sum
    val traced = byT.values.map(rs => rs.size * mean(rs.filter(_.traced).map(_.ms))).sum
    if (traced == 0) 0.0 else 100.0 * (1.0 - untraced / traced)
  }

  def perLayer: Metrics = {
    val tr = recs.filter(_.traced)
    val scanned = tr.filter(_.scan.nonEmpty)
    def scanMean(k: String) = meanOf(scanned.map(_.scan(k).toDouble))
    val read = scanned.map(_.scan("graftBaseFilesRead")).sum.toDouble
    val pruned = scanned.map(_.scan("graftBaseFilesPruned")).sum.toDouble
    val deltas = scanned.map(r => r.scan("graftDeltaFilesBroadcast") +
      r.scan("graftDeltaFilesAttached") + r.scan("graftDeltaFilesSpilled")).sum.toDouble
    val commits = spans("op.commit")
    val refreshes = spans("op.refresh")
    val lookups = tr.filter(_.cls == "lookup").flatMap(_.served)
    val lookupIds = spans("op.lookup").map(_.id).toSet
    val m = Seq.newBuilder[(String, (Double, String))]
    m += "catalog.manifest_read_ms" -> (medOf(manifest.map(_._1)), "ms")
    m += "catalog.manifest_bytes" -> (manifest.lastOption.map(_._2.toDouble).getOrElse(0.0), "bytes")
    m += "catalog.files_tracked" -> (manifest.lastOption.map(_._3.toDouble).getOrElse(0.0), "count")
    m += "table.commit_driver_ms" -> (meanOf(commits.map(tracer.driverMs)), "ms")
    m += "table.bytes_written" -> (meanOf(recs.filter(_.cls == "commit").map(_.bytes.toDouble)), "bytes")
    m += "table.delta_files" -> (meanOf(manifest.map(_._4.toDouble)), "count")
    m += "table.maintain_bytes_rewritten" ->
      (meanOf(recs.filter(_.cls == "maintain").map(_.bytes.toDouble)), "bytes")
    m += "table.scan_api_get_ms" -> (medOf(scanApiMs), "ms")
    m += "table.write_amp" -> (if (recs.exists(_.cls == "commit")) writeAmp else 0.0, "ratio")
    m += "table.space_amp" -> (spaceAmp, "ratio")
    m += "sources.v2.plan_ms" -> (medOf(spans("sources.v2.plan").map(_.ms)), "ms")
    m += "sources.v2.exec_ms" -> (medOf(spans("sources.v2.exec").map(_.ms)), "ms")
    m += "sources.v2.base_files_read" -> (scanMean("graftBaseFilesRead"), "count")
    m += "sources.v2.base_files_pruned" -> (scanMean("graftBaseFilesPruned"), "count")
    m += "sources.v2.pruned_share" -> (if (read + pruned == 0) 0.0 else pruned / (read + pruned), "ratio")
    m += "sources.v2.delta_files_broadcast" -> (scanMean("graftDeltaFilesBroadcast"), "count")
    m += "sources.v2.delta_files_attached" -> (scanMean("graftDeltaFilesAttached"), "count")
    m += "sources.v2.delta_files_spilled" -> (scanMean("graftDeltaFilesSpilled"), "count")
    m += "sources.v2.deltas_per_base_read" -> (if (read == 0) 0.0 else deltas / read, "ratio")
    Templates.foreach { t =>
      m += s"sources.v2.${t}_ms_p50" -> (medOf(tr.filter(_.template == t).map(_.ms)), "ms")
    }
    m += "plans.index_served" ->
      (if (lookups.isEmpty) 0.0 else lookups.count(identity).toDouble / lookups.size, "ratio")
    m += "plans.lookup_plan_ms" ->
      (medOf(spans("sources.v2.plan").filter(s => lookupIds(s.parent)).map(_.ms)), "ms")
    m += "tools.refresh_driver_ms" -> (meanOf(refreshes.map(tracer.driverMs)), "ms")
    m += "tools.refresh_bytes_written" ->
      (meanOf(recs.filter(_.cls == "refresh").map(_.bytes.toDouble)), "bytes")
    // jobs and task time of commits, refreshes and maintains are the
    // spark.<class> figures of their op spans
    Classes.foreach { c =>
      val ss = spans(s"op.$c")
      m += s"spark.$c.jobs" -> (meanOf(ss.map(tracer.jobs(_).toDouble)), "count")
      m += s"spark.$c.stages" -> (meanOf(ss.map(tracer.stages(_).toDouble)), "count")
      m += s"spark.$c.tasks" -> (meanOf(ss.map(tracer.tasks(_).toDouble)), "count")
      m += s"spark.$c.task_ms" -> (meanOf(ss.map(tracer.taskMs(_).toDouble)), "ms")
      m += s"spark.$c.shuffle_bytes" -> (meanOf(ss.map(tracer.shuffleBytes(_).toDouble)), "bytes")
      m += s"jvm.$c.gc_ms" -> (meanOf(tr.filter(_.cls == c).map(_.gcMs.toDouble)), "ms")
    }
    Classes.foreach { c =>
      m += s"op.${c}_ms_p50" -> (medOf(ms(c)), "ms")
      m += s"op.${c}_n" -> (ms(c).size.toDouble, "count")
    }
    m += "trace.overhead_pct" -> (overheadPct, "%")
    m.result()
  }
}
