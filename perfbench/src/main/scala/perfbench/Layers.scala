package perfbench

/** Per-layer numbers of a traced run. Op-level layers are averaged per call
  * over the traced window; set-up layers (graph builds) per set-up call.
  * Jobs are placed by `Attribution`: a job forked onto a pool thread counts
  * in the op and span it ran in. A layer a workload never calls reads 0.
  */
object Layers {

  def report(tracer: Tracer, placed: Seq[Placed], traced: Seq[OpRec], plain: Seq[OpRec],
             wl: Map[String, Double], residue: Map[String, Double],
             storagePeakMb: Double, cpus: Int): Map[String, Double] = {
    val spans   = tracer.all
    val subtree = tracer.subtree
    val jobsBySpan = placed.groupBy(_.span).map { case (s, js) => s -> js.size }
    def jobsIn(s: Span): Int = subtree(s.id).toSeq.map(jobsBySpan.getOrElse(_, 0)).sum
    def calls(name: String, setup: Boolean): Seq[Span] =
      spans.filter(s => s.name == name && (s.op == -1L) == setup)
    def meanSecs(name: String, setup: Boolean = false): Double = {
      val ss = calls(name, setup)
      if (ss.isEmpty) 0.0 else ss.map(_.seconds).sum / ss.size
    }
    def meanJobs(name: String, setup: Boolean = false): Double = {
      val ss = calls(name, setup)
      if (ss.isEmpty) 0.0 else ss.map(jobsIn).sum.toDouble / ss.size
    }

    // an op's jobs: those under its own group, and those forked during it
    val okOps = traced.filter(_.error.isEmpty)
    val byOp = placed.filter(_.op.isDefined).groupBy(_.op.get.id)
    def opJobs(o: OpRec): Seq[JobRec] = byOp.getOrElse(o.id, Nil).map(_.job)
    def forked(o: OpRec): Seq[JobRec] = byOp.getOrElse(o.id, Nil).filter(_.forked).map(_.job)
    def own(o: OpRec): Seq[JobRec] = byOp.getOrElse(o.id, Nil).filterNot(_.forked).map(_.job)
    val regOps = okOps.filter(_.kind.startsWith(Registry.Prefix))
    def covered(js: Seq[JobRec], lo: Long, hi: Long): Long = {
      val iv = js.map(j => (math.max(j.startMs, lo), math.min(if (j.endMs < 0) hi else j.endMs, hi)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a >= end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
      total
    }
    def perOp(f: OpRec => Double, ops: Seq[OpRec] = okOps): Double =
      if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
    val wallMs = okOps.map(o => math.max(1L, o.endMs - o.startMs))

    // traced slowdown against the untraced window of the same run
    def p50(rs: Seq[OpRec]): Double = {
      val ok = rs.filter(_.error.isEmpty)
      val ks = ok.groupBy(_.kind).values.map(r => Stats.median(r.map(_.seconds))).toSeq
      if (ks.isEmpty) Double.NaN else Stats.geomean(ks)
    }

    Map(
      "spark.jobs_per_op" -> perOp(opJobs(_).size.toDouble),
      "spark.forked_jobs_per_op" -> perOp(forked(_).size.toDouble),
      "spark.tasks_per_op" -> perOp(opJobs(_).map(_.tasks).sum.toDouble),
      "spark.driver_gap_frac" -> perOp(o =>
        1.0 - covered(opJobs(o), o.startMs, o.endMs).toDouble / math.max(1L, o.endMs - o.startMs)),
      "spark.exec_util" -> (if (okOps.isEmpty) 0.0
        else okOps.map(opJobs(_).map(_.execRunMs).sum).sum.toDouble / (wallMs.sum.toDouble * cpus)),
      "spark.shuffle_write_mb" -> perOp(opJobs(_).map(_.shuffleWriteBytes).sum / 1e6),
      "spark.spill_mb" -> perOp(opJobs(_).map(_.spillBytes).sum / 1e6),

      "watermark.embed_busy_s" -> meanSecs("watermark.embed"),
      "watermark.embed_jobs" -> meanJobs("watermark.embed"),
      "watermark.extract_busy_s" -> meanSecs("watermark.extract"),
      "watermark.extract_jobs" -> meanJobs("watermark.extract"),
      "watermark.plan_s" -> meanSecs("watermark.plan"),
      "watermark.scpw_prepare_s" -> meanSecs("watermark.scpw_prepare"),
      "watermark.ber_mean" -> wl.getOrElse("ber_mean", 0.0),

      "attacks.busy_s" -> meanSecs("attacks"),
      "attacks.jobs" -> meanJobs("attacks"),
      "experiments.cell_jobs" -> meanJobs("experiments.cell"),
      "experiments.grid_jobs_per_cell" ->
        meanJobs("experiments.grid") / wl.getOrElse("grid_cells", 1.0),

      "knn.exact_index_s" -> meanSecs("knn.exact_index"),
      "knn.exact_scan_s" -> meanSecs("knn.exact_scan"),
      "knn.exact_jobs" -> (meanJobs("knn.exact_index") + meanJobs("knn.exact_scan")),

      "ann.beam_busy_s" -> meanSecs("ann.beam"),
      "ann.beam_jobs" -> meanJobs("ann.beam"),
      "ann.beam_rounds" -> wl.getOrElse("beam_rounds", 0.0),
      "ann.ivf_search_busy_s" -> meanSecs("ann.ivf_search"),
      "ann.ivf_jobs" -> meanJobs("ann.ivf_search"),
      "ann.ivf_insert_s" -> meanSecs("ann.ivf_insert"),

      "graph.edges_build_s" -> meanSecs("graph.edges", setup = true),
      "graph.edges_jobs" -> meanJobs("graph.edges", setup = true),
      "graph.accessibility_s" -> meanSecs("graph.accessibility", setup = true),

      "metrics.recall_s" -> meanSecs("metrics.recall"),
      "metrics.hitrate_s" -> meanSecs("metrics.hitrate"),
      "metrics.recall_at_10" -> wl.getOrElse("recall_at_10", 0.0),
      "metrics.impact_hit_rate" -> wl.getOrElse("impact_hit_rate", 0.0),

      "sources.append_s" -> meanSecs("sources.append"),
      "sources.read_s" -> meanSecs("sources.read"),
      "sources.compact_s" -> meanSecs("sources.compact"),
      "sources.versions" -> wl.getOrElse("versions", 0.0),
      "sources.files_per_read" -> wl.getOrElse("files_per_read", 0.0),
      "sources.write_amp" -> wl.getOrElse("write_amp", 0.0),

      // per registry query: jobs its thread submitted, and jobs other
      // threads ran meanwhile (warm builds and the registry's own forks)
      "registry.fg_jobs" -> perOp(own(_).size.toDouble, regOps),
      "registry.bg_jobs" -> perOp(forked(_).size.toDouble, regOps),
      "registry.bg_busy_s" -> perOp(o => covered(forked(o), o.startMs, o.endMs) / 1e3, regOps),

      "cache.persisted_mb_peak" -> storagePeakMb,
      "cache.persisted_rdds" -> residue("persisted_rdds"),
      "cache.active_streams" -> residue("active_streams"),
      "cache.warm_threads" -> residue("warm_threads"),
      "cache.shm_dirs" -> residue("shm_dirs"),

      "bench.trace_overhead_frac" -> (p50(traced) / p50(plain) - 1.0))
  }
}
