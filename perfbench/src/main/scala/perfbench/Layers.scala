package perfbench

/** Per-layer metrics of a traced run, computed over its traced ops.
  * Every metric is emitted on every workload; a layer that does no work
  * on a workload reads 0 there (the predicted "no change" pairings). */
object Layers {

  val verbs = Seq("insert", "update", "delete", "merge", "select", "copy", "optimize")

  /** Figures an op notes about itself, averaged over the ops that noted
    * them (timings) or over all traced ops (per-op counts). */
  private val notedMeans = Seq(
    "manifest.snapshot_version_s", "manifest.resolve_cold_s", "manifest.resolve_warm_s",
    "streaming.latest_offset_ms", "streaming.get_batch_ms", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms", "streaming.startup_s",
    "ops.build_s", "ops.exec_s")
  private val notedPerOp = Seq(
    "manifest.versions_per_op", "manifest.files_written_per_op",
    "manifest.bytes_written_per_op")

  val names: Seq[String] = Seq(
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.job_busy_s", "spark.outside_jobs_s", "spark.task_cpu_s",
    "spark.shuffle_write_bytes", "spark.slot_utilisation",
    "catalyst.actions_per_op", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "manifestsql.self_s") ++
    verbs.map(v => s"manifestsql.stmt_s.$v") ++ notedMeans ++ notedPerOp ++ Seq(
    "manifest.live_files", "manifest.bytes_written_per_user_byte", "ingest.rows_per_s",
    "jvm.gc_s", "functions.init_s", "trace.overhead_frac", "trace.ops")

  def unitOf(name: String): String = name match {
    case "ingest.rows_per_s" => "rows/s"
    case n if n.endsWith("_s") || n.startsWith("manifestsql.stmt_s.") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("bytes") || n.endsWith("bytes_written_per_op") => "bytes"
    case "spark.slot_utilisation" | "trace.overhead_frac" |
         "manifest.bytes_written_per_user_byte" => "ratio"
    case _ => "count"
  }

  def compute(t: Tracer, notes: Notes, ops: Seq[OpRecord], w: Workload,
              cores: Int, initS: Double): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    def perOp(f: OpRecord => Double): Double = traced.map(f).sum / n

    val spark = traced.map(o => o -> t.ledger.forOp(o.id)).toMap
    val jobIv = traced.map(o => o -> spark(o).jobIntervals.toSeq).toMap
    val busyMs = traced.map(o => o -> Stats.covered(o.startMs -> o.endMs, jobIv(o))).toMap
    val cat = traced.map(o => o -> t.catalyst.within(o.startMs, o.endMs)).toMap
    def phase(p: String)(o: OpRecord): Double =
      cat(o)._1.collect { case (`p`, s, e) => (e - s) / 1000.0 }.sum

    val stmts = traced.filter(o => w.statementKinds(o.kind))
    val selfS = stmts.map { o =>
      val children = jobIv(o) ++ cat(o)._1.map { case (_, s, e) => (s, e) }
      Stats.selfTime(o.startMs -> o.endMs, children) / 1000.0
    }
    val totalBusyMs = busyMs.values.sum.toDouble
    val taskMs = traced.map(o => spark(o).taskRunMs).sum.toDouble

    // overhead: traced over untraced mean latency, kind by kind,
    // weighted by how often each kind was traced
    val byKind = ops.groupBy(_.kind).values.toSeq.flatMap { os =>
      val (tr, un) = os.filter(_.ok).partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some((tr.size * Stats.mean(tr.map(_.wallS)), tr.size * Stats.mean(un.map(_.wallS))))
    }
    val overhead =
      if (byKind.isEmpty) 0.0 else byKind.map(_._1).sum / byKind.map(_._2).sum - 1

    val base = Map(
      "spark.jobs_per_op" -> perOp(o => spark(o).jobs),
      "spark.stages_per_op" -> perOp(o => spark(o).stages),
      "spark.tasks_per_op" -> perOp(o => spark(o).tasks),
      "spark.job_busy_s" -> perOp(o => busyMs(o) / 1000.0),
      "spark.outside_jobs_s" -> perOp(o => (o.endMs - o.startMs - busyMs(o)) / 1000.0),
      "spark.task_cpu_s" -> perOp(o => spark(o).cpuNs / 1e9),
      "spark.shuffle_write_bytes" -> perOp(o => spark(o).shuffleWriteBytes.toDouble),
      "spark.slot_utilisation" -> (if (totalBusyMs == 0) 0.0 else taskMs / (totalBusyMs * cores)),
      "catalyst.actions_per_op" -> perOp(o => cat(o)._2),
      "catalyst.analysis_s" -> perOp(o =>
        phase("analysis")(o) + notes.of(o.id).getOrElse("catalyst.analysis_s", 0.0)),
      "catalyst.optimization_s" -> perOp(phase("optimization")),
      "catalyst.planning_s" -> perOp(phase("planning")),
      "manifestsql.self_s" -> (if (selfS.isEmpty) 0.0 else Stats.mean(selfS)),
      "jvm.gc_s" -> perOp(_.gcMs / 1000.0),
      "functions.init_s" -> initS,
      "trace.overhead_frac" -> overhead,
      "trace.ops" -> traced.size.toDouble)
    val stmtTimes = verbs.map { v =>
      val os = stmts.filter(o => o.kind == v && o.ok)
      s"manifestsql.stmt_s.$v" -> (if (os.isEmpty) 0.0 else Stats.median(os.map(_.wallS)))
    }
    val noted = notedMeans.map { k =>
      val vs = traced.flatMap(o => notes.of(o.id).get(k))
      k -> (if (vs.isEmpty) 0.0 else Stats.mean(vs))
    } ++ notedPerOp.map { k =>
      k -> perOp(o => notes.of(o.id).getOrElse(k, 0.0))
    }
    val defaults = names.map(_ -> 0.0).toMap
    defaults ++ base ++ stmtTimes ++ noted
  }
}
