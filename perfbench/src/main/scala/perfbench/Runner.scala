package perfbench

import graft.ops.Manifest
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload for one seed: session start, set-up, the timed
  * closed loop with one client, the correctness checks, and the result
  * file that `run.py` turns into the benchmark's output line.
  *
  * {{{
  * perfbench.Runner --workload etl_mix --seed 1 --seconds 10 --trace 0
  *                  --work <dir> --cores 4
  * }}}
  */
object Runner {

  /** Median latency of `ops`; a failed op counts as +infinity. */
  def p50(ops: Seq[OpRecord]): Double = latency(ops, 50)

  def latency(ops: Seq[OpRecord], p: Double): Double =
    Stats.percentile(ops.map(o => if (o.ok) o.wallS else Double.PositiveInfinity), p)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Retained heap is read once a run has done this many blocks (every
    * run does at least two), so it measures a fixed amount of work, not
    * however many blocks the box's speed allowed. */
  val HeapAfterBlocks = 2

  /** Heap in use after full collections, outside any op's span. A
    * collection hands Spark's context cleaner the shuffles and
    * broadcasts that became unreachable, and the cleaner frees their
    * blocks on its own thread afterwards; so collect again after a pause
    * until the reading stops falling by more than 1 MB (five rounds at
    * most). */
  private def retainedHeapMb(): Double = {
    def usedAfterGc(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = Long.MaxValue
    var cur = usedAfterGc()
    var rounds = 1
    while (prev - cur > (1L << 20) && rounds < 5) {
      Thread.sleep(200)
      prev = cur; cur = usedAfterGc(); rounds += 1
    }
    cur / 1048576.0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val cores = opts.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tInit = System.nanoTime()
    graft.Graft.init(spark)
    val initS = (System.nanoTime() - tInit) / 1e9
    val sessionS = (System.nanoTime() - t0) / 1e9

    val notes = new Notes
    val w: Workload = workload match {
      case "etl_mix" => new EtlMix(spark, work, seed, notes)
      case "analytic_batch" => new AnalyticBatch(spark, work, seed, notes)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val repS = (0 until 3).map { r =>
      val t = System.nanoTime(); w.setupRep(r); (System.nanoTime() - t) / 1e9
    }
    val tWarm = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + Stats.median(repS) + warmS

    // ---- the timed closed loop --------------------------------------
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val probe = new ManifestProbe(spark, notes)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val errors = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    var pos = 0 // the op's place in its block
    var blocks = 0
    var heapMb = Double.NaN
    while (System.nanoTime() < deadline || !w.blockDone) {
      val op = w.nextOp()
      val id = s"op$i"
      // the traced run alternates traced and untraced ops, so both
      // kinds see the same workload state and the same JIT; the parity
      // flips each block, so an op kind at a fixed place in a block is
      // traced in every other block, whatever the block's size
      val traced = tracer.isDefined && (pos + blocks) % 2 == 1
      notes.current = id
      if (traced) { tracer.get.attach(); probe.before(op.roots) }
      spark.sparkContext.setLocalProperty(Tracer.OpProperty, id)
      val gc0 = gcMs()
      val s0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val ok =
        try { op.run(); true }
        catch { case e: Throwable =>
          errors += s"$id ${op.kind}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          false
        }
      val n1 = System.nanoTime()
      val s1 = System.currentTimeMillis()
      val gc1 = gcMs()
      spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
      if (traced) { tracer.get.detach(); probe.after(op.roots) }
      records += OpRecord(id, op.kind, s0, math.max(s1, s0), (n1 - n0) / 1e9, ok, traced, gc1 - gc0)
      i += 1; pos += 1
      if (w.blockDone) {
        blocks += 1; pos = 0
        if (blocks == HeapAfterBlocks) heapMb = retainedHeapMb()
      }
    }

    val checkErrors = w.check()
    val ops = records.toSeq
    val layerTotals = if (trace) w.layerTotals(ops) else Map.empty[String, Double]

    val timed = if (trace) ops.filterNot(_.traced) else ops
    val busyS = timed.map(_.wallS).sum
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", timed.count(_.ok) / busyS, "1/s"),
      ("op_p50_s", latency(timed, 50), "s"),
      ("op_p90_s", latency(timed, 90), "s"),
      ("retained_heap_mb", heapMb, "MB"),
      ("failed_ops_frac", ops.count(!_.ok).toDouble / ops.size, "fraction"),
    ) ++ w.extraMetrics(timed)
    val layers = tracer.map(t => Layers.compute(t, notes, ops, w, cores, initS) ++ layerTotals)
      .getOrElse(Map.empty)
    tracer.foreach(t => writeSpans(Paths.get(work, "spans.jsonl"), t, ops))

    val info = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "cores" -> cores.toString, "seconds" -> seconds.toString,
      "ops" -> ops.size.toString,
      "timed_ops" -> timed.size.toString,
      "ops_by_kind" -> Json.obj(ops.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.size.toString }),
      "p50_s_by_kind" -> Json.obj(timed.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(p50(v)) }),
      "setup_reps_s" -> repS.map(Json.num).mkString("[", ",", "]"),
      "session_s" -> Json.num(sessionS), "warmup_s" -> Json.num(warmS),
      "op_log" -> ops.map(o => Json.obj(Seq("kind" -> Json.str(o.kind),
        "wall_s" -> Json.num(o.wallS), "traced" -> o.traced.toString, "ok" -> o.ok.toString)))
        .mkString("[", ",", "]"))
    val result = Json.obj(Seq(
      "correct" -> (checkErrors.isEmpty && errors.isEmpty).toString,
      "attempted" -> ops.size.toString,
      "failed" -> ops.count(!_.ok).toString,
      "e2e" -> Json.obj(e2e.map { case (n, v, u) => n -> Json.metric(v, u) }),
      "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (n, v) =>
        n -> Json.metric(v, Layers.unitOf(n)) }),
      "errors" -> (errors ++ checkErrors).map(Json.str).mkString("[", ",", "]"),
      "info" -> Json.obj(info)))
    Files.writeString(Paths.get(work, "result.json"), result)
    spark.stop()
  }

  private def writeSpans(path: Path, t: Tracer, ops: Seq[OpRecord]): Unit = {
    val sb = new StringBuilder
    def line(s: Span): Unit = sb.append(Json.obj(Seq(
      "name" -> Json.str(s.name), "start_ms" -> s.startMs.toString,
      "end_ms" -> s.endMs.toString, "parent" -> Json.str(s.parent),
      "op" -> Json.str(s.op)))).append('\n')
    ops.filter(_.traced).foreach { o =>
      line(Span(o.kind, o.startMs, o.endMs, "", o.id))
      t.catalyst.within(o.startMs, o.endMs)._1.foreach { case (p, s, e) =>
        line(Span(s"catalyst.$p", s, e, o.id, o.id)) }
    }
    t.ledger.jobSpans.foreach(line)
    Files.writeString(path, sb.toString)
  }
}

/** Timed calls to the table format's public metadata entry points,
  * made between ops so they never sit inside an op's span.
  *
  * The engine memoizes resolved manifests by `(root, version)`. To keep
  * the probe from warming the entry the next op will look up, it
  * resolves through another spelling of the same root (`<root>/.`),
  * which the memo keys separately: the next op pays its own miss
  * exactly as in the untraced run. The probe's parent lookups hit
  * entries of that alias root warmed by earlier probes, just as the
  * engine's own lookups hit its entries, so `resolve_cold_s` is the
  * cost of resolving one new claim on a warm chain. */
final class ManifestProbe(spark: SparkSession, notes: Notes) {
  private var before = Map.empty[String, (Long, Long, Long)]

  private def footprint(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
    finally s.close()
  }

  def before(roots: Seq[String]): Unit =
    before = roots.map { r =>
      val (n, b) = footprint(r)
      r -> (Manifest.snapshotVersion(r), n, b)
    }.toMap

  def after(roots: Seq[String]): Unit = roots.foreach { r =>
    val t0 = System.nanoTime()
    val v = Manifest.snapshotVersion(r)
    val t1 = System.nanoTime()
    Manifest.manifestRows(spark, r + "/.", v)
    val t2 = System.nanoTime()
    Manifest.manifestRows(spark, r + "/.", v)
    val t3 = System.nanoTime()
    val (v0, n0, b0) = before(r)
    val (n1, b1) = footprint(r)
    notes.add("manifest.snapshot_version_s", (t1 - t0) / 1e9)
    notes.add("manifest.resolve_cold_s", (t2 - t1) / 1e9)
    notes.add("manifest.resolve_warm_s", (t3 - t2) / 1e9)
    notes.add("manifest.versions_per_op", (v - v0).toDouble)
    notes.add("manifest.files_written_per_op", math.max(0L, n1 - n0).toDouble)
    notes.add("manifest.bytes_written_per_op", math.max(0L, b1 - b0).toDouble)
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metric(v: Double, unit: String): String =
    obj(Seq("value" -> num(v), "unit" -> str(unit)))
}
