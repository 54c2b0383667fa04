package perfbench

import graft.ops.Manifest
import graft.sources.ManifestSql
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One seeded CSV stage file and what a correct load of it must give. */
final case class StagedFile(name: String, bytes: Long, rows: Long,
                            firstId: Long, cleanRows: Long, cleanIdSum: Long)

object StageGen {
  val header = "trans_id,order_id,product_id,quantity,unit_price,currency,trans_ts,note"
  val cleanFilter = "quantity IS NOT NULL AND unit_price IS NOT NULL AND quantity > 0"

  /** Write `rows` rows in the reference's `prestg_product_order_trans`
    * shape and FILE_FORMAT: header line, comma-delimited, optional `"`
    * enclosure with doubled quotes, and the NULL_IF sentinels `NULL`,
    * `null` and the empty field. Row `j` has `trans_id = firstId + j`. */
  def write(dir: String, name: String, seed: Long, firstId: Long, rows: Int): StagedFile = {
    val rng = new scala.util.Random(seed * 1000003L + firstId)
    val sb = new java.lang.StringBuilder(rows * 80)
    sb.append(header).append('\n')
    var clean = 0L; var idSum = 0L
    var j = 0
    while (j < rows) {
      val id = firstId + j
      val qNull = rng.nextInt(50) == 0
      val pNull = rng.nextInt(50) == 0
      val qty = rng.nextInt(21) - 2 // -2..18: some rows fail the filter
      val price = 1 + rng.nextInt(99999) / 100.0
      val note = rng.nextInt(10) match {
        case 0 => "\"gift, wrapped\""
        case 1 => "\"said \"\"rush\"\"\""
        case 2 => ""
        case _ => s"n${rng.nextInt(1000)}"
      }
      sb.append(id).append(',').append(rng.nextInt(100000)).append(',')
        .append(rng.nextInt(5000)).append(',')
        .append(if (qNull) "NULL" else qty.toString).append(',')
        .append(if (pNull) "null" else f"$price%.2f").append(',')
        .append(if (rng.nextInt(3) == 0) "EUR" else "USD").append(',')
        .append(f"2022-07-${13 + rng.nextInt(3)}%02d ${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:00")
        .append(',').append(note).append('\n')
      if (!qNull && !pNull && qty > 0) { clean += 1; idSum += id }
      j += 1
    }
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, sb)
    StagedFile(name, Files.size(p), rows, firstId, clean, idSum)
  }
}

/** The load half of `etl_mix`: the reference's daily `COPY INTO` from
  * a CSV stage, followed by a streaming hop into a cleaned table. A
  * round runs two SQL `COPY INTO raw … FILES = (…)` statements through
  * `runDml` (op `copy`, one stage file each), one `Trigger.AvailableNow`
  * stream `graft-manifest(raw) → filter / project → graft-manifest(clean)`
  * (op `microbatch`) and `OPTIMIZE clean` (op `optimize`). */
final class IngestStream(spark: SparkSession, work: String, seed: Long, notes: Notes,
                         rowsPerFile: Int = 25000) {
  val appId = "sink-clean"
  val copiesPerRound = 2
  /** Rounds whose stage files set-up writes; later rounds write theirs
    * when they are built, outside any op's time. */
  val stagedRounds = 5
  var rawRoot: String = _
  var cleanRoot: String = _
  var stage: String = _
  private var ckpt: String = _
  private var nextFile = 0
  private var staged = List.empty[StagedFile]
  val loaded = mutable.ArrayBuffer.empty[StagedFile]
  var batches = 0
  var streamRuns = 0
  private var streamedFiles = 0

  val statementKinds: Set[String] = Set("copy", "optimize")

  private def stageNext(): StagedFile = {
    val f = StageGen.write(stage, f"trans_$nextFile%04d.csv", seed,
      nextFile.toLong * rowsPerFile, rowsPerFile)
    nextFile += 1
    f
  }

  /** Fresh roots and the stage files of the first rounds. */
  def setupRep(rep: Int): Unit = {
    val base = s"$work/ingest_r$rep"
    rawRoot = s"$base/raw"; cleanRoot = s"$base/clean"
    stage = s"$base/stage"; ckpt = s"$base/checkpoint"
    nextFile = 0
    loaded.clear(); batches = 0; streamRuns = 0; streamedFiles = 0
    staged = List.fill(stagedRounds * copiesPerRound)(stageNext())
  }

  private def copyStatement(f: StagedFile): String =
    s"""COPY INTO raw FROM '$stage' FILES = ('${f.name}')
       |FILE_FORMAT = (TYPE = CSV FIELD_DELIMITER = ',' SKIP_HEADER = 1
       |  FIELD_OPTIONALLY_ENCLOSED_BY = '"' ESCAPE_UNENCLOSED_FIELD = NONE
       |  NULL_IF = ('NULL', 'null') EMPTY_FIELD_AS_NULL = TRUE)""".stripMargin

  /** The ops of one round. The first round's COPY creates `raw` and its
    * micro-batch creates `clean`. Each copy notes the rows it loaded. */
  def roundOps(): List[Op] = {
    val copies = List.fill(copiesPerRound) {
      val f = staged match {
        case h :: t => staged = t; h
        case Nil => stageNext()
      }
      Op("copy", () => {
        ManifestSql.runDml(spark, rawRoot, copyStatement(f))
        loaded += f
        notes.add(IngestStream.RowsNote, f.rows.toDouble)
      }, Seq(rawRoot))
    }
    copies ++ List(
      Op("microbatch", () => microBatch(), Seq(cleanRoot)),
      Op("optimize", () => ManifestSql.runDml(spark, cleanRoot, "OPTIMIZE clean"), Seq(cleanRoot)))
  }

  private def microBatch(): Unit = {
    val q = spark.readStream.format("graft-manifest")
      .option("root", rawRoot).option("table", "raw").load()
      .filter(StageGen.cleanFilter)
      .select(col("trans_id"), col("order_id"), col("product_id"), col("quantity"),
        col("unit_price"), round(col("quantity") * col("unit_price"), 2).as("amount"),
        col("currency"), col("trans_ts"))
      .writeStream.format("graft-manifest")
      .option("root", cleanRoot).option("table", "clean").option("appId", appId)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    val t0 = System.nanoTime()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    batches += progress.length
    streamRuns += 1
    streamedFiles = loaded.size
    def ms(k: String): Double = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    // a V1 source reports its offset poll as getOffset, a V2 one as latestOffset
    notes.add("streaming.latest_offset_ms", ms("latestOffset") + ms("getOffset"))
    notes.add("streaming.get_batch_ms", ms("getBatch"))
    notes.add("streaming.add_batch_ms", ms("addBatch"))
    notes.add("streaming.query_planning_ms", ms("queryPlanning"))
    notes.add("streaming.wal_commit_ms", ms("walCommit") + ms("commitOffsets"))
    notes.add("streaming.startup_s", math.max(0.0, wall - ms("triggerExecution") / 1000.0))
  }

  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val raw = Manifest.readTable(spark, rawRoot, "raw")
    val clean = Manifest.readTable(spark, cleanRoot, "clean")
    val rawWant = loaded.map(_.rows).sum
    val rawGot = raw.count()
    if (rawGot != rawWant) errs += s"raw rows: engine $rawGot, staged $rawWant"
    val rawIds = raw.select(countDistinct("trans_id")).head().getLong(0)
    if (rawIds != rawGot) errs += s"raw: ${rawGot - rawIds} duplicate trans_id rows"
    val agg = clean.agg(count(lit(1)), countDistinct("trans_id"), sum("trans_id")).head()
    val (cleanGot, cleanIds) = (agg.getLong(0), agg.getLong(1))
    val cleanSum = if (agg.isNullAt(2)) 0L else agg.getLong(2)
    // a run cut between a copy and its micro-batch leaves that file in
    // raw only; clean must hold exactly the files streamed so far
    val streamed = loaded.take(streamedFiles)
    val cleanWant = streamed.map(_.cleanRows).sum
    if (cleanGot != cleanWant) errs += s"clean rows: engine $cleanGot, expected $cleanWant"
    if (cleanIds != cleanGot) errs += s"clean: ${cleanGot - cleanIds} duplicate trans_id rows"
    val sumWant = streamed.map(_.cleanIdSum).sum
    if (cleanSum != sumWant) errs += s"clean trans_id sum: engine $cleanSum, expected $sumWant"
    val ledger = Manifest.lastCommittedTxn(cleanRoot, appId).map(_ + 1).getOrElse(0L)
    if (ledger != batches) errs += s"stream ledger: $ledger batches committed, $batches ran"
    if (batches != streamRuns) errs += s"stream ran $batches non-empty batches in $streamRuns runs"
    errs.toSeq
  }

  private def bytesUnder(root: String): Long = {
    val s = Files.walk(Paths.get(root))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def writeAmplification: Double =
    (bytesUnder(rawRoot) + bytesUnder(cleanRoot)).toDouble / loaded.map(_.bytes).sum

  private def rowsPerS(ops: Seq[OpRecord]): Double =
    IngestStream.rowsPerS(ops, o => notes.of(o.id).getOrElse(IngestStream.RowsNote, 0.0))

  def extraMetrics(ops: Seq[OpRecord]): Seq[(String, Double, String)] =
    IngestStream.kinds.map(k => (s"${k}_p50_s", Runner.p50(ops.filter(_.kind == k)), "s")) ++ Seq(
      ("rows_per_s", rowsPerS(ops), "rows/s"),
      ("bytes_written_per_user_byte", writeAmplification, "ratio"))

  def layerTotals(ops: Seq[OpRecord]): Map[String, Double] = Map(
    "ingest.rows_per_s" -> rowsPerS(ops.filter(_.traced)),
    "manifest.live_files" -> Manifest.manifestRows(spark, cleanRoot,
      Manifest.snapshotVersion(cleanRoot)).count(_._1 == "clean").toDouble,
    "manifest.bytes_written_per_user_byte" -> writeAmplification)
}

object IngestStream {
  val kinds = Seq("copy", "microbatch", "optimize")
  /** The note a copy op leaves: rows it loaded into `raw`. */
  val RowsNote = "ingest.rows"

  /** Rows landed in `raw` per second of load ops (copies, micro-batches
    * and OPTIMIZE), over one set of ops: the rows of that set's copies
    * over that set's load time, so the traced and untraced halves of a
    * run each give their own rate. */
  def rowsPerS(ops: Seq[OpRecord], rowsOf: OpRecord => Double): Double = {
    val load = ops.filter(o => kinds.contains(o.kind))
    load.map(rowsOf).sum / load.map(_.wallS).sum
  }
}
