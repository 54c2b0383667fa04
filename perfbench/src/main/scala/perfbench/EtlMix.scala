package perfbench

import org.apache.spark.sql.SparkSession

/** `etl_mix`: the reference's two write DAGs in one seeded closed loop.
  * Each block is the 21 statements of a [[DmlMix]] block against the
  * 200k-row table (the `dev_db_test` template and a chosen DML mix),
  * followed by one `s3_data_copy_test` load round of an
  * [[IngestStream]]: two `COPY INTO raw` statements, one micro-batch
  * `raw → clean` and `OPTIMIZE clean`. Small commits (driver-local
  * publish) and bulk commits (distributed publish, CSV reader, streaming
  * source and sink) share the run, so a commit-path change that helps
  * one and hurts the other moves `op_p50_s` and `op_p90_s` apart. The two
  * parts write separate manifest roots and keep their own correctness
  * checks. */
final class EtlMix(spark: SparkSession, work: String, seed: Long, notes: Notes)
    extends Workload {
  val dml = new DmlMix(spark, work, seed)
  val ingest = new IngestStream(spark, work, seed, notes)
  private var pending = List.empty[() => Op]

  override def statementKinds: Set[String] = dml.statementKinds ++ ingest.statementKinds

  override def setupRep(rep: Int): Unit = { dml.setupRep(rep); ingest.setupRep(rep); pending = Nil }
  /** One whole block: the first block of a JVM runs measurably slower
    * than the next, and its first COPY creates `raw` before the first
    * micro-batch reads it. */
  override def warmUp(): Unit = do nextOp().run() while (!blockDone)
  override def blockDone: Boolean = pending.isEmpty

  override def nextOp(): Op = {
    if (pending.isEmpty) pending = dml.block() ++ ingest.roundOps().map(op => () => op)
    val next = pending.head
    pending = pending.tail
    next()
  }

  override def check(): Seq[String] = dml.check() ++ ingest.check()

  override def extraMetrics(ops: Seq[OpRecord]): Seq[(String, Double, String)] =
    dml.extraMetrics(ops) ++ ingest.extraMetrics(ops)

  override def layerTotals(ops: Seq[OpRecord]): Map[String, Double] = {
    val i = ingest.layerTotals(ops)
    i ++ Map("manifest.live_files" -> (dml.liveFiles + i("manifest.live_files")))
  }
}
