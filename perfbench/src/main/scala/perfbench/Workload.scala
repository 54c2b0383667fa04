package perfbench

import scala.collection.mutable

/** One operation of the closed loop: `run` is the timed call into the
  * engine; `roots` are the manifest roots it writes, probed after the
  * op in the traced run. */
final case class Op(kind: String, run: () => Unit, roots: Seq[String] = Nil)

/** Timing of one executed op. `startMs`/`endMs` bound its span. */
final case class OpRecord(id: String, kind: String, startMs: Long, endMs: Long,
                          wallS: Double, ok: Boolean, traced: Boolean,
                          gcMs: Long)

/** Per-op layer figures an op measures about itself (time inside an
  * operator's build, a stream's progress durations, probe timings).
  * Keyed by op id; the runner sets `current` before each op. */
final class Notes {
  @volatile var current: String = ""
  private val byOp = mutable.HashMap.empty[String, mutable.LinkedHashMap[String, Double]]
  def add(key: String, value: Double): Unit = synchronized {
    val m = byOp.getOrElseUpdate(current, mutable.LinkedHashMap.empty)
    m(key) = m.getOrElse(key, 0.0) + value
  }
  def of(op: String): collection.Map[String, Double] =
    synchronized(byOp.getOrElse(op, mutable.LinkedHashMap.empty[String, Double]))
}

/** A seeded workload. The runner calls `setupRep` several times (each
  * builds fresh inputs; the last one's are measured), then `warmUp`
  * once, then `nextOp` until the run's time is up and the current block
  * is complete, then `check`.
  *
  * Ops come in blocks of a fixed composition and order, and a run
  * measures whole blocks only, so every run sees the same sequence of op
  * kinds whatever its seed. */
trait Workload {
  def setupRep(rep: Int): Unit
  def warmUp(): Unit
  def nextOp(): Op
  /** True between blocks. */
  def blockDone: Boolean
  /** Every mismatch between the engine's outputs and the benchmark's
    * own expectation; empty means correct. */
  def check(): Seq[String]
  /** The workload's own end-to-end figures (name, value, unit). */
  def extraMetrics(ops: Seq[OpRecord]): Seq[(String, Double, String)]
  /** Workload-level per-layer figures computed at the end of the run. */
  def layerTotals(ops: Seq[OpRecord]): Map[String, Double] = Map.empty
  /** Op kinds that are one `ManifestSql.runDml` statement (or one point
    * read through a view and `spark.sql`). */
  def statementKinds: Set[String] = Set.empty
}

object Workload {
  /** The order of op kinds in successive blocks: shuffled, but the same
    * for every seed. An op's cost depends on the op before it (a read
    * after a commit resolves a new snapshot; a read after a read does
    * not), so a per-seed order would make seeds differ in cost, not
    * just in data. The seed drives every input the engine sees. */
  def orderRng(): scala.util.Random = new scala.util.Random(0x5eedL)

  /** One block: `counts` of each kind, shuffled by `rng`. */
  def block(rng: scala.util.Random, counts: Seq[(String, Int)]): Seq[String] =
    rng.shuffle(counts.flatMap { case (k, n) => Seq.fill(n)(k) })
}
