package perfbench

import graft.{Q, SparkEntry}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** `analytic_batch`: read-only inventory queries from `graft.ops`, run
  * to a noop sink over seeded fixtures, each run cycling the whole pool
  * (one cycle is one block, shuffled the same way for every seed). All
  * the time goes to Catalyst and Spark jobs inside the operator
  * modules; the table format does no work.
  *
  * The warm-up pass is also the correctness pass: it dumps each query's
  * result with its oracle SQL, for `tools/verify_local.py` to replay in
  * DuckDB once the JVM has exited. */
final class AnalyticBatch(spark: SparkSession, work: String, seed: Long, notes: Notes)
    extends Workload {
  private val order = Workload.orderRng()
  private val pool: Seq[Q] = AnalyticBatch.pool
  private var pending = List.empty[Q]
  var dataDir: String = _
  val dumpErrors = mutable.ArrayBuffer.empty[String]

  override def setupRep(rep: Int): Unit = {
    dataDir = s"$work/data_r$rep"
    FixtureGen.write(spark, dataDir, seed, AnalyticBatch.Sf)
  }

  override def warmUp(): Unit = {
    val out = s"$work/verify"
    pool.foreach { q =>
      try q.fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
      catch { case e: Throwable => dumpErrors += s"${q.name}: ${e.getMessage}" }
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.obj(pool.map(q => q.name -> Json.str(q.oracle.get))))
    // one more pass as the timed loop runs it: the first cycles of a JVM
    // keep getting faster while the JIT works
    pool.foreach(q => timed(q)())
  }

  private def timed(q: Q): () => Unit = () => {
    val t0 = System.nanoTime()
    val df = q.fn(spark, dataDir)
    val t1 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t2 = System.nanoTime()
    notes.add("ops.build_s", (t1 - t0) / 1e9)
    notes.add("ops.exec_s", (t2 - t1) / 1e9)
    // the query's own DataFrame was analysed eagerly, with no action and
    // so no listener callback; the write's plan arrives already resolved
    df.queryExecution.tracker.phases.get("analysis").foreach(p =>
      notes.add("catalyst.analysis_s", (p.endTimeMs - p.startTimeMs) / 1000.0))
    spark.catalog.clearCache()
  }

  override def blockDone: Boolean = pending.isEmpty

  override def nextOp(): Op = {
    if (pending.isEmpty) pending = order.shuffle(pool).toList
    val q = pending.head
    pending = pending.tail
    Op(q.name, timed(q))
  }

  override def check(): Seq[String] = dumpErrors.toSeq

  override def extraMetrics(ops: Seq[OpRecord]): Seq[(String, Double, String)] = Nil
}

object AnalyticBatch {
  /** Scale of the generated fixtures (lineitem rows = 6M × sf). */
  val Sf = 0.02

  /** Read-only queries with oracle SQL over the generated tables, drawn
    * from the relational, window and analytics operator modules. None
    * writes: no staging layout, manifest root, temp dir or stream.
    *
    * Five queries of well-separated latency, each a fifth of the ops, put
    * the nearest-rank p50 in the middle of the third one's latencies and
    * p90 in the middle of the slowest one's (q32). With nine, p90 fell on
    * the fastest of the slowest query's runs and spread past its bound. */
  val names: Seq[String] = Seq(
    "q02_filter_predicates", "q05_semi_join_urgent_customers", "q12_window_lag_lead",
    "q118_funnel", "q32_regional_revenue")

  def pool: Seq[Q] = {
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    names.map { n =>
      val q = byName.getOrElse(n, throw new IllegalStateException(s"query $n is gone from the inventory"))
      require(q.oracle.isDefined, s"query $n has no oracle SQL")
      q
    }
  }
}
