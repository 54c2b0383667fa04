package perfbench

import graft.ops.{Manifest, Sql}
import graft.sources.ManifestSql
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** In-benchmark model of the statement table: key → (v, c). Every
  * statement the benchmark sends is applied here too, so each point
  * read and the final table can be checked against it. */
final class DmlModel {
  val rows = mutable.HashMap.empty[Long, (Long, String)]
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]

  def put(k: Long, v: Long, c: String): Unit = {
    if (!rows.contains(k)) { pos(k) = keys.size; keys += k }
    rows(k) = (v, c)
  }

  def delete(k: Long): Unit = if (rows.remove(k).isDefined) {
    val i = pos.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; pos(last) = i }
  }

  def size: Int = rows.size
  def randomKey(rng: scala.util.Random): Long = keys(rng.nextInt(keys.size))

  /** Order-insensitive hash of a row set. */
  def digest: Long = DmlModel.digest(rows.iterator.map { case (k, (v, c)) => (k, v, c) })
}

object DmlModel {
  def rowHash(k: Long, v: Long, c: String): Long = {
    val h = scala.util.hashing.MurmurHash3.productHash((k, v, c)).toLong
    h * 0x9E3779B97F4A7C15L + k
  }
  def digest(rows: Iterator[(Long, Long, String)]): Long =
    rows.foldLeft(0L) { case (acc, (k, v, c)) => acc + rowHash(k, v, c) }

  /** The seeded initial value of key `k`: one formula, evaluated both
    * in Spark (to build the table) and here (to seed the model). */
  def initialV(k: Long, seed: Long): Long = Math.floorMod(k * 7919L + seed, 1000003L)
  def initialC(k: Long): String = s"c${k % 97}"
}

/** The statement half of `etl_mix`: a seeded stream of small
  * statements against a fresh manifest table.
  *
  * The reference's `dev_db_test` ships only a DDL + one-row INSERT
  * template (`dags/dev_db_test.sql:1-3`) and single-row INSERTs rendered
  * by its operator (`dags/dev_db_test.py:24-26,41-65`). Each block runs
  * that template once, through the engine's own loader
  * (`graft.ops.Sql.runSqlResource`, op `ddl`). The other 20 statements
  * are a chosen mix, not measured traffic, sent through
  * `ManifestSql.runDml` to exercise its DML surface: 8 INSERTs (5 rows
  * each), 2 point UPDATEs, 3 point DELETEs, 3 two-row MERGEs and 4
  * point SELECTs (a view + `spark.sql`). There are 3 MERGEs and 2
  * UPDATEs, not 2 and 3, so that `op_p90_s` falls inside the slowest
  * group (MERGEs and the micro-batch) instead of on its edge. The seed
  * picks every key and value. */
final class DmlMix(spark: SparkSession, work: String, seed: Long,
                   tableRows: Int = 200000) {
  private val rng = new scala.util.Random(seed)
  private val order = Workload.orderRng()
  private val mix = Seq("insert" -> 8, "update" -> 2, "delete" -> 3,
    "merge" -> 3, "select" -> 4, "ddl" -> 1)
  var root: String = _
  var model: DmlModel = _
  private var nextKey = 0L
  private val deleted = mutable.ArrayBuffer.empty[Long]
  val readErrors = mutable.ArrayBuffer.empty[String]
  var reads = 0
  /** Wall-clock start of the last `ddl` op, for the template check. */
  private var ddlStartMs = -1L

  /** The kinds that are one `ManifestSql.runDml` statement or one point
    * read; `ddl` goes through the session catalog instead. */
  val statementKinds: Set[String] = mix.map(_._1).toSet - "ddl"

  def setupRep(rep: Int): Unit = {
    root = s"$work/dml_r$rep"
    val t = spark.range(tableRows).select(
      col("id").as("k"),
      pmod(col("id") * 7919L + lit(seed), lit(1000003L)).as("v"),
      concat(lit("c"), (col("id") % 97).cast("string")).as("c"))
    Manifest.commitAppend(spark, root, "t", t.repartition(4))
    model = new DmlModel
    (0L until tableRows).foreach(k => model.put(k, DmlModel.initialV(k, seed), DmlModel.initialC(k)))
    nextKey = tableRows.toLong
    deleted.clear(); readErrors.clear(); reads = 0
  }

  /** One block, shuffled the same way for every seed. Each op is built
    * only when it runs, so it picks its keys from the model as the
    * statements before it left it. */
  def block(): List[() => Op] = Workload.block(order, mix).toList.map(k => () => op(k))

  private def lit5(k: Long, v: Long, c: String) = s"(${k}L, ${v}L, '$c')"

  /** Build the statement now (so the model and the engine see the same
    * seeded input), run it when the op runs. */
  private[perfbench] def op(kind: String): Op = kind match {
    case "insert" =>
      val rows = (0 until 5).map { _ =>
        val k = nextKey; nextKey += 1
        (k, rng.nextInt(1000000).toLong, s"i${rng.nextInt(1000)}")
      }
      val sql = "INSERT INTO t VALUES " + rows.map { case (k, v, c) => lit5(k, v, c) }.mkString(", ")
      Op(kind, () => {
        ManifestSql.runDml(spark, root, sql)
        rows.foreach { case (k, v, c) => model.put(k, v, c) }
      }, Seq(root))
    case "update" =>
      val k = model.randomKey(rng)
      val d = 1 + rng.nextInt(100)
      val c = s"u$d"
      Op(kind, () => {
        ManifestSql.runDml(spark, root, s"UPDATE t SET v = v + $d, c = '$c' WHERE k = $k")
        val (v, _) = model.rows(k)
        model.put(k, v + d, c)
      }, Seq(root))
    case "delete" =>
      val k = model.randomKey(rng)
      Op(kind, () => {
        ManifestSql.runDml(spark, root, s"DELETE FROM t WHERE k = $k")
        model.delete(k); deleted += k
      }, Seq(root))
    case "merge" =>
      val old = model.randomKey(rng)
      val fresh = nextKey; nextKey += 1
      val rows = Seq((old, rng.nextInt(1000000).toLong, "m"), (fresh, rng.nextInt(1000000).toLong, "m"))
      val src = rows.map { case (k, v, c) => lit5(k, v, c) }.mkString(", ")
      val sql =
        s"""MERGE INTO t USING (SELECT * FROM VALUES $src AS src(k, v, c)) AS s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin
      Op(kind, () => {
        ManifestSql.runDml(spark, root, sql)
        rows.foreach { case (k, v, c) => model.put(k, v, c) }
      }, Seq(root))
    case "select" =>
      // one read in four asks for a deleted key: a DELETE that did not
      // land shows up as a row the model says is gone
      val k =
        if (deleted.nonEmpty && rng.nextInt(4) == 0) deleted(rng.nextInt(deleted.size))
        else model.randomKey(rng)
      Op(kind, () => pointRead(k))
    case "ddl" =>
      Op(kind, () => {
        ddlStartMs = System.currentTimeMillis()
        Sql.runSqlResource(spark, "/graft/dev_db_test.sql")
      })
  }

  /** Read key `k` through a view and `spark.sql`, and compare with the
    * model. `ManifestSql.register` refuses tables that carry deletion
    * vectors, which every DELETE and UPDATE here leaves behind, so the
    * view is the engine's DV-aware reader instead. */
  private[perfbench] def pointRead(k: Long): Unit = {
    Manifest.readTable(spark, root, "t").createOrReplaceTempView("dml_t")
    val got = spark.sql(s"SELECT k, v, c FROM dml_t WHERE k = $k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val want = model.rows.get(k).map { case (v, c) => (k, v, c) }.toSeq
    reads += 1
    if (got != want) readErrors += s"read k=$k: engine $got, model $want"
  }

  def check(): Seq[String] = {
    val rows = Manifest.readTable(spark, root, "t").select("k", "v", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val errs = mutable.ArrayBuffer.empty[String]
    errs ++= readErrors.take(5)
    if (readErrors.size > 5) errs += s"... ${readErrors.size - 5} more read mismatches"
    if (rows.length != model.size)
      errs += s"final count: engine ${rows.length}, model ${model.size}"
    val d = DmlModel.digest(rows.iterator)
    if (d != model.digest) errs += f"final digest: engine $d%016x, model ${model.digest}%016x"
    errs ++= checkTemplate()
    errs.toSeq
  }

  /** The template's table holds exactly its one row, loaded by the last
    * `ddl` op (a template that stopped re-creating it keeps an old row
    * or gains a second one). */
  private[perfbench] def checkTemplate(): Seq[String] =
    if (ddlStartMs < 0) Nil
    else {
      val got = spark.table("graft_dev_test").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getTimestamp(2).getTime)).toSeq
      got match {
        case Seq(("name", 5, ts)) if ts >= ddlStartMs - 1000 => Nil
        case _ => Seq(s"dev_db_test template: table holds $got, want one ('name', 5) row " +
          s"loaded at or after $ddlStartMs ms")
      }
    }

  def extraMetrics(ops: Seq[OpRecord]): Seq[(String, Double, String)] =
    mix.map(_._1).map { k =>
      val name = if (k == "select") "read_p50_s" else s"${k}_p50_s"
      (name, Runner.p50(ops.filter(_.kind == k)), "s")
    }

  def liveFiles: Double =
    Manifest.manifestRows(spark, root, Manifest.snapshotVersion(root)).count(_._1 == "t").toDouble
}
