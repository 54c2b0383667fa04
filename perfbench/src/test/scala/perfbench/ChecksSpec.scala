package perfbench

import graft.ops.Manifest
import graft.sources.ManifestSql
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Each correctness check must catch a seeded defect: a check that
  * cannot fail proves nothing about the runs it passes. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def work(): String = Files.createTempDirectory("perfbench-checks").toString

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("checks-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${work()}/warehouse")
      .config("spark.ui.enabled", "false").getOrCreate()
    graft.Graft.init(s)
    s
  }
  override def afterAll(): Unit = spark.stop()

  /** One whole block, which holds every statement kind. */
  private def dml(): DmlMix = {
    val w = new DmlMix(spark, work(), seed = 7, tableRows = 500)
    w.setupRep(0)
    w.block().foreach(_().run())
    w
  }

  test("etl_mix statements: a clean run passes every check") {
    val w = dml()
    assert(w.reads > 0)
    assert(w.check().isEmpty)
  }

  test("etl_mix statements: a skipped statement fails the final count and digest") {
    val w = dml()
    // the benchmark believes it inserted a row the engine never saw
    w.model.put(999999L, 1L, "skipped")
    val errs = w.check()
    assert(errs.exists(_.startsWith("final count")), errs)
    assert(errs.exists(_.startsWith("final digest")), errs)
  }

  test("etl_mix statements: a lost update fails the digest with the count unchanged") {
    val w = dml()
    val k = w.model.rows.keys.head
    val (v, c) = w.model.rows(k)
    w.model.put(k, v + 1, c)
    val errs = w.check()
    assert(errs.exists(_.startsWith("final digest")) && !errs.exists(_.startsWith("final count")), errs)
  }

  test("etl_mix statements: a point read of a row the engine lost is caught") {
    val w = dml()
    val k = w.model.rows.keys.head
    // the engine loses a row the model still holds
    ManifestSql.runDml(spark, w.root, s"DELETE FROM t WHERE k = $k")
    w.pointRead(k)
    val errs = w.check()
    assert(errs.exists(_.startsWith(s"read k=$k")), errs)
  }

  test("etl_mix statements: a dev_db_test template that did not re-create its table is caught") {
    val w = dml()
    assert(w.checkTemplate().isEmpty)
    // the template's INSERT lands twice: the table was not re-created
    spark.sql("INSERT INTO graft_dev_test VALUES ('name', 5, current_timestamp())")
    assert(w.check().exists(_.startsWith("dev_db_test template")))
  }

  private def ingest(): IngestStream = {
    val w = new IngestStream(spark, work(), seed = 3, new Notes, rowsPerFile = 200)
    w.setupRep(0)
    (0 until 3).foreach(_ => w.roundOps().foreach(_.run()))
    w
  }

  test("etl_mix load rounds: a clean run passes every check") {
    val w = ingest()
    assert(w.check().isEmpty)
  }

  test("etl_mix load rounds: a COPY that never landed fails raw conservation") {
    val w = ingest()
    w.loaded += w.loaded.last.copy(name = "never_loaded.csv")
    assert(w.check().exists(_.startsWith("raw rows")))
  }

  test("etl_mix load rounds: a file loaded twice fails conservation and uniqueness") {
    val w = ingest()
    val f = w.loaded.head
    ManifestSql.runDml(spark, w.rawRoot,
      s"COPY INTO raw FROM '${w.stage}' FILES = ('${f.name}') " +
        "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1 FIELD_OPTIONALLY_ENCLOSED_BY = '\"' " +
        "NULL_IF = ('NULL', 'null') EMPTY_FIELD_AS_NULL = TRUE)")
    val errs = w.check()
    assert(errs.exists(_.startsWith("raw rows")), errs)
    assert(errs.exists(_.contains("duplicate trans_id")), errs)
  }

  test("etl_mix load rounds: a dropped micro-batch fails the stream ledger") {
    val w = ingest()
    w.batches += 1; w.streamRuns += 1
    assert(w.check().exists(_.startsWith("stream ledger")))
  }

  test("etl_mix load rounds: a row the sink wrote twice fails clean conservation") {
    val w = ingest()
    Manifest.commitAppend(spark, w.cleanRoot, "clean",
      Manifest.readTable(spark, w.cleanRoot, "clean").limit(1))
    val errs = w.check()
    assert(errs.exists(_.startsWith("clean rows")), errs)
  }
}
