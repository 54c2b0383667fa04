package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the engine's query fixtures: the star schema
  * (`region nation customer supplier part orders lineitem`) and the
  * `events` stream table, with the column names, types and value
  * domains the engine's queries and their oracle SQL expect (see
  * FIXTURES.md). Row counts scale like the fixtures: `sf = 0.01` gives
  * 60k lineitem rows.
  *
  * Every value is a pure function of (row id, seed, column salt), so
  * the same seed writes the same tables at any partitioning. Timestamps
  * are written as INT96, which DuckDB reads as naive timestamps, like
  * the fixtures' own.
  */
object FixtureGen {

  private def h(seed: Long, salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
  private def uniform(seed: Long, salt: Int, n: Long): Column = pmod(h(seed, salt), lit(n))
  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (uniform(seed, salt, values.size) + 1).cast("int"))
  private def cents(seed: Long, salt: Int, lo: Double, range: Long): Column =
    round(lit(lo) + uniform(seed, salt, range) / 100.0, 2)
  private def days(seed: Long, salt: Int, from: String, n: Long): Column =
    timestamp_seconds(unix_timestamp(lit(from)) + uniform(seed, salt, n) * 86400L)

  def sizes(sf: Double): Map[String, Long] = Map(
    "customer" -> math.round(150000 * sf), "supplier" -> math.max(10L, math.round(10000 * sf)),
    "part" -> math.round(200000 * sf), "orders" -> math.round(1500000 * sf),
    "lineitem" -> math.round(6000000 * sf), "events" -> math.round(1000000 * sf))

  def tables(spark: SparkSession, seed: Long, sf: Double): Seq[(String, DataFrame)] = {
    val n = sizes(sf)
    val users = math.max(10L, math.round(15000 * sf))
    val region = spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(n("customer")).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uniform(seed, 1, 25).cast("int").as("c_nationkey"),
      cents(seed, 2, -999.99, 1099999).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val supplier = spark.range(n("supplier")).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uniform(seed, 4, 25).cast("int").as("s_nationkey"),
      cents(seed, 5, -999.99, 1099999).as("s_acctbal"))
    val part = spark.range(n("part")).select(col("id").as("p_partkey"),
      concat(pick(seed, 6, Seq("small", "new", "blue", "old", "red", "hot", "large", "cold")),
        lit(" "), pick(seed, 7, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")))
        .as("p_name"),
      concat(lit("Brand#"), (uniform(seed, 8, 25) + 1).cast("string")).as("p_brand"),
      pick(seed, 9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (uniform(seed, 10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice"))
    val orders = spark.range(n("orders")).select(col("id").as("o_orderkey"),
      uniform(seed, 11, n("customer")).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      cents(seed, 13, 1000.0, 49900000).as("o_totalprice"),
      days(seed, 14, "1995-01-01 00:00:00", 2400).as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val qty = (uniform(seed, 20, 50) + 1).cast("double")
    val lineitem = spark.range(n("lineitem")).select(
      uniform(seed, 16, n("orders")).as("l_orderkey"),
      uniform(seed, 17, n("part")).as("l_partkey"),
      uniform(seed, 18, n("supplier")).as("l_suppkey"),
      (uniform(seed, 19, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * cents(seed, 21, 900.0, 120000), 2).as("l_extendedprice"),
      (uniform(seed, 22, 11) / 100.0).as("l_discount"),
      (uniform(seed, 23, 9) / 100.0).as("l_tax"),
      pick(seed, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 25, Seq("F", "O")).as("l_linestatus"),
      days(seed, 26, "1995-01-02 00:00:00", 2500).as("l_shipdate"))
    // one event every ~30 days / n, with sub-second jitter
    val step = 2592000.0 / n("events")
    val events = spark.range(n("events")).select(col("id").as("event_id"),
      timestamp_micros((unix_timestamp(lit("2024-01-01 00:00:00")) * 1000000L +
        (col("id") * step * 1000000).cast("long") + uniform(seed, 27, (step * 1000000).toLong))
        .cast("long")).as("ts"),
      uniform(seed, 28, users).as("user_id"),
      pick(seed, 29, Seq("signup", "error", "click", "view", "purchase")).as("event_type"),
      cents(seed, 30, 0.01, 49001).as("value"),
      concat(lit("{\"k\": "), uniform(seed, 31, 100).cast("string"), lit("}")).as("props"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events)
  }

  /** Write every table as the single file `<dir>/<name>.parquet` (the
    * fixtures' layout, which the DuckDB oracle reads as a file). */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    import java.nio.file.{Files, Paths}
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "INT96")
    try tables(spark, seed, sf).foreach { case (name, df) =>
      val tmp = s"$dir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.move(part, Paths.get(dir, s"$name.parquet"))
      Runner.deleteTree(Paths.get(tmp))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
