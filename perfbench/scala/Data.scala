package perfbench

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation: the same seed gives the same rows. */
object Data {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(a: Long, b: Long): Long = mix(mix(a) ^ b)
  def mix(a: Long, b: Long, c: Long): Long = mix(mix(a, b) ^ c)
  /** Uniform in [0, n). */
  def pick(h: Long, n: Long): Long = java.lang.Math.floorMod(h, n)

  val OrdersDdl: String =
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DECIMAL(12,2), o_orderdate DATE, o_orderpriority STRING, o_comment STRING"
  val OrdersSchema: StructType = StructType.fromDDL(OrdersDdl)

  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val words = Array("carefully", "final", "deposits", "sleep", "quickly", "regular",
    "packages", "boost", "furiously", "ironic", "accounts", "haggle", "blithely", "pending")
  val Customers = 15000L
  /** Order dates span 1992-01-01 .. 1998-08-02, like TPC-H. */
  val FirstDay: Long = java.time.LocalDate.of(1992, 1, 1).toEpochDay
  val Days = 2405L

  def comment(h: Long): String =
    (0 until 5).map(i => words(pick(mix(h, i), words.length).toInt)).mkString(" ")

  /** One orders row; `version` moves the price and status of a changed row. */
  def order(seed: Long, key: Long, version: Long = 0L): Row = {
    val h = mix(seed, key)
    val v = mix(h, version)
    Row(
      key,
      1L + pick(mix(h, 1), Customers),
      statuses(pick(v, 3).toInt),
      java.math.BigDecimal.valueOf(100000L + pick(mix(v, 2), 50000000L), 2),
      Date.valueOf(java.time.LocalDate.ofEpochDay(FirstDay + pick(mix(h, 3), Days))),
      priorities(pick(mix(h, 4), 5).toInt),
      comment(h))
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  val CustomerDdl: String =
    "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DECIMAL(12,2), c_mktsegment STRING"
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def customer(seed: Long, key: Long): Row = {
    val h = mix(seed ^ 0x5eed, key)
    Row(key, f"Customer#$key%09d", pick(h, 25).toInt,
      java.math.BigDecimal.valueOf(pick(mix(h, 1), 1100000L) - 100000L, 2),
      segments(pick(mix(h, 2), 5).toInt))
  }

  /** TPC-H-shaped `lineitem` rows `[lo, hi)` as a distributed frame. */
  def lineitem(spark: SparkSession, seed: Long, lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val h = (salt: Int) => xxhash64(col("id"), lit(seed), lit(salt))
    def mod(c: org.apache.spark.sql.Column, n: Long) = pmod(c, lit(n))
    spark.range(lo, hi).select(
      (col("id") / 4 + 1).cast("bigint").as("l_orderkey"),
      (mod(h(1), 20000L) + 1).as("l_partkey"),
      (mod(h(2), 1000L) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      ((mod(h(3), 50L) + 1).cast("decimal(12,2)")).as("l_quantity"),
      ((mod(h(4), 10000000L) + 90000L).cast("decimal(14,0)") / 100).cast("decimal(12,2)")
        .as("l_extendedprice"),
      (mod(h(5), 11L).cast("decimal(12,2)") / 100).cast("decimal(12,2)").as("l_discount"),
      (mod(h(6), 9L).cast("decimal(12,2)") / 100).cast("decimal(12,2)").as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (mod(h(7), 3L) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (mod(h(8), 2L) + 1).cast("int")).as("l_linestatus"),
      date_add(lit("1992-01-02").cast("date"), mod(h(9), 2400L).cast("int")).as("l_shipdate"),
      element_at(array(lit("DELIVER IN PERSON"), lit("COLLECT COD"), lit("NONE"),
        lit("TAKE BACK RETURN")), (mod(h(10), 4L) + 1).cast("int")).as("l_shipinstruct"),
      element_at(array(lit("AIR"), lit("MAIL"), lit("SHIP"), lit("TRUCK"), lit("RAIL"),
        lit("FOB"), lit("REG AIR")), (mod(h(11), 7L) + 1).cast("int")).as("l_shipmode"),
      concat_ws(" ", lit("ironic"), hex(mod(h(12), 1L << 40)), lit("deposits"))
        .as("l_comment"))
  }
}
