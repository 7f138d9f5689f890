package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the engine's TPC-H-style test schema (region,
  * nation, customer, supplier, part, orders, lineitem), with the column
  * types and value ranges of the engine's shipped test data. Every value
  * but the keys that order the tables is a hash of (seed, column salt, row
  * id), so one seed gives the same rows at any partitioning and the inputs
  * need no files from outside the checkout.
  *
  * `scale` counts in units of the sf0.1 corpus: 1.0 gives 150k orders,
  * 600k lineitem rows, 15k customers, 1k suppliers and 20k parts.
  */
object Data {
  private val Day0 = 9131 // 1995-01-01 as days since the epoch

  private def h(seed: Long, salt: Int, c: Column): Column =
    xxhash64(lit(seed), lit(salt), c)

  /** uniform integer in [0, n) */
  private def u(seed: Long, salt: Int, c: Column, n: Long): Column =
    pmod(h(seed, salt, c), lit(n))

  /** a money value with exactly two decimals in [lo, hi] (both in cents) */
  private def money(seed: Long, salt: Int, c: Column, lo: Long,
      hi: Long): Column =
    ((u(seed, salt, c, hi - lo + 1) + lit(lo)) / 100.0).cast(DoubleType)

  private def pick(seed: Long, salt: Int, c: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(seed, salt, c, xs.size) + 1).cast(IntegerType))

  private def day(seed: Long, salt: Int, c: Column, span: Int): Column =
    to_timestamp_ntz(timestamp_seconds((u(seed, salt, c, span) + Day0) * 86400L))

  final case class Sizes(orders: Long, customers: Long, suppliers: Long,
      parts: Long) {
    def lineitems: Long = orders * 4
  }

  def sizes(scale: Double): Sizes = {
    def n(base: Long) = math.max(1L, math.round(base * scale))
    Sizes(n(150000), n(15000), n(1000), n(20000))
  }

  /** every table of the star schema, by name */
  def tpch(spark: SparkSession, seed: Long, sz: Sizes): Map[String, DataFrame] = {
    val id = col("id")
    val region = spark.range(5).select(id.cast(IntegerType).as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (id + 1).cast(IntegerType)).as("r_name"))
    val nation = spark.range(25).select(id.cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), id.cast(StringType)).as("n_name"),
      (id % 5).cast(IntegerType).as("n_regionkey"))
    val customer = spark.range(sz.customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(seed, 1, id, 25).cast(IntegerType).as("c_nationkey"),
      money(seed, 2, id, -99999, 999999).as("c_acctbal"),
      pick(seed, 3, id, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
        "BUILDING", "FURNITURE")).as("c_mktsegment"))
    val supplier = spark.range(sz.suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      u(seed, 4, id, 25).cast(IntegerType).as("s_nationkey"),
      money(seed, 5, id, -99999, 999999).as("s_acctbal"))
    val part = spark.range(sz.parts).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(seed, 6, id, Seq("large", "hot", "blue", "red", "new", "old",
          "green", "small")),
        pick(seed, 7, id, Seq("ring", "bolt", "anvil", "rod", "plate",
          "nut", "gear", "pipe"))).as("p_name"),
      concat(lit("Brand#"), u(seed, 8, id, 25).cast(StringType)).as("p_brand"),
      pick(seed, 9, id, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL",
        "MEDIUM", "PROMO")).as("p_type"),
      (u(seed, 10, id, 50) + 1).cast(IntegerType).as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice"))
    val orders = spark.range(sz.orders).select(id.as("o_orderkey"),
      u(seed, 11, id, sz.customers).as("o_custkey"),
      pick(seed, 12, id, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, 13, id, 100000, 50000000).as("o_totalprice"),
      day(seed, 14, id, 2404).as("o_orderdate"),
      pick(seed, 15, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    // clustered by order, as dbgen writes it: four lines per order in key
    // order, so a key filter can prune
    val lineitem = spark.range(sz.lineitems).select(
      (id / 4).cast(LongType).as("l_orderkey"),
      u(seed, 17, id, sz.parts).as("l_partkey"),
      u(seed, 18, id, sz.suppliers).as("l_suppkey"),
      (id % 4 + 1).cast(IntegerType).as("l_linenumber"),
      (u(seed, 20, id, 50) + 1).cast(DoubleType).as("l_quantity"),
      money(seed, 21, id, 90000, 10499999).as("l_extendedprice"),
      (u(seed, 22, id, 11) / 100.0).as("l_discount"),
      (u(seed, 23, id, 9) / 100.0).as("l_tax"),
      pick(seed, 24, id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 25, id, Seq("O", "F")).as("l_linestatus"),
      day(seed, 26, id, 2500).as("l_shipdate"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem)
  }

  /** bytes of row values of all of `dfs`, in one job: 8 per
    * long/double/timestamp, 4 per int, the UTF-8 length of strings */
  def userBytes(dfs: Seq[DataFrame]): Long = {
    def size(c: Column, dt: DataType): Column = dt match {
      case StringType => coalesce(octet_length(c).cast(LongType), lit(0L))
      case IntegerType => lit(4L)
      case _ => lit(8L)
    }
    dfs.map { df =>
      df.agg(sum(df.schema.fields.map(f => size(col(f.name), f.dataType))
        .reduce(_ + _)).as("b"))
    }.reduce(_ union _).agg(sum("b")).head().getLong(0)
  }

  /** bytes of every regular file under `path` */
  def diskBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length
    walk(new java.io.File(path))
  }
}
