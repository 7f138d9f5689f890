package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** `olap_gpx`: a closed loop of analytic SQL over gpx tables written
  * fresh in set-up. Each pass runs the eight query shapes once, in a
  * seeded order, with seeded parameters. Every answer must equal the same
  * SQL over the generator's rows read without gpx. */
final class OlapGpx(spark: SparkSession, seed: Long, ops: Ops, out: String,
    scale: Double = OlapGpx.Scale)
    extends Workload(spark, seed, ops, out) {
  import OlapGpx._
  private val sizes = Data.sizes(scale)
  private val rnd = new scala.util.Random(seed)
  private var lastWriteNs = 0L

  /** (shape, SQL with {table} placeholders, answer order matters), one
    * seeded parameter set per shape */
  val instances: Seq[(String, String, Boolean)] = shapes.map(_(rnd, sizes))
  /** gpx answers of the measured ops, checked after the window */
  private val answers = scala.collection.mutable.ArrayBuffer.empty[(OpRecord, Int, Seq[String])]
  private var userBytes = 0L
  private var batch = 0

  private def sqlFor(text: String, prefix: String): String =
    Tables.foldLeft(text)((t, n) => t.replace(s"{$n}", s"$prefix$n"))

  def setup(): Unit = {
    val data = Data.tpch(spark, seed, sizes)
    Tables.foreach { n =>
      write(s"$out/gpx/$n") {
        data(n).write.format("gpx").mode("overwrite").save(s"$out/gpx/$n")
      }
    }
    lastWriteNs = System.nanoTime()
  }

  private def answer(rows: Array[Row], ordered: Boolean): Seq[String] = {
    val s = rows.toSeq.map(_.toSeq.mkString("|"))
    if (ordered) s else s.sorted
  }

  /** the reference answers: the same SQL over the generator's rows,
    * without the gpx format in the path */
  private var reference: Seq[Seq[String]] = Nil

  /** untimed: the reference pass, then one gpx pass. Both warm the JIT;
    * the measured queries run the same plans as the second. */
  def prepare(): Unit = {
    val data = Data.tpch(spark, seed, sizes)
    Tables.foreach(n => data(n).createOrReplaceTempView(s"r_$n"))
    userBytes = Data.userBytes(Tables.map(data))
    reference = instances.map { case (_, text, ordered) =>
      answer(spark.sql(sqlFor(text, "r_")).collect(), ordered)
    }
    Tables.foreach { n =>
      spark.read.format("gpx").load(s"$out/gpx/$n")
        .createOrReplaceTempView(s"g_$n")
    }
    for ((_, text, _) <- instances) spark.sql(sqlFor(text, "g_")).collect()
    // the chunk cache admits a file only once its mtime is 2 s old
    val wait = 2100L - (System.nanoTime() - lastWriteNs) / 1000000
    if (wait > 0) Thread.sleep(wait)
  }

  def loop(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) {
      val pass = rnd.shuffle(instances.indices.toList).iterator
      while (pass.hasNext && System.nanoTime() < deadlineNs) {
        val i = pass.next()
        val (shape, text, ordered) = instances(i)
        var got = Seq.empty[String]
        val rec = ops.run("query", label = shape, batch = batch) {
          got = answer(collect(spark.sql(sqlFor(text, "g_"))), ordered)
          true
        }
        answers += ((rec, i, got))
      }
      batch += 1
    }

  /** each measured answer against the reference, after the window */
  def finish(): Option[Boolean] = {
    answers.foreach { case (rec, i, got) =>
      if (rec.ok && got != reference(i)) {
        rec.ok = false
        problem(s"${instances(i)._1}: gpx answer differs from the reference " +
          s"(${got.size} rows vs ${reference(i).size})")
      }
    }
    None
  }

  def storedBytesPerUserByte: Double =
    Data.diskBytes(s"$out/gpx").toDouble / userBytes

  def info: Seq[(String, Any)] = Seq(
    "scale" -> scale, "orders_rows" -> sizes.orders,
    "lineitem_rows" -> sizes.lineitems,
    "gpx_bytes" -> Tables.map(n => n -> Data.diskBytes(s"$out/gpx/$n")).toMap,
    "user_bytes" -> userBytes,
    "query_instances" -> instances.map(_._2))
}

object OlapGpx {
  /** data size in units of the sf0.1 corpus */
  val Scale = 0.2
  val Tables = Seq("region", "nation", "customer", "supplier", "orders",
    "lineitem")

  private val D = "DECIMAL(18,2)"
  private val Rev =
    s"CAST(l_extendedprice AS $D) * (1 - CAST(l_discount AS DECIMAL(3,2)))"

  /** the eight query shapes; each draws its parameters from `r` */
  val shapes: Seq[(scala.util.Random, Data.Sizes) => (String, String, Boolean)] =
    Seq(
      (r, _) => ("q1_agg",
        s"""SELECT l_returnflag, l_linestatus,
           |  CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) AS sum_base,
           |  CAST(SUM($Rev) AS DOUBLE) AS sum_disc,
           |  CAST(SUM($Rev * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
           |  COUNT(*) AS n
           |FROM {lineitem}
           |WHERE l_shipdate <= DATE '2001-09-01' - INTERVAL ${60 + r.nextInt(61)} DAY
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin, true),
      (r, _) => {
        val y = 1995 + r.nextInt(6)
        val d = 2 + r.nextInt(8)
        ("q6_filter",
          s"""SELECT CAST(SUM(CAST(l_extendedprice AS $D) *
             |  CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue
             |FROM {lineitem}
             |WHERE l_shipdate >= DATE '$y-01-01' AND l_shipdate < DATE '${y + 1}-01-01'
             |  AND l_discount BETWEEN ${(d - 1) / 100.0} AND ${(d + 1) / 100.0}
             |  AND l_quantity < ${24 + r.nextInt(2)}""".stripMargin, true)
      },
      (r, _) => {
        val seg = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
          "FURNITURE")(r.nextInt(5))
        val date = java.time.LocalDate.of(1996, 1, 1).plusDays(r.nextInt(365))
        ("q3_join_topk",
          s"""SELECT l_orderkey, CAST(SUM($Rev) AS DOUBLE) AS revenue, o_orderdate
             |FROM {customer} JOIN {orders} ON c_custkey = o_custkey
             |  JOIN {lineitem} ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = '$seg' AND o_orderdate < DATE '$date'
             |  AND l_shipdate > DATE '$date'
             |GROUP BY l_orderkey, o_orderdate
             |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,
          true)
      },
      (r, _) => {
        val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST")(r.nextInt(5))
        val y = 1995 + r.nextInt(6)
        ("q5_star_join",
          s"""SELECT n_name, CAST(SUM($Rev) AS DOUBLE) AS revenue
             |FROM {customer} JOIN {orders} ON c_custkey = o_custkey
             |  JOIN {lineitem} ON l_orderkey = o_orderkey
             |  JOIN {supplier} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  JOIN {nation} ON s_nationkey = n_nationkey
             |  JOIN {region} ON n_regionkey = r_regionkey
             |WHERE r_name = '$region' AND o_orderdate >= DATE '$y-01-01'
             |  AND o_orderdate < DATE '${y + 1}-01-01'
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin, true)
      },
      (r, sz) => {
        val w = math.max(1L, sz.orders / 100)
        val a = (r.nextDouble() * (sz.orders - w)).toLong
        ("orderkey_range",
          s"""SELECT COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) AS qty
             |FROM {lineitem} WHERE l_orderkey BETWEEN $a AND ${a + w}""".stripMargin,
          true)
      },
      (r, sz) => ("point_select",
        s"SELECT * FROM {lineitem} WHERE l_orderkey = ${(r.nextDouble() * sz.orders).toLong}",
        false),
      (r, _) => ("order_by_limit",
        s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
           |FROM {lineitem} WHERE l_shipdate >= DATE '${1995 + r.nextInt(6)}-01-01'
           |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey
           |LIMIT ${10 + r.nextInt(91)}""".stripMargin, true),
      (r, sz) => {
        val p = (r.nextDouble() * sz.parts * 0.99).toLong
        ("narrow_projection",
          s"""SELECT l_partkey, l_quantity FROM {lineitem}
             |WHERE l_partkey BETWEEN $p AND ${p + math.max(1L, sz.parts / 500)}""".stripMargin,
          false)
      })
}
