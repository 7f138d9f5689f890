package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `pipeline`: a closed loop of passes over rows of the engine's operator
  * registry (TPC-H Q3 and Q21 shapes, the HTTP paged result), read from
  * parquet. Each pass runs every row once in a seeded order; a row's
  * answer is a hash of its result rows, which must equal the hash of the
  * untimed warm-up run. */
final class PipelineRows(spark: SparkSession, seed: Long, ops: Ops, out: String,
    scale: Double = PipelineRows.Scale)
    extends Workload(spark, seed, ops, out) {
  import PipelineRows._
  private val sizes = Data.sizes(scale)
  private val rnd = new scala.util.Random(seed)
  private val dir = s"$out/tables"
  private var reference: Map[String, Seq[Any]] = Map.empty
  private var userBytes = 0L

  private val rows = Rows.map(n => n -> graft.SparkEntry.queries(n))

  private def tables: Map[String, DataFrame] = Data.tpch(spark, seed, sizes)

  def setup(): Unit =
    tables.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }

  /** order-insensitive digest of a result: row count, xor and sum of row
    * hashes */
  private def digest(df: DataFrame): DataFrame = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    d.select(xxhash64(d.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(1000003L))))
  }

  private var batch = 0

  /** the reference run of every row, then one more untimed pass to warm
    * the JIT */
  def prepare(): Unit = {
    def pass() = rows.map { case (n, fn) =>
      val r = digest(fn(spark, dir)).collect().head.toSeq
      graft.CacheScope.release(blocking = true)
      n -> r
    }.toMap
    reference = pass()
    pass()
  }

  def loop(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) {
      val pass = rnd.shuffle(rows).iterator
      while (pass.hasNext && System.nanoTime() < deadlineNs) {
        val (n, fn) = pass.next()
        ops.run("row", label = n, batch = batch) {
          val c0 = System.nanoTime()
          val df = ops.phase("construct")(
            tracer.span("operators.construct")(fn(spark, dir)))
          ops.put("operators.construct_ms", (System.nanoTime() - c0) / 1e6)
          val got = collect(digest(df)).head.toSeq
          got == reference(n) ||
            problem(s"$n: result hash $got differs from set-up run ${reference(n)}")
        }
      }
      batch += 1
    }

  def finish(): Option[Boolean] = {
    userBytes = Data.userBytes(
      tables.keys.toSeq.map(n => spark.read.parquet(s"$dir/$n.parquet")))
    None
  }

  def storedBytesPerUserByte: Double = Data.diskBytes(dir).toDouble / userBytes

  def info: Seq[(String, Any)] = Seq(
    "scale" -> scale, "rows" -> Rows, "orders_rows" -> sizes.orders,
    "lineitem_rows" -> sizes.lineitems,
    "parquet_bytes" -> Data.diskBytes(dir), "user_bytes" -> userBytes)
}

object PipelineRows {
  /** data size in units of the sf0.1 corpus */
  val Scale = 0.1
  val Rows = Seq("q08_tpch_q3_topk", "q42_tpch_q21_waiting_supplier",
    "h01_http_paged_result")
}
