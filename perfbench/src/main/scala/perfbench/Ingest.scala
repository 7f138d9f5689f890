package perfbench

import graft.format.{GpxCommitLog, GpxCompactor, GpxFileReader, GpxPointIndex}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** `ingest`: an open loop of CDC operations at a fixed offered rate on a
  * manifest-log catalog table with a point index on `o_orderkey`. One
  * generator thread issues each op at its due time (or late, if the
  * previous op overran) and the latency counts from the due time. Every
  * lookup and aggregate is checked against the generator's model of the
  * table, and at the end a cold re-read must match the model row for row.
  */
final class Ingest(spark: SparkSession, seed: Long, ops: Ops, out: String,
    scale: Double = Ingest.Scale)
    extends Workload(spark, seed, ops, out) {
  import Ingest._
  private val rnd = new scala.util.Random(seed)
  private val conf = new Configuration()
  private val wh = s"$out/wh"
  private val table = "perfbench_cat.db.orders"
  private val dir = s"$wh/db/orders"
  private val seedRows = Data.sizes(scale).orders

  /** key -> the row as Spark returns it, rendered */
  private val model = mutable.HashMap.empty[Long, String]
  private var priceCents = 0L
  private var nextKey = 0L
  private val recent = mutable.ArrayBuffer.empty[Long]
  private var commits = 0
  private var userBytes = 1L
  private var filesLive = 0L
  private var liveBytes = 0L
  private val cols = Schema.fieldNames.toSeq

  spark.conf.set("spark.sql.catalog.perfbench_cat", "graft.format.GpxCatalog")
  spark.conf.set("spark.sql.catalog.perfbench_cat.warehouse", wh)
  spark.conf.set("spark.graft.index.scheme", "memory")

  private def render(r: Row): String = r.toSeq.mkString("|")
  private def cents(d: Double): Long = math.round(d * 100)

  def setup(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS perfbench_cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    spark.sql(s"CREATE TABLE $table (${Schema.toDDL}) USING gpx " +
      "TBLPROPERTIES('commit_protocol'='manifest')")
    write(dir) {
      Data.tpch(spark, seed, Data.sizes(scale))("orders").writeTo(table).append()
    }
    tracer.span("format.index.refresh") {
      GpxPointIndex.build(spark, dir, "o_orderkey", numBuckets = 4)
    }
  }

  def prepare(): Unit = {
    Data.tpch(spark, seed, Data.sizes(scale))("orders").collect().foreach { r =>
      model(r.getLong(0)) = render(r)
      priceCents += cents(r.getDouble(3))
    }
    nextKey = seedRows
    // warm-up: two untimed rounds and their compactions
    for (_ <- 0 until 2; k <- round :+ "compact")
      if (!op(k)) problem(s"warm-up $k failed")
  }

  private def newRow(k: Long): Row = Row(k, rnd.nextInt(15000).toLong,
    Seq("F", "O", "P")(rnd.nextInt(3)), (100000 + rnd.nextInt(49900000)) / 100.0,
    java.time.LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(rnd.nextInt(2404)),
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rnd.nextInt(5)))

  private def touch(k: Long): Unit = {
    recent += k
    if (recent.size > 256) recent.remove(0)
  }

  /** a live key, from the recently written ones three times in four */
  private def liveKey(): Long = {
    val fromRecent = recent.filter(model.contains)
    if (fromRecent.nonEmpty && rnd.nextInt(4) > 0)
      fromRecent(rnd.nextInt(fromRecent.size))
    else Iterator.continually((rnd.nextDouble() * nextKey).toLong)
      .find(model.contains).get
  }

  private def upsert(rows: Seq[Row]): Unit = rows.foreach { r =>
    val k = r.getLong(0)
    model.get(k).foreach(old => priceCents -= cents(old.split('|')(3).toDouble))
    model(k) = render(r)
    priceCents += cents(r.getDouble(3))
    touch(k)
  }

  private def frame(rows: Seq[Row]) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)

  private def committed(): Unit = commits += 1

  /** one op of the mix; true when its answer matched the model */
  private def op(kind: String): Boolean = kind match {
    case "append" =>
      val rows = (0 until 20).map(i => newRow(nextKey + i))
      nextKey += 20
      tracer.span("format.write")(frame(rows).writeTo(table).append())
      upsert(rows); committed()
      tracer.span("format.index.refresh")(
        GpxPointIndex.refresh(spark, dir, Seq("o_orderkey")))
      true
    case "merge" =>
      val old = Seq.fill(5)(liveKey()).distinct
      val rows = old.map(newRow) ++ (0 until 5).map(i => newRow(nextKey + i))
      nextKey += 5
      frame(rows).createOrReplaceTempView("perfbench_src")
      tracer.span("format.write")(spark.sql(
        s"""MERGE INTO $table t USING perfbench_src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
      upsert(rows); committed()
      true
    case "delete" =>
      val k = liveKey()
      tracer.span("format.write")(
        spark.sql(s"DELETE FROM $table WHERE o_orderkey = $k").collect())
      model.remove(k).foreach(old => priceCents -= cents(old.split('|')(3).toDouble))
      touch(k); committed()
      true
    case "lookup" =>
      val keys = Seq.fill(1 + rnd.nextInt(3)) {
        if (recent.nonEmpty && rnd.nextInt(10) < 7) recent(rnd.nextInt(recent.size))
        else (rnd.nextDouble() * nextKey).toLong
      }.toSet
      val t0 = System.nanoTime()
      val df = tracer.span("format.index.lookup")(
        GpxPointIndex.lookup(spark, dir, "o_orderkey", keys, cols))
      ops.put("format.index.lookup_ms", (System.nanoTime() - t0) / 1e6)
      val served = df.queryExecution.analyzed.isInstanceOf[LocalRelation]
      ops.put("format.index.served", if (served) 1 else 0)
      ops.put("format.index.lookups", 1)
      val got = collect(df).map(render).sorted.toSeq
      val want = keys.toSeq.flatMap(model.get).sorted
      got == want || problem(s"lookup $keys: got $got want $want")
    case "aggregate" =>
      val r = collect(spark.table(table).agg(count(lit(1)),
        sum(col("o_totalprice").cast(DecimalType(18, 2))))).head
      val n = r.getLong(0)
      val c = r.getDecimal(1).movePointRight(2).longValueExact
      (n == model.size && c == priceCents) ||
        problem(s"aggregate: got ($n, $c) want (${model.size}, $priceCents)")
    case "compact" =>
      val r = tracer.span("format.compact")(GpxCompactor.compactInPlace(dir, conf))
      if (ops.tracing) call("format.compact.files_in", r.inputFiles.toDouble)
      true
  }

  /** run one op; in a traced run, the bytes of the data files it added
    * are listed before and after it, outside its timed window */
  private def measured(kind: String, dueNs: Long): Unit = {
    val sized = kind == "compact" || WriteKinds(kind)
    val before = if (sized && ops.alternate) dataFiles() else Map.empty[String, Long]
    val rec = ops.run(kind, dueNs, kind, rounds)(op(kind))
    if (sized && rec.traced) {
      val added = (dataFiles() -- before.keySet).values.sum.toDouble
      if (kind == "compact") call("format.compact.bytes_rewritten", added)
      else if (WriteKinds(kind)) call("format.write.bytes", added)
    }
  }

  /** data files under the table dir with their sizes (no engine reads, so
    * no format counter moves) */
  private def dataFiles(): Map[String, Long] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".gpx"))
      .map(f => f.getName -> f.length).toMap

  /** one round of the mix, always in this order: whether a lookup finds
    * the index fresh (after an append's refresh) or stale (after a MERGE
    * or DELETE) then never depends on the seed, which sets only rows and
    * keys. Writes, lookups and aggregates take a third each (an assumed
    * mix; each class is measured on its own). The round's three commits
    * trigger one compaction. */
  private val round: Seq[String] = Seq("append", "lookup", "aggregate",
    "merge", "lookup", "aggregate", "delete", "lookup", "aggregate")
  private var pending: List[String] = Nil
  private var rounds = 0
  private def nextKind(): String = {
    if (pending.isEmpty) {
      pending = round.toList
      rounds += 1
    }
    val k = pending.head
    pending = pending.tail
    k
  }

  def loop(deadlineNs: Long): Unit = {
    val gapNs = (1e9 / RatePerS).toLong
    var dueNs = System.nanoTime()
    while (dueNs < deadlineNs && System.nanoTime() < deadlineNs) {
      val wait = dueNs - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      val kind = nextKind()
      val c0 = commits
      measured(kind, dueNs)
      if (commits != c0 && commits % CompactEvery == 0) measured("compact", -1L)
      dueNs += gapNs
    }
  }

  def finish(): Option[Boolean] = {
    // cold re-read: no cached chunks, manifests or plans
    GpxFileReader.ChunkCache.clear()
    GpxCommitLog.invalidateCaches(dir)
    val df = spark.read.format("gpx").load(dir)
    val got = df.collect().map(r => r.getLong(0) -> render(r)).toMap
    val coldOk = got == model ||
      problem(s"cold re-read: ${got.size} rows vs ${model.size} in the model, " +
        s"${(got.toSet diff model.toSet).size} differ")
    userBytes = Data.userBytes(Seq(df))
    val live = GpxCommitLog.liveFiles(dir, conf)
    filesLive = live.size
    liveBytes = live.map(f =>
      new java.io.File(new org.apache.hadoop.fs.Path(f).toUri.getPath).length).sum
    Some(coldOk)
  }

  /** bytes of the live data files; retired files await vacuum */
  def storedBytesPerUserByte: Double = liveBytes.toDouble / userBytes

  def info: Seq[(String, Any)] = Seq(
    "scale" -> scale, "seed_rows" -> seedRows, "live_rows" -> model.size,
    "rate_per_s" -> RatePerS, "compact_every" -> CompactEvery,
    "ops_per_busy_s" -> ops.records.size * 1000.0 /
      math.max(1.0, ops.records.map(_.serviceMs).sum),
    "commits" -> commits, "files_live" -> filesLive,
    "live_bytes" -> liveBytes, "table_dir_bytes" -> Data.diskBytes(dir),
    "user_bytes" -> userBytes,
    "round" -> round)
}

object Ingest {
  /** seed table size in units of the sf0.1 corpus (150k orders) */
  val Scale = 0.1
  /** offered load, about half the mix's one-thread capacity (the untraced
    * run's `ops_per_busy_s`), so a slow MERGE delays few ops behind it */
  val RatePerS = 1.5
  val CompactEvery = 3
  val WriteKinds = Set("append", "merge", "delete")
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))
}
