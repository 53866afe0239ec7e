package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.api.{RollupHandler, TupleJob}
import graft.io.{Layout, Tables}
import graft.operators.Dedup
import graft.streaming.{DedupStream, EventsStream}
import graft.streaming.EventsStream.Event

/** A fixed list of calls into graft's public functions. */
trait Workload {
  def name: String
  /** The set-up pass: a few calls on the tiny input. */
  def warm(spark: SparkSession, dir: String, r: Runner): Unit
  /** One pass over the call list on the tables in `dir`. */
  def pass(spark: SparkSession, dir: String, r: Runner): Unit
  /** Untimed output checks. Oracle-covered results are written under
    * `oracleDir` for the DuckDB comparison that follows the run.
    */
  def verify(spark: SparkSession, dir: String, r: Runner, oracleDir: Path): Unit
  /** Checks over all recorded passes, once they are done. */
  def afterPasses(r: Runner): Unit = ()
}

object Workload {
  val all: Map[String, Workload] =
    Seq(TupleMr, Lakehouse, Streaming).map(w => w.name -> w).toMap

  def entry(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  /** Sorted rows rendered as strings: an order-free fingerprint of a result. */
  def canon(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  def sameRows(a: DataFrame, b: DataFrame): Boolean = canon(a) == canon(b)
}

final case class Query(name: String, layer: String, df: (SparkSession, String) => DataFrame)

/** Pangool's core surface, through `api.TupleJob` and through the
  * declarative twins in `SparkEntry`, each query run to the noop sink. Each
  * result is checked once per run: against the DuckDB oracle where
  * `SparkEntry.oracleSql` has one, against its declarative twin where
  * `twins` names one, and otherwise by hashing identically over two
  * executions.
  */
object TupleMr extends Workload {
  val name = "tuple_mr"

  val calls: Seq[Query] = Seq(
    Query("tj_secondary_sort_reduce", "api.TupleJob.reduce", (s, d) => secondarySortReduce(s, d)),
    Query("tj_region_rollup", "api.TupleJob.rollup", (s, d) => regionRollup(s, d)),
    Query("q_cogroup_multi", "api.TupleJob.cogroup", Workload.entry("q_cogroup_multi"))) ++
    Seq("q_secondary_sort", "q_rollup", "q_join_reduce_side", "q_tpch_q5")
      .map(n => Query(n, "operators.Relational", Workload.entry(n)))

  val twins: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tj_secondary_sort_reduce" -> Workload.entry("q_secondary_sort"),
    // TupleJob's rollup has no grand-total level
    "tj_region_rollup" -> ((s, d) => Workload.entry("q_rollup")(s, d).where(col("r_name").isNotNull)))

  def warm(spark: SparkSession, dir: String, r: Runner): Unit =
    calls.take(1).foreach(q => r.query(q.name, q.layer)(q.df(spark, dir)))

  def pass(spark: SparkSession, dir: String, r: Runner): Unit =
    calls.foreach(q => r.query(q.name, q.layer)(q.df(spark, dir)))

  def verify(spark: SparkSession, dir: String, r: Runner, oracleDir: Path): Unit =
    calls.foreach { q =>
      if (SparkEntry.oracleSql.contains(q.name))
        r.check(s"${q.name} output") {
          q.df(spark, dir).coalesce(1).write.mode("overwrite")
            .parquet(oracleDir.resolve(q.name).toString)
          true
        }
      else if (twins.contains(q.name))
        r.check(s"${q.name} == its declarative twin") {
          Workload.sameRows(q.df(spark, dir), twins(q.name)(spark, dir))
        }
      else
        r.check(s"${q.name} hashes identically across passes") {
          Workload.canon(q.df(spark, dir)) == Workload.canon(q.df(spark, dir))
        }
      Runner.isolate(spark)
    }

  /** The secondary-sort shape of `Demo`: first event per (user, type) in
    * (ts, event_id) order, through a streaming grouped reduce.
    */
  def secondarySortReduce(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("event_type"),
      col("event_id"), unix_millis(col("ts")).as("ts_ms"), round(col("value"), 6).as("value"))
    val out = StructType(Seq(StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("first_ts_ms", LongType), StructField("first_value", DoubleType)))
    TupleJob.groupBy(ev, "user_id", "event_type")
      .orderBy(col("ts_ms"), col("event_id"))
      .reduce(out) { (key, rows) =>
        val first = rows.next()
        Iterator(Row(key.get(0), key.get(1), first.getAs[Long]("ts_ms"), first.getAs[Double]("value")))
      }
  }

  /** Customer count and exact balance per (region, nation) and per region,
    * from open/close callbacks over one sorted scan.
    */
  def regionRollup(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), round(col("c_acctbal") * 100).cast("long").as("cents"))
    val out = StructType(Seq(StructField("r_name", StringType), StructField("n_name", StringType),
      StructField("n_cust", LongType), StructField("acctbal", DoubleType)))
    TupleJob.groupBy(cust, "r_name", "n_name").partitionBy("r_name")
      .rollup(out, rollupFromDepth = 0)(new RegionTotals)
  }
}

/** Rollup callbacks: count and cent sums per open group at each depth. */
final class RegionTotals extends RollupHandler {
  private val n = Array(0L, 0L)
  private val cents = Array(0L, 0L)

  override def onOpenGroup(depth: Int, first: Row): Iterator[Row] = {
    n(depth) = 0L; cents(depth) = 0L
    Iterator.empty
  }
  override def onElement(row: Row): Iterator[Row] = {
    val c = row.getAs[Long]("cents")
    n(0) += 1; n(1) += 1; cents(0) += c; cents(1) += c
    Iterator.empty
  }
  override def onCloseGroup(depth: Int, last: Row): Iterator[Row] =
    Iterator(Row(last.getAs[String]("r_name"),
      if (depth == 1) last.getAs[String]("n_name") else null,
      n(depth), BigDecimal(cents(depth), 2).toDouble))
}

/** Parquet files under a directory tree, relative path -> size. */
object ParquetFiles {
  def list(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** Files no layout reads: retired generations, staging and hidden dirs. */
  def live(files: Map[String, Long]): Map[String, Long] =
    files.filter { case (rel, _) => !rel.split('/').exists(c => c.startsWith("_") || c.startsWith(".")) }
}

/** Direct `io.Layout` lifecycle calls on a fresh warehouse every pass. */
object Lakehouse extends Workload {
  val name = "lakehouse"
  private val buckets = 4
  private val filesPerPass = scala.collection.mutable.ArrayBuffer.empty[Long]

  def warm(spark: SparkSession, dir: String, r: Runner): Unit = {
    reset(spark)
    r.action("writeBucketed.orders", "io.Layout.write") {
      Layout.writeBucketed(Tables.orders(spark, dir), "lh_orders", "o_orderkey", buckets)
    }
    r.query("readTable", "io.Layout.read")(Layout.readTable(spark, "lh_orders"))
    reset(spark)
  }

  def pass(spark: SparkSession, dir: String, r: Runner): Unit = run(spark, dir, r, verify = false)

  def verify(spark: SparkSession, dir: String, r: Runner, oracleDir: Path): Unit =
    run(spark, dir, r, verify = true)

  override def afterPasses(r: Runner): Unit = {
    val counts = filesPerPass.distinct
    r.check(s"every lakehouse pass writes the same files (${counts.mkString(",")})") {
      counts.size == 1 && counts.head > 0
    }
    filesPerPass.clear()
  }

  /** Drops every table and empties the warehouse. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    val wh = warehouse(spark)
    if (Files.exists(wh)) {
      val s = Files.walk(wh)
      try s.iterator().asScala.toSeq.reverse.filter(_ != wh).foreach(Files.delete)
      finally s.close()
    }
  }

  private def warehouse(spark: SparkSession): Path =
    Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)

  private def run(spark: SparkSession, dir: String, r: Runner, verify: Boolean): Unit = {
    reset(spark)
    val wh = warehouse(spark)
    val orders = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), round(col("o_totalprice") * 100).cast("long").as("o_cents"),
      col("o_orderdate"), col("o_orderpriority"))
    def slice(i: Int): DataFrame = orders.where(pmod(col("o_orderkey"), lit(2)) === i)
    val lineitem = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_linenumber"), round(col("l_extendedprice") * 100).cast("long").as("l_cents"))
    val events = Tables.events(spark, dir).select(col("event_id"), col("user_id"),
      col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val evDir = wh.resolve("lh_events").toString

    var filesWritten = 0L
    var bytesWritten = 0L
    def write(call: String, op: String)(body: => Unit): Unit = {
      val before = ParquetFiles.list(wh)
      r.action(call, s"io.Layout.$op")(body)
      val added = ParquetFiles.list(wh).filter { case (rel, size) => !before.get(rel).contains(size) }
      filesWritten += added.size
      bytesWritten += added.values.sum
    }

    write("writeBucketed.orders", "write")(Layout.writeBucketed(slice(0), "lh_orders", "o_orderkey", buckets))
    write("writeBucketed.lineitem", "write")(Layout.writeBucketed(lineitem, "lh_lineitem", "l_orderkey", buckets))
    var landed = false
    write("appendBucketedBatch", "append") {
      landed = Layout.appendBucketedBatch(slice(1), "lh_orders", "o_orderkey", buckets, 1L)
    }
    var replayLanded = true
    write("appendBucketedBatch.replay", "append") {
      replayLanded = Layout.appendBucketedBatch(slice(1), "lh_orders", "o_orderkey", buckets, 1L)
    }
    val preMerge = Layout.tableGenerations(spark, "lh_orders").max

    // CDC delta: one row per key — updates, tombstones and new keys
    val delta = orders.where(pmod(col("o_orderkey"), lit(10)) === 3)
      .withColumn("o_cents", col("o_cents") + 1).withColumn("is_delete", lit(false))
      .unionByName(orders.where(pmod(col("o_orderkey"), lit(10)) === 7).withColumn("is_delete", lit(true)))
      .unionByName(orders.where(pmod(col("o_orderkey"), lit(50)) === 1)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L).withColumn("is_delete", lit(false)))
    write("mergeBucketed", "merge") {
      Layout.mergeBucketed(spark, "lh_orders", "o_orderkey", buckets, delta, deleteCol = Some("is_delete"))
    }
    r.query("readTableAt", "io.Layout.read_at")(Layout.readTableAt(spark, "lh_orders", preMerge))
    if (verify) r.check("readTableAt(pre-merge generation) == the pre-merge rows") {
      Workload.sameRows(Layout.readTableAt(spark, "lh_orders", preMerge), orders)
    }

    val victims = orders.where(pmod(col("o_orderkey"), lit(97)) === 5).select(col("o_orderkey"))
    write("forgetKeys", "forget")(Layout.forgetKeys(spark, "lh_orders", "o_orderkey", victims))
    write("writePartitioned", "write")(Layout.writePartitioned(events, evDir, "event_type"))
    val userVictims = events.where(pmod(col("user_id"), lit(13)) === 0).select(col("user_id")).distinct()
    write("forgetKeysDir", "forget")(Layout.forgetKeysDir(spark, evDir, "user_id", userVictims))
    write("compactBucketed", "compact")(Layout.compactBucketed(spark, "lh_orders", "o_orderkey", buckets))
    write("vacuumTable", "vacuum")(Layout.vacuumTable(spark, "lh_orders", 0L))

    def ordersJoin(o: DataFrame, l: DataFrame): DataFrame =
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_lines"), sum(col("l_cents")).as("l_cents"))
    def perType(df: DataFrame): DataFrame =
      df.groupBy(col("event_type")).agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    r.query("readTable.join", "io.Layout.read") {
      ordersJoin(Layout.readTable(spark, "lh_orders"), Layout.readTable(spark, "lh_lineitem"))
    }

    if (r.record) filesPerPass += filesWritten
    r.tracer.foreach { t =>
      val live = ParquetFiles.live(ParquetFiles.list(wh))
      // live table bytes over the source bytes of the rows it holds
      val ordersBytes = live.filter(_._1.startsWith("lh_orders/")).values.sum.toDouble
      val heldBytes = Files.size(Paths.get(dir, "orders.parquet")).toDouble *
        Layout.readTable(spark, "lh_orders").count() / Tables.orders(spark, dir).count()
      val reads = Seq(Layout.readTable(spark, "lh_orders"), Layout.readTable(spark, "lh_lineitem"),
        Layout.readDir(spark, evDir))
      t.add("io.Layout.files_written", filesWritten.toDouble)
      t.add("io.Layout.bytes_written_mb", bytesWritten / 1e6)
      t.add("io.Layout.write_amp", bytesWritten / live.values.sum.toDouble)
      t.add("io.Layout.files_per_read", reads.map(_.inputFiles.length).sum.toDouble / reads.size)
      t.add("io.Layout.space_amp", ordersBytes / heldBytes)
    }

    if (verify) {
      val updated = orders.where(pmod(col("o_orderkey"), lit(10)) === 3).withColumn("o_cents", col("o_cents") + 1)
      val inserted = orders.where(pmod(col("o_orderkey"), lit(50)) === 1)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      val expected = orders.where(!pmod(col("o_orderkey"), lit(10)).isin(3, 7))
        .unionByName(updated).unionByName(inserted)
        .join(victims, Seq("o_orderkey"), "left_anti")
      r.check("the batch lands once; its replayed id is a no-op")(landed && !replayLanded)
      r.check("lh_orders == raw orders + CDC delta - erased keys") {
        Workload.sameRows(Layout.readTable(spark, "lh_orders"), expected)
      }
      r.check("bucketed join == the same join over raw tables") {
        Workload.sameRows(
          ordersJoin(Layout.readTable(spark, "lh_orders"), Layout.readTable(spark, "lh_lineitem")),
          ordersJoin(expected, lineitem))
      }
      r.check("erased event log == raw events - erased users") {
        Workload.sameRows(perType(Layout.readDir(spark, evDir)),
          perType(events.join(userVictims, Seq("user_id"), "left_anti")))
      }
    }
    reset(spark)
  }
}

/** Closed-loop `MemoryStream` drives of the streaming operators: one
  * micro-batch in flight, each timed from `addData` until
  * `processAllAvailable` returns.
  */
object Streaming extends Workload {
  val name = "streaming"
  /** Micro-batches per operator in a timed pass, and in the checked run. */
  val batches = 3
  val checkBatches = 2

  private final case class Inputs(corpus: DataFrame, arriving: Seq[(Long, String)], events: Seq[Event])
  private var cached: Option[((SparkSession, String), Inputs)] = None

  /** The stream inputs, collected once per data directory: the corpus side
    * of the dedup probe is every doc with doc_id % 5 != 4 (the split
    * `Dedup.minhashIncremental` uses), the arriving docs are the rest, and
    * the events arrive in timestamp order.
    */
  private def inputs(spark: SparkSession, dir: String): Inputs = cached match {
    case Some((key, in)) if key == (spark -> dir) => in
    case _ =>
      import spark.implicits._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val arriving = docs.where(pmod(col("doc_id"), lit(5)) === 4)
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
      val events = Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
        .collect().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
      val in = Inputs(docs.where(pmod(col("doc_id"), lit(5)) =!= 4), arriving, events)
      cached = Some((spark -> dir) -> in)
      in
  }

  private def chunks[T](xs: Seq[T], n: Int = batches): Seq[Seq[T]] =
    xs.grouped(math.max(1, math.ceil(xs.size.toDouble / n).toInt)).toSeq

  /** Starts `start`, pushes every chunk as one timed trigger, stops. */
  private def drive[T](r: Runner, op: String, data: Seq[Seq[T]],
      input: MemoryStream[T])(start: => StreamingQuery): Unit = {
    val span = r.tracer.map(_.open(s"streaming.$op", s"streaming.$op"))
    val q = start
    span.foreach(s => r.tracer.foreach(_.alias(q.runId.toString, s)))
    try data.foreach { c =>
      r.action(s"$op.trigger", s"streaming.$op", isolate = false) {
        input.addData(c)
        q.processAllAvailable()
      }
    } finally q.stop()
    span.foreach(s => r.tracer.foreach(_.close(s)))
    r.tracer.foreach { t =>
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      def p50(key: String): Double = {
        val v = progress.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue)).sorted
        if (v.isEmpty) 0.0 else v(v.size / 2)
      }
      Seq("addBatch", "queryPlanning", "walCommit", "getBatch")
        .foreach(k => t.add(s"streaming.$op.${k}_ms_p50", p50(k)))
      progress.lastOption.foreach { p =>
        t.add(s"streaming.$op.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        t.add(s"streaming.$op.state_mb", p.stateOperators.map(_.memoryUsedBytes).sum / 1e6)
      }
      t.add("streaming.rows", data.map(_.size).sum.toDouble)
    }
  }

  /** What a deployment does before it streams: build the static dedup index. */
  def warm(spark: SparkSession, dir: String, r: Runner): Unit =
    r.action("dedup.index", "streaming.dedup") { index(inputs(spark, dir)) }

  /** The persisted corpus index the dedup stream probes. */
  private def index(in: Inputs): (DataFrame, DataFrame) = {
    val (bands, sh) = DedupStream.corpusIndex(in.corpus)
    (bands.localCheckpoint(), sh.localCheckpoint())
  }

  def pass(spark: SparkSession, dir: String, r: Runner): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = inputs(spark, dir)
    locally {
      val (idxBands, corpusSh) = index(in)
      val input = MemoryStream[(Long, String)]
      drive(r, "dedup", chunks(in.arriving), input) {
        DedupStream.incremental(input.toDF().toDF("doc_id", "text"), idxBands, corpusSh)
          .writeStream.format("noop").start()
      }
    }
    locally {
      val input = MemoryStream[Event]
      drive(r, "hourly", chunks(in.events), input) {
        EventsStream.hourlyCounts(input.toDF()).writeStream.format("noop").outputMode("update").start()
      }
    }
    Runner.isolate(spark)
  }

  /** Each operator's streamed output equals the batch operator on the same rows. */
  def verify(spark: SparkSession, dir: String, r: Runner, oracleDir: Path): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = inputs(spark, dir)
    def collectInto[T](q: StreamingQuery, input: MemoryStream[T], data: Seq[Seq[T]]): Unit =
      try data.foreach { c => input.addData(c); q.processAllAvailable() } finally q.stop()

    r.check("dedup stream == Dedup.minhashIncremental") {
      val (idxBands, corpusSh) = index(in)
      val input = MemoryStream[(Long, String)]
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val q = DedupStream.incremental(input.toDF().toDF("doc_id", "text"), idxBands, corpusSh)
        .writeStream.foreachBatch { (b: DataFrame, _: Long) => b.collect().foreach(x => got.add(x.toString)); () }
        .start()
      collectInto(q, input, chunks(in.arriving, checkBatches))
      got.asScala.toSeq.sorted == Workload.canon(Dedup.minhashIncremental(spark, dir))
    }
    r.check("hourly stream == EventsStream.hourlyCounts over the same rows") {
      val input = MemoryStream[Event]
      val last = new java.util.concurrent.ConcurrentHashMap[String, (Long, Double)]()
      val q = EventsStream.hourlyCounts(input.toDF()).writeStream.outputMode("update")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(x => last.put(s"${x.get(0)}|${x.get(1)}", (x.getLong(2), x.getDouble(3)))); ()
        }.start()
      collectInto(q, input, chunks(in.events, checkBatches))
      val batch = EventsStream.hourlyCounts(in.events.toDS().toDF()).collect()
        .map(x => s"${x.get(0)}|${x.get(1)}" -> (x.getLong(2), x.getDouble(3))).toMap
      batch.size == last.size && batch.forall { case (k, (n, s)) =>
        Option(last.get(k)).exists { case (n2, s2) => n2 == n && math.abs(s2 - s) <= 1e-6 * math.max(1.0, math.abs(s)) }
      }
    }
    Runner.isolate(spark)
  }
}
