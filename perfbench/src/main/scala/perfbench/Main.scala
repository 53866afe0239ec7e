package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Runs one workload in one JVM and writes `result.json` into `--out`:
  *
  *  1. set-up, three times: build the session and run the workload's set-up
  *     pass on the tiny input (`setup_s` is the median);
  *  2. untimed output checks on the measured input, which also warm the JVM;
  *  3. passes over the call list until `--seconds` have elapsed. With
  *     `--trace 1`, after one more warm-up pass, every second pass is
  *     traced: spans, Spark counters and per-layer times come from the
  *     traced passes, and the untraced ones give the tracing overhead.
  *
  * A host canary runs before the checks, halfway and at the end.
  */
object Main {
  final case class Opts(workload: String, data: String, warm: String, seconds: Double,
      trace: Boolean, out: Path, work: Path, cores: Int, seed: Long)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("data"), need("warm"), need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("out")), Paths.get(need("work")),
      need("cores").toInt, need("seed").toLong)
  }

  def session(o: Opts): SparkSession = {
    val spark = GraftSession.builder(s"local[${o.cores}]", o.cores)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", o.work.resolve("local").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The effective settings a later session-factory change would alter. */
  def sessionConf(spark: SparkSession, cores: Int): Map[String, String] =
    (Seq("spark.master", "spark.sql.shuffle.partitions", "spark.serializer",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.session.timeZone")
      .map(k => k -> spark.conf.getOption(k).getOrElse("<default>")) ++
      Seq("k" -> cores.toString,
        "jvm.max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1000000L).toString)).toMap

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private final case class PassStat(traced: Boolean, wallS: Double, cpuS: Double,
      layers: Map[String, Double], counters: Map[String, Double])

  /** The per-layer name of a call layer's summed time. */
  private def layerMetric(layer: String): Option[String] =
    if (layer.startsWith("streaming.")) None
    else if (layer.startsWith("operators.")) Some(s"$layer.wall_s")
    else Some(s"${layer}_s")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workload.all.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; known: ${Workload.all.keys.mkString(", ")}"))
    Files.createDirectories(o.out)
    Canary.run() // compile the canary before it is timed

    var spark: SparkSession = null
    var runner: Runner = null
    val setups = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(o)
      runner = new Runner(spark)
      runner.record = false
      wl.warm(spark, o.warm, runner)
      Runner.isolate(spark)
      (System.nanoTime() - t0) / 1e9
    }
    runner.record = true
    val conf = sessionConf(spark, o.cores)
    val canary = mutable.ArrayBuffer(Canary.run())

    val oracleDir = Files.createDirectories(o.out.resolve("oracle"))
    val v0 = System.nanoTime()
    wl.verify(spark, o.data, runner, oracleDir)
    System.err.println(f"[perfbench] set-up ${setups.mkString(" ")} s, checks ${(System.nanoTime() - v0) / 1e9}%.1f s")
    val checkAttempted = runner.attempted
    val written = SparkEntry.oracleSql.filter { case (q, _) => Files.isDirectory(oracleDir.resolve(q)) }
    Files.writeString(oracleDir.resolve("oracle_sql.json"), Json.value(written))

    val tracer = if (o.trace) Some(new Tracer(spark, s"${o.workload}/seed${o.seed}")) else None
    val passes = mutable.ArrayBuffer.empty[PassStat]
    runner.timed = true
    val start = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - start) / 1e9
    var pass = 0
    // a traced run first spends one more untimed pass on warm-up, so the
    // untraced pass it is compared with is not the colder one
    val warmPasses = if (o.trace) 1 else 0
    while (pass < warmPasses + (if (o.trace) 2 else 1) || elapsed < o.seconds) {
      pass += 1
      runner.pass = pass
      val traced = o.trace && pass > warmPasses && (pass - warmPasses) % 2 == 0
      runner.tracer = if (traced) tracer else None
      val span = runner.tracer.map(_.open(s"pass $pass", "pass"))
      val n0 = runner.samples.size
      wl.pass(spark, o.data, runner)
      span.foreach(s => tracer.foreach(_.close(s)))
      val ss = runner.samples.drop(n0).toSeq
      val counters =
        if (!traced) Map.empty[String, Double]
        else tracer.get.takeCounters() + ("jvm.heap_peak_mb" -> Heap.afterGc() / 1e6)
      if (pass > warmPasses) passes += PassStat(traced, ss.map(_.wallS).sum, ss.map(_.cpuS).sum,
        ss.groupBy(_.layer).flatMap { case (l, xs) => layerMetric(l).map(_ -> xs.map(_.wallS).sum) },
        counters)
      if (canary.size == 1 && elapsed >= o.seconds / 2) canary += Canary.run()
    }
    runner.tracer = None
    canary += Canary.run()
    wl.afterPasses(runner)

    val untraced = passes.filterNot(_.traced).toSeq
    val metrics: Map[String, Double] =
      if (!o.trace) {
        Map("setup_s" -> median(setups), "wall_s" -> median(untraced.map(_.wallS)),
          "cpu_s" -> median(untraced.map(_.cpuS)), "job_s_p50" -> median(runner.samples.map(_.wallS).toSeq))
      } else {
        val traced = passes.filter(_.traced).toSeq
        val keys = traced.flatMap(p => p.layers.keys ++ p.counters.keys).distinct
        val perLayer = keys.map { k =>
          val vs = traced.map(p => p.layers.getOrElse(k, p.counters.getOrElse(k, 0.0)))
          k -> (if (k == "jvm.heap_peak_mb") vs.max else median(vs))
        }.toMap
        val untracedWall = median(untraced.map(_.wallS))
        perLayer - "streaming.rows" ++ Kernels.measure(spark, o.seed) ++ Map(
          "trace.overhead" -> median(traced.map(_.wallS)) / untracedWall,
          "host.canary_s" -> median(canary.toSeq),
          "host.ambient_factor" -> canary.max / canary.min) ++
          perLayer.get("streaming.rows").map(rows => "streaming.rows_per_s" -> rows / untracedWall)
      }
    tracer.foreach { t => t.stop(); t.writeSpans(o.out.resolve("spans.json")) }

    val result = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> runner.attempted, "failed" -> runner.failed,
      "check_calls" -> checkAttempted, "errors" -> runner.errors.toSeq,
      "passes" -> passes.size, "calls_timed" -> runner.samples.size,
      "setup_runs_s" -> setups, "canary_s" -> canary.toSeq,
      "session" -> conf, "metrics" -> metrics,
      "call_median_s" -> runner.samples.groupBy(_.name).map { case (k, v) => k -> median(v.map(_.wallS).toSeq) })
    Files.writeString(o.out.resolve("result.json"), result + "\n")
    spark.stop()
  }
}

/** A fixed CPU-bound loop: the same work on every run, so a slow host
  * window shows as a slow canary rather than as a slow change.
  */
object Canary {
  @volatile private var sink = 0L

  def run(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }
}
