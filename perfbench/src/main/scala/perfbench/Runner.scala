package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call: wall and process-CPU seconds. */
final case class Sample(pass: Int, name: String, layer: String, wallS: Double, cpuS: Double)

/** Executes the calls of a pass. Each call is isolated from the previous
  * one, timed from outside (wall clock and process CPU), and counted as
  * attempted; a call that throws counts as failed. With a tracer attached
  * the call also becomes a span, and a query is planned on its own first.
  */
final class Runner(spark: SparkSession) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  var pass = 0
  /** False during set-up passes: their calls are not counted, and a failure aborts the run. */
  var record = true
  /** True during timed passes: only their calls are sampled. */
  var timed = false
  var tracer: Option[Tracer] = None

  def action(name: String, layer: String, isolate: Boolean = true)(body: => Unit): Unit = {
    if (isolate) Runner.isolate(spark)
    val span = tracer.map(_.open(name, layer))
    val cpu0 = Runner.cpuNs()
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable => errors += s"$name: ${Runner.firstLine(e)}"; false
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Runner.cpuNs() - cpu0) / 1e9
    span.foreach(s => tracer.foreach(_.close(s)))
    if (record) {
      attempted += 1
      if (!ok) failed += 1 else if (timed) samples += Sample(pass, name, layer, wall, cpu)
    } else if (!ok) throw new IllegalStateException(s"set-up call failed: ${errors.last}")
    Heap.sample()
  }

  /** Runs `df` to the noop sink, which materializes every output row. */
  def query(name: String, layer: String)(df: => DataFrame): Unit =
    action(name, layer) {
      val d = df
      tracer.foreach(_.plan(d))
      d.write.format("noop").mode("overwrite").save()
    }

  /** A check outside the timed calls: counted as attempted, and as failed
    * when it does not hold or throws.
    */
  def check(name: String)(body: => Boolean): Unit = {
    attempted += 1
    val problem = try { if (body) None else Some("mismatch") } catch {
      case e: Throwable => Some(Runner.firstLine(e))
    }
    problem.foreach { p => failed += 1; errors += s"check $name: $p" }
  }
}

object Runner {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean

  def firstLine(e: Throwable): String = e.toString.linesIterator.nextOption().getOrElse("").take(300)

  /** Process CPU time less the JIT compiler's: a short-lived JVM is still
    * compiling hot code during the timed passes, and that work belongs to
    * the JVM's warm-up, not to the calls.
    */
  def cpuNs(): Long = os.getProcessCpuTime - jit.getTotalCompilationTime * 1000000L

  /** Drops every cached block the previous call left behind (blocking), so
    * no call pays for another's storage.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** Peak old-generation occupancy after collection, sampled after each call. */
object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  @volatile var peakBytes = 0L

  def sample(): Unit = oldGen.flatMap(p => Option(p.getCollectionUsage)).foreach { u =>
    if (u.getUsed > peakBytes) peakBytes = u.getUsed
  }

  /** Collects and records the live heap, then resets the peak. */
  def afterGc(): Long = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val peak = math.max(peakBytes, used)
    peakBytes = 0L
    peak
  }
}
