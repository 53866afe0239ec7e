package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** One traced interval. Times are epoch milliseconds, the clock Spark's
  * scheduler events carry, so call spans and job/stage spans line up.
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    run: String, startMs: Long, var endMs: Long = -1L)

/** Spans and Spark counters of the traced passes.
  *
  * The benchmark opens a span around every layer call and sets the job
  * group `pb-<span id>` while the call runs; the listener attributes each
  * Spark job (and its stages and tasks) to the span of its job group and
  * records jobs and stages as child spans. Streaming queries run under
  * their own run id as job group, which [[alias]] maps to the operator's
  * span. Everything stays in memory until [[writeSpans]].
  */
final class Tracer(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val jobSpans = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpans = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageTasksMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Counters of the current traced pass, reset by [[takeCounters]]. */
  private var c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var skews = mutable.ArrayBuffer.empty[Double]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val parent = if (g == null) null else groups.get(g)
      if (parent != null) {
        val s = newSpan(parent.id, s"job ${e.jobId}", "spark.job", e.time)
        jobSpans.put(e.jobId, s)
        e.stageIds.foreach(stageJob.putIfAbsent(_, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.remove(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { job =>
        val start = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        stageSpans.put(e.stageInfo.stageId,
          newSpan(job.id, s"stage ${e.stageInfo.stageId}", "spark.stage", start))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val stage = stageSpans.get(e.stageId)
      if (stage != null && e.taskMetrics != null) Tracer.this.synchronized {
        val m = e.taskMetrics
        c("spark.tasks") += 1
        c("spark.executor_cpu_s") += m.executorCpuTime / 1e9
        c("spark.gc_s") += m.jvmGCTime / 1e3
        c("spark.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
        c("spark.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
        c("spark.shuffle_records") += m.shuffleWriteMetrics.recordsWritten.toDouble
        c("spark.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
        c("io.Tables.input_mb") += m.inputMetrics.bytesRead / 1e6
        c("io.Tables.input_rows") += m.inputMetrics.recordsRead.toDouble
        c("spark.task_wait_s") += math.max(0L, e.taskInfo.launchTime - stage.startMs) / 1e3
        stageTasksMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpans.remove(e.stageInfo.stageId)).foreach { s =>
        s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        Tracer.this.synchronized {
          c("spark.stages") += 1
          stageTasksMs.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ms =>
            skews += ms.max / math.max(1.0, Main.median(ms.map(_.toDouble).toSeq))
          }
        }
      }
  }
  sc.addSparkListener(listener)

  private def newSpan(parent: Long, name: String, kind: String, startMs: Long): Span =
    synchronized {
      val s = Span(ids.incrementAndGet(), parent, name, kind, runId, startMs)
      spans += s
      s
    }

  /** Opens a span under the innermost open one; Spark jobs started on this
    * thread until [[close]] become its children.
    */
  def open(name: String, kind: String): Span = {
    val parent = stack.headOption
    val s = newSpan(parent.map(_.id).getOrElse(0L), name, kind, System.currentTimeMillis())
    stack.push(s)
    groups.put(s"pb-${s.id}", s)
    parent.foreach(p => retarget(p, s))
    sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
    s
  }

  /** Jobs of a group aliased to `from` become children of `to`. */
  private def retarget(from: Span, to: Span): Unit =
    groups.forEach((g, sp) => if (!g.startsWith("pb-") && (sp eq from)) groups.put(g, to))

  /** Closes the innermost span after every listener event of its jobs has
    * been delivered.
    */
  def close(s: Span): Unit = {
    s.endMs = System.currentTimeMillis()
    PerfbenchBridge.drainListeners(sc)
    stack.pop()
    stack.headOption.foreach(p => retarget(s, p))
    stack.headOption match {
      case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** Attributes the jobs of another job group (a streaming query's run id)
    * to `s`, or to the innermost span opened inside it.
    */
  def alias(group: String, s: Span): Unit = groups.put(group, s)

  /** Plans `df` on its own so planning is timed apart from execution, and
    * counts the shuffle exchanges of the executed plan.
    */
  def plan(df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val p = df.queryExecution.executedPlan
    val dt = (System.nanoTime() - t0) / 1e9
    synchronized {
      c("spark.plan_s") += dt
      c("spark.exchanges") += Tracer.exchanges(p)
    }
  }

  def add(name: String, v: Double): Unit = synchronized { c(name) += v }

  /** The counters of the pass since the last call, with the median stage
    * skew, then resets them.
    */
  def takeCounters(): Map[String, Double] = synchronized {
    PerfbenchBridge.drainListeners(sc)
    val out = c.toMap + ("spark.task_skew" -> (if (skews.isEmpty) 1.0 else Main.median(skews.toSeq)))
    c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    skews = mutable.ArrayBuffer.empty[Double]
    out
  }

  def stop(): Unit = sc.removeSparkListener(listener)

  /** Writes every span with its self time: duration minus the part of it
    * its children cover.
    */
  def writeSpans(path: java.nio.file.Path): Unit = synchronized {
    val children = spans.groupBy(_.parent)
    def self(s: Span): Long = {
      val end = if (s.endMs < 0) s.startMs else s.endMs
      val iv = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startMs, s.startMs), math.min(if (k.endMs < 0) end else k.endMs, end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      (end - s.startMs) - covered
    }
    val lines = spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self(s))
    }
    java.nio.file.Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Tracer {
  /** Shuffle exchanges in a physical plan, subqueries included; an adaptive
    * plan is counted before it runs, from its initial physical plan.
    */
  def exchanges(p: SparkPlan): Int = {
    val here = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case _ => 0
    }
    here + inner + p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }
}
