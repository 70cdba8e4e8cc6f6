package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from outside the program, around each call into a
  * graft layer. Kept in memory and written out once the run ends. */
final class Spans(val enabled: Boolean) {
  case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0
  private val t0 = System.nanoTime()

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, start - t0, System.nanoTime() - t0)
        stack = stack.tail
      }
    }

  /** A span observed elsewhere (a micro-batch), in epoch milliseconds. */
  def record(name: String, startMs: Double, endMs: Double): Unit = if (enabled) {
    val offsetNs = System.currentTimeMillis() * 1000000L - (System.nanoTime() - t0)
    done += Span(next, -1, name, (startMs * 1e6).toLong - offsetNs, (endMs * 1e6).toLong - offsetNs)
    next += 1
  }

  def toJsonLines: String = done.sortBy(_.id).map { s =>
    Main.json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6))
  }.mkString("", "\n", "\n")
}

/** Counters from Spark's public listener interfaces: jobs, stages and
  * task metrics (attributed to the graft operator that issued each job
  * by the job's call site), Catalyst phase times per query execution,
  * and streaming progress. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val Ckpt = "operators.ckpt"
  val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageOwner = mutable.Map.empty[Int, Seq[String]]
  private val jobOwner = mutable.Map.empty[Int, Seq[String]]
  private val jobStart = mutable.Map.empty[Int, Long]

  def reset(): Unit = synchronized { c.clear() }
  def snapshot: Map[String, Double] = synchronized { c.toMap }

  /** The operator groups a job belongs to, read from its call site:
    * each stage carries the short form (`<method> at <file>:<line>`,
    * the first frame outside Spark) as its name and the stack as its
    * details. */
  private def owners(stages: Seq[StageInfo]): Seq[String] = {
    val site = stages.map(s => s.name + "\n" + s.details).mkString("\n")
    val ckpt = site.contains("graft.operators.Ckpt") ||
      site.contains("localCheckpoint at ") || site.contains("checkpoint at ")
    Seq(Ckpt -> ckpt,
      "operators.Graph" -> site.contains("graft.operators.Graph"),
      "operators.Dedup" -> site.contains("graft.operators.Dedup"))
      .collect { case (k, true) => k }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val o = owners(e.stageInfos)
    jobOwner(e.jobId) = o
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageOwner(s) = o)
    c("queries.jobs") += 1
    o.foreach(k => c(if (k == Ckpt) "operators.ckpt_jobs" else s"$k.jobs") += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val start = jobStart.remove(e.jobId).getOrElse(e.time)
    if (jobOwner.remove(e.jobId).exists(_.contains(Ckpt)))
      c("operators.ckpt_s") += (e.time - start) / 1000.0
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c("queries.stages") += 1
    stageOwner.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("queries.tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      val taskS = m.executorRunTime / 1000.0
      c("queries.task_s") += taskS
      c("queries.gc_s") += m.jvmGCTime / 1000.0
      c("sources.scan_mb") += m.inputMetrics.bytesRead / 1e6
      c("sources.scan_rows") += m.inputMetrics.recordsRead
      c("queries.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
      c("queries.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      c("queries.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
      c("queries.peak_exec_mem_mb") = math.max(c("queries.peak_exec_mem_mb"), m.peakExecutionMemory / 1e6)
      stageOwner.getOrElse(e.stageId, Nil).filter(_ != Ckpt).foreach(k => c(s"$k.task_s") += taskS)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    for (p <- Seq("analysis", "optimization", "planning"))
      c(s"queries.${p}_ms") += phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Streaming progress as the public listener reports it. */
final class Progress extends StreamingQueryListener {
  val events = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized { events += e.progress }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def take(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized {
    val out = events.toList; events.clear(); out
  }
}

/** Registers and unregisters the three listeners as one unit, so
  * untraced passes run with none of them attached. */
final class Tracing(spark: SparkSession) {
  val counters = new Counters
  val progress = new Progress
  private var on = false

  def attach(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    spark.streams.addListener(progress)
    on = true
  }

  def detach(): Unit = if (on) {
    settle()
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
    spark.streams.removeListener(progress)
    on = false
  }

  /** Waits until the listener bus has delivered every queued event. */
  def settle(): Unit = org.apache.spark.graftbenchbus.drain(spark.sparkContext)
}
