package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** The run's event record, kept in memory and written out at the end.
  *
  * Spans are taken at the benchmark's own call boundaries in every run.
  * The Spark listeners (scheduler, SQL executions with their Catalyst
  * phase times, streaming progress) are attached only by [[attach]], in
  * traced runs. Each SQL execution keeps the call stack it was issued
  * from, which the report uses to attribute the execution to the graft
  * function that issued it.
  */
final class Trace {
  private val events = new ConcurrentLinkedQueue[String]()
  private def emit(kv: (String, Any)*): Unit = events.add(Json.obj(kv: _*))

  /** Time `body` as span `name`; returns its value. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dur = (System.nanoTime() - t0) / 1e9
      emit(Seq("kind" -> "span", "name" -> name, "start_ms" -> w0,
        "end_ms" -> (w0 + math.round(dur * 1000)), "dur_s" -> dur,
        "thread" -> Thread.currentThread().getName) ++ attrs: _*)
    }
  }

  def lines: Seq[String] = events.asScala.toSeq

  /** Attach the listeners to `spark`.
    *
    * A streaming query runs its micro-batches under the call site of its
    * `start()`, so every execution a `foreachBatch` function issues records
    * that call site, not its own. A planning hook therefore also keeps the
    * issuing thread's real stack: an extra planner strategy that plans
    * nothing and, the first time it is consulted inside an execution,
    * stores that thread's stack trace for the execution's id. */
  def attach(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val stacks = TrieMap.empty[Long, String]
    val experimental =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    // prepended, so the strategies the program registered still plan
    experimental.extraStrategies = new SparkStrategy {
        def apply(plan: LogicalPlan): Seq[SparkPlan] = {
          Option(sc.getLocalProperty("spark.sql.execution.id")).map(_.toLong)
            .filterNot(stacks.contains)
            .foreach(id => stacks.putIfAbsent(id,
              Thread.currentThread.getStackTrace.mkString("\n")))
          Nil
        }
      } +: experimental.extraStrategies
    val jobStarts = TrieMap.empty[Int, (Long, Option[Long], Seq[Int], String)]
    val stageJob = TrieMap.empty[Int, Int]
    sc.addSparkListener(new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart =>
          emit("kind" -> "exec_start", "id" -> e.executionId,
            "root" -> e.rootExecutionId.map(_.toString.toLong),
            "desc" -> e.description, "details" -> e.details, "t" -> e.time)
        case e: SparkListenerSQLExecutionEnd =>
          // the event's QueryExecution is package-private: read it reflectively
          val ph = Option(e.getClass.getMethod("qe").invoke(e))
            .map(_.asInstanceOf[QueryExecution].tracker.phases).getOrElse(Map.empty)
          def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
          emit("kind" -> "exec_end", "id" -> e.executionId, "t" -> e.time,
            "failed" -> e.errorMessage.isDefined, "stack" -> stacks.remove(e.executionId),
            "analysis" -> ms("analysis"), "optimization" -> ms("optimization"),
            "planning" -> ms("planning"))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong)
        val site = e.stageInfos.headOption.map(_.details).getOrElse("")
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        jobStarts(e.jobId) = (e.time, exec, e.stageIds, site)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        jobStarts.remove(e.jobId).foreach { case (t0, exec, stages, site) =>
          emit("kind" -> "job", "id" -> e.jobId, "exec" -> exec, "start" -> t0,
            "end" -> e.time, "stages" -> stages, "site" -> site,
            "ok" -> (e.jobResult == JobSucceeded))
        }
        val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
        emit("kind" -> "storage", "t" -> e.time, "mb" -> mb)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        if (m != null) emit("kind" -> "stage", "id" -> i.stageId,
          "job" -> stageJob.get(i.stageId), "tasks" -> i.numTasks,
          "submit" -> i.submissionTime, "done" -> i.completionTime,
          "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime, "in_bytes" -> m.inputMetrics.bytesRead,
          "sr_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead),
          "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "out_bytes" -> m.outputMetrics.bytesWritten)
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        emit("kind" -> "progress", "batch" -> p.batchId, "rows" -> p.numInputRows,
          "t" -> p.timestamp,
          "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue })
      }
    })
  }
}
