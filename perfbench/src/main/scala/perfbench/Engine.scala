package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters observed from outside: one SparkListener, one
  * QueryExecutionListener and one StreamingQueryListener, registered
  * only for traced passes. `snapshot` values are cumulative; per-pass
  * figures are differences of two snapshots.
  */
final class EngineProbe(spark: SparkSession) {
  private val c = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]

  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong()).addAndGet(v)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      add("analysis_ms", ph.get("analysis").map(_.durationMs).getOrElse(0L))
      add("optimization_ms", ph.get("optimization").map(_.durationMs).getOrElse(0L))
      add("planning_ms", ph.get("planning").map(_.durationMs).getOrElse(0L))
      add("actions", 1)
      // attribute the op to the ext / plans modules when its optimized
      // plan holds one of their expressions or logical nodes
      var ext = false
      var plans = false
      qe.optimizedPlan.foreach { node =>
        if (node.getClass.getName.startsWith("graft.plans.")) plans = true
        node.expressions.foreach(_.foreach { e =>
          if (e.getClass.getName.startsWith("graft.ext.")) ext = true
        })
      }
      if (ext) add("ext_actions", 1)
      if (plans) add("plans_actions", 1)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      add("stream_batches", 1)
      add("stream_trigger_ms",
        Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
      add("stream_state_commit_ms", e.progress.stateOperators.map(_.commitTimeMs).sum)
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  /** Cumulative counters, after draining the listener bus. Codegen
    * figures come from Spark's static `CodegenMetrics`: the compile
    * count is exact, the compile time is count × the reservoir mean.
    */
  def snapshot(): Map[String, Double] = {
    drain()
    val ct = CodegenMetrics.METRIC_COMPILATION_TIME
    c.map { case (k, v) => k -> v.get.toDouble }.toMap ++ Map(
      "codegen_classes" -> ct.getCount.toDouble,
      "codegen_ms_mean" -> ct.getSnapshot.getMean)
  }

  /** One cumulative counter, after draining the listener bus. */
  def counter(k: String): Long = { drain(); c.get(k).map(_.get).getOrElse(0L) }
}

object EngineProbe {
  /** `after - before` per counter (codegen time from the count delta). */
  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] = {
    val keys = before.keySet ++ after.keySet
    val d = keys.map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
    d + ("codegen_ms" -> d.getOrElse("codegen_classes", 0.0) * after.getOrElse("codegen_ms_mean", 0.0))
  }
}
