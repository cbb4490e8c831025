package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans of the benchmark's own calls into graft. Always on: the untraced
  * run reads its step and phase times from them. Times are seconds since
  * the recorder was made; listener events (epoch ms) map onto the same
  * axis through `fromEpochMs`.
  */
final class Spans {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private val recs = mutable.ArrayBuffer[mutable.Map[String, Any]]()
  private val stack = mutable.Stack[Int]()

  def now: Double = (System.nanoTime() - baseNs) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - baseMs) / 1e3

  /** Innermost span still open; listener events parent to it. */
  def open: Int = synchronized(if (stack.isEmpty) -1 else stack.top)

  def begin(name: String, attrs: (String, Any)*): Int = synchronized {
    val id = recs.size
    recs += (mutable.Map[String, Any]("id" -> id, "parent" -> open,
      "name" -> name, "start" -> now, "end" -> Double.NaN) ++= attrs)
    stack.push(id)
    id
  }

  def end(id: Int): Unit = synchronized {
    recs(id)("end") = now
    if (stack.contains(id)) while (stack.pop() != id) {}
  }

  /** A span that did not pass through begin/end, such as a Spark job. */
  def add(name: String, parent: Int, start: Double, end: Double,
      attrs: (String, Any)*): Unit = synchronized {
    recs += (mutable.Map[String, Any]("id" -> recs.size, "parent" -> parent,
      "name" -> name, "start" -> start, "end" -> end) ++= attrs)
  }

  def all: Seq[collection.Map[String, Any]] = synchronized(recs.toList)
}

/** Listener-side recording for the traced run: Spark jobs and stages with
  * their task metrics, file writes, pinned block bytes, streaming
  * micro-batches, and process-wide counters (codegen, file listing, GC,
  * heap). Listener events arrive asynchronously, so each is tied to a
  * span by its job group or by its start time, never by the span open
  * when the event is delivered. */
final class Tracer(spark: SparkSession, spans: Spans) {
  private val jobSpan = mutable.Map[Int, Int]()
  private val jobs = mutable.Map[Int, mutable.Map[String, Any]]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execOp = mutable.Map[Long, String]()
  private val writes = mutable.ArrayBuffer[Map[String, Any]]()
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()
  private var rddBlockBytes = 0L
  private val taskKeys = Seq("tasks", "task_s", "task_cpu_s", "shuffle_read_b",
    "shuffle_write_b", "spill_b", "input_b", "result_b", "output_rows",
    "output_b", "retries")

  /** The phase span a job's group names; -1 for jobs from other threads,
    * such as micro-batches, which the report places by start time. */
  private def spanOfGroup(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.drop(3).toInt).getOrElse(-1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      // a job's result stage carries its call site: the short form
      // ("collect at X.scala:12") as name, the caller's stack as details
      val result = e.stageInfos.sortBy(_.stageId).lastOption
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val op = result.flatMap(r => Tracer.graftObject(r.details))
        .orElse(exec.flatMap(execOp.get)).getOrElse("")
      jobSpan(e.jobId) = spanOfGroup(e.properties)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      jobs(e.jobId) = mutable.Map[String, Any]("job" -> e.jobId,
        "start" -> spans.fromEpochMs(e.time), "site" -> result.map(_.name).getOrElse(""),
        "op" -> op, "stages" -> e.stageIds.size) ++= taskKeys.map(_ -> 0.0)
    }
    // jobs that adaptive execution submits from its own threads carry no
    // graft frame; the SQL execution they belong to does
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        Tracer.graftObject(s.details).foreach(execOp(s.executionId) = _)
      }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end") = spans.fromEpochMs(e.time)
        j("ok") = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val job = stageJob.getOrElse(si.stageId, -1)
      for (s <- si.submissionTime; c <- si.completionTime)
        spans.add("stage", -1, spans.fromEpochMs(s), spans.fromEpochMs(c),
          "job" -> job, "stage" -> si.stageId, "attempt" -> si.attemptNumber(),
          "tasks" -> si.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (job <- stageJob.get(e.stageId); j <- jobs.get(job)) {
        def inc(k: String, v: Double): Unit =
          j(k) = j(k).asInstanceOf[Double] + v
        inc("tasks", 1)
        if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful)
          inc("retries", 1)
        Option(e.taskMetrics).foreach { m =>
          inc("task_s", m.executorRunTime / 1e3)
          inc("task_cpu_s", m.executorCpuTime / 1e9)
          inc("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
          inc("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
          inc("spill_b", m.diskBytesSpilled.toDouble)
          inc("input_b", m.inputMetrics.bytesRead.toDouble)
          inc("result_b", m.resultSize.toDouble)
          inc("output_rows", m.outputMetrics.recordsWritten.toDouble)
          inc("output_b", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        rddBlockBytes += b.memSize + b.diskSize
    }
  }

  private val writeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val found = Tracer.writeMetrics(qe.executedPlan)
      if (found.nonEmpty) Tracer.this.synchronized {
        found.foreach(writes += _)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = spans.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val trigger = ms.getOrElse("triggerExecution", 0L) / 1e3
      val ops = p.stateOperators.toSeq
      Tracer.this.synchronized {
        batches += Map("run" -> p.runId.toString, "batch" -> p.batchId,
          "start" -> start, "trigger_s" -> trigger,
          "rows" -> p.numInputRows,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_b" -> ops.map(_.memoryUsedBytes).sum) ++
          ms.map { case (k, v) => s"ms.$k" -> v }
      }
    }
  }

  private var counters0: Map[String, Double] = Map.empty

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(writeListener)
    spark.streams.addListener(streamListener)
  }

  /** Marks the start of the measured passes for the process-wide counters. */
  def startMeasure(): Unit = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    counters0 = Tracer.counters()
  }

  /** Drains the listener bus, then returns everything recorded. */
  def finish(): Map[String, Any] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val c1 = Tracer.counters()
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    synchronized {
      Map(
        "jobs" -> jobs.values.map(j => j.toMap + ("span" -> jobSpan(j("job").asInstanceOf[Int]))).toSeq,
        "writes" -> writes.toList,
        "batches" -> batches.toList,
        "rdd_block_b" -> rddBlockBytes,
        "heap_peak_b" -> heapPeak,
        "counters" -> c1.map { case (k, v) => k -> (v - counters0.getOrElse(k, 0.0)) })
    }
  }
}

object Tracer {
  import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}

  def counters(): Map[String, Double] = {
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "codegen.compile_ms" -> compile.getCount * compile.getSnapshot.getMean,
      "codegen.classes" ->
        CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble,
      "listing.files_discovered" ->
        HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
      "listing.file_cache_hits" ->
        HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble,
      "jvm.gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum.toDouble)
  }

  private val scalaFile = """\(([A-Za-z0-9_]+)\.scala:""".r

  /** The graft source file nearest the top of a call-site stack. */
  def graftObject(stack: String): Option[String] =
    stack.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .flatMap(l => scalaFile.findFirstMatchIn(l)).map(_.group(1))

  /** Every node of a physical plan, looking through adaptive wrappers and
    * query stages; a reused exchange counts once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Node counts of a query's final (post-AQE) plan. */
  def planShape(p: SparkPlan): Map[String, Int] = {
    val ns = nodes(p)
    Map(
      "exchanges" -> ns.count(_.isInstanceOf[Exchange]),
      "smj" -> ns.count(_.isInstanceOf[SortMergeJoinExec]),
      "bhj" -> ns.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "global_windows" -> ns.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      })
  }

  /** Files, bytes and rows of every file write in an executed command. */
  def writeMetrics(p: SparkPlan): Seq[Map[String, Any]] = p match {
    case c: CommandResultExec => writeMetrics(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writeMetrics(a.executedPlan)
    case d: DataWritingCommandExec =>
      val m = d.cmd.metrics
      if (m.contains("numFiles"))
        Seq(Map("files" -> m("numFiles").value,
          "bytes" -> m.get("numOutputBytes").map(_.value).getOrElse(0L),
          "rows" -> m.get("numOutputRows").map(_.value).getOrElse(0L)))
      else Nil
    case other => other.children.flatMap(writeMetrics)
  }
}
