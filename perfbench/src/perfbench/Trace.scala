package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Micro-batch progress of every streaming query in the session, seen
  * through the public `StreamingQueryListener`. The vote workload
  * needs it untraced too: it is how an event's counting batch is found.
  */
final class Progress extends StreamingQueryListener {
  final case class Query(id: String, name: String, start: Long, var end: Long = -1L)
  final case class Batch(queryId: String, batchId: Long, start: Long, end: Long, rows: Long,
      p: StreamingQueryProgress)

  val queries = TrieMap.empty[String, Query]
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    queries(e.id.toString) = Query(e.id.toString, Option(e.name).getOrElse(""),
      Instant.parse(e.timestamp).toEpochMilli)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = Instant.parse(p.timestamp).toEpochMilli
    val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    batches.add(Batch(p.id.toString, p.batchId, start, start + dur, p.numInputRows, p))
  }

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    queries.get(e.id.toString).foreach(_.end = System.currentTimeMillis())

  /** Batches of one query, in batch order. */
  def of(queryId: String): Seq[Batch] =
    batches.asScala.filter(_.queryId == queryId).toSeq.sortBy(_.batchId)

  def all: Seq[Batch] = batches.asScala.toSeq
}

/** The traced run's recorders: spans around the benchmark's own calls
  * into each layer, Spark jobs and task metrics from a `SparkListener`,
  * and micro-batches from [[Progress]]. Everything stays in memory and
  * is written once, at the end of the run.
  *
  * Work is measured in units (a gate pass, a second of the live
  * stream); per-layer counts and times are given per unit.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val progress = new Progress
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 1
  val units = mutable.ArrayBuffer.empty[WorkUnit]

  private val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stages = TrieMap.empty[Int, StageAgg]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, e.time, -1L, prop("spark.jobGroup.id"), prop("sql.streaming.queryId"))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.inRows += m.inputMetrics.recordsRead
        }
      }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(progress)

  /** Time `body` as a span under the innermost open one. */
  def span[A](name: String, kind: String, tags: Map[String, String] = Map.empty)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open.push(id)
    val start = System.currentTimeMillis()
    try body
    finally {
      open.pop()
      spans += Span(id, parent, name, kind, start, System.currentTimeMillis(), tags)
    }
  }

  /** Run one unit of work as a span. */
  def unit[A](name: String)(body: => A): A = {
    val start = System.currentTimeMillis()
    try span(name, "unit")(body)
    finally units += WorkUnit(name, start, System.currentTimeMillis())
  }

  /** Record a unit whose work ran on other threads (a second of a live stream). */
  def markUnit(name: String, start: Long, end: Long): Unit = {
    units += WorkUnit(name, start, end)
    spans += Span(nextId, 0, name, "unit", start, end, Map.empty)
    nextId += 1
  }

  private def inUnits(t: Long) = units.exists(u => t >= u.start && t <= u.end)

  /** Per-layer metrics over the units, each normalized per unit. */
  def layerMetrics(): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val n = math.max(1, units.size).toDouble
    val tj = jobs.values.filter(j => inUnits(j.start)).toSeq
    val tjIds = tj.map(_.id).toSet
    val ts = stages.filter { case (s, _) => stageJob.get(s).exists(tjIds) }.values.toSeq
    def sum(f: StageAgg => Long) = ts.map(f).sum.toDouble
    m("spark.jobs") = tj.size / n
    m("spark.tasks") = sum(_.tasks) / n
    val jobSpans = tj.map(j => (j.start, if (j.end < 0) Long.MaxValue else j.end))
    m("spark.driver_gap_ms") = units.map(u => (u.end - u.start) - covered(u.start, u.end, jobSpans)).sum / n
    m("spark.executor_run_ms") = sum(_.runMs) / n
    m("spark.executor_cpu_ms") = sum(_.cpuNs) / 1e6 / n
    m("spark.gc_ms") = sum(_.gcMs) / n
    m("spark.shuffle_write_bytes") = sum(_.shuffleWrite) / n
    m("spark.shuffle_read_bytes") = sum(_.shuffleRead) / n
    m("spark.spill_bytes") = sum(_.spill) / n
    m("sources.scan_bytes") = sum(_.inBytes) / n
    m("sources.scan_rows") = sum(_.inRows) / n

    val bs = progress.all.filter(b => inUnits(b.end))
    val withRows = bs.filter(_.rows > 0)
    def dur(b: Progress#Batch, k: String) =
      Option(b.p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Main.median(xs)
    def stateSum(b: Progress#Batch, f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      b.p.stateOperators.map(f).sum.toDouble
    m("sources.latest_offset_ms") = med(withRows.map(dur(_, "latestOffset")))
    m("sources.get_batch_ms") = med(withRows.map(dur(_, "getBatch")))
    m("streaming.batches") = bs.size / n
    m("streaming.rows_per_batch") = med(withRows.map(_.rows.toDouble))
    m("streaming.query_planning_ms") = med(withRows.map(dur(_, "queryPlanning")))
    m("streaming.add_batch_ms") = med(withRows.map(dur(_, "addBatch")))
    m("streaming.wal_commit_ms") = med(withRows.map(dur(_, "walCommit")))
    m("streaming.commit_offsets_ms") = med(withRows.map(dur(_, "commitOffsets")))
    m("streaming.trigger_ms") = med(withRows.map(dur(_, "triggerExecution")))
    val stateful = withRows.filter(_.p.stateOperators.nonEmpty)
    m("streaming.state_rows") = med(stateful.map(stateSum(_, _.numRowsTotal)))
    m("streaming.state_mem_bytes") = med(stateful.map(stateSum(_, _.memoryUsedBytes)))
    m("streaming.state_commit_ms") = med(stateful.map(stateSum(_, _.commitTimeMs)))
    m("streaming.state_update_ms") = med(stateful.map(stateSum(_, _.allUpdatesTimeMs)))
    m("streaming.watermark_lag_ms") = med(withRows.flatMap { b =>
      val et = b.p.eventTime
      for (mx <- Option(et.get("max")); wm <- Option(et.get("watermark")))
        yield (Instant.parse(mx).toEpochMilli - Instant.parse(wm).toEpochMilli).toDouble
    })
    m("streaming.late_rows_dropped") = bs.map(stateSum(_, _.numRowsDroppedByWatermark)).sum / n
    m
  }

  /** Executor CPU of the jobs that started inside `[start, end]`. */
  def cpuMsBetween(start: Long, end: Long): Double = {
    val ids = jobs.values.filter(j => j.start >= start && j.start <= end).map(_.id).toSet
    stages.filter { case (s, _) => stageJob.get(s).exists(ids) }.values.map(_.cpuNs).sum / 1e6
  }

  /** Spans of one kind, for per-gate attribution. */
  def spansOf(kind: String): Seq[Span] = spans.filter(s => s.kind == kind && inUnits(s.start)).toSeq

  /** Milliseconds of `[start, end]` covered by at least one of `intervals`. */
  private def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val iv = intervals.filter { case (s, e) => e >= start && s <= end }
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .sortBy(_._1)
    var total = 0L
    var cur = (-1L, -1L)
    iv.foreach { case (s, e) =>
      if (s > cur._2) { total += math.max(0L, cur._2 - cur._1); cur = (s, e) }
      else cur = (cur._1, math.max(cur._2, e))
    }
    total + math.max(0L, cur._2 - cur._1)
  }

  /** Write every span with its parent and self time: units of work,
    * gate calls, streaming queries and their micro-batches, and Spark
    * jobs, each linked to the span that caused it.
    */
  def writeSpans(path: Path): Unit = {
    val all = mutable.ArrayBuffer.empty[Span] ++= spans
    var id = nextId
    def add(parent: Int, name: String, kind: String, s: Long, e: Long, tags: Map[String, String]) = {
      all += Span(id, parent, name, kind, s, e, tags)
      id += 1
      id - 1
    }
    def innermost(t: Long): Int = spans.filter(s => s.start <= t && t <= s.end && s.kind != "unit")
      .sortBy(s => s.end - s.start).headOption
      .orElse(spans.find(s => s.start <= t && t <= s.end)).map(_.id).getOrElse(0)
    val querySpan = progress.queries.values.map { q =>
      q.id -> add(innermost(q.start), q.name, "query", q.start,
        if (q.end < 0) System.currentTimeMillis() else q.end, Map("query_id" -> q.id))
    }.toMap
    val batchSpans = progress.all.filter(b => inUnits(b.end)).map { b =>
      val parent = querySpan.getOrElse(b.queryId, innermost(b.start))
      (b, add(parent, s"batch ${b.batchId}", "micro_batch", b.start, b.end,
        Map("rows" -> b.rows.toString)))
    }
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      val parent =
        if (j.queryId.nonEmpty)
          batchSpans.find { case (b, _) => b.queryId == j.queryId && b.start <= j.start && j.start <= b.end }
            .map(_._2).orElse(querySpan.get(j.queryId)).getOrElse(innermost(j.start))
        else innermost(j.start)
      add(parent, s"job ${j.id}", "job", j.start, if (j.end < 0) j.start else j.end,
        Map("job_group" -> j.group))
    }
    val children = all.groupBy(_.parent)
    val lines = all.sortBy(_.id).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      val self = (s.end - s.start) - covered(s.start, s.end, kids)
      val tags = s.tags.map { case (k, v) => s"${Main.json(k)}: ${Main.json(v)}" }.mkString("{", ", ", "}")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Main.json(s.name)}, "kind": "${s.kind}", """ +
        s""""start_ms": ${s.start}, "end_ms": ${s.end}, "self_ms": $self, "tags": $tags}"""
    }
    Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, kind: String, start: Long, end: Long,
      tags: Map[String, String])
  final case class WorkUnit(name: String, start: Long, end: Long)
  final case class Job(id: Int, start: Long, var end: Long, group: String, queryId: String)
  final class StageAgg {
    var tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, inBytes, inRows = 0L
  }
}
