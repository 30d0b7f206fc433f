package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.collection.mutable

/** Task-level counters the listener sums per job. */
object C extends Enumeration {
  val Jobs, Tasks, FailedTasks, RunMs, CpuNs, GcMs, DeserMs, ShuffleWriteBytes,
    ShuffleWriteRecords, ShuffleReadBytes, FetchWaitMs, SpillBytes = Value
}

final class Counters private (private val v: Array[Long]) {
  def apply(k: C.Value): Long = v(k.id)
  def +(o: Counters): Counters = new Counters(Array.tabulate(v.length)(i => v(i) + o.v(i)))
  def -(o: Counters): Counters = new Counters(Array.tabulate(v.length)(i => v(i) - o.v(i)))
}

object Counters {
  val zero: Counters = of()
  def of(kv: (C.Value, Long)*): Counters = {
    val a = new Array[Long](C.maxId)
    kv.foreach { case (k, x) => a(k.id) += x }
    new Counters(a)
  }
  def sum(cs: Iterable[Counters]): Counters = cs.foldLeft(zero)(_ + _)
}

/** One timed call into a layer. `runId` is the workload iteration. */
final case class Span(id: Int, name: String, parent: Option[Int], runId: Int,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = Tracer.groupOf(id)
}

/** Records spans around the benchmark's calls into the engine, and the
  * Spark task and streaming counters behind them.
  *
  * Each span runs its body under a job group of its own, so the jobs the
  * body submits are attributed exactly. Jobs submitted under any other
  * group (streaming micro-batches run on the stream's own thread) are
  * attributed to the innermost span open at their submission time.
  * Spans stay in memory until [[Tracer.writeAll]].
  */
final class Tracer(spark: SparkSession) extends SparkListener with SpanSink {
  private val sc = spark.sparkContext

  private final class JobRec(val group: Option[String], val submitMs: Long) {
    var ended = false
    var c: Counters = Counters.of(C.Jobs -> 1)
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  var runId = 0

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(progress += e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): this.type = {
    sc.addSparkListener(this)
    spark.streams.addListener(streamListener)
    this
  }

  def remove(): Unit = {
    settle()
    sc.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
    jobs(e.jobId) = new JobRec(group, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.ended = true)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); job <- jobs.get(jobId)) {
      val failed = if (e.reason == org.apache.spark.Success) 0L else 1L
      val m = Option(e.taskMetrics)
      job.c += Counters.of(
        C.Tasks -> 1, C.FailedTasks -> failed,
        C.RunMs -> m.map(_.executorRunTime).getOrElse(0L),
        C.CpuNs -> m.map(_.executorCpuTime).getOrElse(0L),
        C.GcMs -> m.map(_.jvmGCTime).getOrElse(0L),
        C.DeserMs -> m.map(_.executorDeserializeTime).getOrElse(0L),
        C.ShuffleWriteBytes -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        C.ShuffleWriteRecords -> m.map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L),
        C.ShuffleReadBytes -> m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        C.FetchWaitMs -> m.map(_.shuffleReadMetrics.fetchWaitTime).getOrElse(0L),
        C.SpillBytes -> m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
    }
  }

  /** Run `body` as one span named `name`, nested under any open span. */
  def span[T](name: String)(body: => T): T = {
    val id = Tracer.nextId.incrementAndGet()
    val parent = open.headOption
    val prevGroup = Option(sc.getLocalProperty(Tracer.GroupKey))
    sc.setJobGroup(Tracer.groupOf(id), name, interruptOnCancel = false)
    open = id :: open
    val (m0, t0) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally {
      val (t1, m1) = (System.nanoTime(), System.currentTimeMillis())
      open = open.tail
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      synchronized(spanBuf += Span(id, name, parent, runId, m0, m1, t0, t1))
    }
  }

  def spans: Seq[Span] = synchronized(spanBuf.toSeq)

  /** Flush the listener bus, then wait until an end event has arrived
    * for every job seen so far. Counters are read only after this.
    * Returns the ids of jobs still unfinished after `timeoutMs`.
    */
  def settle(timeoutMs: Long = 30000L): Seq[Int] = {
    PerfbenchBus.drain(sc)
    val deadline = System.currentTimeMillis() + timeoutMs
    def unended = synchronized(jobs.collect { case (id, j) if !j.ended => id }.toSeq)
    var left = unended
    while (left.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(10)
      PerfbenchBus.drain(sc)
      left = unended
    }
    left
  }

  /** Counters of the jobs attributed to `s` (not to its children), read
    * once an end event has arrived for each of them.
    */
  def counters(s: Span): Counters = {
    val unended = settle().toSet
    val all = spans
    def innermostAt(ms: Long): Option[Int] = all
      .filter(x => x.startMs <= ms && ms <= x.endMs)
      .sortBy(x => -x.startNs).headOption.map(_.id)
    synchronized {
      val mine = jobs.filter { case (_, j) =>
        j.group match {
          case Some(g) if g.startsWith(Tracer.GroupPrefix) => g == s.group
          case _ => innermostAt(j.submitMs).contains(s.id)
        }
      }
      val open = mine.keySet.intersect(unended)
      if (open.nonEmpty)
        throw new IllegalStateException(s"span ${s.name}: no end event for jobs $open")
      Counters.sum(mine.values.map(_.c))
    }
  }

  /** Counters of every job seen while installed. */
  def total: Counters = synchronized(Counters.sum(jobs.values.map(_.c)))

  def streamProgress: Seq[StreamingQueryProgress] = synchronized(progress.toSeq)

}

object Tracer {
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  val GroupKey = "spark.jobGroup.id"
  val GroupPrefix = "perfbench-span-"
  def groupOf(spanId: Int): String = GroupPrefix + spanId

  /** Write the spans of `tracers` as one JSON array. */
  def writeAll(tracers: Seq[Tracer], file: java.io.File): Unit = {
    val rows = tracers.flatMap(_.spans).sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent.getOrElse(0),
        "run" -> s.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds))
    }
    Option(file.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(file)
    try w.println(rows.mkString("[\n", ",\n", "\n]")) finally w.close()
  }

  /** Streaming metrics of the progress events of `passes` passes:
    * batch count and phase totals per pass, batch-wall median and p95.
    */
  def streamMetrics(ps: Seq[StreamingQueryProgress], passes: Double): Seq[(String, Double)] = {
    def phase(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
    val batch = ps.map(phase(_, "triggerExecution"))
    val n = math.max(passes, 1.0)
    Seq(
      "streaming.batches" -> ps.size / n,
      "streaming.batch_p50_s" -> Stats.quantile(batch, 0.5),
      "streaming.batch_tail_s" -> Stats.quantile(batch, 0.95),
      "streaming.add_batch_s" -> ps.map(phase(_, "addBatch")).sum / n,
      "streaming.planning_s" -> ps.map(phase(_, "queryPlanning")).sum / n,
      "streaming.commit_s" -> ps.map(p => phase(p, "walCommit") + phase(p, "commitOffsets")).sum / n,
      "streaming.state_rows_max" -> (0L +: ps.flatMap(_.stateOperators.map(_.numRowsTotal))).max.toDouble)
  }

  /** The per-span counter metrics of one layer span. */
  def spanCounters(prefix: String, c: Counters): Seq[(String, Double)] = Seq(
    s"$prefix.task_run_s" -> c(C.RunMs) / 1000.0,
    s"$prefix.task_deser_s" -> c(C.DeserMs) / 1000.0,
    s"$prefix.shuffle_write_mb" -> c(C.ShuffleWriteBytes) / 1e6,
    s"$prefix.spill_mb" -> c(C.SpillBytes) / 1e6)

  /** Workload-level `exec.*` metrics of `passes` passes taking `wallS`
    * seconds in all on `cores` cores; counts and times are per pass.
    */
  def execMetrics(c: Counters, passes: Double, wallS: Double, cores: Int): Seq[(String, Double)] = {
    val n = math.max(passes, 1.0)
    Seq(
      "exec.jobs" -> c(C.Jobs) / n,
      "exec.tasks" -> c(C.Tasks) / n,
      "exec.failed_tasks" -> c(C.FailedTasks) / n,
      "exec.task_run_s" -> c(C.RunMs) / 1000.0 / n,
      "exec.task_cpu_s" -> c(C.CpuNs) / 1e9 / n,
      "exec.task_gc_s" -> c(C.GcMs) / 1000.0 / n,
      "exec.task_deser_s" -> c(C.DeserMs) / 1000.0 / n,
      "exec.shuffle_write_mb" -> c(C.ShuffleWriteBytes) / 1e6 / n,
      "exec.shuffle_read_mb" -> c(C.ShuffleReadBytes) / 1e6 / n,
      "exec.fetch_wait_s" -> c(C.FetchWaitMs) / 1000.0 / n,
      "exec.spill_mb" -> c(C.SpillBytes) / 1e6 / n,
      "exec.core_idle_share" ->
        (if (wallS > 0) 1.0 - c(C.RunMs) / 1000.0 / (wallS * cores) else 0.0))
  }
}
