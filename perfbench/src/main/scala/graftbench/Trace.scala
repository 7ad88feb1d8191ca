package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch ms. `counts` holds the work recorded at the
  * same boundary (tasks, bytes, CPU time, ...).
  */
final class Span(val id: Int, val name: String, var parent: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  def durMs: Double = endMs - startMs
  def closed: Boolean = !endMs.isNaN
}

/** Span and count recorder built only on Spark's public listener APIs: a
  * `SparkListener` (jobs, stages, tasks), a `QueryExecutionListener`
  * (planning phases) and a `StreamingQueryListener` (micro-batch progress).
  *
  * The hierarchy is workload -> pass or micro-batch -> query -> job ->
  * stage. The benchmark opens the first levels itself; jobs attach to the
  * query span through a local property set around the call, or to their
  * micro-batch through the batch id Spark stamps on streaming jobs. Spans
  * stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "graftbench.span"
  private val BatchProp = "streaming.sql.batchId"

  private val spans = mutable.ArrayBuffer[Span]()
  private val jobSpans = mutable.Map[Int, Span]()
  private val stageJob = mutable.Map[Int, Span]()
  private val stageSpans = mutable.Map[Int, Span]()
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Double]]()
  private val batchJobs = mutable.Map[Long, mutable.ArrayBuffer[Span]]()
  private val plans = mutable.ArrayBuffer[(Double, Double)]() // (start ms, plan ms)
  val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer()
  @volatile private var events = 0L

  private def newSpan(name: String, parent: Int, startMs: Double): Span = synchronized {
    val s = new Span(spans.length + 1, name, parent, startMs)
    spans += s
    s
  }

  def open(name: String, parent: Span = null): Span =
    newSpan(name, Option(parent).fold(0)(_.id), Stats.wallMs())

  def close(s: Span): Span = { s.endMs = Stats.wallMs(); s }

  /** Runs `body` with `s` as the attribution of every job it launches. */
  def within[T](s: Span)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body finally sc.setLocalProperty(SpanProp, prev)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      events += 1
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp))).fold(0)(_.toInt)
      val s = newSpan(s"job ${e.jobId}", parent, e.time.toDouble)
      jobSpans(e.jobId) = s
      props.flatMap(p => Option(p.getProperty(BatchProp))).foreach { b =>
        batchJobs.getOrElseUpdate(b.toLong, mutable.ArrayBuffer()) += s
      }
      e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = s)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      events += 1
      jobSpans.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      events += 1
      val info = e.stageInfo
      if (!stageSpans.contains(info.stageId)) {
        val parent = stageJob.get(info.stageId).fold(0)(_.id)
        val start = info.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
        stageSpans(info.stageId) = newSpan(s"stage ${info.stageId}", parent, start)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      events += 1
      stageSpans.get(e.stageId).foreach { s =>
        s.add("tasks", 1)
        if (!e.taskInfo.successful) s.add("failed_tasks", 1)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration.toDouble
        Option(e.taskMetrics).foreach { m =>
          s.add("cpu_ms", m.executorCpuTime / 1e6)
          s.add("run_ms", m.executorRunTime.toDouble)
          s.add("gc_ms", m.jvmGCTime.toDouble)
          s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      events += 1
      val info = e.stageInfo
      stageSpans.get(info.stageId).foreach { s =>
        s.endMs = info.completionTime.getOrElse(System.currentTimeMillis()).toDouble
        val ts = taskMs.getOrElse(info.stageId, mutable.ArrayBuffer())
        if (ts.nonEmpty) {
          s.counts("max_task_ms") = ts.max
          s.counts("median_task_ms") = Stats.median(ts.toSeq)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) Tracer.this.synchronized {
        events += 1
        val ms = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs.toDouble).sum
        plans += ((ph.values.map(_.startTimeMs).min.toDouble, ms))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { events += 1; progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for the asynchronous listener buses to deliver what is queued,
    * then unregisters every listener.
    */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener buses have no public flush: wait until every started job has
    * ended and no event arrived for a quiet period (10 s at most).
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var seen = -1L
    while (System.nanoTime() < deadline &&
      (seen != events || synchronized(jobSpans.values.exists(!_.closed)))) {
      seen = events
      Thread.sleep(150)
    }
  }

  /** Completed stages of the jobs launched under `s`. */
  def stagesUnder(s: Span): Seq[Span] = synchronized {
    val jobIds = spans.filter(j => j.parent == s.id && j.name.startsWith("job ")).map(_.id).toSet
    spans.filter(st => st.name.startsWith("stage ") && jobIds(st.parent) && st.closed).toSeq
  }

  /** Jobs Spark ran for one micro-batch. */
  def jobsOfBatch(batchId: Long): Seq[Span] = synchronized(batchJobs.getOrElse(batchId, Nil).toSeq)

  def stagesOfJobs(jobs: Seq[Span]): Seq[Span] = synchronized {
    val ids = jobs.map(_.id).toSet
    spans.filter(st => st.name.startsWith("stage ") && ids(st.parent) && st.closed).toSeq
  }

  /** Analysis + optimization + planning of every query execution that
    * started inside `s`.
    */
  def planMsWithin(s: Span): Double = synchronized {
    plans.filter { case (t, _) => t >= s.startMs && t <= s.endMs }.map(_._2).sum
  }

  /** Stage-level summary of a query or micro-batch span: driver gap (wall
    * not covered by any running stage), stage and task counts, CPU, shuffle,
    * task skew and planning time.
    */
  def summarize(s: Span, stages: Seq[Span]): Map[String, Double] = {
    def sum(k: String) = stages.map(_.counts.getOrElse(k, 0.0)).sum
    val covered = Stats.unionLength(stages.map(st =>
      (math.max(st.startMs, s.startMs), math.min(st.endMs, s.endMs))))
    val skews = stages.filter(_.counts.getOrElse("tasks", 0.0) >= 2).flatMap { st =>
      for (mx <- st.counts.get("max_task_ms"); md <- st.counts.get("median_task_ms") if md > 0)
        yield mx / md
    }
    Map(
      "driver_gap_ms" -> (s.durMs - covered),
      "stages" -> stages.length.toDouble,
      "tasks" -> sum("tasks"),
      "cpu_ms" -> sum("cpu_ms"),
      "shuffle_mb" -> sum("shuffle_write_bytes") / 1e6,
      "skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "plan_ms" -> planMsWithin(s))
  }

  /** The engine layer per unit of work (a pass of a batch workload, a small
    * micro-batch of the stream), as the median over units. A unit's figures
    * are the sums of its parts' [[summarize]] results; its skew is their
    * maximum.
    */
  def engineMetrics(units: Seq[Seq[Map[String, Double]]]): Seq[(String, Double)] =
    Seq("driver_gap_ms", "plan_ms", "stages", "tasks", "cpu_ms", "shuffle_mb", "skew").map { k =>
      s"engine.$k" -> Stats.median(units.map { parts =>
        val xs = parts.map(_(k))
        if (k == "skew") xs.max else xs.sum
      })
    }

  /** Adds a span per micro-batch (from its progress event) under `parent`
    * and hangs that batch's jobs below it; returns the spans by batch id.
    */
  def addBatchSpans(parent: Span): Map[Long, Span] = synchronized {
    progress.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val b = newSpan(s"micro-batch ${p.batchId}", parent.id, start)
      b.endMs = start + Option(p.durationMs.get("triggerExecution")).fold(0L)(_.longValue)
      b.counts("input_rows") = p.numInputRows.toDouble
      p.stateOperators.headOption.foreach(o => b.counts("state_rows") = o.numRowsTotal.toDouble)
      batchJobs.getOrElse(p.batchId, Nil).foreach(j => if (j.parent == 0) j.parent = b.id)
      p.batchId -> b
    }.toMap
  }

  /** Writes every span with its self time (duration minus the part of it
    * its children cover) and counts.
    */
  def write(path: java.nio.file.Path): Unit = synchronized {
    val kids = spans.groupBy(_.parent)
    val rows = spans.filter(_.closed).map { s =>
      val cover = Stats.unionLength(kids.getOrElse(s.id, Nil).filter(_.closed).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))).toSeq)
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> (s.durMs - cover),
        "counts" -> s.counts)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, rows.mkString("{\"spans\":[\n", ",\n", "\n]}\n"))
  }
}
