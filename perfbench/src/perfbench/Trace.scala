package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One timed interval of a traced run: a benchmark step, a call into a
  * product layer, or a Spark job, stage or micro-batch seen by a listener.
  * Times are `System.nanoTime` values; listener times are mapped onto the
  * same clock.
  */
final class Span(val id: Long, var parent: Long, val name: String, val start: Long,
    val label: String = "") {
  var end: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for one run. The client thread opens nested
  * spans around its calls into the product; `attach` registers a
  * SparkListener and a StreamingQueryListener that add job, stage and
  * micro-batch spans under the span that was open when the work was
  * submitted. Spans are written out once, by `write`, when the run ends.
  */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var stack: List[Span] = Nil
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def fromEpochMs(ms: Long): Long = ms * 1000000L + epochOffsetNs
  private var sc: Option[SparkContext] = None

  private def open(name: String, parent: Long, start: Long, label: String = ""): Span =
    synchronized {
    nextId += 1
    val s = new Span(nextId, parent, name, start, label)
    spans += s
    s
  }

  /** Times `body` as a span named `name` under the innermost open span;
    * `label` tells apart spans of one name (the key of a key rep).
    */
  def span[T](name: String, label: String = "")(body: => T): T = {
    val s = open(name, stack.headOption.fold(0L)(_.id), System.nanoTime(), label)
    stack = s :: stack
    sc.foreach(_.setLocalProperty(Tracer.SpanProperty, s.id.toString))
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty,
        stack.headOption.map(_.id.toString).orNull))
    }
  }

  /** Adds `v` to counter `k` of the innermost open span. */
  def count(k: String, v: Double): Unit = stack.headOption.foreach(_.add(k, v))

  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageSpans = mutable.Map.empty[(Int, Int), Span]
  private val stageJob = mutable.Map.empty[Int, Span]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanProperty))).map(_.toLong).getOrElse(-1L)
      val s = open("spark.job", parent, fromEpochMs(e.time))
      jobSpans(e.jobId) = s
      e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, s))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpans.remove(e.jobId).foreach(_.end = fromEpochMs(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        val parent = stageJob.get(info.stageId).fold(-1L)(_.id)
        val start = info.submissionTime.getOrElse(System.currentTimeMillis())
        stageSpans((info.stageId, info.attemptNumber())) =
          open("spark.stage", parent, fromEpochMs(start))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        stageSpans.get((info.stageId, info.attemptNumber())).foreach { s =>
          s.end = fromEpochMs(info.completionTime.getOrElse(System.currentTimeMillis()))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpans.get((e.stageId, e.stageAttemptId)).foreach { s =>
        s.add("tasks", 1)
        if (e.reason != org.apache.spark.Success) s.add("failed_tasks", 1)
        s.add("wait_s", math.max(0L,
          e.taskInfo.launchTime - (s.start - epochOffsetNs) / 1000000L) / 1e3)
        Option(e.taskMetrics).foreach { m =>
          s.add("executor_run_s", m.executorRunTime / 1e3)
          s.add("executor_cpu_s", m.executorCpuTime / 1e9)
          s.add("gc_s", m.jvmGCTime / 1e3)
          s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("input_b", m.inputMetrics.bytesRead.toDouble)
          s.add("output_b", m.outputMetrics.bytesWritten.toDouble)
          if (m.inputMetrics.recordsRead > 0 || m.shuffleReadMetrics.recordsRead > 0)
            s.add("nonempty_tasks", 1)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        val start = fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val s = open("spark.microbatch", -1L, start)
        s.end = start + ms("triggerExecution") * 1000000L
        Seq("getBatch" -> "get_batch_s", "queryPlanning" -> "query_planning_s",
          "addBatch" -> "add_batch_s", "walCommit" -> "wal_commit_s",
          "commitOffsets" -> "commit_offsets_s").foreach { case (k, name) =>
          s.add(name, ms(k) / 1e3)
        }
        s.add("state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
        s.add("input_rows", p.numInputRows.toDouble)
      }
  }

  /** Starts listening to `spark`'s jobs, stages, tasks and micro-batches. */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = Some(spark.sparkContext)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Stops listening, after every event already posted has been handled. */
  def detach(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    sc.foreach(_.setLocalProperty(Tracer.SpanProperty, null))
    sc = None
  }

  /** Runs `body` with the listeners detached, as a `bench.untraced` span:
    * the untraced twin of a traced operation, for the overhead ratio.
    */
  def untraced[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    span("bench.untraced") {
      detach(spark)
      try body finally attach(spark)
    }

  /** Closed spans with every parent resolved. Spark work submitted without
    * the span property (threads the product starts itself) and streaming
    * micro-batches go under the innermost benchmark span whose interval
    * holds their start.
    */
  def closed: Seq[Span] = synchronized {
    val done = spans.filter(_.end >= 0).toSeq
    val client = done.filterNot(_.name.startsWith("spark."))
    done.foreach { s =>
      if (s.parent < 0) {
        s.parent = client.filter(c => c.start <= s.start && s.start <= c.end)
          .sortBy(c => c.end - c.start).headOption.fold(0L)(_.id)
      }
    }
    // a job that starts inside a sibling micro-batch belongs to that batch
    val batches = done.filter(_.name == "spark.microbatch")
    done.filter(_.name == "spark.job").foreach { j =>
      batches.find(b => b.parent == j.parent && b.start <= j.start && j.start <= b.end)
        .foreach(b => j.parent = b.id)
    }
    done
  }

  /** Writes every span as one JSON line. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try closed.foreach { s =>
      val cs = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${Json.esc(s.name)}","label":"${Json.esc(s.label)}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""counters":{$cs}}""")
    } finally w.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Duration of `s` minus the part of it that its children cover. */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.end - s.start - covered) / 1e9
  }
}
