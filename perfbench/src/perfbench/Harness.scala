package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}
import scala.collection.mutable

/** One timed operation of the closed loop (a CLI invocation or a timed key
  * rep): wall and process CPU seconds, whether its output checked out, the
  * rows and bytes it moved, and whether it ran traced.
  */
final case class Sample(op: String, seconds: Double, cpuSeconds: Double, ok: Boolean,
    rows: Long = 0, inBytes: Long = 0, sinkBytes: Long = 0, traced: Boolean = false)

/** A reported value with its unit and, for statistics, its sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Int = 0)

/** One benchmark workload: seeded inputs and the operations of one pass.
  * A pass runs every operation of the workload once, in the seed's order,
  * and checks each one's output before the next starts.
  */
trait Workload {
  /** Writes one set-up round's inputs under `dir` (a fresh directory) and
    * makes them the inputs of later passes.
    */
  def prepare(spark: SparkSession, dir: String, tracer: Option[Tracer]): Unit
  /** The untimed operation that ends a set-up round. */
  def warmup(spark: SparkSession): Unit
  /** Runs one pass. With a tracer, each operation runs twice: once with the
    * listeners detached, then traced, with each layer also called on its own.
    */
  def pass(spark: SparkSession, tracer: Option[Tracer]): Seq[Sample]
  /** The workload's own end-to-end figures (rows/s, query p95, ...). */
  def detail(samples: Seq[Sample], passes: Int): Seq[Metric]
  /** Per-layer metrics of one traced pass. */
  def layers(spans: Seq[Span], setup: Seq[Span]): Map[String, Double]
}

object Harness {
  /** Process CPU time, all threads (the executors run in this JVM). */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Times `body` on the calling thread: (result, wall s, process CPU s). */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = processCpuSeconds(); val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, processCpuSeconds() - c0)
  }

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }

  /** Order-independent content checksum: (rows, Σ xxhash64 over `schema`'s
    * columns), each column looked up by name and cast to the schema's type.
    */
  def checksum(df: DataFrame, schema: StructType): (Long, BigDecimal) = {
    val byName = df.columns.map(c => c.toLowerCase -> c).toMap
    val cols = schema.fields.toSeq.map(f =>
      col(s"`${byName(f.name.toLowerCase)}`").cast(f.dataType).as(f.name))
    val r = df.select(cols: _*)
      .agg(count(lit(1)), sum(xxhash64(schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*)
        .cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  /** Children of each span, by parent id. */
  def childrenOf(spans: Seq[Span]): Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  /** Every span below `root`, root excluded. */
  def descendants(root: Span, kids: Map[Long, Seq[Span]]): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var frontier = kids.getOrElse(root.id, Nil)
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(s => kids.getOrElse(s.id, Nil))
    }
    out.toSeq
  }

  /** Sum of counter `k` over the Spark stage spans under `s`. */
  def sparkSum(s: Span, kids: Map[Long, Seq[Span]], k: String): Double =
    descendants(s, kids).filter(_.name == "spark.stage").map(_.counters.getOrElse(k, 0.0)).sum

  /** Engine totals of the Spark work under `root`. */
  def sparkTotals(root: Span, kids: Map[Long, Seq[Span]]): Map[String, Double] = {
    val below = descendants(root, kids)
    val stages = below.filter(_.name == "spark.stage")
    def sum(k: String) = stages.map(_.counters.getOrElse(k, 0.0)).sum
    val tasks = sum("tasks")
    val mb = 1024.0 * 1024
    Map(
      "spark.jobs" -> below.count(_.name == "spark.job").toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks,
      "spark.task_wait_s" -> sum("wait_s"),
      "spark.nonempty_task_ratio" -> (if (tasks > 0) sum("nonempty_tasks") / tasks else 0.0),
      "spark.executor_run_s" -> sum("executor_run_s"),
      "spark.executor_cpu_s" -> sum("executor_cpu_s"),
      "spark.gc_s" -> sum("gc_s"),
      "spark.shuffle_write_mb" -> sum("shuffle_write_b") / mb,
      "spark.shuffle_read_mb" -> sum("shuffle_read_b") / mb,
      "spark.spill_mb" -> sum("spill_b") / mb,
      "spark.input_mb" -> sum("input_b") / mb,
      "spark.output_mb" -> sum("output_b") / mb,
      "spark.failed_tasks" -> sum("failed_tasks"))
  }

  /** Spans that time the benchmark's own loop rather than a layer call. */
  val loopSpans: Set[String] = Set("pass", "invocation", "key")

  /** Time of the traced pass that no layer span covers: the self time of
    * the pass span and of its invocation or key spans.
    */
  def unattributed(root: Span, kids: Map[Long, Seq[Span]]): Double =
    (root +: descendants(root, kids).filter(s => loopSpans(s.name)))
      .map(s => Tracer.selfSeconds(s, kids.getOrElse(s.id, Nil))).sum

  /** Per span name: calls, total seconds and self seconds under `root`. */
  def selfTable(root: Span, kids: Map[Long, Seq[Span]]): Seq[(String, Int, Double, Double)] =
    (root +: descendants(root, kids)).groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(_.seconds).sum,
        ss.map(s => Tracer.selfSeconds(s, kids.getOrElse(s.id, Nil))).sum)
    }.sortBy(-_._4)
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def metrics(ms: Seq[Metric]): String = ms.map { m =>
    val n = if (m.n > 0) s""","n":${m.n}""" else ""
    s""""${esc(m.name)}":{"value":${num(m.value)},"unit":"${esc(m.unit)}"$n}"""
  }.mkString("{", ",", "}")
}
