package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *                --work DIR --traces DIR --expected FILE --cpus N
  * }}}
  *
  * Set-up runs `SetupRounds` times (fresh session, fresh inputs, warm-up
  * operation) and `setup_s` is the median round. The timed section then
  * runs whole passes of the workload, closed loop, until `S` seconds have
  * passed. With `--trace 1` the run instead makes one pass in which every
  * operation runs untraced and then traced, and reports per-layer metrics
  * and the traced/untraced ratio of median operation time. The last stdout
  * line is the result object; the line before it holds the workload's
  * figures (rows/s, query p95, ...), with sample counts.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, traces: String, expected: String, cpus: Int)

  val SetupRounds = 3

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("work"), get("traces"), get("expected"),
      get("cpus").toInt)
    require(a.seconds > 0 && a.cpus > 0, "--seconds and --cpus must be positive")
    a
  }

  def workload(a: Args): Workload = a.workload match {
    case "ingest_parquet" => new Ingest(a.seed, a.cpus)
    case "ops_inventory" => new Inventory(a.seed, Inventory.loadExpected(a.expected))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def session(cpus: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.Util.sessionBuilder(s"local[$cpus]", cpus.toString)
      .appName("perfbench").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq)
    val w = workload(a)
    val runId = s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}"
    val tracer = if (a.trace) Some(new Tracer(runId)) else None

    // Set-up rounds: each starts a session, writes a full input set into a
    // fresh directory and runs the warm-up; the last round's are kept.
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val setupSpans = mutable.ArrayBuffer.empty[Span]
    var spark: SparkSession = null
    (1 to SetupRounds).foreach { r =>
      val dir = s"${a.work}/round$r"
      val t0 = System.nanoTime()
      spark = session(a.cpus)
      tracer match {
        case Some(t) => t.span("setup")(w.prepare(spark, dir, tracer))
        case None => w.prepare(spark, dir, None)
      }
      w.warmup(spark)
      setupTimes += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up round $r: ${setupTimes.last}%.3f s")
      if (r > 1) graft.Util.deleteRecursively(new java.io.File(s"${a.work}/round${r - 1}"))
    }
    tracer.foreach(t => setupSpans ++= t.closed)

    val samples = mutable.ArrayBuffer.empty[Sample]
    var passes = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (!a.trace && (passes == 0 || elapsed < a.seconds)) {
      val done = w.pass(spark, None)
      done.foreach(x => System.err.println(
        f"[perfbench] ${x.op} ${x.seconds}%.4f s cpu ${x.cpuSeconds}%.3f s ok ${x.ok}"))
      samples ++= done
      passes += 1
      System.err.println(f"[perfbench] pass $passes done at $elapsed%.3f s")
    }

    val layerMetrics: Map[String, Double] = tracer.fold(Map.empty[String, Double]) { t =>
      t.attach(spark)
      samples ++= t.span("pass")(w.pass(spark, Some(t)))
      passes = 1
      t.detach(spark)
      val spans = t.closed
      val root = spans.filter(_.name == "pass").maxBy(_.start)
      val kids = Harness.childrenOf(spans)
      val under = (root +: Harness.descendants(root, kids)).map(_.id).toSet
      val (okTraced, okPlain) = samples.filter(_.ok).partition(_.traced)
      val overhead =
        if (okTraced.isEmpty || okPlain.isEmpty) 0.0
        else graft.Util.median(okTraced.map(_.seconds).toSeq) /
          graft.Util.median(okPlain.map(_.seconds).toSeq)
      val dir = new java.io.File(a.traces)
      t.write(new java.io.File(dir, s"$runId.spans.jsonl").getPath)
      writeSelfTable(new java.io.File(dir, s"$runId.layers.tsv"), Harness.selfTable(root, kids))
      w.layers(spans.filter(s => under(s.id)), setupSpans.toSeq) ++
        Harness.sparkTotals(root, kids) ++ Map(
          "trace.overhead_ratio" -> overhead,
          "trace.unattributed_s" -> Harness.unattributed(root, kids),
          "trace.wall_s" -> root.seconds)
    }
    spark.stop()

    val ok = samples.filter(_.ok)
    val timing = if (ok.nonEmpty) ok else samples
    val perOp = timing.groupBy(_.op).values.map(ss => graft.Util.median(ss.map(_.seconds).toSeq)).toSeq
    val rss = Harness.peakRssMb()
    val setup = graft.Util.median(setupTimes.toSeq)
    val endToEnd = Map(
      "setup_s" -> setup,
      "op_geomean_s" -> math.exp(perOp.map(math.log).sum / perOp.size),
      "pass_s" -> perOp.sum,
      "cpu_s" -> samples.map(_.cpuSeconds).sum / passes.max(1))
    val detail = w.detail(samples.toSeq, passes) ++ Seq(
      Metric("setup_s", setup, "s", setupTimes.size),
      Metric("fail_ratio", samples.count(!_.ok).toDouble / samples.size.max(1), "ratio",
        samples.size),
      Metric("peak_rss_mb", rss, "MB"))
    println(s"""{"workload":"${a.workload}","seed":${a.seed},"passes":$passes,""" +
      s""""detail":${Json.metrics(detail)}}""")
    val failed = samples.count(!_.ok)
    val raw = (if (a.trace) layerMetrics else endToEnd).toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0 && samples.nonEmpty},"attempted":${samples.size},""" +
      s""""failed":$failed,"metrics":$raw}""")
  }

  private def writeSelfTable(f: java.io.File, rows: Seq[(String, Int, Double, Double)]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("span\tcalls\ttotal_s\tself_s")
      rows.foreach { case (n, c, t, s) => w.println(f"$n\t$c\t$t%.4f\t$s%.4f") }
    } finally w.close()
  }
}
