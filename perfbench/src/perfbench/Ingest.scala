package perfbench

import graft.fits.{FitsScan, FitsTable, FitsWriter}
import graft.ingest.Convert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** The fits2db command path (ingest_parquet): each operation is one CLI
  * invocation, `graft.ingest.Main.parse` + `run` on the benchmark's session
  * (never `Main.main`, which builds its own `local[*]` session and exits),
  * with `--dialect parquet --out DIR` over one batch of plain BINTABLE
  * files. FITS decode and the conversion chain do the work.
  *
  * Every invocation's sink is read back and checked against the same
  * conversion computed from the generated rows with FITS bypassed: row
  * count and an order-independent xxhash64 checksum.
  */
final class Ingest(seed: Long, cpus: Int) extends Workload {
  private val extnum = 0 // the reader's default: the first table HDU
  private val nanPermille = 5

  // 4 files of 250k rows (17.5 MB each), 2 files a batch
  private val (files, rowsPerFile, filesPerBatch) = (4, 250000L, 2)

  /** One CLI invocation's input: its files and the generated rows they hold. */
  private final case class Batch(files: Seq[String], rows: Long,
      source: SparkSession => DataFrame) {
    def bytes: Long = files.map(f => new java.io.File(f).length()).sum
  }

  private var dir: String = _
  private var batches: Seq[Batch] = Nil
  private val reference = mutable.Map.empty[Int, (StructType, (Long, BigDecimal))]
  private val warmed = mutable.Set.empty[Int]

  private def gen(spark: SparkSession, f: Int) =
    Gen.lineitem(spark, seed, f, rowsPerFile, nanPermille, cpus)

  def prepare(spark: SparkSession, roundDir: String, tracer: Option[Tracer]): Unit = {
    dir = roundDir
    new java.io.File(s"$dir/in").mkdirs()
    val paths = (0 until files).map { f =>
      val path = s"$dir/in/part$f.fits"
      def write(): Unit = FitsWriter.writeDataFrame(path, gen(spark, f), strLens = Gen.strLens)
      tracer match {
        case Some(t) => t.span("fits.write") {
          write(); t.count("bytes", new java.io.File(path).length().toDouble)
        }
        case None => write()
      }
      path
    }
    batches = paths.indices.grouped(filesPerBatch).map { ix =>
      Batch(ix.map(paths), ix.size * rowsPerFile, s => ix.map(gen(s, _)).reduce(_ union _))
    }.toSeq
  }

  /** Where batch `b`'s parquet sink lives. */
  private[perfbench] def sink(b: Int): String = s"$dir/sink/batch$b"

  private def invoke(spark: SparkSession, b: Int): Unit = graft.ingest.Main.run(spark,
    graft.ingest.Main.parse(Seq("--dialect", "parquet", "--out", sink(b)) ++ batches(b).files))

  def warmup(spark: SparkSession): Unit = invoke(spark, 0)

  /** Checks batch `b`'s sink against the generated rows: (ok, sink bytes). */
  private[perfbench] def check(spark: SparkSession, b: Int): (Boolean, Long) = {
    val (schema, want) = reference.getOrElseUpdate(b, {
      val converted = Convert.convert(batches(b).source(spark), Convert.ConvertSpec())
      (converted.schema, Harness.checksum(converted, converted.schema))
    })
    (Harness.checksum(spark.read.parquet(sink(b)), schema) == want,
      Harness.dirBytes(new java.io.File(sink(b))))
  }

  /** Each batch's first invocation in this JVM is an adjacent untimed
    * warm-up, as `Bench` gives each key.
    */
  def pass(spark: SparkSession, tracer: Option[Tracer]): Seq[Sample] =
    batches.indices.flatMap { b =>
      if (warmed.add(b)) invoke(spark, b)
      def timedInvocation(): Sample = {
        val (_, wall, cpu) = Harness.timed(invoke(spark, b))
        val (ok, sinkBytes) = check(spark, b)
        Sample(s"batch$b", wall, cpu, ok, batches(b).rows, batches(b).bytes, sinkBytes)
      }
      tracer match {
        case None => Seq(timedInvocation())
        case Some(t) => Seq(t.untraced(spark)(timedInvocation()),
          t.span("invocation")(tracedInvocation(spark, t, b)))
      }
    }

  /** The CLI invocation with the listeners attached, its check, and then
    * each layer called on its own: header reads, split planning, a
    * decode-only scan and the conversion chain, both into the `noop` sink.
    */
  private def tracedInvocation(spark: SparkSession, t: Tracer, b: Int): Sample = {
    val batch = batches(b)
    val (_, wall, cpu) = Harness.timed(t.span("ingest.cli") {
      invoke(spark, b); t.count("rows", batch.rows.toDouble)
    })
    val (ok, sinkBytes) = t.span("bench.check")(check(spark, b))
    t.count("sink_bytes", sinkBytes.toDouble)

    t.span("fits.header")(batch.files.foreach(FitsTable.readSpec(_, extnum)))
    val schema = FitsTable.readSpec(batch.files.head, extnum).spec.schema
    t.span("fits.split_plan") {
      t.count("splits", FitsScan.splitsFor(batch.files, extnum, schema, None).length)
    }
    def load() = spark.read.format("fits").load(batch.files: _*)
    t.span("fits.decode") { Harness.noop(load()); t.count("rows", batch.rows.toDouble) }
    t.span("ingest.convert")(Harness.noop(Convert.convert(load(), Convert.ConvertSpec())))
    Sample(s"batch$b", wall, cpu, ok, batch.rows, batch.bytes, sinkBytes, traced = true)
  }

  def detail(samples: Seq[Sample], passes: Int): Seq[Metric] = {
    val ok = samples.filter(_.ok)
    val secs = ok.map(_.seconds).sum
    val mb = 1024.0 * 1024
    Seq(
      Metric("rows_per_s", ok.map(_.rows).sum / secs, "rows/s", ok.size),
      Metric("mb_per_s", ok.map(_.inBytes).sum / mb / secs, "MB/s", ok.size),
      Metric("ingest_p50_s", graft.Util.median(ok.map(_.seconds)), "s", ok.size),
      Metric("cpu_s", samples.map(_.cpuSeconds).sum, "s", samples.size),
      Metric("space_amp", ok.map(_.sinkBytes).sum.toDouble / ok.map(_.inBytes).sum, "ratio",
        ok.size),
      Metric("input_mb_per_pass", batches.map(_.bytes).sum / mb, "MB", batches.size),
      Metric("rows_per_pass", batches.map(_.rows).sum.toDouble, "rows", batches.size))
  }

  def layers(spans: Seq[Span], setup: Seq[Span]): Map[String, Double] = {
    val kids = Harness.childrenOf(spans)
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds).sum
    def total(n: String, c: String) = named(n).map(_.counters.getOrElse(c, 0.0)).sum
    def rate(num: Double, s: Double) = if (s > 0) num / s else 0.0
    // a probe's time minus the part of it another probe measured alone
    val convertS = secs("ingest.convert") - secs("fits.decode")
    val sinkS = secs("ingest.cli") - secs("ingest.convert")
    val cliRows = total("ingest.cli", "rows")
    // FitsWriter time of the last set-up round
    val lastSetup = setup.filter(_.name == "setup").sortBy(_.start).lastOption
    val writes = lastSetup.toSeq.flatMap(r => setup.filter(s => s.name == "fits.write" &&
      s.start >= r.start && s.end <= r.end))
    val writeS = writes.map(_.seconds).sum
    Map(
      "fits.header_s" -> secs("fits.header"),
      "fits.split_plan_s" -> secs("fits.split_plan"),
      "fits.splits" -> total("fits.split_plan", "splits"),
      "fits.decode_s" -> secs("fits.decode"),
      "fits.decode_rows_per_s" -> rate(total("fits.decode", "rows"), secs("fits.decode")),
      "fits.decode_cpu_s" ->
        named("fits.decode").map(Harness.sparkSum(_, kids, "executor_cpu_s")).sum,
      "fits.write_s" -> writeS,
      "fits.write_mb_per_s" ->
        rate(writes.map(_.counters.getOrElse("bytes", 0.0)).sum / (1024.0 * 1024), writeS),
      "ingest.convert_s" -> convertS,
      "ingest.sink_s" -> sinkS,
      "ingest.sink_rows_per_s" -> rate(cliRows, sinkS),
      "ingest.sink_bytes_per_row" -> rate(total("invocation", "sink_bytes"), cliRows))
  }
}
