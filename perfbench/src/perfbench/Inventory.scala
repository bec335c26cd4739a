package perfbench

import graft.ops._
import org.apache.spark.sql.SparkSession

/** The operator inventory users query after ingest: a fixed set of
  * `SparkEntry.queries` keys that covers all eleven ops modules, in an
  * order the seed shuffles anew each pass. Each key gets an adjacent
  * untimed warm-up and then `Reps` timed `.count()` reps, as in `Bench`;
  * every rep's count must equal the expected count stored with the
  * benchmark.
  */
final class Inventory(seed: Long, expected: Map[String, Long]) extends Workload {
  import Inventory._

  private val rng = new scala.util.Random(seed)
  private var dir: String = _

  def prepare(spark: SparkSession, roundDir: String, tracer: Option[Tracer]): Unit = {
    dir = roundDir
    writeTables(spark, dir)
  }

  def warmup(spark: SparkSession): Unit = {
    graft.SparkEntry.queries("e2_agg_groupby")(spark, dir).count()
    spark.range(1000).localCheckpoint().count()
  }

  /** One rep's row count, checked against the stored expectation. */
  def check(key: String, rows: Long): Boolean = expected.get(key).contains(rows)

  def pass(spark: SparkSession, tracer: Option[Tracer]): Seq[Sample] =
    rng.shuffle(Keys).flatMap { key =>
      val fn = queries(key)
      def warm(): Unit =
        try fn(spark, dir).count()
        catch { case scala.util.control.NonFatal(_) => () }
      def reps(): Seq[Sample] = (1 to Reps).map { _ =>
        val (n, wall, cpu) = Harness.timed(attempt(key)(fn(spark, dir).count()))
        Sample(key, wall, cpu, n.exists(check(key, _)))
      }
      tracer match {
        case None => warm(); reps()
        case Some(t) =>
          t.span("bench.warmup")(warm())
          val plain = t.untraced(spark)(reps())
          val m = moduleOf(key)
          plain ++ (1 to Reps).map { _ =>
            val (n, wall, cpu) = Harness.timed(t.span("key", key) {
              val r = attempt(key) {
                val df = t.span(s"$m.build")(fn(spark, dir))
                val q = df.groupBy().count()
                t.span(s"$m.plan")(q.queryExecution.executedPlan)
                t.span(s"$m.exec")(q.collect().head.getLong(0))
              }
              if (r.isEmpty) t.count(s"$m.failed", 1)
              r
            })
            Sample(key, wall, cpu, n.exists(check(key, _)), traced = true)
          }
      }
    }

  /** A timed rep's count, or None (reported on stderr) when it throws. */
  private def attempt(key: String)(count: => Long): Option[Long] =
    try Some(count)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] $key failed: ${e.getMessage}"); None }

  def detail(samples: Seq[Sample], passes: Int): Seq[Metric] = {
    val ok = samples.filter(_.ok).map(_.seconds)
    val perKey = samples.filter(_.ok).groupBy(_.op).values.map(ss => graft.Util.median(ss.map(_.seconds)))
    val p95 = Harness.quantile(ok, 0.95)
    Seq(
      Metric("query_p50_s", graft.Util.median(ok), "s", ok.size),
      Metric("query_p95_s", p95, "s", ok.size),
      Metric("query_samples_beyond_p95", ok.count(_ > p95).toDouble, "count", ok.size),
      Metric("query_total_s", perKey.sum, "s", perKey.size),
      Metric("cpu_s", samples.map(_.cpuSeconds).sum, "s", samples.size))
  }

  def layers(spans: Seq[Span], setup: Seq[Span]): Map[String, Double] = {
    val kids = Harness.childrenOf(spans)
    val keySpans = spans.filter(_.name == "key")
    val perModule = Modules.flatMap { case (m, _) =>
      def perPhase(phase: String): Double = {
        // Σ over the module's keys of the median rep time of the phase
        val byKey = keySpans.flatMap { k =>
          kids.getOrElse(k.id, Nil).find(_.name == s"$m.$phase").map(s => (k, s.seconds))
        }
        byKey.groupBy(_._1.label).values
          .map(xs => graft.Util.median(xs.map(_._2))).sum
      }
      Seq(s"$m.build_s" -> perPhase("build"), s"$m.plan_s" -> perPhase("plan"),
        s"$m.exec_s" -> perPhase("exec"),
        s"$m.failed" -> keySpans.map(_.counters.getOrElse(s"$m.failed", 0.0)).sum)
    }
    // micro-batches of the timed StreamOps reps
    val batches = keySpans.filter(k => kids.getOrElse(k.id, Nil).exists(_.name.startsWith("StreamOps.")))
      .flatMap(k => Harness.descendants(k, kids)).filter(_.name == "spark.microbatch")
    def total(c: String) = batches.map(_.counters.getOrElse(c, 0.0)).sum
    perModule.toMap ++ Map(
      "StreamOps.batches" -> batches.size.toDouble,
      "StreamOps.batch_p50_s" -> (if (batches.isEmpty) 0.0 else graft.Util.median(batches.map(_.seconds))),
      "StreamOps.get_batch_s" -> total("get_batch_s"),
      "StreamOps.query_planning_s" -> total("query_planning_s"),
      "StreamOps.add_batch_s" -> total("add_batch_s"),
      "StreamOps.wal_commit_s" -> total("wal_commit_s"),
      "StreamOps.commit_offsets_s" -> total("commit_offsets_s"),
      "StreamOps.state_commit_s" -> total("state_commit_s"),
      "StreamOps.input_rows" -> total("input_rows"))
  }
}

object Inventory {
  val Reps = 3

  val Modules: Seq[(String, Map[String, graft.OpQuery])] = Seq(
    "ScanOps" -> ScanOps.all, "EtlOps" -> EtlOps.all, "RelOps" -> RelOps.all,
    "AggOps" -> AggOps.all, "WindowOps" -> WindowOps.all, "ScalarOps" -> ScalarOps.all,
    "LlmOps" -> LlmOps.all, "StreamOps" -> StreamOps.all, "MultimodalOps" -> MultimodalOps.all,
    "TrainOps" -> TrainOps.all, "CorpusOps" -> CorpusOps.all)

  def moduleOf(key: String): String = Modules.collectFirst { case (m, all) if all.contains(key) => m }
    .getOrElse(throw new IllegalArgumentException(s"key $key is in no ops module"))

  private val queries = graft.SparkEntry.queries

  /** The timed keys: one per module (two for StreamOps: the batch form
    * and a micro-batch harness), mostly at the planning and scheduling
    * floor, with an exact-dedup and an ANN key for the tail. The whole
    * inventory (257 keys, about 150 s of medians at sf0.1) does not fit
    * one run.
    */
  val Keys: Seq[String] = Seq(
    "a7_fits_source", // ScanOps
    "b10_dedupe_exact", // EtlOps
    "c2_filter_conj", // RelOps
    "e2_agg_groupby", // AggOps
    "f1_win_rank", // WindowOps
    "h1_string_core", // ScalarOps
    "i13_sim_ann_ivf", // LlmOps
    "j1_tumbling_window", "j6_stream_agg_sink", // StreamOps
    "m6_audio_decode", // MultimodalOps
    "i20_train_split", // TrainOps
    "i30_pii_redact") // CorpusOps

  /** Writes each generated table as one parquet file `<dir>/<name>.parquet`,
    * the fixture layout the streaming sources' file filters expect.
    */
  def writeTables(spark: SparkSession, dir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // one single-task job per table, run side by side
    val writes = Gen.opsTables(spark).map { case (n, df) => Future {
      val tmp = new java.io.File(s"$dir/.$n")
      df.coalesce(1).write.parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, new java.io.File(s"$dir/$n.parquet").toPath)
      graft.Util.deleteRecursively(tmp)
    }}
    writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  /** Expected row counts, one `key<TAB>rows` line each. */
  def loadExpected(path: String): Map[String, Long] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(k, n) = l.split("\t"); k -> n.toLong
    }.toMap
    finally src.close()
  }
}
