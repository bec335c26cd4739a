package perfbench

import org.apache.spark.sql.functions._

/** The benchmark's own test: its output checks must pass clean output and
  * catch planted errors.
  *
  * {{{ perfbench.SelfTest WORK_DIR EXPECTED_FILE CPUS }}}
  *
  *  - ingest_parquet: a clean pass checks out; then one cell of one sink
  *    row is changed on disk, and the read-back checksum must reject it;
  *  - ops_inventory: a pass whose expected table holds one wrong count must
  *    fail exactly that key's reps and no other.
  *
  * Exits 0 when every case holds, 1 otherwise.
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val Array(work, expectedPath, cpus) = argv
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(what: String)(cond: Boolean): Unit = {
      System.err.println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $what")
      if (!cond) failures += what
    }
    val spark = Main.session(cpus.toInt)

    val ingest = new Ingest(seed = 7, cpus.toInt)
    ingest.prepare(spark, s"$work/ingest", None)
    expect("a clean ingest pass checks out")(ingest.pass(spark, None).forall(_.ok))
    val sink = ingest.sink(0)
    val planted = s"$sink.planted"
    spark.read.parquet(sink)
      .withColumn("__i", monotonically_increasing_id())
      .withColumn("l_tax", when(col("__i") === 0, coalesce(col("l_tax"), lit(0.0)) + 0.01)
        .otherwise(col("l_tax")))
      .drop("__i")
      .write.parquet(planted)
    graft.Util.deleteRecursively(new java.io.File(sink))
    new java.io.File(planted).renameTo(new java.io.File(sink))
    expect("a sink with one wrong row fails its check")(!ingest.check(spark, 0)._1)

    val expected = Inventory.loadExpected(expectedPath)
    val wrongKey = "e2_agg_groupby"
    val inventory = new Inventory(seed = 7, expected.updated(wrongKey, expected(wrongKey) + 1))
    inventory.prepare(spark, s"$work/tables", None)
    val samples = inventory.pass(spark, None)
    expect(s"one wrong expected count fails exactly the reps of $wrongKey")(
      samples.filterNot(_.ok).map(_.op).toSet == Set(wrongKey) &&
        samples.count(!_.ok) == Inventory.Reps)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
