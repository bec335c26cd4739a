package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_ONLY=k1,k2 dumps a subset (the shared Bench convention,
    // Util.onlySubset) for fast single-operator iteration; the driver
    // never sets it. Validated BEFORE session startup: a typo'd key (or
    // a set-but-empty value) must fail in milliseconds — silently dumping
    // nothing would leave a previous run's stale parquet in outDir and
    // read as a false parity pass.
    val only = Util.onlySubset(SparkEntry.queries)
    val spark = Util.sessionBuilder(s"local[$cpus]", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A subset run must not land in an outDir holding OTHER operators'
    // dumps: a later whole-dir parity pass would silently mix vintages —
    // ~148 stale results from an older build reading as current (the
    // same hazard Bench guards by refusing subset writes to the official
    // record path). Iterate subsets into a fresh dir.
    only.foreach { keys =>
      val stale = Option(new java.io.File(outDir).listFiles())
        .getOrElse(Array.empty)
        .map(_.getName).filter(n => n != "oracle_sql.json" && !keys(n))
      require(stale.isEmpty,
        s"SPARK_GRAFT_ONLY subset into an outDir with ${stale.length} stale " +
          s"dumps (${stale.take(3).mkString(", ")}…) — use a fresh outDir")
    }
    val selected = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.filter { case (k, _) => ks(k) })
    // a key's failure is printed and the run goes on (the exit status
    // stays 0: the parity check reads every dump that did land); the summary
    // line below names all of them at once
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] ${failed.length} failed: ${failed.mkString(",")}")
    spark.stop()
  }
}
