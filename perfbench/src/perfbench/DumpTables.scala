package perfbench

/** Writes the operator inventory's generated tables and its keys' DuckDB
  * oracle SQL, the inputs `perfbench/make_expected.py` turns into the
  * expected row counts.
  *
  * {{{ perfbench.DumpTables DIR CPUS }}}
  *
  * `DIR/oracle.tsv` holds one `key<TAB>sql` line per timed key, newlines
  * in the SQL written as spaces.
  */
object DumpTables {
  def main(argv: Array[String]): Unit = {
    val Array(dir, cpus) = argv
    val spark = Main.session(cpus.toInt)
    Inventory.writeTables(spark, dir)
    spark.stop()
    val oracle = graft.SparkEntry.oracleSql
    val w = new java.io.PrintWriter(s"$dir/oracle.tsv", "UTF-8")
    try Inventory.Keys.foreach { k =>
      w.println(k + "\t" + oracle(k).replaceAll("\\s+", " "))
    } finally w.close()
  }
}
