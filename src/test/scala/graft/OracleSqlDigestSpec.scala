package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every `SparkEntry.oracleSql` text to the committed digest file
  * `oracle_sql.sha256` (one `key<TAB>sha256` line per key). The oracle
  * SQL is the DuckDB side of the parity gate; a refactor of the SQL
  * builders must leave each generated text byte-identical. A deliberate
  * oracle change regenerates the file and names the keys it moves.
  * The per-process scratch root (`/tmp/graft_run_<pid>`, e.g. a3's CSV
  * fixture path) is hashed as `graft_run_PID`.
  */
class OracleSqlDigestSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("every oracle SQL text matches its committed sha256") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/oracle_sql.sha256"), "UTF-8")
    val pinned = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(k, h) = l.split('\t'); k -> h
    }.toMap finally src.close()
    val now = SparkEntry.oracleSql.map { case (k, v) =>
      k -> sha256(v.replaceAll("graft_run_[0-9]+", "graft_run_PID"))
    }
    val changed = (pinned.keySet ++ now.keySet).toSeq.sorted
      .filter(k => pinned.get(k) != now.get(k))
    assert(changed.isEmpty,
      s"oracle SQL moved for ${changed.length} key(s): ${changed.mkString(",")}")
  }
}
