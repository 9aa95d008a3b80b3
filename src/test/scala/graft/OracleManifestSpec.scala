package graft

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins the text of every registered oracle. `oracle_sql.sha256` (test
  * resources) holds one `name sha256hex` line per query, sorted by name,
  * hashing the UTF-8 bytes of its `SparkEntry.oracleSql` value. An
  * oracle edit, or a refactor that changes one by accident, fails here;
  * an intended edit updates the manifest line in the same change. */
class OracleManifestSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  test("every oracleSql value matches its line in oracle_sql.sha256") {
    val src = scala.io.Source.fromResource("oracle_sql.sha256")
    val want = try src.getLines().toList finally src.close()
    val got = SparkEntry.oracleSql.toList.sortBy(_._1)
      .map { case (name, sql) => s"$name ${sha256(sql)}" }
    assert(want.size === 87, "the manifest lists 87 queries")
    val changed = (got.diff(want) ++ want.diff(got)).map(_.split(' ').head).distinct.sorted
    assert(changed.isEmpty,
      s"oracle SQL differs from the manifest for: ${changed.mkString(", ")}; " +
        "if the edit is intended, the fresh lines are:\n" +
        got.filter(l => changed.contains(l.split(' ').head)).mkString("\n"))
  }
}
