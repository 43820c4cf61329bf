package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants that a silent registry mistake would
  * break without any test noticing until the round's correctness file
  * came back short:
  *  - the per-family query maps must not collide (Map ++ silently
  *    overrides duplicate keys — a copy-pasted query name would DROP
  *    the older query from the contract);
  *  - every query needs its DuckDB oracle and every oracle its query
  *    (an orphaned oracle is a typo'd name — the query it meant to
  *    check would get only the weak rows-only gate);
  *  - oracle_sql.json reads back as exactly the SQL that was written;
  *  - names follow the qN_slug scheme the driver and check.py key on.
  * No SparkSession needed — this is pure registry introspection.
  */
class ContractSpec extends AnyFunSuite {

  private val families: Seq[(String, Map[String, _])] = Seq(
    "QueriesCore" -> QueriesCore.m,
    "QueriesTpch" -> QueriesTpch.m,
    "QueriesTime" -> QueriesTime.m,
    "QueriesDedup" -> QueriesDedup.m,
    "QueriesSim" -> QueriesSim.m,
    "QueriesText" -> QueriesText.m,
    "QueriesCurate" -> QueriesCurate.m,
    "QueriesMultimodal" -> QueriesMultimodal.m)

  test("query names are unique across the family registries") {
    val all = families.flatMap { case (fam, m) => m.keys.map(_ -> fam) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty,
      s"duplicate query names (Map ++ would silently drop one): " +
        dups.map { case (k, fs) => s"$k in ${fs.map(_._2).mkString("+")}" }
          .mkString(", "))
    assert(SparkEntry.queries.size === all.size)
  }

  test("queries and oracles pair 1:1") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without a query: ${o -- q}")
  }

  test("names follow the qN_slug scheme and numbers are unique") {
    val pat = "^q(\\d+)_[a-z0-9_]+$".r
    val nums = SparkEntry.queries.keys.toSeq.map {
      case n @ pat(num) => num.toInt -> n
      case bad => fail(s"query name '$bad' breaks the qN_slug scheme")
    }
    val dupNums = nums.groupBy(_._1).filter(_._2.size > 1)
    assert(dupNums.isEmpty, s"duplicate query numbers: " +
      dupNums.values.map(_.map(_._2).mkString("=")).mkString(", "))
  }

  test("oracle_sql.json round-trips quotes, backslashes, control chars and non-ASCII") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("oracle_sql").toFile
    val tricky = Map(
      "q_quote" -> "SELECT '\"a\"' AS \"x\"",
      "q_backslash" -> "SELECT 'C:\\dir\\' || '\\n'",
      "q_ws" -> "SELECT 1\t-- tab\r\nFROM t",
      "q_ctl" -> "SELECT '\u0001\u001f'",
      "q_utf" -> "SELECT 'naïve Ω 漢字 \ud83d\ude00'")
    Seq(tricky, SparkEntry.oracleSql).foreach { sql =>
      Verify.writeOracleSql(dir.getPath, sql)
      val back = new com.fasterxml.jackson.databind.ObjectMapper().readValue(
        new java.io.File(dir, "oracle_sql.json"), classOf[java.util.Map[String, String]])
      assert(back.asScala.toMap === sql)
    }
  }
}
