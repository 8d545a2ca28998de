package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static consistency of the driver contract — no session needed.
  * The correctness gate is only as strong as the oracle map's
  * bookkeeping: a query added without an oracle, or an oracle dropped
  * in a refactor, must break a NAMED spec here rather than silently
  * weakening CORRECTNESS to a rows-only check. */
class SparkEntrySpec extends AnyFunSuite {

  /** The documented no-oracle set (SparkEntry scaladoc) — EMPTY since
    * r12: the last three rows-only queries graduated to envelope
    * oracles (q35/q77 via the projection-contract envelope, q41 via
    * the deterministic-policy AUC replay + contract flags). The set
    * stays as the declared mechanism should a future operator
    * genuinely defeat even an envelope oracle. */
  private val declaredNoOracle = Set.empty[String]

  test("every oracle key names a real query") {
    val badOracle = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(badOracle.isEmpty, s"oracles for unknown queries: $badOracle")
  }

  test("the rows-only set is exactly the declared no-oracle list") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == declaredNoOracle,
      s"undeclared rows-only: ${rowsOnly -- declaredNoOracle}; " +
        s"stale declarations: ${declaredNoOracle -- rowsOnly}")
  }

  test("no oracle SQL is trivially empty or unbalanced") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      // Count parens only in SQL code: strip single-quoted string
      // literals (handling '' escapes, where a regex or constant like
      // '(' is legitimately unbalanced) and `--` line comments before
      // counting, so the balance check sees structure, not text.
      val code = new StringBuilder
      var i = 0
      var inStr = false
      while (i < sql.length) {
        val c = sql.charAt(i)
        if (inStr) {
          if (c == '\'') {
            if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') i += 1 // '' escape
            else inStr = false
          }
        } else if (c == '\'') inStr = true
        else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
          while (i < sql.length && sql.charAt(i) != '\n') i += 1
        } else code += c
        i += 1
      }
      val opens = code.count(_ == '(')
      val closes = code.count(_ == ')')
      assert(opens == closes, s"$name: unbalanced parens ($opens vs $closes)")
      assert(!inStr, s"$name: unterminated string literal")
    }
  }
}
