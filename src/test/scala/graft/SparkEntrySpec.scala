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

  /** The oracle text ledger: one `name<TAB>sha256` line per oracle
    * (the UTF-8 bytes of `SparkEntry.oracleSql(name)`). A refactor of
    * the shared fragments must leave every line as it is; a change to
    * an oracle's SQL must replace its line in the same diff, so each
    * changed oracle string is named by the diff itself. */
  test("every oracle string matches the text ledger byte for byte") {
    def sha256(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val src = scala.io.Source.fromResource("oracle_sha256.tsv", getClass.getClassLoader)
    val ledger = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, hash) = l.split('\t'); name -> hash
    }.toMap finally src.close()
    val live = SparkEntry.oracleSql.map { case (n, sql) => n -> sha256(sql) }
    val changed = (live.keySet & ledger.keySet).filter(n => live(n) != ledger(n))
    val added = live.keySet -- ledger.keySet
    val missing = ledger.keySet -- live.keySet
    val report = Seq("changed" -> changed, "added" -> added, "missing" -> missing)
      .filter(_._2.nonEmpty)
      .map { case (what, names) => s"$what: ${names.toSeq.sorted.mkString(", ")}" }
    val replacement = (changed ++ added).toSeq.sorted.map(n => s"$n\t${live(n)}")
    assert(report.isEmpty,
      report.mkString("; ") + "\nreplacement lines for oracle_sha256.tsv:\n" +
        replacement.mkString("\n"))
  }
}
