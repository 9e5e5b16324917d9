package graft

/** Post-processor for DuckDB oracle SQL: forces materialization of shared
  * CTEs.
  *
  * DuckDB 1.0 performs no automatic CTE materialization — every CTE
  * reference is inlined as a copy of its defining subquery. For the deep
  * unrolled-chain oracles (k-core peel rounds, PageRank iterations, the
  * double-trained k-means/BPE builders) where round N's CTEs reference
  * round N-1's, inlining re-expands the whole prefix at every reference
  * and the planned tree grows combinatorially: round 12's `q_graph_kcore`
  * oracle ran >25 minutes at sf0.01 inlined vs 0.33 s with
  * `AS MATERIALIZED` — identical values — and the hang stalled the
  * driver's sequential gate into recording an empty round.
  *
  * The rewrite is applied centrally (Registry assembly) so every oracle
  * gets it and no hand-edited SQL can regress: any top-level WITH-clause
  * CTE referenced MORE THAN ONCE downstream — exactly the condition under
  * which inlining duplicates work and can go combinatorial — becomes
  * `name AS MATERIALIZED (...)`. Single-reference CTEs stay inlined so
  * DuckDB keeps filter/projection pushdown through them; self-referencing
  * (recursive) CTEs are never touched (MATERIALIZED is invalid there).
  *
  * `AS MATERIALIZED` is a pure evaluation hint — result sets, types and
  * ordering are unchanged — so the Spark-vs-oracle compare is unaffected.
  * The scanner is literal-aware (single-quoted strings with '' escapes,
  * double-quoted identifiers) and only walks the TOP-LEVEL WITH clause;
  * named `WINDOW w AS (...)` clauses and nested WITHs live inside CTE or
  * query bodies and are never rewritten. Oracle SQL contains no `--`
  * comments (RegistrySpec pins this, keeping the scanner honest).
  */
object OracleSql {

  private final case class Cte(
      name: String,
      nameStart: Int,     // offset of the CTE name
      bodyOpen: Int,      // offset of the '(' opening the CTE body
      bodyClose: Int,     // offset of the ')' closing it
      materialized: Boolean)

  /** Rewrite `sql`, materializing every top-level CTE with ≥2 downstream
    * references. Returns the input unchanged when it has no WITH prefix. */
  def materializeShared(sql: String): String = {
    val ctes = parseWithClause(sql)
    if (ctes.isEmpty) return sql
    val insertAt = ctes.filter { c =>
      !c.materialized &&
        !referencesWord(sql, c.name, c.bodyOpen, c.bodyClose) && // recursive
        definitionCount(sql, c.name) == 1 && // shadowed by a nested WITH
        refCount(sql, c) >= 2
    }.map(_.bodyOpen)
    if (insertAt.isEmpty) sql
    else {
      val sb = new StringBuilder(sql)
      insertAt.sorted(Ordering[Int].reverse)
        .foreach(p => sb.insert(p, "MATERIALIZED "))
      sb.toString
    }
  }

  /** Word-boundary occurrences of `w` in [from, to), skipping single-quoted
    * literals (with '' escapes) and double-quoted identifiers — a CTE name
    * mentioned inside a string is not a reference. */
  private def wordOccurrences(sql: String, w: String, from: Int, to: Int): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var i = from
    while (i < to) {
      sql.charAt(i) match {
        case '\'' | '"' => i = closingQuote(sql, i) + 1
        case ch if isWordChar(ch) =>
          val start = i
          while (i < sql.length && isWordChar(sql.charAt(i))) i += 1
          if (i - start == w.length && sql.regionMatches(start, w, 0, w.length))
            out += start
        case _ => i += 1
      }
    }
    out.result()
  }

  /** References to the CTE outside its own header and body. */
  private def refCount(sql: String, c: Cte): Int =
    wordOccurrences(sql, c.name, 0, sql.length).count { i =>
      i != c.nameStart && !(i > c.bodyOpen && i < c.bodyClose)
    }

  private def referencesWord(sql: String, w: String, from: Int, to: Int): Boolean =
    wordOccurrences(sql, w, from, to).nonEmpty

  /** How many times `name` is DEFINED as a CTE anywhere in the statement,
    * including nested WITH clauses inside CTE bodies or subqueries: an
    * occurrence followed by `AS [NOT] [MATERIALIZED] (` or by a column
    * list then AS. A name defined more than once is SHADOWED somewhere —
    * materializing the outer definition trips a DuckDB 1.0 binder bug
    * (INTERNAL "Recursive CTE scan found without recursive CTE node",
    * which invalidates the whole connection), so shadowed names are never
    * materialized. */
  private def definitionCount(sql: String, name: String): Int =
    wordOccurrences(sql, name, 0, sql.length).count { i =>
      var j = skipWs(sql, i + name.length)
      if (j < sql.length && sql.charAt(j) == '(') { // column list
        val close = matchParen(sql, j)
        if (close < 0) j = sql.length else j = skipWs(sql, close + 1)
      }
      if (!wordAt(sql, j, "AS")) false
      else {
        j = skipWs(sql, j + 2)
        if (wordAt(sql, j, "NOT")) j = skipWs(sql, j + 3)
        if (wordAt(sql, j, "MATERIALIZED")) j = skipWs(sql, j + 12)
        j < sql.length && sql.charAt(j) == '('
      }
    }

  private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** Parse the top-level WITH clause; empty when `sql` doesn't start with
    * WITH or any structural expectation fails (parse defensively — a
    * malformed oracle should surface in DuckDB, not here). */
  private def parseWithClause(sql: String): Seq[Cte] = {
    var i = skipWs(sql, 0)
    if (!wordAt(sql, i, "WITH")) return Nil
    i = skipWs(sql, i + 4)
    if (wordAt(sql, i, "RECURSIVE")) i = skipWs(sql, i + 9)
    val out = Seq.newBuilder[Cte]
    var more = true
    while (more) {
      val nameStart = i
      while (i < sql.length && isWordChar(sql.charAt(i))) i += 1
      if (i == nameStart) return Nil
      val name = sql.substring(nameStart, i)
      i = skipWs(sql, i)
      if (i < sql.length && sql.charAt(i) == '(') { // column list
        i = skipWs(sql, matchParen(sql, i) + 1)
      }
      if (!wordAt(sql, i, "AS")) return Nil
      i = skipWs(sql, i + 2)
      var mat = false
      if (wordAt(sql, i, "NOT")) { mat = true; i = skipWs(sql, i + 3) }
      if (wordAt(sql, i, "MATERIALIZED")) { mat = true; i = skipWs(sql, i + 12) }
      if (i >= sql.length || sql.charAt(i) != '(') return Nil
      val open = i
      val close = matchParen(sql, open)
      if (close < 0) return Nil
      out += Cte(name, nameStart, open, close, mat)
      i = skipWs(sql, close + 1)
      if (i < sql.length && sql.charAt(i) == ',') i = skipWs(sql, i + 1)
      else more = false
    }
    out.result()
  }

  /** Offset of the ')' matching the '(' at `open`, skipping single-quoted
    * strings (with '' escapes) and double-quoted identifiers; -1 if
    * unbalanced. */
  private def matchParen(sql: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i
        case '\'' | '"' => i = closingQuote(sql, i)
        case _ => ()
      }
      i += 1
    }
    -1
  }

  /** Offset of the quote closing the single-quoted literal ('' escapes a
    * quote) or double-quoted identifier opened at `open`; `sql.length`
    * if it never closes. */
  private def closingQuote(sql: String, open: Int): Int = {
    val q = sql.charAt(open)
    var i = open + 1
    while (i < sql.length && (sql.charAt(i) != q ||
        q == '\'' && i + 1 < sql.length && sql.charAt(i + 1) == '\''))
      i += (if (sql.charAt(i) == q) 2 else 1)
    i
  }

  private def skipWs(sql: String, from: Int): Int = {
    var i = from
    while (i < sql.length && Character.isWhitespace(sql.charAt(i))) i += 1
    i
  }

  private def wordAt(sql: String, i: Int, w: String): Boolean =
    i + w.length <= sql.length &&
      sql.regionMatches(true, i, w, 0, w.length) &&
      (i + w.length == sql.length || !isWordChar(sql.charAt(i + w.length))) &&
      (i == 0 || !isWordChar(sql.charAt(i - 1)))
}
