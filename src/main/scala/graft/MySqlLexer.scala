package graft

/** The one MySQL lexical scanner of the dialect layer. Every rewrite of
  * MySQL statement text in [[Engine]] reads its spans from here, so one
  * place decides whether a character is code, a literal or a comment
  * (the reference relays client SQL unparsed, gateway/relay.go:17-21; this
  * engine must rewrite it before Spark sees it). Rules (MySQL manual
  * §11.1.1 strings, §11.2 identifiers, §11.7 comments):
  *
  *   - `'…'` and `"…"` strings; a backslash escapes the next character. A
  *     doubled quote (`'it''s'`) lexes as two adjacent strings, which every
  *     caller treats like one.
  *   - backtick identifiers, without escapes.
  *   - `--` to end of line, whatever follows the dashes: Spark's lexer
  *     receives the text and has that rule. MySQL wants whitespace after
  *     the dashes; only [[Engine.stripLeadingComments]], which decides
  *     interception, keeps that stricter rule and is not built on this.
  *   - `#` to end of line.
  *   - `/* … */` block comments, `/*!NNNNN …*/` versioned and `/*+ … */`
  *     hint forms included (a whole-statement versioned comment is
  *     unwrapped separately, by [[Engine.unwrapVersionComment]]).
  *
  * A line comment stops before its newline, which is code. An unterminated
  * string, identifier or block comment runs to the end of the text.
  *
  * What each caller does with comments:
  *   - leave them unchanged (copied through, or skipped by the callers that
  *     produce no text): `nameParams`, `countParams`, `bindPositional` (a
  *     `?` in a comment is no marker), `substituteVars` (no `@@name` in a
  *     comment is resolved), `qualifyBareInfoSchema`, `rewriteInfoSchema`,
  *     `splitTopLevel` and `matchingClose` (never split or close inside
  *     one; the CREATE TABLE column list then strips the leading comments
  *     of each definition), `rewriteDateFormat`;
  *   - strip `#` comments (Spark has no `#` form), copy the others:
  *     `splitStatements`, `translateMySql`;
  *   - turn `#` into `-- `: `translateHashComments`.
  */
private[graft] object MySqlLexer {

  /** End (exclusive) of the string literal, quoted identifier or comment
    * starting at `i`, or `i` itself when the character at `i` is code. */
  def spanEnd(s: String, i: Int): Int = s.charAt(i) match {
    case q @ ('\'' | '"') =>
      var j = i + 1
      while (j < s.length && s.charAt(j) != q)
        j += (if (s.charAt(j) == '\\') 2 else 1)
      math.min(j + 1, s.length)
    case '`' => endAfter(s, s.indexOf('`', i + 1), 1)
    case '#' => lineEnd(s, i)
    case '-' if s.startsWith("--", i) => lineEnd(s, i)
    case '/' if s.startsWith("/*", i) =>
      endAfter(s, s.indexOf("*/", i + 2), 2)
    case _ => i
  }

  /** Index of the newline ending the line comment at `i` (or the end). */
  private def lineEnd(s: String, i: Int): Int = {
    val j = s.indexOf('\n', i)
    if (j < 0) s.length else j
  }

  /** Just past a closer of width `w` found at `j`, or the end if none. */
  private def endAfter(s: String, j: Int, w: Int): Int =
    if (j < 0) s.length else j + w
}
