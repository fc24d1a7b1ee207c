package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Mechanized adversary for the statement-interception layer (VERDICT r15
  * #3): the r14/r15 manual review passes kept finding the same bug classes
  * in the MySQL-dialect layer — case sensitivity, backticks, comments,
  * whitespace, string literals containing trigger keywords, CTE/alias
  * shadowing, state-mutation ordering. Its quote, escape and comment rules
  * live in one place, [[MySqlLexer]]. This generates statements across
  * those axes and asserts the three contracts:
  *
  *   (a) interception fires exactly when it should (every MySQL-shaped
  *       session statement is absorbed under any keyword casing,
  *       whitespace layout, identifier quoting, trailing terminator, and
  *       leading plain comment);
  *   (b) non-intercepted statements reach Spark BYTE-IDENTICAL
  *       (`preprocess`/`substituted` are the identity and `sessionCommand`
  *       is None — trigger keywords inside string literals or alias
  *       positions never activate the dialect layer);
  *   (c) session state mutates only on success (a SET list with any
  *       non-MySQL assignment relays untouched with NO partial
  *       application).
  *
  * The deterministic anchors at the bottom pin the specific bugs the
  * r14/r15 manual passes found, so none can regress silently; the broader
  * corpus (failed-USE ordering, info-schema shadowing, versioned-comment
  * stitching, LIKE escapes) stays pinned in EngineSpec.
  */
object DialectAdversaryProps extends Properties("DialectAdversary") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(60) // string-layer cases: no Spark jobs run

  private def spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val backends = Map("prod" -> sfDir)
  /** Interception probe session — statements here may mutate its state
    * (BEGIN/SET/USE are the subject under test). */
  private lazy val sessA = Engine.connect(spark, "prod", backends)
  /** Relay/identity session — never USE'd, never info-schema-bound, so
    * byte-identity of the relayed text is exactly `preprocess == id`. */
  private lazy val sessB = Engine.connect(spark, "prod", backends)

  /** Intercepted = the dialect layer consumed it: answered (Some) or
    * refused with a structured MySQL error — either way the statement
    * never reached Spark. */
  private def intercepted(s: Engine.Session, q: String): Boolean =
    try Engine.sessionCommand(s, Engine.stripLeadingComments(q)).isDefined
    catch { case _: Engine.EngineError => true }

  /** Relayed byte-identical: not intercepted, and the preprocessing seams
    * are the identity on the text Spark would receive. */
  private def relaysVerbatim(q: String): Boolean =
    Engine.sessionCommand(sessB, Engine.stripLeadingComments(q)).isEmpty &&
      sessB.preprocess(q) == q &&
      (q.contains("@") || sessB.substituted(q) == q)

  // ---- generators ----------------------------------------------------------

  private val ws: Gen[String] =
    Gen.oneOf(" ", "  ", "\t", "\n", " \t ", " \n  ")
  private val term: Gen[String] = Gen.oneOf("", ";", " ;", ";\n", "  ; ")
  private val comment: Gen[String] = Gen.oneOf(
    "", "/* ping */ ", "/*c*/\n", "-- hi\n", "# note\n", " /*a*/ /*b*/ ")

  private def mixCase(w: String): Gen[String] =
    Gen.listOfN(w.length, Gen.prob(0.5)).map { flips =>
      w.zip(flips).map { case (c, up) =>
        if (up) Character.toUpperCase(c) else Character.toLowerCase(c)
      }.mkString
    }

  /** A statement template: (text, caseMutable) tokens. Keywords mutate
    * case (MySQL keywords are case-insensitive); identifiers/literals
    * keep their spelling (table names are case-sensitive under
    * lower_case_table_names=0). */
  private def render(tokens: Seq[(String, Boolean)]): Gen[String] =
    for {
      parts <- Gen.sequence[Seq[String], String](tokens.map {
        case (t, true) => mixCase(t)
        case (t, false) => Gen.const(t)
      })
      seps <- Gen.listOfN(math.max(parts.size - 1, 0), ws)
      lead <- comment
      tail <- term
    } yield lead + parts.head +
      seps.zip(parts.tail).map { case (s, p) => s + p }.mkString + tail

  private def kw(s: String): (String, Boolean) = (s, true)
  private def id(s: String): (String, Boolean) = (s, false)

  /** Every text-protocol session-statement family the engine intercepts,
    * in its canonical and quoted spellings. */
  private val families: Seq[Seq[(String, Boolean)]] = Seq(
    Seq(kw("BEGIN")),
    Seq(kw("START"), kw("TRANSACTION")),
    Seq(kw("COMMIT")),
    Seq(kw("ROLLBACK")),
    Seq(kw("SET"), kw("NAMES"), id("utf8mb4")),
    Seq(kw("SET"), kw("NAMES"), id("'utf8mb4'"), kw("COLLATE"),
      id("'utf8mb4_bin'")),
    Seq(kw("SET"), id("@adv_u"), id("="), id("42")),
    Seq(kw("SET"), id("@@max_execution_time"), id("="), id("100")),
    Seq(kw("SET"), kw("SESSION"), id("sql_mode"), id("="),
      id("'STRICT_TRANS_TABLES'")),
    Seq(kw("SET"), kw("TRANSACTION"), kw("ISOLATION"), kw("LEVEL"),
      kw("READ"), kw("COMMITTED")),
    Seq(kw("SHOW"), kw("VARIABLES")),
    Seq(kw("SHOW"), kw("SESSION"), kw("VARIABLES"), kw("LIKE"),
      id("'max%'")),
    Seq(kw("SHOW"), kw("STATUS")),
    Seq(kw("SHOW"), kw("GLOBAL"), kw("STATUS")),
    Seq(kw("SHOW"), kw("COLLATION")),
    Seq(kw("SHOW"), kw("COLLATION"), kw("LIKE"), id("'utf8%'")),
    Seq(kw("SHOW"), kw("CHARACTER"), kw("SET")),
    Seq(kw("SHOW"), kw("CHARSET")),
    Seq(kw("SHOW"), kw("ENGINES")),
    Seq(kw("SHOW"), kw("STORAGE"), kw("ENGINES")),
    Seq(kw("SHOW"), kw("GRANTS")),
    Seq(kw("SHOW"), kw("PROCESSLIST")),
    Seq(kw("SHOW"), kw("FULL"), kw("PROCESSLIST")),
    Seq(kw("SHOW"), kw("DATABASES")),
    Seq(kw("SHOW"), kw("SCHEMAS"), kw("LIKE"), id("'%'")),
    Seq(kw("SHOW"), kw("TABLES")),
    Seq(kw("SHOW"), kw("FULL"), kw("TABLES")),
    Seq(kw("SHOW"), kw("TABLES"), kw("LIKE"), id("'reg%'")),
    Seq(kw("SHOW"), kw("TABLE"), kw("STATUS")),
    Seq(kw("SHOW"), kw("COLUMNS"), kw("FROM"), id("region")),
    Seq(kw("SHOW"), kw("FIELDS"), kw("IN"), id("`region`")),
    Seq(kw("SHOW"), kw("FULL"), kw("COLUMNS"), kw("FROM"), id("region")),
    Seq(kw("DESC"), id("region")),
    Seq(kw("DESCRIBE"), id("`region`")),
    Seq(kw("SHOW"), kw("INDEX"), kw("FROM"), id("region")),
    Seq(kw("SHOW"), kw("KEYS"), kw("FROM"), id("`region`")),
    Seq(kw("SHOW"), kw("CREATE"), kw("TABLE"), id("region")),
    Seq(kw("KILL"), id("424242")),
    Seq(kw("KILL"), kw("QUERY"), id("424242")),
    Seq(kw("KILL"), kw("CONNECTION"), id("424242")),
    Seq(kw("PREPARE"), id("adv_p"), kw("FROM"), id("'SELECT 1 AS one'")),
    Seq(kw("EXECUTE"), id("adv_p")),
    Seq(kw("DEALLOCATE"), kw("PREPARE"), id("adv_p")),
    Seq(kw("LOCK"), kw("TABLES"), id("region"), kw("READ")),
    Seq(kw("UNLOCK"), kw("TABLES")),
    Seq(kw("FLUSH"), kw("TABLES")),
    Seq(kw("ALTER"), kw("TABLE"), id("region"), kw("DISABLE"), kw("KEYS")),
    Seq(kw("USE"), id("information_schema")),
    Seq(kw("USE"), id("`information_schema`")))

  private val genIntercepted: Gen[String] =
    Gen.oneOf(families).flatMap(render)

  property("(a) every session-statement family intercepts under case/" +
      "whitespace/backtick/terminator/leading-comment mutation") =
    forAll(genIntercepted) { q => intercepted(sessA, q) }

  // ---- (b) literal immunity / relay byte-identity --------------------------

  private val triggerTexts = Seq(
    "SHOW TABLES", "SET NAMES latin1", "USE small", "BEGIN", "KILL 5",
    "COMMIT; SET NAMES latin1", "DEALLOCATE PREPARE x",
    "LOAD DATA INFILE 'x' INTO TABLE t")

  private val genRelay: Gen[String] = Gen.oneOf(
    // trigger keywords inside string literals (both quote styles)
    Gen.oneOf(triggerTexts).flatMap(t =>
      Gen.oneOf(s"SELECT '$t' AS x", s"""SELECT "$t" AS x""")),
    // trigger keywords in alias / CTE-name position
    Gen.oneOf(
      "SELECT 1 AS begin_marker",
      "SELECT 1 AS show_tables",
      "WITH tables AS (SELECT 1 AS n) SELECT n FROM tables",
      "SELECT kill_count FROM adv_t",
      "SELECT use_flag, commit_ts FROM adv_t"),
    // Spark's own SET-conf syntax and unknown bare names must relay
    Gen.oneOf(
      "SET spark.sql.adaptive.enabled = true",
      "SET not_a_known_sysvar = 1",
      "SET adv.dotted.name = 2"),
    // `--` without following whitespace is NOT a comment in MySQL
    Gen.const("--x BEGIN"))

  property("(b) trigger keywords in literals/aliases and Spark-conf SETs " +
      "relay byte-identical") =
    forAll(genRelay) { q => relaysVerbatim(q) }

  property("(b) a leading plain comment never changes what relays: the " +
      "statement still relays with its comment bytes intact") =
    forAll(comment, Gen.oneOf(triggerTexts)) { (c, t) =>
      val q = s"${c}SELECT '$t' AS x"
      relaysVerbatim(q)
    }

  // ---- (c) state mutates only on success -----------------------------------

  property("(c) a SET list with any non-MySQL assignment relays with NO " +
      "partial application") =
    forAll(Gen.oneOf(
      "SET @adv_q = 1, spark.sql.adaptive.enabled = true",
      "SET @adv_q = 2, not_a_known_sysvar = 3",
      "SET spark.x = 1, @adv_q = 4")) { q =>
      val none = Engine.sessionCommand(sessA, q).isEmpty
      none && sessA.userVar("adv_q").isEmpty
    }

  property("(c) EXECUTE/DEALLOCATE of an unknown handler answer ER 1243 " +
      "and leave the statement store untouched") =
    forAll(Gen.oneOf("EXECUTE adv_none", "DEALLOCATE PREPARE adv_none"),
        ws) { (stmt, w) =>
      val q = stmt.replace(" ", w)
      try { Engine.sessionCommand(sessA, q); false }
      catch { case e: Engine.EngineError => e.code == 1243 }
    }

  // ---- versioned comments --------------------------------------------------

  property("whole-statement versioned comment executes its body at or " +
      "below the advertised version, ER 1065 above it") =
    forAll(Gen.choose(40000, 80011), Gen.choose(80012, 99999)) { (lo, hi) =>
      sessA.sql(s"/*!$lo SET @adv_v = 9 */")
      val ok = sessA.userVar("adv_v").contains("9")
      sessA.sql("SET @adv_v = 0")
      val code =
        try { sessA.sql(s"/*!$hi SET @adv_v = 1 */"); 0 }
        catch { case e: Engine.EngineError => e.code }
      ok && code == 1065 && sessA.userVar("adv_v").contains("0")
    }

  // ---- the lexer every scan above reads its spans from ----------------------

  property("MySqlLexer.spanEnd: each span rule, escapes, code characters, " +
      "and unterminated forms") = {
    // (text, start, expected end); end == start means code
    val cases = Seq(
      ("'a\\'b' x", 0, 6), // backslash escapes the quote
      ("\"a\"\"b\"", 0, 3), // doubled quote: two adjacent strings
      ("`a\\`b`", 0, 4), // backticks have no escapes
      ("-- c\nx", 0, 4), // line comments stop before the newline
      ("--c", 0, 3), // `--` needs nothing after it
      ("# c\nx", 0, 3),
      ("/* a */x", 0, 7),
      ("/**/x", 0, 4),
      ("/*!40101 SET x */;", 0, 17),
      ("/*+ BROADCAST(t) */ x", 0, 19),
      ("SELECT 'a' x", 7, 10),
      ("'abc", 0, 4), ("`abc", 0, 4), ("/* abc", 0, 6), ("/*/", 0, 3),
      ("'ab\\", 0, 4), // trailing backslash
      ("x", 0, 0), ("-x", 0, 0), ("/x", 0, 0), ("-", 0, 0), ("?", 0, 0))
    val bad = cases.filterNot { case (t, i, e) => MySqlLexer.spanEnd(t, i) == e }
    bad.foreach { case (t, i, e) =>
      println(s"MySqlLexer.spanEnd(${t.replace("\n", "\\n")}, $i) = " +
        s"${MySqlLexer.spanEnd(t, i)}, expected $e")
    }
    bad.isEmpty
  }

  // ---- statement splitting (the sqlBatch seam) ------------------------------

  /** One batch member plus the exact split output it must produce (None =
    * assert by containment because the text round-trips verbatim). */
  private val genBatchPart: Gen[(String, String => Boolean)] =
    Gen.choose(0, 999).flatMap { k =>
      Gen.oneOf[(String, String => Boolean)](
        // literal carrying every hazard character — must survive intact
        (s"SELECT 'a;b--c#d?e' AS s$k",
          (out: String) => out == s"SELECT 'a;b--c#d?e' AS s$k"),
        // block comment with semicolons — copied through, never split
        (s"SELECT $k AS x /* block; with ; semis */",
          (out: String) => out == s"SELECT $k AS x /* block; with ; semis */"),
        // line comment: the `;` inside it is comment text (newline ends it)
        (s"SELECT $k AS x -- trail; SET NAMES latin1\n",
          (out: String) => out.startsWith(s"SELECT $k AS x") &&
            out.contains("-- trail; SET NAMES latin1")),
        // MySQL `#` comment: stripped by the splitter, statement survives
        (s"SELECT $k AS x # hash; note\n",
          (out: String) => out == s"SELECT $k AS x"),
        // double-quoted string with an escaped quote and a semicolon
        ("SELECT \"q;\\\"uote\" AS s" + k,
          (out: String) => out == "SELECT \"q;\\\"uote\" AS s" + k))
    }

  property("splitStatements: semicolons inside literals/comments never " +
      "split; every batch member round-trips") =
    forAll(Gen.nonEmptyListOf(genBatchPart).map(_.take(6))) { parts =>
      val batch = parts.map(_._1).mkString(";")
      val split = Engine.splitStatements(batch)
      split.size == parts.size &&
        split.zip(parts).forall { case (out, (_, check)) => check(out) }
    }

  // ---- positional-parameter binding (the prepared-statement seam) ----------

  /** Statement fragments: Left = a real `?` marker, Right = text whose
    * question marks are literal/comment bytes the binder must skip. */
  private val genStmtPart: Gen[Either[Unit, String]] = Gen.frequency(
    3 -> Gen.const(Left(())),
    2 -> Gen.oneOf(
      Right("'is it? yes??'"): Either[Unit, String],
      Right("\"what?\""),
      Right("/* bound? no */"),
      Right("`odd?col`"),
      Right("-- is it?\n"),
      Right("# what?\n"),
      Right("SELECT col ,"),
      Right("WHERE x =")))

  property("nameParams/bindPositional/countParams: `?` in literals, " +
      "comments, and quoted identifiers is never a parameter") =
    forAll(Gen.nonEmptyListOf(genStmtPart).map(_.take(10))) { parts =>
      val stmt = parts.map {
        case Left(()) => "?"
        case Right(t) => t
      }.mkString(" ")
      val markers = parts.count(_.isLeft)
      val litsIntact = (s: String) => parts.collect { case Right(t) => t }
        .forall(s.contains)
      val counted = Engine.countParams(stmt) == markers
      val (named, names) = Engine.nameParams(stmt)
      val namedOk = names == (0 until markers).map(k => s"_gp_$k") &&
        litsIntact(named) && Engine.countParams(named) == 0
      val args = (1 to markers).map(k => (91000 + k).toString)
      val bound = Engine.bindPositional(stmt, args)
      val boundOk = litsIntact(bound) && Engine.countParams(bound) == 0 && {
        // the substituted values appear in marker order
        val idx = args.map(bound.indexOf(_))
        idx.forall(_ >= 0) && idx == idx.sorted
      }
      counted && namedOk && boundOk
    }

  // ---- LIKE-pattern translation (the SHOW-family wildcard seam) -------------

  /** Reference SQL-LIKE matcher, written independently of the engine's
    * regex translation: `%` any run, `_` any single char, backslash
    * escapes the next char literally (JDBC's identifier-wildcard escapes),
    * a trailing backslash is a literal backslash. */
  private def likeRef(pat: String, s: String): Boolean = {
    val toks = scala.collection.mutable.ListBuffer[Either[Char, Char]]()
    var i = 0
    while (i < pat.length) {
      pat.charAt(i) match {
        case '\\' if i + 1 < pat.length =>
          toks += Left(pat.charAt(i + 1)); i += 2
        case c @ ('%' | '_') => toks += Right(c); i += 1
        case c => toks += Left(c); i += 1
      }
    }
    def m(ts: List[Either[Char, Char]], si: Int): Boolean = ts match {
      case Nil => si == s.length
      case Right('%') :: rest => (si to s.length).exists(j => m(rest, j))
      case Right(_) :: rest => si < s.length && m(rest, si + 1)
      case Left(c) :: rest =>
        si < s.length && s.charAt(si) == c && m(rest, si + 1)
    }
    m(toks.toList, 0)
  }

  private val likeAlphabet = "ab_%\\.*[()^$|+?{"
  private val genLikePat: Gen[String] =
    Gen.listOfN(6, Gen.oneOf(likeAlphabet.toSeq)).map(_.mkString)
  private val genLikeSubject: Gen[String] =
    Gen.listOfN(6, Gen.oneOf("ab._*%\\".toSeq)).map(_.mkString)

  property("likeRegex == reference SQL-LIKE semantics for patterns full " +
      "of regex metacharacters, escapes, and wildcards") =
    forAll(genLikePat, genLikeSubject) { (pat, subj) =>
      // candidates: an unrelated subject AND the pattern's own literal
      // rendering (high hit rate for the match=true branch)
      val literalized = pat.replace("\\", "").replace("%", "x")
        .replace("_", "y")
      val re = Engine.likeRegex(pat, caseSensitive = true).get
      Seq(subj, literalized, pat).forall { s =>
        re.matches(s) == likeRef(pat, s)
      }
    }

  // ---- variable substitution is literal-safe --------------------------------

  /** Spellings whose text is never code: both string quotes and the three
    * comment forms. */
  private val shelter: Gen[String => String] = Gen.oneOf(
    (t: String) => s"'$t'", (t: String) => s"\"$t\"",
    (t: String) => s"# $t\n", (t: String) => s"-- $t\n",
    (t: String) => s"/* $t */")

  property("@@sysvar/@uservar tokens inside string literals never " +
      "substitute; outside they always do") =
    forAll(Gen.oneOf("version", "autocommit", "sql_mode"), shelter) {
        (v, sh) =>
      // comments shelter like literals: even an unknown name inside one is
      // never resolved (no ER 1193)
      val lit = s"SELECT ${sh(s"@@$v, @u, @@no_such_var")} AS x"
      val out = sessB.substituted(lit)
      val open = sessB.substituted(s"SELECT @@$v AS x")
      out == lit && open != s"SELECT @@$v AS x" && !open.contains("@@")
    }

  // ---- info-schema FROM-position grammar (VERDICT r16 #3) -------------------
  //
  // The r16 1146 rule (`qualifyBareInfoSchema`) needed four same-round
  // code-review fixes, all in the FROM-position token zoo: expression-level
  // FROM, `#` comments, spaced qualified refs, derived tables opening with
  // WITH. This generates that zoo — composable FROM items each carrying
  // the EXACT output the qualifier must produce — and asserts no false
  // 1146, no missed 1146, and byte-exact qualification.

  /** One FROM-clause item: input spelling, required output spelling, and
    * whether it is a bare nonexistent ref that must answer 1146. */
  private case class FromItem(in: String, out: String, missing: Boolean)

  private val genMetaItem: Gen[FromItem] = for {
    n <- Gen.oneOf("tables", "columns", "schemata", "statistics")
    cased <- mixCase(n)
    tick <- Gen.prob(0.3)
    alias <- Gen.oneOf("", " t0", " t1", " AS t2")
  } yield
    if (tick) FromItem(s"`$n`$alias", s"information_schema.`$n`$alias",
      missing = false)
    else FromItem(cased + alias, "information_schema." + n + alias,
      missing = false)

  private val genQualItem: Gen[FromItem] = for {
    // qualified refs never rewrite — including the spaced-dot spelling
    // (code-review r16 #3) and a backticked second segment
    sp <- Gen.oneOf("mydb.region", "mydb . region", "mydb.`region`")
    alias <- Gen.oneOf("", " r0")
  } yield FromItem(sp + alias, sp + alias, missing = false)

  private val genDerivedItem: Gen[FromItem] = Gen.oneOf(
    FromItem("(SELECT 1 AS x) d0", "(SELECT 1 AS x) d0", missing = false),
    // a derived table may open with WITH (MySQL 8.0.19+; code-review
    // r16 #4) — and the CTE name shadows any same-named metadata view
    FromItem("(WITH w0 AS (SELECT 1 AS x) SELECT x FROM w0) d1",
      "(WITH w0 AS (SELECT 1 AS x) SELECT x FROM w0) d1", missing = false),
    // Spark's TABLE clause in a derived position must not false-1146
    // (ADVICE r16 #4)
    FromItem("(TABLE tables) d2", "(TABLE tables) d2", missing = false),
    // LATERAL is prevWord-transparent (ADVICE r16 #4)
    FromItem("LATERAL (SELECT 1 AS z) l0", "LATERAL (SELECT 1 AS z) l0",
      missing = false))

  private val genMissingItem: Gen[FromItem] =
    Gen.oneOf("no_such_t", "adv_missing", "tables_x")
      .map(n => FromItem(n, n, missing = true))

  /** `#`/block comments interleaved at the FROM position pass through
    * without stealing table position (code-review r16 #2). */
  private def withItemPrefix(it: FromItem): Gen[FromItem] =
    Gen.oneOf("", "# c\n", "/*x*/ ").map {
      case "" => it
      case p => FromItem(p + it.in, p + it.out, it.missing)
    }

  /** SELECT heads exercising expression-level FROM (code-review r16 #1:
    * EXTRACT/TRIM/SUBSTRING argument lists — including ADVICE r16 #2's
    * nested subquery, whose own FROM must KEEP qualifying). */
  private val genStmtHead: Gen[(String, String)] = Gen.oneOf(
    ("SELECT 1", "SELECT 1"),
    ("SELECT EXTRACT(YEAR FROM ts0) AS y9",
      "SELECT EXTRACT(YEAR FROM ts0) AS y9"),
    ("SELECT TRIM(BOTH 'x' FROM 'xax') AS t9",
      "SELECT TRIM(BOTH 'x' FROM 'xax') AS t9"),
    ("SELECT SUBSTRING((SELECT table_name FROM tables) FROM 1 FOR 2) AS s9",
      "SELECT SUBSTRING((SELECT table_name FROM " +
        "information_schema.tables) FROM 1 FOR 2) AS s9"))

  private val genFromStmt: Gen[(String, String, Boolean)] = for {
    head <- genStmtHead
    fromKw <- mixCase("FROM")
    k <- Gen.choose(1, 3)
    items0 <- Gen.listOfN(k, Gen.frequency(
      4 -> genMetaItem, 2 -> genQualItem, 2 -> genDerivedItem,
      1 -> genMissingItem))
    items <- Gen.sequence[List[FromItem], FromItem](items0.map(withItemPrefix))
    joinKw <- mixCase("JOIN")
    useJoin <- Gen.prob(0.3)
    tail <- Gen.oneOf("", " WHERE 1 = 1", " LIMIT 1")
  } yield {
    val (hin, hout) = head
    val miss = items.exists(_.missing)
    if (useJoin && items.size == 3) {
      // `JOIN … ON …, item` (ADVICE r17 #1): the ON condition SUSPENDS
      // table position without ending the FROM clause — the top-level
      // comma must put the third item back in table position (qualify a
      // metadata view, 1146 a bogus bare ref)
      (s"$hin $fromKw ${items.head.in} $joinKw ${items(1).in} ON 1 = 1, ${items(2).in}$tail",
        s"$hout $fromKw ${items.head.out} $joinKw ${items(1).out} ON 1 = 1, ${items(2).out}$tail",
        miss)
    } else if (useJoin && items.size == 2) {
      (s"$hin $fromKw ${items.head.in} $joinKw ${items(1).in} ON 1 = 1$tail",
        s"$hout $fromKw ${items.head.out} $joinKw ${items(1).out} ON 1 = 1$tail",
        miss)
    } else {
      (s"$hin $fromKw " + items.map(_.in).mkString(", ") + tail,
        s"$hout $fromKw " + items.map(_.out).mkString(", ") + tail,
        miss)
    }
  }

  property("info-schema FROM grammar: comma lists, JOINs, derived/WITH/" +
      "TABLE/LATERAL items, expr-level FROMs, comments — byte-exact " +
      "qualification, no false 1146, no missed 1146") =
    forAll(genFromStmt) { case (in, expected, missing) =>
      if (missing)
        try { Engine.qualifyBareInfoSchema(in); false }
        catch { case e: Engine.EngineError => e.code == 1146 }
      else Engine.qualifyBareInfoSchema(in) == expected
    }

  /** Executed end-to-end on a session bound by USE information_schema —
    * the grammar above proven against the live metadata views. */
  private lazy val sessC = {
    val s = Engine.connect(spark, "prod", backends)
    Engine.sessionCommand(s, "USE information_schema")
    s
  }

  property("anchors: info-schema FROM grammar executes (comma join, " +
      "nested-subquery SUBSTRING, LATERAL, derived + comma, missed 1146)") = {
    // comma join across two metadata views (ADVICE r16 #1): the legacy
    // comma spelling must agree with the explicit JOIN of the same views
    val commaN = sessC.sql("SELECT COUNT(*) AS n FROM tables t, columns c " +
      "WHERE c.table_name = t.table_name AND t.table_name = 'region'")
      .head().getLong(0)
    val joinN = sessC.sql("SELECT COUNT(*) AS n FROM tables t JOIN columns c " +
      "ON c.table_name = t.table_name WHERE t.table_name = 'region'")
      .head().getLong(0)
    val b1 = joinN > 0 && commaN == joinN
    // a subquery nested directly inside SUBSTRING's paren still
    // qualifies its own FROM (ADVICE r16 #2)
    val b2 = sessC.sql("SELECT SUBSTRING((SELECT table_name FROM tables " +
      "WHERE table_name = 'region') FROM 1 FOR 3) AS s")
      .head().getString(0) == "reg"
    // the 1146 contract survives a comma list: the bogus SECOND item
    val b3 = try { sessC.sql("SELECT 1 FROM tables t, adv_nothere"); false }
      catch { case e: Engine.EngineError => e.code == 1146 }
    // LATERAL after a comma keeps its correlation AND table position
    val b5 = sessC.sql("SELECT tn FROM tables t, LATERAL " +
      "(SELECT t.table_name AS tn) l WHERE t.table_name = 'region'")
      .head().getString(0) == "region"
    // STRAIGHT_JOIN both ways (r17 code-review #1): the join-operator
    // spelling keeps its successor in table position; the SELECT-modifier
    // spelling must NOT put the first select-list column there
    val b7 = Engine.qualifyBareInfoSchema(
      "SELECT 1 FROM tables STRAIGHT_JOIN columns WHERE 1 = 1") ==
      "SELECT 1 FROM information_schema.tables STRAIGHT_JOIN " +
        "information_schema.columns WHERE 1 = 1"
    val b8 = Engine.qualifyBareInfoSchema(
      "SELECT STRAIGHT_JOIN table_name FROM tables") ==
      "SELECT STRAIGHT_JOIN table_name FROM information_schema.tables"
    // derived table then a comma back into table position: the comma's
    // right side must be the metadata view (count agrees with reading it
    // directly)
    val directN = sessC.sql("SELECT COUNT(*) AS n FROM tables " +
      "WHERE table_name = 'region'").head().getLong(0)
    val b6 = directN > 0 &&
      sessC.sql("SELECT COUNT(*) AS n FROM (SELECT 1 AS x) d, " +
        "tables WHERE table_name = 'region'").head().getLong(0) == directN
    // JOIN … ON …, item (ADVICE r17 #1): the post-ON comma re-enters
    // table position — the third item is the metadata view (count = the
    // two-view join times the schemata cardinality), and a bogus bare
    // ref after the ON's comma still answers 1146
    val schemataN = sessC.sql("SELECT COUNT(*) AS n FROM schemata")
      .head().getLong(0)
    val b9 = schemataN > 0 && sessC.sql(
      "SELECT COUNT(*) AS n FROM tables t JOIN columns c " +
        "ON c.table_name = t.table_name, schemata s " +
        "WHERE t.table_name = 'region'").head().getLong(0) == joinN * schemataN
    val b10 = try {
      sessC.sql("SELECT 1 FROM tables t JOIN columns c " +
        "ON c.table_name = t.table_name, adv_nothere"); false
    } catch { case e: Engine.EngineError => e.code == 1146 }
    // byte-exact qualification through ON and USING suspensions
    val b11 = Engine.qualifyBareInfoSchema(
      "SELECT 1 FROM mydb.t1 JOIN mydb.t2 ON a = b, tables WHERE 1 = 1") ==
      "SELECT 1 FROM mydb.t1 JOIN mydb.t2 ON a = b, " +
        "information_schema.tables WHERE 1 = 1"
    val b12 = Engine.qualifyBareInfoSchema(
      "SELECT 1 FROM mydb.t1 JOIN mydb.t2 USING (k), columns") ==
      "SELECT 1 FROM mydb.t1 JOIN mydb.t2 USING (k), " +
        "information_schema.columns"
    // ON DUPLICATE KEY UPDATE ends the suspended join-condition state
    // (r18 code-review #1): the assignment-list comma must not re-enter
    // table position — byte-exact passthrough, even for an assignment
    // target named like a metadata view
    val odku = "INSERT INTO v SELECT 1 FROM mydb.t1 JOIN mydb.t2 " +
      "ON a = b ON DUPLICATE KEY UPDATE tables = 1, q = 2"
    val b13 = Engine.qualifyBareInfoSchema(odku) == odku
    val all = Seq(b1, b2, b3, b5, b7, b8, b6, b9, b10, b11, b12, b13)
    all.zipWithIndex.foreach { case (ok, i) =>
      if (!ok) println(s"info-schema FROM anchor #${i + 1} FAILED")
    }
    all.forall(identity)
  }

  // ---- deterministic anchors (r14/r15 manual-pass findings) ----------------

  private def rows(s: Engine.Session, q: String) =
    Engine.sessionCommand(s, Engine.stripLeadingComments(q)).get.collect()

  property("anchors: the r14/r15 manual-pass findings stay fixed") = {
    // SHOW TABLES LIKE is case-SENSITIVE for table identifiers (ADVICE
    // r14: lower_case_table_names=0 + utf8mb4_bin compare byte-wise)...
    val a1 = rows(sessB, "SHOW TABLES LIKE 'REGION'").isEmpty
    val a2 = rows(sessB, "SHOW TABLES LIKE 'region'").length == 1
    // ...while SHOW COLUMNS LIKE is case-INsensitive (code-review r15 #1:
    // MySQL column names compare case-insensitively on every platform)
    val a3 = rows(sessB, "SHOW COLUMNS FROM region LIKE 'R_NAME'")
      .length == 1
    // JDBC-escaped LIKE wildcards match literally (code-review r14):
    // 'regi\_n' is the literal string, 'regi_n' the single-char wildcard
    val a4 = rows(sessB, "SHOW TABLES LIKE 'regi\\_n'").isEmpty
    val a5 = rows(sessB, "SHOW TABLES LIKE 'regi_n'").length == 1
    // multi-segment versioned comments must NOT stitch (code-review r14:
    // the lazy body would end at the LAST */ and execute garbage)
    val multi = "/*!50003 CREATE*/ /*!50017 DEFINER=x*/ /*!50003 TRIGGER t*/"
    val a6 = Engine.unwrapVersionComment(multi) == multi
    // SET <var> = NULL stores the NULL value, displayed empty (r14:
    // connector-j sends `SET character_set_results = NULL` on connect)
    sessA.sql("SET character_set_results = NULL")
    val a7 = rows(sessA,
      "SHOW VARIABLES LIKE 'character_set_results'").head.getString(1) == ""
    sessA.sql("SET NAMES utf8mb4")
    // leading comments: MySQL's answer shape, not Spark's (r16 finding —
    // clients prefix `/* ping */`; Spark's SHOW TABLES answers
    // `namespace`, breaking clients that read Tables_in_* by name)
    val a8 = sessB.sql("/* ping */ SHOW TABLES")
      .schema.fieldNames.head.startsWith("Tables_in")
    val a9 = intercepted(sessA, "-- hi\nSET NAMES utf8mb4")
    val a10 = intercepted(sessA, "# note\nBEGIN") && {
      sessA.sql("COMMIT"); true
    }
    // the versioned form is NEVER comment-stripped (it is semantic)
    val a11 = Engine.stripLeadingComments("/*!40103 SET @x=1 */") ==
      "/*!40103 SET @x=1 */"
    // ...but a versioned comment BEHIND leading plain comments still
    // executes its body, like MySQL (code-review r16 #5)
    sessA.sql("/* ping */ /*!40101 SET @adv_v = 3 */")
    val a12 = sessA.userVar("adv_v").contains("3")
    // MySQL `#` comments translate for Spark's parser on the relay path
    // (Spark has no `#` form) — literals keep their bytes
    val a13 = sessB.sql("SELECT '#keep' AS x # trailing note")
      .head().getString(0) == "#keep"
    val all = Seq(a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12, a13)
    all.zipWithIndex.foreach { case (ok, i) =>
      if (!ok) println(s"DialectAdversary anchor a${i + 1} FAILED")
    }
    all.forall(identity)
  }
}
