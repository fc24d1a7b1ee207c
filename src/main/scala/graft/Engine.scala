package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Session façade — the Spark-native analog of the reference gateway's
  * connection lifecycle (SURVEY.md §2A, §3.4).
  *
  * The reference routes a client by splitting the MySQL username at the first
  * `.` into `(clusterId, user)` and resolving the cluster id case-insensitively
  * against its backend table (/root/reference/gateway/gateway.go:253-267,
  * /root/reference/gateway/config.go:28-35). Here the "backend clusters" are
  * data namespaces (fixture scale-factor directories / databases) bound into a
  * per-client `SparkSession.newSession()`; the relay fast path
  * (/root/reference/gateway/relay.go:12-30) becomes `session.sql(...)` —
  * Catalyst replaces "copy bytes" with "run the plan".
  */
object Engine {

  /** Structured engine error — analog of the gateway's ERR packet
    * (code 1105, SQLSTATE "08S01", /root/reference/gateway/gateway.go:242-251,
    * /root/reference/mysql/packet_err.go:13-21). */
  final case class EngineError(code: Int, sqlState: String, message: String)
      extends RuntimeException(s"ERROR $code ($sqlState): $message")

  /** Engine identity string — analog of the server-version the gateway greets
    * with ("5.7.25-TiDB…", /root/reference/gateway/gateway.go:183-195). */
  /** Server version string, greeting + `@@version`. MySQL-parseable
    * `major.minor.patch-<suffix>` on purpose (r14): stock connectors parse
    * the numeric prefix from the greeting to gate capabilities and some
    * (connector-j's ServerVersion) degrade to 0.0.0 on a non-numeric
    * string — the same reason TiDB self-reports "8.0.11-TiDB-v…", which is
    * exactly what the reference gateway's clients see in the greeting it
    * relays (/root/reference/mysql/packet_handshake.go:19-21). The 80000
    * compat level in [[effectiveMysqlVersion]] matches the prefix. */
  val version = "8.0.11-graft-0.1-spark"

  /** Per-session system-variable defaults — the variables every MySQL client
    * touches right after the handshake the gateway relays
    * (/root/reference/gateway/relay.go:12-30 carries these byte-
    * transparently; the mysql CLI's first statement is
    * `select @@version_comment limit 1`). Collation default matches the
    * reference's utf8mb4_bin (/root/reference/mysql/constants.go:6). */
  private[graft] val defaultSysVars: Map[String, String] = Map(
    "version" -> version,
    "version_comment" -> "graft Spark engine",
    "autocommit" -> "1",
    "sql_mode" -> "STRICT_TRANS_TABLES",
    "character_set_client" -> "utf8mb4",
    "character_set_connection" -> "utf8mb4",
    "character_set_results" -> "utf8mb4",
    "collation_connection" -> "utf8mb4_bin",
    "time_zone" -> "UTC",
    "max_execution_time" -> "0",
    "long_query_time" -> "10",
    "max_allowed_packet" -> "67108864",
    "sql_select_limit" -> "0",
    "wait_timeout" -> "28800",
    "net_write_timeout" -> "60",
    "interactive_timeout" -> "28800",
    "transaction_isolation" -> "REPEATABLE-READ",
    // the rest of the variables a STOCK connector's opening burst reads
    // (r14 conformance sweep — no stock driver ships in this container,
    // so the burst queries are replayed verbatim by MySqlServerSpec):
    // mysql-connector-j 8.x SELECTs all of these with aliases right after
    // auth and aborts the connection on ER 1193 for any one of them;
    // tx_isolation is the pre-8.0.3 spelling older connectors read.
    "auto_increment_increment" -> "1",
    "auto_increment_offset" -> "1",
    "character_set_server" -> "utf8mb4",
    "collation_server" -> "utf8mb4_bin",
    "character_set_database" -> "utf8mb4",
    "collation_database" -> "utf8mb4_bin",
    "init_connect" -> "",
    "license" -> "Apache-2.0",
    "lower_case_table_names" -> "0",
    "performance_schema" -> "0",
    "system_time_zone" -> "UTC",
    "net_read_timeout" -> "30",
    "sql_auto_is_null" -> "0",
    "query_cache_size" -> "0",
    "query_cache_type" -> "0",
    "tx_isolation" -> "REPEATABLE-READ")

  /** Sentinel for a system/user variable SET to literal NULL
    * (`SET character_set_results = NULL` is in mysql-connector-j's opening
    * burst). Reads substitute a NULL literal; SHOW VARIABLES displays the
    * empty string, both per MySQL. The sentinel is NUL-prefixed so no
    * quoted client value can collide (NUL never survives [[unquote]]). */
  private[graft] val SysVarNull: String = "\u0000NULL"

  /** The one sysvar default read OFF the variable map (the slow-query
    * listener's volatile snapshot) — derived from [[defaultSysVars]] so the
    * map and the snapshot can never disagree on the default. */
  private[Engine] val defaultLongQueryTime: Double =
    defaultSysVars("long_query_time").toDouble

  /** `max_allowed_packet` default (64 MiB, the MySQL 8 default) and the
    * range MySQL clamps a SET to (1 KiB … 1 GiB). The reference carries the
    * same per-connection bound and setter
    * (/root/reference/mysql/conn.go:89-90, SetMaxAllowedPacket at
    * conn.go:118-121); here the ACTIVE bound is read by the wire server as
    * it joins inbound multi-packet payloads — the matching size bound to
    * the r12 read deadline. */
  private[graft] val defaultMaxAllowedPacket: Long =
    defaultSysVars("max_allowed_packet").toLong
  private[graft] val MaxAllowedPacketFloor = 1024L
  private[graft] val MaxAllowedPacketCeil = 1073741824L

  /** Session-view append arms between plan compactions
    * ([[Session.swapAppendedView]]): small enough that per-statement
    * analyzer cost on a single-row-INSERT restore stays flat, large enough
    * that mysqldump's extended-insert default (a handful of statements per
    * table) never pays a checkpoint at all. */
  private[graft] val appendCompactEvery = 64

  /** Process-global `Slow_queries` — MySQL surfaces this counter as GLOBAL
    * status only; every session's slow action bumps it alongside the
    * per-session count SHOW SESSION STATUS reports (ADVICE r12). */
  private[graft] val globalSlowQueries =
    new java.util.concurrent.atomic.AtomicLong

  /** `Max_used_connections`: peak simultaneous registry size since start —
    * the capacity-planning counter MySQL pairs with the connection cap the
    * wire server enforces (ER 1040). */
  private[graft] val maxUsedConnections =
    new java.util.concurrent.atomic.AtomicLong

  /** Server status bits (/root/reference/mysql/constants.go:22-37) — the
    * flag word the gateway forwards in OK/EOF packets. The engine derives
    * the live ones from session state ([[Session.statusFlags]]);
    * PsOutParams is mapped for completeness but never set — it marks a
    * stored procedure's OUT-parameter result set, a surface the engine
    * (like the reference, which only relays it) does not originate. */
  private[graft] object Status {
    val InTrans = 0x0001
    val Autocommit = 0x0002
    val MoreResultsExists = 0x0008
    val CursorExists = 0x0040
    val LastRowSent = 0x0080
    val PsOutParams = 0x1000
  }

  /** Map a MySQL collation name (the id↔name tables at
    * /root/reference/mysql/constants.go:77-298, :301-522) onto the Spark 4
    * collation with the same comparison semantics — table-driven through
    * [[Collations]], which carries the reference's full 220-entry registry
    * (EngineSpec resolves every id and name in it): `_bin`/`_cs`/`binary`
    * compare case-sensitively → UTF8_BINARY (the engine's pinned default,
    * matching the reference's utf8mb4_bin = id 46 at constants.go:6); every
    * `_ci` collation (general_ci, unicode_ci, 520_ci, 0900_ai_ci, …)
    * compares case-insensitively → UTF8_LCASE, Spark's native lowercase
    * collation. */
  private[graft] def sparkCollation(mysqlCollation: String): String =
    Collations.family(mysqlCollation)

  /** Build the shared SparkSession with the engine's pinned defaults: UTC
    * session time zone + binary (codepoint) string comparison, matching the
    * reference's utf8mb4_bin default collation
    * (/root/reference/mysql/constants.go:6). AQE on for runtime re-planning at
    * scale (skew joins, shuffle coalescing). */
  def build(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(version)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A routed client session: isolated temp-view namespace over a shared
    * SparkContext — the analog of one relayed connection
    * (goroutine-per-connection, /root/reference/gateway/gateway.go:63-64). */
  /** Monotone connection ids — the analog of the gateway's per-connection
    * identity (goroutine per conn, /root/reference/gateway/gateway.go:63-64). */
  private val connCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Engine start instant for the SHOW STATUS Uptime counter. */
  private val startNanos = System.nanoTime()

  final class Session private[Engine] (val spark: SparkSession,
      val clusterId: String, val user: String = "",
      /** ClientConnectAttrs analog: the key-value attributes a client sends
        * in its handshake response (program_name, _client_version, …;
        * /root/reference/mysql/packet_handshake_response.go:88-96). Carried
        * for introspection — SHOW PROCESSLIST surfaces program_name. */
      val attrs: Map[String, String] = Map.empty) {

    /** CONNECTION_ID() analog. */
    val connectionId: Long = connCounter.incrementAndGet()

    /** MySQL session-variable state: system variables (pre-seeded with the
      * handshake-era defaults above) and `@user` variables. Mutated only by
      * the SET interception in [[sql]]; reads substitute into the query text
      * before Spark parses it. */
    private val sysVars =
      scala.collection.mutable.Map(Engine.defaultSysVars.toSeq: _*)
    private val userVars = scala.collection.mutable.Map.empty[String, String]

    /** Current value of a system variable, if set (test/introspection hook). */
    def variable(name: String): Option[String] = sysVars.get(name.toLowerCase)

    /** The Spark collation this session's MySQL `collation_connection` maps
      * onto — what a caller passes to `COLLATE`/`functions.collate` to get
      * the client's comparison semantics (see [[Engine.sparkCollation]]). */
    def sparkCollation: String =
      Engine.sparkCollation(sysVars.getOrElse("collation_connection",
        "utf8mb4_bin"))

    /** COM_PING analog (/root/reference/mysql/constants.go command bytes are
      * relayed opaquely): liveness of the routed backend. */
    def ping(): Boolean = !spark.sparkContext.isStopped

    /** SERVER_STATUS_IN_TRANS analog (the status bit the gateway advertises
      * via ClientTransactions and relays on every OK packet,
      * /root/reference/mysql/constants.go:9,23-24). BEGIN/COMMIT/ROLLBACK
      * statements flip it in [[sql]]; Spark-side statement execution is
      * individually atomic (the parquet/SQL commit protocols), so the flag
      * is connection STATE faithfully tracked — not a multi-statement
      * rollback engine, which the reference (a relay) doesn't implement
      * either. */
    def inTransaction: Boolean = inTrans
    private[Engine] var inTrans = false

    /** Rebind this session to another data namespace — the engine analog of
      * COM_INIT_DB / `USE db` (the runtime cousin of the handshake's
      * ClientConnectWithDB database field,
      * /root/reference/mysql/packet_handshake_response.go:119-129): same
      * connection, new default schema. Unknown names raise the structured
      * engine error like cluster routing does. */
    def use(db: String, databases: Map[String, String]): Unit =
      if (db.equalsIgnoreCase("information_schema")) {
        // MySQL's always-present metadata schema: USE only flips which
        // namespace the unqualified SHOW/DESCRIBE family lists — the data
        // binding is untouched (there is no data dir to rebind to), same
        // as a real server where information_schema holds no user tables
        inInfoSchema = true
      } else {
        if (databases.isEmpty &&
            db.equalsIgnoreCase(spark.catalog.currentDatabase)) {
          // a session routed WITHOUT a databases map still advertises its
          // current database in SHOW DATABASES — that row must round-trip
          // through USE as the one namespace it already is (code-review
          // r15); resolving it through the empty map answered 1105
        } else {
          // resolve BEFORE mutating any session state: a failed USE must
          // leave the default schema (incl. information_schema) untouched,
          // like MySQL (code-review r15 #2)
          val dir = Engine.resolve(db, databases, "database")
          Tables.register(spark, dir)
          // a rebind replaces every fixture-named view's schema, which a
          // session-local DROP+CREATE may have shadowed — the DDL-only
          // schema generation must see it (code-review r15 #1)
          Engine.noteSchemaSwap(spark)
        }
        inInfoSchema = false
      }

    /** True after `USE information_schema`: unqualified SHOW TABLES /
      * SHOW COLUMNS / SHOW TABLE STATUS / DATABASE() answer the metadata
      * schema until the next USE, like MySQL. */
    private[Engine] var inInfoSchema = false

    /** The database map bound at [[Engine.connect]] — lets the text
      * `USE db` statement (dump files, script replay, multi-statement
      * batches) resolve exactly like the wire's COM_INIT_DB, which passes
      * the same map explicitly. */
    private[Engine] var boundDatabases: Map[String, String] = Map.empty
    /** The "relay": execute SQL against the routed namespace. MySQL
      * session-state statements (`SET NAMES`, `SET @@x = v`, `SET @u = v`,
      * `SHOW VARIABLES`) are absorbed into this session's variable store —
      * the state a real gateway connection accumulates from its client's
      * handshake-era statements — and `@@var`/`@var` references in any other
      * statement substitute their current values before Spark parses.
      * Analysis and parse failures surface as the structured engine error,
      * the way the gateway wraps any internal failure into one ERR packet
      * (code 1105/"08S01", /root/reference/gateway/gateway.go:242-251) —
      * execution-time failures propagate as-is (the backend's own error,
      * relayed verbatim). */
    /** MySQL `Questions` analog: statements handled on this connection
      * (intercepted AND relayed; the running SHOW STATUS counts itself,
      * matching MySQL). */
    private[Engine] var questions = 0L

    /** MySQL `Slow_queries`: actions on this session whose measured
      * execution exceeded `long_query_time` seconds. Bumped from the
      * listener below (listener-bus thread) and read by SHOW STATUS
      * (connection thread), hence atomic. */
    private[graft] val slowQueries = new java.util.concurrent.atomic.AtomicLong

    /** The registered slow-query listener, unregistered by [[close]] so a
      * departed connection leaves nothing behind on its session's listener
      * bus (the bus itself holds only a sessionUUID string — verified
      * against Spark 4.1.2's ExecutionListenerBus — so it never pins the
      * SparkSession either way). */
    private[Engine] var slowListener:
        org.apache.spark.sql.util.QueryExecutionListener = _

    // Slow-query accounting seam. Session.sql returns a LAZY frame — the
    // engine never sees execution time there — so the counter hangs off
    // Spark's own action callback instead: a QueryExecutionListener on this
    // session's listener manager observes every action's measured duration
    // (embedded collect() and the wire server's result materialization hit
    // the same seam). The reference (a relay) has no analog because it
    // never executes; `long_query_time`/`Slow_queries` are the MySQL
    // surface its clients' monitoring expects. NOTE: Spark delivers these
    // callbacks asynchronously on the listener bus — the counter is
    // eventually consistent with the action, which matches MySQL's own
    // status-counter semantics (no read-your-writes guarantee).
    // The listener reaches this Session ONLY through a weak reference
    // (it is CONSTRUCTED in the Engine object so no $outer edge to the
    // Session sneaks in): it lives on the SparkSession — pinned by memo
    // frames until swept — and a strong sess→Session edge would make the
    // abandoned-session registry sweep, which keys on the WRAPPER being
    // collectable, never fire (the EngineSpec GC-prune case catches it).
    Engine.registerSlowQueryListener(this)

    /** `long_query_time` in seconds (fractional allowed, MySQL surface),
      * published as a volatile snapshot by [[setSysVar]] so the
      * listener-bus thread never reads the mutable sysVars map while the
      * connection thread mutates it. */
    @volatile private[Engine] var longQueryThresholdSnapshot: Double =
      Engine.defaultLongQueryTime
    private[Engine] def longQueryThresholdSec: Double =
      longQueryThresholdSnapshot

    /** The SHOW STATUS / COM_STATISTICS counter set (name, value-string).
      * `Slow_queries` is scope-sensitive the way MySQL defines it: a
      * GLOBAL read reports the process-wide counter (monitoring reads
      * GLOBAL STATUS — ADVICE r12), the SESSION read keeps this
      * connection's count. */
    private[Engine] def statusCounters(
        global: Boolean = false): Seq[(String, String)] = Seq(
      "Uptime" -> ((System.nanoTime() - Engine.startNanos) / 1000000000L)
        .toString,
      "Questions" -> questions.toString,
      "Slow_queries" -> (if (global) Engine.globalSlowQueries.get
                         else slowQueries.get).toString,
      "Threads_connected" -> Engine.registry.size.toString,
      "Max_used_connections" -> Engine.maxUsedConnections.get.toString,
      "Connections" -> Engine.connCounter.get.toString)

    /** COM_STATISTICS one-liner (the `mysqladmin status` response shape). */
    def statistics: String = {
      val c = statusCounters().toMap
      s"Uptime: ${c("Uptime")}  Threads: ${c("Threads_connected")}  " +
        s"Questions: ${c("Questions")}"
    }

    def sql(query: String): DataFrame = {
      questions += 1
      // a WHOLE-statement version-conditional comment executes its body
      // (mysqldump's opening/closing sequences) — one seam covers every
      // caller: sql, sqlMySql, batch, the wire COM_QUERY path
      val query0 = preprocess(query)
      // interception MATCHES on comment-stripped text (clients prefix
      // statements with `/* ping */`-style comments; MySQL parses through
      // them) — but a NON-intercepted statement relays byte-identical,
      // comments included (Spark parses its own comments; the dialect
      // layer must never rewrite text it does not handle)
      Engine.sessionCommand(this, Engine.stripLeadingComments(query0))
        .getOrElse {
        // tag the calling thread's jobs with this connection's group so a
        // peer's KILL QUERY <connection_id> can cancel them mid-flight
        spark.sparkContext.setJobGroup(jobGroup, query0.take(120),
          interruptOnCancel = true)
        val q = Engine.translateHashComments(substituted(query0))
        try spark.sql(q)
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw EngineError(1105, "08S01", e.getMessage)
        }
      }
    }

    /** Statement-text preprocessing shared by the text path ([[sql]]) and
      * the binary prepared-statement path ([[PreparedStatement]]): a
      * WHOLE-statement version-conditional comment executes its body, and
      * information_schema references (re)materialize the metadata views
      * and rewrite onto them (token-safe). */
    private[graft] def preprocess(query: String): String = {
      // a whole-statement versioned comment may arrive BEHIND leading
      // plain comments (`/* ping */ /*!40101 SET … */`) — MySQL parses
      // through them; only when the stripped text unwraps (or rejects
      // with 1065) does the stripped form win, otherwise the original
      // bytes flow on (code-review r16 #5)
      val q1 = {
        val bare = Engine.stripLeadingComments(query)
        val u = Engine.unwrapVersionComment(bare)
        if (u ne bare) u else Engine.unwrapVersionComment(query)
      }
      // after USE information_schema, bare table refs (`FROM TABLES`)
      // resolve in the metadata schema like any default db — qualify them
      // so the single qualified-rewrite path below serves both spellings
      val q2 = if (inInfoSchema) Engine.qualifyBareInfoSchema(q1) else q1
      if (Engine.infoSchemaDetect.findFirstIn(q2).isDefined) {
        Engine.registerInfoSchema(this)
        Engine.rewriteInfoSchema(q2)
      } else q2
    }

    /** `@@sysvar` / `@uservar` / client-identity-function substitution —
      * shared by both protocol paths; the binary path applies it at
      * EXECUTE time, per MySQL (session state is read when the statement
      * RUNS, not when it was prepared). */
    private[graft] def substituted(query: String): String =
      if (query.indexOf('@') >= 0 ||
          Engine.clientFnDetect.findFirstIn(query).isDefined)
        Engine.substituteVars(query, sysVars.toMap, userVars.toMap,
          clientFnSubs)
      else query

    /** Spark job-group id carrying this connection's identity — the handle
      * `KILL QUERY <connection_id>` cancels (COM_PROCESS_KILL analog: the
      * gateway relays KILL to the backend byte-transparently,
      * /root/reference/gateway/relay.go:17; here the "backend" is the
      * shared SparkContext, so the kill maps to cancelJobGroup). */
    def jobGroup: String = s"graft-conn-$connectionId"

    /** MySQL client-identity function substitutions (USER() = the backend
      * user the handshake username carried after the cluster-id split,
      * qualified by the routed cluster the way MySQL qualifies by host). */
    private def clientFnSubs: Map[String, String] = Map(
      "connection_id" -> connectionId.toString,
      "current_user" -> s"'$user@$clusterId'",
      "session_user" -> s"'$user@$clusterId'",
      "system_user" -> s"'$user@$clusterId'",
      "user" -> s"'$user@$clusterId'",
      "database" ->
        (if (inInfoSchema) "'information_schema'" else "current_database()"),
      "schema" ->
        (if (inInfoSchema) "'information_schema'" else "current_database()"),
      // SQLAlchemy's _get_server_version_info parses SELECT VERSION();
      // Spark's own version() answers the SPARK version string, which a
      // MySQL client would mis-parse (r15)
      "version" -> s"'${Engine.version}'")

    private[Engine] def setSysVar(name: String, value: String): Unit = {
      // the one variable with an engine-level effect: MySQL time_zone maps
      // onto Spark's session time zone (offsets like '+05:30' parse in both;
      // SYSTEM normalizes to the engine's pinned UTC default). NULL is not
      // a time zone: MySQL answers ER 1231 and leaves the session healthy —
      // storing the sentinel would poison spark.sql.session.timeZone for
      // every later timestamp query (code-review r14). The other
      // engine-effect vars (long_query_time, max_allowed_packet) already
      // reject the sentinel through their numeric parse → ER 1232.
      if (name == "time_zone" && value == Engine.SysVarNull)
        throw EngineError(1231, "42000",
          "Variable 'time_zone' can't be set to the value of 'NULL'")
      val v = if (name == "time_zone" && value.equalsIgnoreCase("SYSTEM")) "UTC"
              else value
      // numeric variables with an ACTIVE engine-side effect validate before
      // storing: MySQL answers ER 1232 (ER_WRONG_TYPE_FOR_VAR) to a
      // non-numeric SET rather than letting the visible variable and the
      // live threshold disagree (ADVICE r12 on long_query_time)
      if (name == "long_query_time") {
        val d =
          try v.toDouble
          catch { case _: NumberFormatException =>
            throw EngineError(1232, "42000",
              s"Incorrect argument type to variable 'long_query_time'")
          }
        sysVars(name) = v
        // the one sysvar read OFF-THREAD (the slow-query listener runs on
        // the listener bus): publish through a volatile snapshot instead of
        // letting another thread read the unsynchronized mutable map
        // mid-SET (code-review r12)
        longQueryThresholdSnapshot = d
        return
      }
      if (name == "max_allowed_packet") {
        // MySQL clamps the value into [1 KiB, 1 GiB] and stores the clamp;
        // the stored value IS the active wire bound (read per inbound
        // payload join by MySqlServer), so the two can never disagree
        val n =
          try v.toLong
          catch { case _: NumberFormatException =>
            throw EngineError(1232, "42000",
              s"Incorrect argument type to variable 'max_allowed_packet'")
          }
        val clamped = math.max(Engine.MaxAllowedPacketFloor,
          math.min(Engine.MaxAllowedPacketCeil, n))
        sysVars(name) = clamped.toString
        maxAllowedPacketSnapshot = clamped
        return
      }
      sysVars(name) = v
      if (name == "time_zone") spark.conf.set("spark.sql.session.timeZone", v)
    }

    /** Active `max_allowed_packet` bound in bytes — volatile for the same
      * reason as the slow-query threshold (the wire thread reads it between
      * commands while SET mutates it on the same logical connection but the
      * compiler need not prove that). */
    @volatile private[graft] var maxAllowedPacketSnapshot: Long =
      Engine.defaultMaxAllowedPacket
    private[Engine] def setUserVar(name: String, value: String): Unit =
      userVars(name) = value
    private[graft] def sysVarSnapshot: Map[String, String] = sysVars.toMap
    private[graft] def userVar(name: String): Option[String] =
      userVars.get(name.toLowerCase)

    /** Text-protocol prepared statements (`PREPARE name FROM '…?…'`) — the
      * SQL-level cousin of [[prepareStatement]] (COM_STMT_PREPARE analog): the
      * gateway relays both forms opaquely and tracks only the status bits
      * (/root/reference/mysql/constants.go:22-37). Bound on EXECUTE with
      * `?` placeholders replaced by USING user-variable values, token-safe
      * and literal-escaped (injection behaves like the binary protocol). */
    private[Engine] val prepared =
      scala.collection.mutable.Map.empty[String, String]
    def table(name: String): DataFrame = spark.table(name)

    /** Live SERVER_STATUS word (/root/reference/mysql/constants.go:22-37)
      * of the SESSION: in-transaction and autocommit. MySQL clears the
      * per-command bits at the start of every command
      * (`SERVER_STATUS_CLEAR_SET`), so they never live here: a statement's
      * cursor bits come from [[PreparedStatement.statusFlags]] on its own
      * EXECUTE/FETCH responses, and MORE_RESULTS_EXISTS from the caller
      * walking a [[batch]]. */
    def statusFlags: Int = {
      var f = 0
      if (inTrans) f |= Engine.Status.InTrans
      if (sysVars.getOrElse("autocommit", "1") == "1")
        f |= Engine.Status.Autocommit
      f
    }

    /** A MySQL multi-statement text (ClientMultiStatements) as its result
      * sets, one per statement — the one batch entry for the wire's
      * COM_QUERY and in-process callers. The text is split once
      * ([[Engine.splitStatements]]: token-safe, `#` comments stripped) and
      * each statement runs through [[sqlMySql]] only when the iterator
      * reaches it, so statements execute lazily and IN ORDER: session state
      * accumulates like sequential calls (`SET NAMES utf8mb4; SET
      * autocommit=1; SELECT @@version` behaves as three single statements),
      * a later failing statement never poisons earlier result sets, and
      * `hasNext` never runs anything — it is the MORE_RESULTS_EXISTS bit of
      * the flush-per-result-set relay
      * (/root/reference/gateway/relay.go:85-99). A text holding at most one
      * statement runs as given, unsplit. */
    def batch(text: String): Iterator[DataFrame] = {
      val stmts = Engine.splitStatements(text)
      (if (stmts.lengthCompare(1) > 0) stmts else Seq(text))
        .iterator.map(sqlMySql)
    }

    /** Execute SQL written in the MySQL dialect the reference's clients
      * speak: runs [[Engine.translateMySql]] (`LIMIT a,b` → `LIMIT b OFFSET
      * a`, `#`-comment stripping) before the relay. Spark already accepts
      * the rest of the §7.2 P6 surface natively (backtick identifiers,
      * `ifnull`/`nvl`/`instr`/`if`, and the extension-registered
      * `group_concat`). */
    def sqlMySql(query: String): DataFrame = sql(Engine.translateMySql(query))

    // ---- binary prepared-statement protocol analog ----------------------

    /** Statement-id counter + registry backing the binary-protocol analog
      * (ids are per-connection in MySQL; so are these). */
    private val stmtCounter = new java.util.concurrent.atomic.AtomicLong(0)
    private[Engine] val stmts =
      scala.collection.mutable.Map.empty[Long, PreparedStatement]

    /** COM_STMT_PREPARE analog — the binary-protocol entry real connectors
      * (JDBC, mysql-connector) use by default; the gateway relays it
      * end-to-end (capability bits /root/reference/mysql/constants.go:40-66,
      * relay /root/reference/gateway/relay.go:47-99). The text is MySQL
      * dialect and goes through [[Engine.translateMySql]] like [[sqlMySql]],
      * so a statement prepares the same in-process and over the wire.
      * Returns a typed handle carrying the statement id and the `?`
      * parameter count (counted token-safely, like the prepare-response's
      * num_params field); parameters later bind TYPED — never through the
      * SQL text. */
    def prepareStatement(query: String): PreparedStatement = {
      val id = stmtCounter.incrementAndGet()
      val translated = Engine.translateMySql(query)
      val ps = new PreparedStatement(this, id, translated,
        Engine.countParams(translated))
      stmts(id) = ps
      ps
    }

    /** COM_STMT_FETCH analog: pull up to `n` rows from the held cursor of
      * statement `handle` (opened by [[PreparedStatement.executeCursor]]);
      * the statement's own [[PreparedStatement.statusFlags]] then reports
      * CURSOR_EXISTS while rows remain and LAST_ROW_SENT once it drains.
      * Fetching a handle with no open cursor is MySQL's 1324-adjacent
      * sequence error (the reference relays the backend's ERR verbatim;
      * here it is the structured engine error). */
    def fetch(handle: Long, n: Int): Seq[org.apache.spark.sql.Row] = {
      val it = stmts.get(handle).flatMap(_.cursor).getOrElse(
        throw EngineError(1105, "08S01",
          s"no open cursor for statement $handle (execute with cursor first)"))
      val out = Vector.newBuilder[org.apache.spark.sql.Row]
      var k = 0
      while (k < n && it.hasNext) { out += it.next(); k += 1 }
      out.result()
    }

    /** Prepared-statement lookup by id — the wire front-end's
      * COM_STMT_EXECUTE/FETCH/RESET/CLOSE resolve their handles through
      * this. */
    private[graft] def statement(handle: Long): Option[PreparedStatement] =
      stmts.get(handle)

    /** COM_QUIT analog: cancel in-flight work and leave the processlist
      * (temp views die with the session wrapper). */
    /** COM_RESET_CONNECTION analog (`mysql_reset_connection`): drop all
      * session state — user variables, text and binary prepared statements
      * (with their cursors), the transaction flag, and system variables
      * back to the connect-time defaults — without re-running the
      * handshake. The data namespace binding (routed cluster/database)
      * survives, exactly like the real command (it re-auths nothing and
      * changes no schema). */
    def resetConnection(): Unit = {
      userVars.clear()
      prepared.clear()
      stmts.clear()
      inTrans = false
      sysVars.clear()
      sysVars ++= Engine.defaultSysVars
      longQueryThresholdSnapshot = Engine.defaultLongQueryTime
    }

    /** Wire-level `LOAD DATA LOCAL INFILE` body: append client-supplied
      * delimited bytes into an existing session table. The target schema
      * drives the parse exactly like the statement-level server-path form
      * (the 0xFB file-request exchange the reference advertises via
      * ClientLocalFiles and relays opaquely — /root/reference/mysql/
      * constants.go:48, gateway/relay.go:47-99). Returns the appended row
      * count; the view rebuild is the same lazy UNION ALL, so nothing is
      * driver-materialized beyond the received wire bytes themselves. */
    def loadLocalData(table: String, sep: String, data: Array[Byte]): Long = {
      val existing =
        try spark.table(table)
        catch { case _: Exception =>
          throw EngineError(1146, "42S02", s"Table '$table' doesn't exist")
        }
      import spark.implicits._
      val lines = scala.collection.immutable.ArraySeq.unsafeWrapArray(
        new String(data, java.nio.charset.StandardCharsets.UTF_8)
          .split("\r?\n")).filter(_.nonEmpty)
      val csv = spark.read.schema(existing.schema).option("sep", sep)
        .csv(spark.createDataset(lines))
      val n = csv.count()
      swapAppendedView(table, existing.unionAll(csv))
      n
    }

    /** UNION ALL arms stacked onto each session view since its last
      * compaction. The append paths (INSERT INTO view, LOAD DATA, wire
      * LOCAL INFILE) each add one arm per statement — fine for mysqldump's
      * extended-insert default, but a `--skip-extended-insert` dump (one
      * INSERT per row) would build an N-deep plan: O(N²) total analyzer
      * cost and eventual planner stack overflow (VERDICT r14 #1). */
    private val appendArms = scala.collection.mutable.Map.empty[String, Int]

    /** Swap `table`'s temp view to `unioned`, compacting the accumulated
      * plan through an eager `localCheckpoint()` every
      * [[Engine.appendCompactEvery]] appends so per-statement analyzer work
      * stays O(K) — the same truncate-the-lineage pattern the iterative
      * fixpoint rule uses. The checkpoint materializes real data (one
      * distributed job per K statements, amortized O(rows/K) per
      * statement); correctness is untouched — a checkpointed plan is the
      * same rows behind a leaf scan. */
    private[Engine] def swapAppendedView(table: String,
        unioned: org.apache.spark.sql.DataFrame): Unit = {
      val key = table.toLowerCase
      val arms = appendArms.getOrElse(key, 0) + 1
      if (arms >= Engine.appendCompactEvery) {
        unioned.localCheckpoint(true).createOrReplaceTempView(table)
        appendArms(key) = 0
      } else {
        unioned.createOrReplaceTempView(table)
        appendArms(key) = arms
      }
      graft.sources.Tables.noteViewSwap(spark)
    }

    /** A DROP/CREATE of the name starts a fresh plan — reset its arm
      * count so compaction cadence tracks the live view, not a departed
      * namesake. */
    private[Engine] def resetAppendArms(table: String): Unit =
      appendArms.remove(table.toLowerCase)

    def close(): Unit = {
      spark.sparkContext.cancelJobGroup(jobGroup)
      Engine.registry.remove(connectionId)
      // release per-session caches (fixture binding, trained-artifact
      // memos) — a long-lived server must not retain one SparkSession per
      // departed connection (ADVICE r09)
      graft.sources.Tables.release(spark)
      if (slowListener != null)
        try spark.listenerManager.unregister(slowListener)
        catch { case _: Exception => () }
      Engine.lifecycle("close", connectionId, clusterId)
    }
  }

  /** A prepared-statement handle — the engine analog of the binary
    * protocol's COM_STMT_PREPARE response (statement id + parameter count):
    * the reference gateway advertises ClientPluginAuth-era capabilities and
    * relays the binary protocol byte-transparently
    * (/root/reference/mysql/constants.go:40-66,
    * /root/reference/gateway/relay.go:47-99), and real MySQL connectors
    * (JDBC, mysql-connector) PREPARE/EXECUTE in binary mode by default —
    * so the engine needs a typed analog, not just the text protocol.
    *
    * Parameters bind TYPED through Spark's positional parameterized-SQL
    * API: each argument becomes a Catalyst literal of its JVM type
    * (Int/Long/Double/String/Timestamp/…; `null` = the typed NULL the wire
    * protocol marks in its null bitmap). The values NEVER pass through the
    * SQL text, so injection is impossible by construction — the EngineSpec
    * case binds a `' OR '1'='1` payload and proves it stays one literal. */
  final class PreparedStatement private[Engine] (s: Session,
      val statementId: Long, val query: String, val paramCount: Int) {

    /** Accumulated COM_STMT_SEND_LONG_DATA chunks per parameter index. */
    private val longData = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.ArrayBuffer[Array[Byte]]]

    /** COM_STMT_SEND_LONG_DATA analog: stream one chunk of a long
      * BLOB/TEXT parameter ahead of EXECUTE — the remaining piece of the
      * binary prepared-statement lifecycle the gateway relays opaquely
      * (/root/reference/gateway/relay.go:47-99; real connectors chunk any
      * parameter above max_allowed_packet this way). Chunks APPEND per
      * parameter (protocol: no offsets, no acknowledgement); at EXECUTE the
      * concatenation binds as ONE typed binary parameter, overriding the
      * positional value at that index, and is then discarded — the server
      * frees long data when execution COMPLETES, so a re-execute without
      * re-sending uses the plain binds. A FAILED execute retains the
      * chunks (a retry after a transient analysis failure must not
      * silently bind NULL); [[reset]] is the COM_STMT_RESET analog for
      * discarding without executing. Out-of-range indexes raise MySQL's
      * 1210 like an arity mismatch. */
    def sendLongData(paramIdx: Int, chunk: Array[Byte]): Unit = {
      if (paramIdx < 0 || paramIdx >= paramCount)
        throw EngineError(1210, "HY000",
          s"parameter index $paramIdx out of range for $paramCount markers")
      // max_allowed_packet bounds the TOTAL accumulated long data across a
      // statement's parameters (MySQL's contract: a parameter bigger than
      // the bound is ER 1153). SEND_LONG_DATA answers nothing by protocol,
      // so the overflow is remembered — chunks past the bound are DROPPED
      // (memory stays bounded, no corpus-sized buffer) — and the next
      // EXECUTE reports 1153 (VERDICT r12 #1).
      val limit = s.maxAllowedPacketSnapshot
      if (longDataOverflow || longDataBytes + chunk.length > limit) {
        longDataOverflow = true
        return
      }
      longDataBytes += chunk.length
      longData.getOrElseUpdate(paramIdx,
        scala.collection.mutable.ArrayBuffer.empty) += chunk.clone()
    }

    private var longDataBytes: Long = 0L
    private var longDataOverflow: Boolean = false

    /** COM_STMT_RESET analog: discard accumulated long data (and nothing
      * else — the statement stays prepared) without executing. */
    def reset(): Unit = {
      longData.clear(); longDataBytes = 0L; longDataOverflow = false
    }

    private def bind(args: Seq[Any]): DataFrame = {
      if (args.length != paramCount)
        throw EngineError(1210, "HY000",
          "Incorrect number of arguments to EXECUTE")
      if (longDataOverflow) {
        // the deferred SEND_LONG_DATA overflow (see sendLongData): the
        // partial chunks are useless, discard them with the error
        reset()
        throw EngineError(1153, "08S01",
          "Got a packet bigger than 'max_allowed_packet' bytes")
      }
      // long-data parameters override their positional placeholder (the
      // wire EXECUTE ignores the null-bitmap/type slots of streamed params)
      val effective = args.zipWithIndex.map { case (a, i) =>
        longData.get(i)
          .map(chunks => chunks.toArray.flatten: Any)
          .getOrElse(a)
      }
      // The text-protocol preprocessing applies to the binary protocol too
      // (connector-j with useServerPrepStmts PREPAREs the same session
      // statements it otherwise sends as text — SELECT @@x, SHOW …,
      // information_schema reads): version-comment unwrap + IS rewrite,
      // session-command interception, and @@/client-fn substitution, all
      // evaluated at EXECUTE time per MySQL (session state is read when
      // the statement runs, not when it was prepared).
      val pq = s.preprocess(query)
      // Session-command interception must never see raw `?` markers: a
      // prepared `SET @x = ?` would store the literal string "?" and a
      // prepared `INSERT INTO <view> VALUES (?, ?)` — the canonical JDBC
      // pattern against a restored table — would run the markers verbatim
      // (code-review r14). With params bound, the probe text substitutes
      // the typed values as SQL literals FIRST; the typed named-param
      // path below still runs on the marker text when no command matches.
      val probe =
        if (paramCount == 0) pq
        else Engine.bindPositional(pq, effective.map(Engine.literalOf))
      Engine.sessionCommand(s, Engine.stripLeadingComments(probe)) match {
        case Some(df) =>
          longData.clear(); longDataBytes = 0L
          lastSchema = df.schema
          return df
        case None => ()
      }
      // Bind through NAMED parameters: the nth token-safe `?` becomes
      // `:_gp_n` and the value binds by name. (Spark's positional Array
      // overload substitutes `?`s in parameter-MAP iteration order, which
      // stops matching insertion order at ≥5 params — Scala's Map4→HashMap
      // switch — observed scrambling a 6-param bind on Spark 4.1; named
      // binding is order-free by construction.)
      val (named, names) = Engine.nameParams(
        Engine.translateHashComments(s.substituted(pq)))
      val df =
        try s.spark.sql(named, names.zip(effective).toMap)
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw EngineError(1105, "08S01", e.getMessage)
        }
      // Long data dies with the SUCCESSFUL execute (MySQL frees it on
      // statement execution). A FAILED analysis leaves the chunks in place
      // so a client that fixes a transient failure (e.g. a view created
      // late) re-executes with the streamed parameter intact — discarding
      // on error would silently bind NULL (ADVICE r08); reset()/close()
      // remain the explicit discard paths.
      longData.clear(); longDataBytes = 0L
      lastSchema = df.schema
      df
    }

    /** Schema of the most recent successful bind — the column metadata the
      * wire front-end's COM_STMT_EXECUTE response needs when the rows are
      * held server-side (cursor mode returns no DataFrame to read it from). */
    @volatile private[graft] var lastSchema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(Nil)

    /** COM_STMT_EXECUTE analog: bind typed positional parameters, run.
      * Re-executing closes the statement's held cursor, like MySQL. */
    def execute(args: Any*): DataFrame = {
      cursor = None
      bind(args)
    }

    /** The held result of the last [[executeCursor]] — read by
      * [[Session.fetch]], dropped by [[execute]] and [[close]]. */
    private[Engine] var cursor: Option[Iterator[org.apache.spark.sql.Row]] =
      None

    /** COM_STMT_EXECUTE with CURSOR_TYPE_READ_ONLY: run, but HOLD the
      * result as a server-side cursor over [[Engine.drain]] — rows are
      * pulled in batches by [[Session.fetch]] (COM_STMT_FETCH). */
    def executeCursor(args: Any*): Unit = {
      cursor = None // a failed execute closes the old cursor too
      cursor = Some(Engine.drain(bind(args)))
    }

    /** This statement's SERVER_STATUS word for its own EXECUTE and FETCH
      * responses: the session's bits plus CURSOR_EXISTS while its held
      * cursor has rows left, LAST_ROW_SENT once the cursor drains
      * (/root/reference/mysql/constants.go:28-29, the bits the gateway
      * forwards). No other command's response carries them. */
    def statusFlags: Int = s.statusFlags | cursor.fold(0) { it =>
      if (it.hasNext) Engine.Status.CursorExists else Engine.Status.LastRowSent
    }

    /** COM_STMT_CLOSE analog: drop the handle and any held cursor. */
    def close(): Unit = {
      cursor = None
      s.stmts.remove(statementId)
    }
  }

  /** The one row drain: every result the engine hands out row by row —
    * wire text result sets, wire binary result sets and held cursors
    * ([[PreparedStatement.executeCursor]]) — reads its rows through here,
    * and nothing else in the engine calls `toLocalIterator`. Rows arrive
    * partition by partition (the incremental relay of
    * /root/reference/gateway/relay.go:68-99); the driver never holds the
    * whole result. */
  private[graft] def drain(df: DataFrame): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala
  }

  /** Rewrite each token-safe `?` marker to a named `:_gp_n` parameter and
    * return the rewritten text plus the generated names in marker order —
    * the binding backbone of [[PreparedStatement]] (see its bind() note on
    * why positional Array binding can't be used). */
  private[graft] def nameParams(stmt: String): (String, Seq[String]) = {
    val (named, n) = replaceMarkers(stmt)(k => s":_gp_$k")
    (named, (0 until n).map(k => s"_gp_$k"))
  }

  /** Count `?` parameter markers outside quotes/comments — the prepare
    * response's num_params field (same token-safe scan as
    * [[bindPositional]], without building text: it runs on every
    * prepare). */
  private[graft] def countParams(stmt: String): Int = {
    var n = 0
    var i = 0
    while (i < stmt.length) {
      val e = MySqlLexer.spanEnd(stmt, i)
      if (e > i) i = e
      else { if (stmt.charAt(i) == '?') n += 1; i += 1 }
    }
    n
  }

  /** `stmt` with its k-th `?` marker (k from 0) in code — never in a
    * literal or comment ([[MySqlLexer]]) — replaced by `marker(k)`, plus
    * the number of markers. */
  private def replaceMarkers(stmt: String)(marker: Int => String)
      : (String, Int) = {
    val out = new StringBuilder
    var n = 0
    var i = 0
    while (i < stmt.length) {
      val e = MySqlLexer.spanEnd(stmt, i)
      if (e > i) { out.append(stmt.substring(i, e)); i = e }
      else {
        val c = stmt.charAt(i)
        if (c == '?') { out.append(marker(n)); n += 1 } else out.append(c)
        i += 1
      }
    }
    (out.toString, n)
  }

  /** Multi-statement batch execution — the engine analog of the
    * ClientMultiStatements/ClientMultiResults capability the gateway
    * advertises and relays (/root/reference/mysql/constants.go:57-58):
    * several ';'-separated statements in, one result set per statement out.
    * The splitter respects quoted strings (' and "), backtick identifiers,
    * and SQL comments — a ';' inside a `--` line comment, a `#` line
    * comment, or a slash-star block comment never splits (the reference
    * relays such batches byte-transparently,
    * /root/reference/gateway/relay.go:17, so comment-blind splitting would
    * break the transparency contract). `--` and block comments pass through
    * verbatim (Spark parses them; slash-star-plus optimizer hints survive);
    * the MySQL-only `#` spelling is stripped like the other dialect
    * translations (§7.2 P6) since Spark's parser rejects it. Each statement
    * executes eagerly in order so later ones see earlier side effects. */
  def sqlBatch(spark: SparkSession, batch: String): Seq[DataFrame] =
    splitStatements(batch).map(spark.sql)

  /** The token-safe ';' splitter behind [[sqlBatch]] (see its contract). */
  private[graft] def splitStatements(batch: String): Seq[String] = {
    val stmts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    while (i < batch.length) {
      val e = MySqlLexer.spanEnd(batch, i)
      val c = batch.charAt(i)
      if (e > i) {
        // literals and comments never split; MySQL-only `#` comments strip
        if (c != '#') cur.append(batch.substring(i, e))
        i = e
      } else {
        if (c == ';') { stmts += cur.toString; cur.clear() }
        else cur.append(c)
        i += 1
      }
    }
    stmts += cur.toString
    stmts.result().map(_.trim).filter(_.nonEmpty)
  }

  // ---- MySQL session-variable surface ------------------------------------

  private val setNamesRe =
    """(?is)^\s*SET\s+NAMES\s+['"`]?([A-Za-z0-9_]+)['"`]?(?:\s+COLLATE\s+['"`]?([A-Za-z0-9_]+)['"`]?)?\s*;?\s*$""".r
  private val showVarsRe =
    """(?is)^\s*SHOW\s+(?:SESSION\s+|GLOBAL\s+)?VARIABLES(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$""".r
  private val setStmtRe = """(?is)^\s*SET\s+(.+?)\s*;?\s*$""".r
  private val assignRe =
    """(?is)^\s*(?:(GLOBAL|SESSION|LOCAL)\s+)?(@{0,2})(?:(session|global|local)\.)?([A-Za-z_][A-Za-z0-9_]*)\s*:?=\s*(.+?)\s*$""".r

  private val beginRe =
    """(?is)^\s*(?:BEGIN|START\s+TRANSACTION(?:\s*(?:/\*.*?\*/|WITH\s+CONSISTENT\s+SNAPSHOT|READ\s+(?:ONLY|WRITE)|,))*)\s*;?\s*$""".r
  private val setTxIsoRe =
    """(?is)^\s*SET\s+(?:(?:SESSION|GLOBAL)\s+)?TRANSACTION\s+(.+?)\s*;?\s*$""".r
  private val lockFlushRe =
    """(?is)^\s*(?:LOCK\s+TABLES?\s+.+|UNLOCK\s+TABLES?|FLUSH\s+(?:LOCAL\s+)?TABLES?(?:\s+.+)?)\s*;?\s*$""".r
  private val alterKeysRe =
    """(?is)^\s*ALTER\s+TABLE\s+\S+\s+(?:DISABLE|ENABLE)\s+KEYS\s*;?\s*$""".r
  private val sysRefRe =
    """(?is)^@@(?:(?:session|global|local)\.)?([A-Za-z_][A-Za-z0-9_]*)$""".r
  private val userRefRe = """(?is)^@([A-Za-z_][A-Za-z0-9_]*)$""".r

  private val showCollationRe =
    """(?is)^\s*SHOW\s+COLLATION(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$""".r
  private val showCharsetRe =
    """(?is)^\s*SHOW\s+(?:CHARACTER\s+SET|CHARSET)(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$""".r
  private val showIndexRe =
    """(?is)^\s*SHOW\s+(?:INDEX|INDEXES|KEYS)\s+(?:FROM|IN)\s+((?:`[A-Za-z0-9_]+`|[A-Za-z0-9_]+))\s*;?\s*$""".r
  private val showEnginesRe =
    """(?is)^\s*SHOW\s+(?:STORAGE\s+)?ENGINES\s*;?\s*$""".r
  private val useDbRe =
    """(?is)^\s*USE\s+(?:`([A-Za-z0-9_]+)`|([A-Za-z_]\w*))\s*;?\s*$""".r
  private val showTablesRe =
    """(?is)^\s*SHOW\s+(FULL\s+)?TABLES(?:\s+(?:FROM|IN)\s+(?:`([A-Za-z0-9_]+)`|([A-Za-z_]\w*)))?(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$""".r
  // JDBC getCatalogs / DBeaver's database tree both read MySQL's one-column
  // `Database` shape — Spark's own SHOW DATABASES answers `namespace`,
  // which breaks clients reading the column by name (r15)
  private val showDatabasesRe =
    """(?is)^\s*SHOW\s+(?:DATABASES|SCHEMAS)(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$""".r
  private val showColumnsRe =
    """(?is)^\s*SHOW\s+(FULL\s+)?(?:COLUMNS|FIELDS)\s+(?:FROM|IN)\s+(?:`([A-Za-z0-9_]+)`|([A-Za-z_]\w*))(?:\s+(?:FROM|IN)\s+(?:`([A-Za-z0-9_]+)`|([A-Za-z_]\w*)))?(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$""".r
  private val descTableRe =
    """(?is)^\s*DESC(?:RIBE)?\s+(?:`([A-Za-z0-9_]+)`|([A-Za-z_]\w*))\s*;?\s*$""".r
  private val showGrantsRe =
    """(?is)^\s*SHOW\s+GRANTS(?:\s+FOR\s+\S+)?\s*;?\s*$""".r
  // PyMySQL's show_warnings() and DBeaver's post-query poll; warnings are
  // not modeled (every OK reports warning_count 0), so the truthful
  // answer is MySQL's three-column shape, empty — same contract as
  // SHOW INDEX on an index-less table (r16, VERDICT r15 #5)
  private val showWarningsRe =
    """(?is)^\s*SHOW\s+(?:WARNINGS|ERRORS)(?:\s+LIMIT\s+\d+(?:\s*,\s*\d+)?)?\s*;?\s*$""".r
  private val showCountWarningsRe =
    """(?is)^\s*SHOW\s+COUNT\(\*\)\s+(WARNINGS|ERRORS)\s*;?\s*$""".r
  private val showTableStatusRe =
    """(?is)^\s*SHOW\s+TABLE\s+STATUS(?:\s+(?:FROM|IN)\s+(?:`([A-Za-z0-9_]+)`|([A-Za-z_]\w*)))?(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$""".r
  private val dropTableRe =
    """(?is)^\s*DROP\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?(?:`([A-Za-z0-9_]+)`|([A-Za-z_]\w*))\s*;?\s*$""".r
  // group(4) carries "body ) [table options]" — the matching close paren is
  // found by a token-safe scan (ENUM/DECIMAL args and quoted defaults nest)
  // CREATE [TEMPORARY] TABLE — a session temp view IS MySQL's
  // connection-scoped temporary table, so both spellings land there
  private val createTableRe =
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?(?:`([A-Za-z0-9_]+)`|([A-Za-z_]\w*))\s*\((.*)$""".r
  private val insertRe =
    """(?is)^\s*INSERT\s+(?:IGNORE\s+)?INTO\s+(?:`([A-Za-z0-9_]+)`|([A-Za-z_]\w*))\s*(?:\(([^)]*)\)\s*)?((?:VALUES|VALUE)\s*\(.*|SELECT\b.*)$""".r

  /** SQL LIKE pattern → anchored regex (the SHOW-family wildcard
    * semantics: `%` any run, `_` any single char, and MySQL's backslash
    * escapes — JDBC DatabaseMetaData escapes identifier wildcards as
    * `\_`/`\%`, which must match LITERALLY (code-review r14)).
    *
    * Identifier contexts (SHOW TABLES/TABLE STATUS/COLUMNS) match
    * CASE-SENSITIVELY: the engine advertises lower_case_table_names=0 and
    * utf8mb4_bin, under which real MySQL compares those names byte-wise —
    * SHOW TABLES LIKE 'REGION' finds nothing (ADVICE r14). Variable /
    * collation / charset names stay case-insensitive like MySQL's. */
  private[graft] def likeRegex(like: String, caseSensitive: Boolean = false)
      : Option[scala.util.matching.Regex] =
    Option(like).map { p =>
      val out = new StringBuilder(if (caseSensitive) "^" else "(?i)^")
      var i = 0
      while (i < p.length) {
        p.charAt(i) match {
          case '\\' if i + 1 < p.length =>
            out.append(java.util.regex.Pattern.quote(p.charAt(i + 1).toString))
            i += 1
          case '%' => out.append(".*")
          case '_' => out.append(".")
          case c => out.append(java.util.regex.Pattern.quote(c.toString))
        }
        i += 1
      }
      (out.append("$").toString).r
    }

  /** MySQL version-conditional comment — "slash-star-bang-40103 SET …
    * star-slash" covering the
    * WHOLE statement — mysqldump's opening/closing sequences arrive as
    * these. MySQL executes the body when the server version ≥ the 5-digit
    * prefix; this engine's MySQL-compat level for that comparison is
    * [[effectiveMysqlVersion]]. Bodies above it are comments → the
    * statement is empty → MySQL's ER 1065. INLINE versioned comments
    * (a `SQL_NO_CACHE` wrapped mid-SELECT) are deliberately NOT unwrapped:
    * Spark ignores them as plain comments, which is exactly the
    * "unsupported optional feature" semantics for hints we don't have. */
  // = the numeric prefix of [[version]] ("8.0.11" → 80011): the greeting
  // and the versioned-comment gate must agree, or a whole-statement
  // /*!80011 …*/ body would get ER 1065 from a server that advertises
  // 8.0.11 (ADVICE r14)
  private[graft] val effectiveMysqlVersion = 80011
  private val versionCommentRe =
    """(?s)^\s*/\*!(\d{4,6})\s+(.*?)\*/\s*;?\s*$""".r
  private[graft] def unwrapVersionComment(query: String): String =
    query match {
      case versionCommentRe(num, body) if !body.contains("*/") =>
        // single-segment only: a multi-segment statement (mysqldump's
        // trigger/routine blocks — `/*!50003 CREATE*/ /*!50017 …*/ …`)
        // must NOT stitch here (the lazy body would end at the LAST `*/`
        // and execute garbage, code-review r14); it relays untouched and
        // fails loudly — this engine has no trigger/routine surface.
        if (num.toInt <= effectiveMysqlVersion) body.trim
        else throw EngineError(1065, "42000", "Query was empty")
      case _ => query
    }
  private val commitRe = """(?is)^\s*(?:COMMIT|ROLLBACK)\s*;?\s*$""".r
  private val killRe =
    """(?is)^\s*KILL\s+(?:QUERY\s+|CONNECTION\s+)?(\d+)\s*;?\s*$""".r
  private val prepareRe =
    """(?is)^\s*PREPARE\s+([A-Za-z_]\w*)\s+FROM\s+'((?:[^']|'')*)'\s*;?\s*$""".r
  private val executeRe =
    """(?is)^\s*EXECUTE\s+([A-Za-z_]\w*)(?:\s+USING\s+(.+?))?\s*;?\s*$""".r
  private val deallocRe =
    """(?is)^\s*(?:DEALLOCATE|DROP)\s+PREPARE\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val processListRe =
    """(?is)^\s*SHOW\s+(?:FULL\s+)?PROCESSLIST\s*;?\s*$""".r
  private val showStatusRe =
    """(?is)^\s*SHOW\s+(?:(SESSION|GLOBAL)\s+)?STATUS(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$""".r
  private val loadDataRe =
    """(?is)^\s*LOAD\s+DATA\s+(?:(LOCAL)\s+)?INFILE\s+'([^']+)'\s+INTO\s+TABLE\s+([A-Za-z_]\w*)(?:\s+FIELDS\s+TERMINATED\s+BY\s+'([^']*)')?\s*;?\s*$""".r
  private val showCreateRe =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+((?:`[A-Za-z0-9_]+`|[A-Za-z0-9_]+)(?:\.(?:`[A-Za-z0-9_]+`|[A-Za-z0-9_]+))?)\s*;?\s*$""".r

  /** Intercept MySQL session-state statements; None = relay to Spark.
    *
    * `SET` is shared syntax — Spark uses it for conf (`SET spark.sql.x=y`)
    * — so a SET list is absorbed only when EVERY assignment is MySQL-shaped:
    * `@@`/scope-prefixed, a `@user` variable, or a bare name already in the
    * session's system-variable store. Anything else relays untouched. */
  private[graft] def sessionCommand(s: Session, query: String): Option[DataFrame] =
    query match {
      case beginRe() => s.inTrans = true; Some(s.spark.emptyDataFrame)
      case commitRe() => s.inTrans = false; Some(s.spark.emptyDataFrame)
      case setTxIsoRe(chars) =>
        // SET [SESSION|GLOBAL] TRANSACTION <characteristics> — mysqldump's
        // 4th statement (ISOLATION LEVEL REPEATABLE READ). Characteristics
        // update the variable pair (both MySQL spellings); READ ONLY/WRITE
        // is accepted and dropped (every read here is snapshot-consistent,
        // and writes are session-scoped view swaps). Unknown words relay
        // nothing — they are MySQL's ER 1064 shape.
        val parts = splitTopLevel(chars, ',').map(_.trim).filter(_.nonEmpty)
        val isoRe = """(?is)^ISOLATION\s+LEVEL\s+(.+)$""".r
        val rwRe = """(?is)^READ\s+(?:ONLY|WRITE)$""".r
        if (parts.isEmpty || !parts.forall(p =>
            isoRe.matches(p) || rwRe.matches(p)))
          throw EngineError(1064, "42000",
            s"Unsupported TRANSACTION characteristics: '$chars'")
        parts.foreach {
          case isoRe(level) =>
            val norm = level.trim.toUpperCase.split("\\s+").mkString("-")
            if (!Set("REPEATABLE-READ", "READ-COMMITTED",
                "READ-UNCOMMITTED", "SERIALIZABLE").contains(norm))
              throw EngineError(1064, "42000",
                s"Unknown isolation level: '$level'")
            s.setSysVar("transaction_isolation", norm)
            s.setSysVar("tx_isolation", norm)
          case _ => () // READ ONLY / READ WRITE
        }
        Some(s.spark.emptyDataFrame)
      case showCollationRe(like) =>
        // SHOW COLLATION — pre-8 connector-j and GUI tools read the whole
        // registry at connect. Served table-driven from [[Collations]]
        // (the reference's full 220-entry id↔name table); Default marks
        // the engine default (utf8mb4_bin, constants.go:6). MySQL's
        // column order: Collation, Charset, Id, Default, Compiled, Sortlen.
        val re = likeRegex(like)
        import s.spark.implicits._
        val rows = Collations.byId.toSeq.sortBy(_._1).map { case (id, n) =>
          val charset =
            if (n == "binary") "binary" else n.takeWhile(_ != '_')
          (n, charset, id.toLong,
            if (id == Collations.defaultId) "Yes" else "",
            "Yes", 1L)
        }.filter { case (n, _, _, _, _, _) => re.forall(_.matches(n)) }
        Some(rows.toDF("Collation", "Charset", "Id", "Default",
          "Compiled", "Sortlen"))
      case showCharsetRe(like) =>
        // SHOW CHARACTER SET — derived from the same registry: one row per
        // distinct charset prefix, default collation = the engine default
        // for utf8mb4, else the charset's lowest-id collation.
        val re = likeRegex(like)
        import s.spark.implicits._
        val byCharset = Collations.byId.toSeq.groupBy { case (_, n) =>
          if (n == "binary") "binary" else n.takeWhile(_ != '_')
        }
        def maxlen(cs: String): Long = cs match {
          case "utf8mb4" | "utf16" | "utf32" => 4L
          case "utf8" | "utf8mb3" => 3L
          case "ucs2" => 2L
          case _ => 1L
        }
        val rows = byCharset.toSeq.sortBy(_._1).map { case (cs, colls) =>
          // MySQL's per-charset default is `<cs>_general_ci` for almost
          // every charset (latin1 is swedish_ci) — NOT the lowest id
          // (latin1's lowest is german1_ci; code-review r14). utf8mb4
          // reports the ENGINE default (utf8mb4_bin, constants.go:6).
          val names = colls.map(_._2).toSet
          val default =
            if (cs == "utf8mb4") Collations.byId(Collations.defaultId)
            else if (names.contains(s"${cs}_swedish_ci") && cs == "latin1")
              s"${cs}_swedish_ci"
            else if (names.contains(s"${cs}_general_ci"))
              s"${cs}_general_ci"
            else colls.minBy(_._1)._2
          (cs, s"$cs charset", default, maxlen(cs))
        }.filter { case (cs, _, _, _) => re.forall(_.matches(cs)) }
        Some(rows.toDF("Charset", "Description", "Default collation",
          "Maxlen"))
      case showIndexRe(raw) =>
        // SHOW INDEX/KEYS FROM t — GUI tools send it per table; parquet
        // relations have no secondary indexes, so the correct answer is
        // the EMPTY result set with MySQL's column shape (unknown table
        // is 1146 like SHOW CREATE TABLE).
        val tbl = raw.replace("`", "")
        try s.spark.table(tbl)
        catch { case _: org.apache.spark.sql.AnalysisException =>
          throw EngineError(1146, "42S02", s"Table '$tbl' doesn't exist")
        }
        import s.spark.implicits._
        Some(Seq.empty[(String, Long, String, Long, String, String,
          Long, String, String, String, String, String, String)]
          .toDF("Table", "Non_unique", "Key_name", "Seq_in_index",
            "Column_name", "Collation", "Cardinality", "Sub_part",
            "Packed", "Null", "Index_type", "Comment", "Index_comment"))
      case useDbRe(quoted, bare) =>
        // text `USE db` — dump files (`mysqldump --databases` output) and
        // script replays send it as a statement; the mysql CLI translates
        // the same action to COM_INIT_DB. Both resolve through the same
        // map, so the two spellings can never route differently.
        s.use(Option(quoted).getOrElse(bare), s.boundDatabases)
        Some(s.spark.emptyDataFrame)
      case showTablesRe(full, dbQ, dbB, like) =>
        // MySQL's SHOW [FULL] TABLES shape — one `Tables_in_<db>` column
        // (+ Table_type under FULL), exactly what the reference's clients
        // see from its MySQL-compatible backend; relaying Spark's
        // 3-column (namespace, tableName, isTemporary) shape broke tools
        // that read the column by name. FROM <db> lists the declared
        // fixture set after the same 1105 resolve as USE (every namespace
        // binds the same declared tables); helper views stay hidden.
        import s.spark.implicits._
        val fromDb = Option(dbQ).orElse(Option(dbB))
        def live: Seq[String] =
          s.spark.catalog.listTables().collect().map(_.name)
            .filterNot(_.startsWith("graft_is_")).sorted.toSeq
        // None = the information_schema surface (qualified or via USE)
        val ns: Option[String] = Engine.resolveShowDb(s, fromDb)
        // information_schema identifiers compare case-INsensitively on
        // every platform (manual §9.2.3) — only data-namespace table names
        // follow lower_case_table_names=0 (code-review r15 #6)
        val re = likeRegex(like, caseSensitive = ns.isDefined)
        val names: Seq[String] = ns match {
          case None => Engine.infoSchemaTables
          case Some(dir) =>
            // FROM the CURRENTLY-bound namespace → the live catalog (a
            // qualified refresh must see session-created/restored tables
            // exactly like the unqualified form — code-review r14); a
            // DIFFERENT namespace → its declared fixture set (no session
            // views exist there by construction)
            if (dir == Tables.boundDir(s.spark)) live
            else Tables.all.map(_._1).sorted
        }
        val dbName = fromDb.getOrElse(
          if (s.inInfoSchema) "information_schema"
          else s.spark.catalog.currentDatabase)
        val col = s"Tables_in_$dbName"
        // MySQL types information_schema rows SYSTEM VIEW under FULL
        val ttype = if (ns.isEmpty) "SYSTEM VIEW" else "BASE TABLE"
        val rows = names.filter(n => re.forall(_.matches(n)))
        Some(
          if (full != null) rows.map((_, ttype))
            .toDF(col, "Table_type")
          else rows.map(Tuple1(_)).toDF(col))
      case showDatabasesRe(like) =>
        // MySQL's one-column `Database` shape: information_schema first
        // (MySQL always lists it) then the session's bound namespaces —
        // the rows JDBC getCatalogs and DBeaver's tree expect. Identifier
        // LIKE is case-sensitive under lower_case_table_names=0.
        val re = likeRegex(like, caseSensitive = true)
        import s.spark.implicits._
        val dbs = ("information_schema" +:
          (if (s.boundDatabases.nonEmpty) s.boundDatabases.keys.toSeq.sorted
           else Seq(s.spark.catalog.currentDatabase)))
          .filter(n => re.forall(_.matches(n)))
        Some(dbs.map(Tuple1(_)).toDF("Database"))
      case showColumnsRe(full, tQ, tB, dbQ, dbB, like) =>
        // MySQL's SHOW [FULL] COLUMNS/FIELDS shape: Field, Type, Null,
        // Key, Default, Extra (FULL inserts Collation after Type and
        // appends Privileges, Comment — manual §15.7.7.6)
        // FROM the currently-bound namespace describes the live view
        // (session-created tables included); FROM a DIFFERENT namespace
        // describes that namespace's SURFACED schema via Tables.table —
        // never the current binding's namesake, whose session-local schema
        // could differ (ADVICE r14), and never the raw DECLARED StructType,
        // which for events carries the pre-conversion bigint ts no reader
        // ever sees (code-review r15). Column-name LIKE stays
        // case-INsensitive: MySQL column names are not case-sensitive on
        // any platform, regardless of lower_case_table_names/collation
        // (code-review r15) — only database/table identifiers are.
        val tbl = Option(tQ).getOrElse(tB)
        val ns: Option[String] =
          Engine.resolveShowDb(s, Option(dbQ).orElse(Option(dbB)))
        Some(describeShape(s, tbl, full != null, likeRegex(like),
          namespaceSchema(s, ns, tbl)))
      case descTableRe(tQ, tB) =>
        // DESCRIBE/DESC <table> is SHOW COLUMNS in MySQL — including the
        // default-schema rule: after USE information_schema it describes
        // the metadata views, and data tables answer 1146 there, exactly
        // like the unqualified SHOW COLUMNS (code-review r15 #3)
        val tbl = Option(tQ).getOrElse(tB)
        Some(describeShape(s, tbl, full = false, None,
          namespaceSchema(s, Engine.resolveShowDb(s, None), tbl)))
      case dropTableRe(ifExists, tQ, tB) =>
        // DROP TABLE [IF EXISTS] — every mysqldump table section opens
        // with the IF EXISTS form. A session temp view drops here; a real
        // catalog table relays to Spark's own DROP TABLE (None); a missing
        // name without IF EXISTS is MySQL's 1051.
        val tbl = Option(tQ).getOrElse(tB)
        if (s.spark.catalog.dropTempView(tbl)) {
          s.resetAppendArms(tbl)
          Tables.noteViewSwap(s.spark)
          Engine.noteSchemaSwap(s.spark)
          Some(s.spark.emptyDataFrame)
        } else if (s.spark.catalog.tableExists(tbl)) None
        else if (ifExists != null) Some(s.spark.emptyDataFrame)
        else throw EngineError(1051, "42S02", s"Unknown table '$tbl'")
      case createTableRe(ifNot, tQ, tB, bodyAndTail)
          if matchingClose(bodyAndTail) >= 0 && {
            // MySQL-dialect CREATE only: after the close paren the tail is
            // table options (ENGINE=/CHARSET=/…) or empty — a Spark-dialect
            // `CREATE TABLE x (…) USING parquet` relays untouched
            val close = matchingClose(bodyAndTail)
            val tail = bodyAndTail.substring(close + 1).trim
            tail.isEmpty || """(?is)^(?:ENGINE|DEFAULT|CHARSET|CHARACTER|COLLATE|AUTO_INCREMENT|COMMENT|ROW_FORMAT|KEY_BLOCK_SIZE|STATS_)""".r
              .findFirstIn(tail).isDefined || tail == ";"
          } =>
        // CREATE TABLE in MySQL's dialect — the restore direction of the
        // dump round-trip. Column defs map through sparkTypeOf (unsigned
        // widens, ENUM/SET/TEXT → string); PRIMARY KEY/KEY/CONSTRAINT/…
        // lines are index metadata with no Spark analog and drop like
        // ALTER … KEYS does. The table lands as an EMPTY session temp
        // view (the namespace model every fixture table already uses);
        // INSERT below appends to it.
        val tbl = Option(tQ).getOrElse(tB)
        val exists =
          try { s.spark.table(tbl); true }
          catch { case _: org.apache.spark.sql.AnalysisException => false }
        if (exists && ifNot == null)
          throw EngineError(1050, "42S01", s"Table '$tbl' already exists")
        if (!exists) {
          val close = matchingClose(bodyAndTail)
          val body = bodyAndTail.substring(0, close)
          val fields = splitColumnDefs(body).flatMap {
            case d if constraintHeadRe.matches(d) => None
            case d => parseColDef(d).orElse(
              throw EngineError(1064, "42000",
                s"Unparseable column definition: '$d'"))
          }
          if (fields.isEmpty)
            throw EngineError(1113, "42000",
              "A table must have at least 1 column")
          val schema = org.apache.spark.sql.types.StructType(fields)
          s.spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            schema).createOrReplaceTempView(tbl)
          s.resetAppendArms(tbl)
          Tables.noteViewSwap(s.spark)
          Engine.noteSchemaSwap(s.spark)
        }
        Some(s.spark.emptyDataFrame)
      case insertRe(tQ, tB, colList, tail)
          if {
            val t = Option(tQ).getOrElse(tB)
            // session temp views only — INSERT into a real catalog table
            // relays to Spark's own INSERT INTO path
            s.spark.catalog.tableExists(t) &&
              (try s.spark.catalog.getTable(t).isTemporary
               catch { case _: Exception => false })
          } =>
        // INSERT INTO a session view — VALUES rows or SELECT source. Spark
        // can't INSERT into a temp view, so the view is rebuilt as
        // old UNION ALL new (the LOAD DATA pattern at loadDataRe): lazy,
        // distributed, no driver materialization. A column subset fills
        // the rest with typed NULLs; every source column casts to the
        // target type (MySQL's insert coercion). Non-view targets never
        // reach here (the guard) and relay to Spark's own INSERT INTO.
        // Scale note: each statement adds ONE union arm;
        // [[Session.swapAppendedView]] compacts the accumulated plan via
        // localCheckpoint every K appends, so even a --skip-extended-insert
        // dump (one INSERT per row) stays O(K) analyzer work per statement.
        import org.apache.spark.sql.functions.{col, lit}
        val tbl = Option(tQ).getOrElse(tB)
        val target = s.spark.table(tbl)
        val specified: Seq[String] = Option(colList)
          .map(_.split(",").toSeq.map(_.trim.replace("`", ""))
            .filter(_.nonEmpty))
          .getOrElse(target.columns.toSeq)
        val unknown = specified.filterNot(c =>
          target.columns.exists(_.equalsIgnoreCase(c)))
        if (unknown.nonEmpty)
          throw EngineError(1054, "42S22",
            s"Unknown column '${unknown.head}' in 'field list'")
        val srcSql =
          if (tail.toUpperCase.startsWith("VALUE"))
            // no alias column list: Spark auto-names col1..colN, so an
            // arity mismatch surfaces as MySQL's 1136 below instead of an
            // alias-count analysis error
            s"SELECT * FROM ${tail.replaceFirst("(?is)^VALUES?", "VALUES")}"
          else tail // INSERT INTO … SELECT
        val src =
          try s.spark.sql(srcSql)
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw EngineError(1105, "08S01", e.getMessage)
          }
        if (src.columns.length != specified.length)
          throw EngineError(1136, "21S01",
            "Column count doesn't match value count")
        val renamed = src.toDF(specified: _*)
        val aligned = target.columns.toSeq.map { c =>
          val dt = target.schema(c).dataType
          if (specified.exists(_.equalsIgnoreCase(c)))
            col(s"`$c`").cast(dt).as(c)
          else lit(null).cast(dt).as(c)
        }
        s.swapAppendedView(tbl, target.unionAll(renamed.select(aligned: _*)))
        Some(s.spark.emptyDataFrame)
      case showTableStatusRe(dbQ, dbB, like) =>
        // SHOW TABLE STATUS — DBeaver-class refresh statement; MySQL's
        // 18-column shape with the stats the engine genuinely has (Name,
        // Engine, Collation) and typed NULLs for the InnoDB-specific
        // counters (NULL Rows is valid even on real MySQL — tools
        // re-query COUNT(*) when they need exact cardinality).
        // FROM a DIFFERENT namespace lists its declared fixture set (the
        // SHOW TABLES rule) — never the current binding's live views
        // (ADVICE r14); information_schema lists its metadata views with
        // MySQL's NULL engine (code-review r15)
        val ns: Option[String] =
          Engine.resolveShowDb(s, Option(dbQ).orElse(Option(dbB)))
        // info-schema names match case-insensitively (the SHOW TABLES rule)
        val re = likeRegex(like, caseSensitive = ns.isDefined)
        import s.spark.implicits._
        val engineCol: Option[String] =
          if (ns.isEmpty) None else Some("graft")
        val names = (ns match {
          case None => Engine.infoSchemaTables
          case Some(dir) if dir != Tables.boundDir(s.spark) =>
            Tables.all.map(_._1)
          case _ => s.spark.catalog.listTables().collect().map(_.name).toSeq
        }).filterNot(_.startsWith("graft_is_")).sorted
          .filter(n => re.forall(_.matches(n)))
        Some(names.map(n => (n, engineCol, Option.empty[Long], "Dynamic",
            Option.empty[Long], Option.empty[Long], Option.empty[Long],
            Option.empty[Long], Option.empty[Long], Option.empty[Long],
            Option.empty[Long], Option.empty[String], Option.empty[String],
            Option.empty[String], "utf8mb4_bin", Option.empty[Long],
            "", ""))
          .toDF("Name", "Engine", "Version", "Row_format", "Rows",
            "Avg_row_length", "Data_length", "Max_data_length",
            "Index_length", "Data_free", "Auto_increment", "Create_time",
            "Update_time", "Check_time", "Collation", "Checksum",
            "Create_options", "Comment"))
      case showGrantsRe() =>
        // GUI tools probe privileges at connect; the engine has no grant
        // system (the reference relays auth to the backend) — answer the
        // one all-privileges row MySQL shows a root-like account
        import s.spark.implicits._
        val who = if (s.user.isEmpty) "root" else s.user
        Some(Seq(s"GRANT ALL PRIVILEGES ON *.* TO '$who'@'%'")
          .map(Tuple1(_)).toDF(s"Grants for $who@%"))
      case showWarningsRe() =>
        import s.spark.implicits._
        Some(Seq.empty[(String, Long, String)]
          .toDF("Level", "Code", "Message"))
      case showCountWarningsRe(kind) =>
        import s.spark.implicits._
        val col = if (kind.equalsIgnoreCase("errors")) "error_count"
          else "warning_count"
        Some(Seq(0L).map(Tuple1(_)).toDF(s"@@session.$col"))
      case showEnginesRe() =>
        import s.spark.implicits._
        Some(Seq(("graft", "DEFAULT",
          "Spark-backed analytics engine (parquet relations)",
          "NO", "NO", "NO"))
          .toDF("Engine", "Support", "Comment", "Transactions", "XA",
            "Savepoints"))
      case lockFlushRe() =>
        // LOCK/UNLOCK/FLUSH TABLES — mysqldump without --single-transaction
        // brackets every table in these. Reads here are snapshot-consistent
        // (parquet + immutable memoized relations) and the engine is
        // single-process, so the lock is a no-op OK, per the reference's
        // relay-and-let-the-backend-decide posture.
        Some(s.spark.emptyDataFrame)
      case alterKeysRe() =>
        // ALTER TABLE … DISABLE/ENABLE KEYS — dump-restore bracketing; no
        // secondary index structures exist to toggle. No-op OK.
        Some(s.spark.emptyDataFrame)
      case processListRe() =>
        import s.spark.implicits._
        Some(Engine.processList
          .toDF("Id", "User", "Cluster", "State", "Program"))
      case showStatusRe(scope, like) =>
        // SHOW STATUS / COM_STATISTICS analog (mysqladmin's `status` and
        // the monitoring handshake every client pool runs): the counters a
        // relay surfaces — uptime, per-connection statement count, live
        // connection count, lifetime connection count. Same LIKE semantics
        // as SHOW VARIABLES; GLOBAL selects the process-wide Slow_queries.
        val re = Option(like).map(p => ("(?i)^" + java.util.regex.Pattern
          .quote(p).replace("%", """\E.*\Q""").replace("_", """\E.\Q""") + "$").r)
        import s.spark.implicits._
        val global = scope != null && scope.equalsIgnoreCase("GLOBAL")
        val rows = s.statusCounters(global)
          .filter { case (n, _) => re.forall(_.matches(n)) }.sorted
        Some(rows.toDF("Variable_name", "Value"))
      case showCreateRe(raw) =>
        // SHOW CREATE TABLE — relayed opaquely by the gateway like all
        // introspection (/root/reference/gateway/relay.go:47-99); Spark
        // refuses it for (temp) views, so the session synthesizes the DDL
        // from the bound schema in MySQL's 2-column response shape. The
        // pattern accepts MySQL's per-part backtick quoting (`db`.`tbl`,
        // the form mysqldump emits); only analysis failures (unknown
        // table/view) map to 1146 — runtime errors propagate untouched.
        import s.spark.implicits._
        val tbl = raw.replace("`", "")
        val schema =
          try s.spark.table(tbl).schema
          catch { case _: org.apache.spark.sql.AnalysisException =>
            throw EngineError(1146, "42S02", s"Table '$tbl' doesn't exist")
          }
        val cols = schema.fields.map(f =>
          s"  `${f.name}` ${f.dataType.sql}" +
            (if (f.nullable) "" else " NOT NULL")).mkString(",\n")
        Some(Seq((tbl, s"CREATE TABLE `$tbl` (\n$cols\n)"))
          .toDF("Table", "Create Table"))
      case loadDataRe(local, path, table, sep) =>
        // LOAD DATA INFILE (server-side path). The LOCAL form is
        // EXCLUSIVELY the capability-gated 0xFB wire flow in MySqlServer
        // (localInfileRe intercepts it before this dispatch): if a LOCAL
        // statement reaches here — a multi-statement batch or an embedded
        // caller, where no client file stream exists — reading the
        // client's filename as a SERVER path would silently load the
        // wrong file (ADVICE r11). MySQL's own refusal code is 1148.
        if (local != null)
          throw EngineError(1148, "42000",
            "LOAD DATA LOCAL is only available on a client connection " +
              "with CLIENT_LOCAL_FILES (the wire protocol streams the file)")
        // The ClientLocalFiles capability the gateway advertises and
        // relays (/root/reference/mysql/constants.go:7-11): append a
        // delimited file into an existing session table. The target schema
        // drives the CSV parse (MySQL's column-order contract); default
        // separator is TAB like MySQL. The view is rebuilt as old-plan
        // UNION ALL file-scan — lazy, distributed, no driver
        // materialization.
        val existing =
          try s.spark.table(table)
          catch { case _: Exception =>
            throw EngineError(1146, "42S02", s"Table '$table' doesn't exist")
          }
        val csv = s.spark.read.schema(existing.schema)
          .option("sep", Option(sep).getOrElse("\t"))
          .csv(path)
        // swapAppendedView also invalidates the memoized-relation
        // generation, or post-load queries could be served relations built
        // on the pre-load view
        s.swapAppendedView(table, existing.unionAll(csv))
        Some(s.spark.emptyDataFrame)
      case killRe(connId) =>
        // COM_PROCESS_KILL analog: cancel the target connection's in-flight
        // jobs on the shared context (interruptOnCancel set at submission)
        s.spark.sparkContext.cancelJobGroup(s"graft-conn-$connId")
        Some(s.spark.emptyDataFrame)
      case prepareRe(name, body) =>
        s.prepared(name.toLowerCase) = body.replace("''", "'")
        Some(s.spark.emptyDataFrame)
      case executeRe(name, usingPart) =>
        val stmt = s.prepared.getOrElse(name.toLowerCase,
          throw EngineError(1243, "HY000",
            s"Unknown prepared statement handler ($name) given to EXECUTE"))
        val args = Option(usingPart).toSeq
          .flatMap(splitTopLevel(_, ',')).map(_.trim).filter(_.nonEmpty)
          .map { a =>
            if (!a.startsWith("@") || a.startsWith("@@"))
              throw EngineError(1064, "42000",
                s"EXECUTE USING expects user variables, got '$a'")
            s.userVar(a.stripPrefix("@")).filterNot(_ == SysVarNull)
              .map(sqlLiteral).getOrElse("NULL")
          }
        Some(s.sql(bindPositional(stmt, args)))
      case deallocRe(name) =>
        if (s.prepared.remove(name.toLowerCase).isEmpty)
          throw EngineError(1243, "HY000",
            s"Unknown prepared statement handler ($name) given to " +
              "DEALLOCATE PREPARE")
        Some(s.spark.emptyDataFrame)
      case setNamesRe(cs, coll) =>
        Seq("character_set_client", "character_set_connection",
          "character_set_results").foreach(s.setSysVar(_, cs))
        // SET NAMES resets the connection collation: the explicit COLLATE
        // clause if present, else the engine's utf8mb4_bin default
        // (/root/reference/mysql/constants.go:6). An explicit name resolves
        // table-driven against the full registry ([[Collations]], the
        // id↔name tables at constants.go:77-522); names beyond the table
        // pass if they keep the registry's suffix convention (newer MySQL
        // backends); anything else is MySQL's ER_UNKNOWN_COLLATION.
        Option(coll)
          .filterNot(c => Collations.isKnown(c) || Collations.conventional(c))
          .foreach { c =>
            throw EngineError(1273, "HY000", s"Unknown collation: '$c'")
          }
        s.setSysVar("collation_connection",
          Option(coll).getOrElse("utf8mb4_bin"))
        Some(s.spark.emptyDataFrame)
      case showVarsRe(like) =>
        val re = Option(like).map(p => ("(?i)^" + java.util.regex.Pattern
          .quote(p).replace("%", """\E.*\Q""").replace("_", """\E.\Q""") + "$").r)
        import s.spark.implicits._
        val rows = s.sysVarSnapshot.toSeq
          .filter { case (n, _) => re.forall(_.matches(n)) }.sorted
          // a NULL-set variable displays as empty, per MySQL
          .map { case (n, v) => (n, if (v == SysVarNull) "" else v) }
        Some(rows.toDF("Variable_name", "Value"))
      case setStmtRe(body) =>
        val assigns = splitTopLevel(body, ',').map(_.trim).filter(_.nonEmpty)
        val parsed = assigns.map {
          case assignRe(scope, ats, dotScope, name, value) =>
            // bare (unquoted) NULL is the NULL value — the string 'NULL'
            // stays a string; mysql-connector-j's opening burst sends
            // `SET character_set_results = NULL`. An RHS that is exactly
            // a @@sysvar / @uservar reference resolves to its CURRENT
            // value (mysqldump's save/restore pair:
            // SET @OLD_TIME_ZONE=@@TIME_ZONE … SET TIME_ZONE=@OLD_TIME_ZONE);
            // quoted forms stay literal strings.
            val raw = value.trim
            val v = raw match {
              case _ if raw.equalsIgnoreCase("null") => SysVarNull
              case sysRefRe(rn) =>
                s.sysVarSnapshot.getOrElse(rn.toLowerCase,
                  throw EngineError(1193, "HY000",
                    s"Unknown system variable '${rn.toLowerCase}'"))
              case userRefRe(rn) =>
                s.userVar(rn.toLowerCase).getOrElse(SysVarNull)
              case _ => unquote(raw)
            }
            val n = name.toLowerCase
            if (ats == "@@" || scope != null || dotScope != null)
              Some(() => s.setSysVar(n, switchNorm(v)))
            else if (ats == "@") Some(() => s.setUserVar(n, v))
            else if (s.sysVarSnapshot.contains(n))
              Some(() => s.setSysVar(n, switchNorm(v)))
            else None
          case _ => None
        }
        if (parsed.nonEmpty && parsed.forall(_.isDefined)) {
          parsed.foreach(_.get.apply())
          Some(s.spark.emptyDataFrame)
        } else None
      case _ => None
    }

  /** Split on `sep` in code, never inside a literal or comment (SET lists
    * with quoted values); with `nested`, only outside parens (a CREATE
    * TABLE column list, whose type args and ENUM lists nest). */
  private def splitTopLevel(s: String, sep: Char,
      nested: Boolean = false): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < s.length) {
      val e = MySqlLexer.spanEnd(s, i)
      if (e > i) { cur.append(s.substring(i, e)); i = e }
      else {
        val c = s.charAt(i)
        if (c == sep && depth == 0) { parts += cur.toString; cur.clear() }
        else {
          if (nested && c == '(') depth += 1
          else if (nested && c == ')') depth -= 1
          cur.append(c)
        }
        i += 1
      }
    }
    parts += cur.toString
    parts.result()
  }

  /** Strip one level of '…'/"…" quoting (both MySQL escapes: backslash and
    * doubled quote). */
  private def unquote(v: String): String =
    if (v.length >= 2 && (v.head == '\'' || v.head == '"') && v.last == v.head) {
      val q = v.head.toString
      v.substring(1, v.length - 1)
        .replace(q + q, q)
        .replace("\\'", "'").replace("\\\"", "\"").replace("\\\\", "\\")
    } else v

  /** MySQL switch-word normalization (ON/OFF/TRUE/FALSE → 1/0) — applied to
    * SYSTEM variable assignments only: `SET @x = 'ON'` must keep the string
    * (ADVICE r05), while `SET autocommit = OFF` reads back as 0. */
  private def switchNorm(v: String): String = v.toUpperCase match {
    case "ON" | "TRUE" => "1"
    case "OFF" | "FALSE" => "0"
    case _ => v
  }

  private val numericLit = """-?\d+(\.\d+)?""".r
  /** Replace each `?` placeholder outside quotes/comments with the next
    * bound literal (MySQL error 1210 on arity mismatch). Comment spans
    * (`--`, `#`, block comments) pass through unscanned like
    * [[substituteVars]] — a `?` inside one is commentary, not a parameter
    * (ADVICE r05). */
  private[graft] def bindPositional(stmt: String, args: Seq[String]): String = {
    def arity = EngineError(1210, "HY000",
      "Incorrect number of arguments to EXECUTE")
    val (bound, n) = replaceMarkers(stmt)(k =>
      if (k < args.length) args(k) else throw arity)
    if (n != args.length) throw arity
    bound
  }

  private def sqlLiteral(v: String): String =
    if (numericLit.matches(v)) v
    else "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Render a TYPED prepared-statement argument as a SQL literal — used
    * only to probe session-command interception with bound values (the
    * relay path keeps typed named-parameter binding; this never runs for
    * plain relayed statements). */
  private[graft] def literalOf(a: Any): String = a match {
    case null => "NULL"
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case b: Array[Byte] => "X'" + b.map("%02x".format(_)).mkString + "'"
    case t: java.sql.Timestamp => s"TIMESTAMP '${t.toString}'"
    case d: java.sql.Date => s"DATE '${d.toString}'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case n: Number => n.toString
    case other => literalOf(other.toString)
  }

  private val varNameRe = """^(?:(session|global|local)\.)?([A-Za-z_][A-Za-z0-9_]*)""".r

  /** Cheap trigger for the client-identity function rewrite (CONNECTION_ID,
    * USER, DATABASE, …) — may over-match inside strings; the token-safe scan
    * below decides for real. */
  private[graft] val clientFnDetect =
    """(?i)\b(connection_id|current_user|session_user|system_user|user|database|schema|version)\s*\(""".r

  /** Argless-call substitution targets, longest name first so the scan never
    * matches `user` inside `current_user`. */
  private val clientFnNames = Seq("connection_id", "current_user",
    "session_user", "system_user", "database", "version", "schema", "user")

  /** information_schema emulation (r14) — ORMs and GUI tools introspect
    * `information_schema.tables` / `.columns` / `.schemata` with arbitrary
    * SELECTs (joins, predicates, aggregates), so interception-by-statement
    * can't work; instead the three relations are materialized as session
    * temp views (metadata-sized, rebuilt per referencing query so they
    * always reflect the live catalog) and the qualified names are
    * rewritten to them token-safely. The helper views themselves are
    * excluded from the listing, like MySQL keeps information_schema out
    * of SHOW TABLES. */
  private[graft] val infoSchemaDetect =
    """(?i)`?information_schema`?\s*\.\s*`?(tables|columns|schemata|statistics|key_column_usage|referential_constraints)""".r

  /** Qualify BARE info-schema table references (`FROM TABLES`, `JOIN
    * columns c`) with `information_schema.` — the resolution a session
    * whose default schema IS information_schema (after `USE
    * information_schema`) owes them, mysql-CLI style. Token-safe walker:
    * strings/comments pass untouched, only the word directly after
    * FROM/JOIN is considered (comma-separated FROM lists keep their later
    * elements unqualified — qualify those by hand), the backtick-quoted
    * spelling qualifies like the bare one, CTE/named-window names shadow
    * the metadata views (the MySQL scoping rule), already-dotted names
    * stay as written, and SHOW/DESCRIBE/USE/SET statements are excluded
    * (their namespace logic is the statement handler's). A bare FROM/JOIN
    * ref that is NOT a metadata view answers 1146 — data tables do not
    * exist in information_schema, and SELECT must agree with
    * DESCRIBE/SHOW COLUMNS, which already error there (ADVICE r15). */
  /** Strip LEADING plain comments and whitespace — slash-star block
    * comments (but never the semantic slash-star-bang NNNNN versioned
    * form), `-- ` to end of line (MySQL
    * requires whitespace or EOL after the dashes; `--x` is an expression),
    * and `# …` to end of line — so statement interception matches what
    * MySQL's parser would see. Used for MATCHING only: the relayed text
    * keeps its comments (Spark strips its own), and an unterminated
    * comment is left for the downstream parser to reject. */
  private[graft] def stripLeadingComments(q: String): String = {
    var i = 0
    var changed = true
    while (changed) {
      changed = false
      while (i < q.length && Character.isWhitespace(q.charAt(i))) {
        i += 1; changed = true
      }
      if (q.startsWith("/*", i) && !q.startsWith("/*!", i)) {
        val end = q.indexOf("*/", i + 2)
        if (end >= 0) { i = end + 2; changed = true }
      } else if (q.startsWith("--", i) &&
          (i + 2 >= q.length || Character.isWhitespace(q.charAt(i + 2)))) {
        while (i < q.length && q.charAt(i) != '\n') i += 1
        changed = true
      } else if (i < q.length && q.charAt(i) == '#') {
        while (i < q.length && q.charAt(i) != '\n') i += 1
        changed = true
      }
    }
    if (i == 0) q else q.substring(i)
  }

  /** MySQL `#` end-of-line comments → `-- ` — Spark's parser has no `#`
    * form, so a relayed statement carrying one would fail to parse
    * (code-review r16 #2 fallout; MySQL manual §11.7). Token-safe:
    * quotes/backticks and existing comment forms pass untouched; a
    * `#`-free statement returns identically. */
  private[graft] def translateHashComments(q: String): String = {
    if (q.indexOf('#') < 0) return q
    val out = new StringBuilder
    var i = 0
    while (i < q.length) {
      val e = MySqlLexer.spanEnd(q, i)
      if (e == i) { out.append(q.charAt(i)); i += 1 }
      else {
        if (q.charAt(i) == '#') out.append("-- ").append(q.substring(i + 1, e))
        else out.append(q.substring(i, e))
        i = e
      }
    }
    out.toString
  }

  private[graft] def qualifyBareInfoSchema(query: String): String = {
    if ("""(?is)^\s*(show|desc|describe|use|set)\b""".r
        .findFirstIn(stripLeadingComments(query)).isDefined) return query
    val names = infoSchemaTables.map(_.toLowerCase).toSet
    // CTE / named-window names SHADOW schema tables in MySQL: `WITH tables
    // AS (…) SELECT … FROM tables` must read the CTE, not the metadata
    // view (code-review r15 #4). The `name [ (cols) ] AS (` shape is
    // distinctive; over-excluding (a window name, say) merely skips a
    // qualification, which is the safe direction.
    val shadowed: Set[String] =
      """(?is)([A-Za-z_][A-Za-z0-9_]*)\s*(?:\([^()]*\))?\s+as\s*\(""".r
        .findAllMatchIn(query).map(_.group(1).toLowerCase).toSet
    val out = new StringBuilder
    var prevWord = ""
    var i = 0
    // expression-level FROM: inside EXTRACT(YEAR FROM ts), TRIM(BOTH ' '
    // FROM s), SUBSTRING(s FROM 2), OVERLAY(... FROM ...) the FROM is an
    // argument separator, never a table position (code-review r16 #1).
    // One stack entry per open paren: true = directly inside such a
    // function's argument list (a nested subquery pushes false, so its
    // own FROM keeps qualifying).
    val exprFnWords = Set("extract", "trim", "substring", "substr",
      "position", "overlay")
    var fnDepth = List.empty[Boolean]
    def inExprFn: Boolean = fnDepth.headOption.getOrElse(false)
    // dots may carry whitespace on either side (`FROM db . tbl` is valid
    // MySQL) — a qualified ref is recognized through it (code-review
    // r16 #3)
    def prevNonWsIsDot(idx: Int): Boolean = {
      var j = idx - 1
      while (j >= 0 && Character.isWhitespace(query.charAt(j))) j -= 1
      j >= 0 && query.charAt(j) == '.'
    }
    def nextNonWsIsDot(idx: Int): Boolean = {
      var j = idx
      while (j < query.length && Character.isWhitespace(query.charAt(j)))
        j += 1
      j < query.length && query.charAt(j) == '.'
    }
    def qualifies(lw: String, afterDot: Boolean, beforeDot: Boolean) =
      names(lw) && !shadowed(lw) && !inExprFn &&
        (prevWord == "from" || prevWord == "join") && !afterDot && !beforeDot
    // A bare FROM/JOIN ref that is NOT a metadata view resolves in the
    // default schema — which IS information_schema here — so it answers
    // 1146 exactly like DESCRIBE/SHOW COLUMNS already do for data tables
    // in this state (ADVICE r15: SELECT and DESCRIBE must agree; MySQL
    // errors the SELECT too). Excluded from the rule: CTE/window shadows,
    // FROM-position keywords that are not table refs (incl. a derived
    // table opening with WITH — MySQL 8.0.19+), expression-level FROMs
    // (`inExprFn`), and table functions or derived tables (a `(` follows
    // the name). Qualified refs (`mydb.region`) keep working — only the
    // unqualified spelling lives in the current schema.
    val nonTableWords =
      Set("dual", "lateral", "values", "unnest", "select", "with", "table")
    // Words that END a FROM clause's table list: a top-level comma is a
    // table separator only while the scanner is directly inside FROM
    // (ADVICE r16 #1 — `FROM tables t, columns c` must qualify BOTH).
    // Parens save/restore the flag, so commas in argument lists, IN
    // lists, and OVER clauses never reset table position. Over-inclusion
    // here merely skips a qualification — the declared-safe direction.
    // "update" ends the suspended join-condition state too: in `INSERT …
    // SELECT … FROM t1 JOIN t2 ON a = b ON DUPLICATE KEY UPDATE p = 1,
    // q = 2` the assignment-list comma must NOT re-enter table position
    // (r18 code-review #1 — without this the comma after `p = 1` put `q`
    // in table position: bogus 1146, or mis-qualification of an
    // assignment target named like a metadata view).
    val clauseEnders = Set("where", "group", "having", "order", "limit",
      "union", "except", "intersect", "on", "using", "window", "select",
      "set", "values", "for", "into", "procedure", "lock", "update")
    var inFrom = false
    // ON/USING SUSPENDS table position without ENDING the FROM clause
    // (ADVICE r17 #1): `FROM t1 JOIN t2 ON c, tables` is valid MySQL and
    // the post-comma ref is back in table position — so the comma branch
    // must be able to restore what ON cleared. Both flags save/restore
    // through parens together.
    var inJoinCond = false
    var fromStack = List.empty[(Boolean, Boolean)]
    def missingHere(lw: String, afterDot: Boolean, beforeDot: Boolean,
        nextIdx: Int): Boolean =
      !names(lw) && !shadowed(lw) && !nonTableWords(lw) && !inExprFn &&
        (prevWord == "from" || prevWord == "join") && !afterDot && !beforeDot && {
          var j = nextIdx
          while (j < query.length && Character.isWhitespace(query.charAt(j)))
            j += 1
          !(j < query.length && query.charAt(j) == '(')
        }
    while (i < query.length) {
      val c = query.charAt(i)
      val e = MySqlLexer.spanEnd(query, i)
      if (c == '`' && e - 1 > i && query.charAt(e - 1) == '`') {
        // a backtick-quoted ref resolves identically to the bare spelling
        // in MySQL (code-review r15 #5): qualify the whole token when the
        // quoted name is an info-schema table in table position
        val content = query.substring(i + 1, e - 1)
        val lw = content.toLowerCase
        val afterDot = prevNonWsIsDot(i)
        val beforeDot = nextNonWsIsDot(e)
        if (qualifies(lw, afterDot, beforeDot))
          out.append("information_schema.")
        else if (missingHere(lw, afterDot, beforeDot, nextIdx = e))
          throw EngineError(1146, "42S02", s"Table '$content' doesn't exist")
        // the quoted name becomes prevWord either way, so a following bare
        // alias that collides with a metadata-view name (`FROM ``t``
        // tables`) is never in table position (ADVICE r15)
        out.append(query.substring(i, e))
        prevWord = lw
        i = e
      } else if (e > i) {
        // comments and literals pass untouched — commented-out text never
        // looks like a table ref (code-review r16 #2). A literal (or an
        // unterminated backtick) clears prevWord: `TRIM(BOTH 'x' FROM
        // 'xax') AS t` must not leave prevWord=='from' alive for the word
        // after the literal+paren (code-review r16 #1 fallout)
        out.append(query.substring(i, e))
        if (c == '\'' || c == '"' || c == '`') prevWord = ""
        i = e
      } else if (Character.isLetter(c) || c == '_') {
        val start = i
        while (i < query.length && {
          val w = query.charAt(i)
          Character.isLetterOrDigit(w) || w == '_'
        }) i += 1
        val w = query.substring(start, i)
        val lw = w.toLowerCase
        val afterDot = prevNonWsIsDot(start)
        val beforeDot = nextNonWsIsDot(i)
        if (qualifies(lw, afterDot, beforeDot))
          out.append("information_schema.").append(lw)
        else if (missingHere(lw, afterDot, beforeDot, nextIdx = i))
          throw EngineError(1146, "42S02", s"Table '$w' doesn't exist")
        else out.append(w)
        if ((lw == "from" && !inExprFn) || lw == "join") {
          inFrom = true; inJoinCond = false
        } else if (lw == "on" || lw == "using") {
          // join condition: table position suspends, the FROM clause
          // stays open for a later top-level comma (ADVICE r17 #1)
          if (inFrom) inJoinCond = true
          inFrom = false
        } else if (clauseEnders(lw)) { inFrom = false; inJoinCond = false }
        // LATERAL sits between FROM/JOIN/comma and its derived table
        // (MySQL 8.0.14+): prevWord-transparent, so the ref after it is
        // still in table position (ADVICE r16 #4). STRAIGHT_JOIN is a
        // JOIN spelling — but ONLY inside a FROM clause: the same word is
        // a SELECT modifier (`SELECT STRAIGHT_JOIN col FROM t`), where
        // treating it as a join would put the first select-list column in
        // table position (r17 code-review finding #1).
        if (lw == "lateral" && (prevWord == "from" || prevWord == "join")) ()
        else if (lw == "straight_join" && (inFrom || inJoinCond)) {
          // the join-operator spelling is legal mid-clause too
          // (`… ON c STRAIGHT_JOIN t3`): a suspended FROM re-enters
          prevWord = "join"; inFrom = true; inJoinCond = false
        } else prevWord = lw
      } else if (c == '(') {
        fnDepth = exprFnWords(prevWord) :: fnDepth
        fromStack = (inFrom, inJoinCond) :: fromStack
        inFrom = false; inJoinCond = false
        // the pushed flag captured the function context — reset prevWord
        // so an IMMEDIATELY nested paren pushes false and a subquery
        // argument's own FROM keeps qualifying (ADVICE r16 #2:
        // `SUBSTRING((SELECT n FROM tables) FROM 1 FOR 2)`)
        prevWord = ""
        out.append(c); i += 1
      } else if (c == ')') {
        if (fnDepth.nonEmpty) fnDepth = fnDepth.tail
        if (fromStack.nonEmpty) {
          inFrom = fromStack.head._1; inJoinCond = fromStack.head._2
          fromStack = fromStack.tail
        }
        prevWord = "" // what follows ')' is an alias/keyword, never a
        out.append(c); i += 1 // bare ref in FROM/JOIN position
      } else if (c == ',') {
        // a top-level comma directly inside FROM separates table refs —
        // the next word is back in table position (ADVICE r16 #1)
        if (inFrom || inJoinCond) {
          // re-enter table position even when ON/USING had suspended it
          // (ADVICE r17 #1): a top-level comma inside a join condition is
          // impossible without parens (expressions parenthesize their
          // argument/row-constructor commas), so this comma separates
          // FROM items
          prevWord = "from"; inFrom = true; inJoinCond = false
        }
        out.append(c); i += 1
      } else if (c == ';') {
        inFrom = false; inJoinCond = false; prevWord = ""
        out.append(c); i += 1
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private[graft] def rewriteInfoSchema(query: String): String = {
    // token-safe: quoted strings / backticks / comments pass untouched
    val out = new StringBuilder
    var i = 0
    // both spellings: bare and the backticked form GUI tools emit
    // (`information_schema`.`tables`); trailing lookahead instead of \b
    // because a closing backtick may follow the name
    val headRe = """(?is)^`?information_schema`?\s*\.\s*`?(tables|columns|schemata|statistics|key_column_usage|referential_constraints)`?(?![A-Za-z0-9_])""".r
    while (i < query.length) {
      val c = query.charAt(i)
      // try the information_schema head BEFORE the lexer, so the
      // backticked spelling rewrites too
      val head =
        if ((c == 'i' || c == 'I' || c == '`') &&
            (i == 0 || { val p = query.charAt(i - 1)
              !Character.isLetterOrDigit(p) && p != '_' && p != '.' && p != '`' }))
          headRe.findFirstMatchIn(query.substring(i))
        else None
      head match {
        case Some(m) =>
          out.append("graft_is_").append(m.group(1).toLowerCase)
          i += m.matched.length
        case None =>
          val e = MySqlLexer.spanEnd(query, i)
          if (e > i) { out.append(query.substring(i, e)); i = e }
          else { out.append(c); i += 1 }
      }
    }
    out.toString
  }

  /** SHOW [FULL] COLUMNS / DESCRIBE result in MySQL's column shape —
    * Field, Type, Null, Key, Default, Extra; FULL inserts Collation right
    * after Type and appends Privileges, Comment (manual §15.7.7.6 — tools
    * read these by position). Unknown tables answer 1146 like SHOW
    * CREATE. */
  private def describeShape(s: Session, table: String, full: Boolean,
      re: Option[scala.util.matching.Regex],
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    import s.spark.implicits._
    import org.apache.spark.sql.types._
    val schema = schemaOverride.getOrElse(
      try s.spark.table(table).schema
      catch { case _: org.apache.spark.sql.AnalysisException =>
        throw EngineError(1146, "42S02", s"Table '$table' doesn't exist")
      })
    val fields = schema.fields.toSeq
      .filter(f => re.forall(_.matches(f.name)))
    if (full)
      // MySQL's FULL column order puts Collation right after Type
      // (manual §15.7.7.6; r16 — DBeaver reads these by position when
      // building its tree labels)
      fields.map { f =>
        val coll: Option[String] =
          if (f.dataType == StringType) Some("utf8mb4_bin") else None
        (f.name, mysqlType(f.dataType), coll,
          if (f.nullable) "YES" else "NO", "", Option.empty[String], "",
          "select,insert,update,references", "")
      }.toDF("Field", "Type", "Collation", "Null", "Key", "Default",
        "Extra", "Privileges", "Comment")
    else
      fields.map { f =>
        (f.name, mysqlType(f.dataType),
          if (f.nullable) "YES" else "NO", "", Option.empty[String], "")
      }.toDF("Field", "Type", "Null", "Key", "Default", "Extra")
  }

  // ---- dump-restore DDL/DML (r14) --------------------------------------

  /** MySQL column type → Spark DataType — the restore direction of the
    * dump round-trip (SHOW CREATE TABLE + SELECT is the dump direction).
    * Unsigned integers widen one step; TIME stays a string (Spark has no
    * time-of-day type); ENUM/SET/JSON are strings. */
  private def sparkTypeOf(mysqlT: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val t = mysqlT.trim
    val base = t.takeWhile(c => c.isLetter).toLowerCase
    val unsigned = """(?i)\bunsigned\b""".r.findFirstIn(t).isDefined
    def args: Seq[Int] = {
      val m = """\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r.findFirstMatchIn(t)
      m.toSeq.flatMap(mm =>
        Seq(mm.group(1).toInt) ++ Option(mm.group(2)).map(_.toInt))
    }
    base match {
      case "tinyint" =>
        // MySQL's BOOLEAN is tinyint(1); keep it integral (dumps store 0/1)
        if (unsigned) ShortType else ByteType
      case "smallint" => if (unsigned) IntegerType else ShortType
      case "mediumint" => IntegerType
      case "int" | "integer" => if (unsigned) LongType else IntegerType
      case "bigint" =>
        if (unsigned) DecimalType(20, 0) else LongType
      case "float" => FloatType
      case "double" | "real" => DoubleType
      case "decimal" | "numeric" =>
        val a = args; DecimalType(a.headOption.getOrElse(10),
          a.drop(1).headOption.getOrElse(0))
      case "bit" => LongType
      case "bool" | "boolean" => BooleanType
      case "date" => DateType
      case "datetime" | "timestamp" => TimestampType
      case "year" => IntegerType
      case "binary" | "varbinary" | "tinyblob" | "blob" | "mediumblob" |
          "longblob" => BinaryType
      case _ => StringType // char/varchar/*text/enum/set/json/time/…
    }
  }

  /** A CREATE TABLE body's column and constraint definitions: split on
    * commas outside parens (type args, ENUM lists), literals and comments,
    * each definition without its leading comments. */
  private def splitColumnDefs(body: String): Seq[String] =
    splitTopLevel(body, ',', nested = true)
      .map(d => stripLeadingComments(d).trim).filter(_.nonEmpty)

  /** Index of the `)` closing a paren opened just before `from` — never one
    * inside a literal or comment — or -1 if unbalanced. */
  private def matchingClose(s: String, from: Int = 0): Int = {
    var depth = 1
    var i = from
    while (i < s.length) {
      val e = MySqlLexer.spanEnd(s, i)
      if (e > i) i = e
      else {
        val c = s.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth == 0) return i }
        i += 1
      }
    }
    -1
  }

  private val constraintHeadRe =
    """(?is)^(?:PRIMARY\s+KEY|UNIQUE(?:\s+KEY|\s+INDEX)?|KEY|INDEX|CONSTRAINT|FULLTEXT|SPATIAL|FOREIGN\s+KEY|CHECK)\b.*""".r
  private val colDefRe =
    """(?is)^(?:`([A-Za-z0-9_]+)`|([A-Za-z_]\w*))\s+(.+)$""".r

  /** Parse one MySQL column definition into a StructField. */
  private def parseColDef(defn: String): Option[org.apache.spark.sql.types.StructField] =
    defn match {
      case colDefRe(q, b, rest) =>
        val name = Option(q).getOrElse(b)
        val notNull = """(?is)\bNOT\s+NULL\b""".r.findFirstIn(rest).isDefined
        Some(org.apache.spark.sql.types.StructField(
          name, sparkTypeOf(rest), nullable = !notNull))
      case _ => None
    }

  /** Spark type → the MySQL data_type name tools expect — shared by the
    * information_schema emulation and the SHOW COLUMNS / DESCRIBE shapes. */
  private def mysqlType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "bigint"
      case IntegerType => "int"
      case ShortType => "smallint"
      case ByteType => "tinyint"
      case DoubleType => "double"
      case FloatType => "float"
      case StringType => "varchar"
      case BooleanType => "tinyint"
      case _: DecimalType => "decimal"
      case DateType => "date"
      case _: TimestampType => "timestamp"
      case BinaryType => "blob"
      case _ => "json" // arrays/maps/structs — the MySQL escape hatch
    }
  }

  /** (schema-DDL generation, table-name set) the columns view was last
    * built from, per session — graft_is_columns schema-analyzes EVERY
    * table, so rebuilding it on each referencing query makes an ORM's
    * one-query-per-table introspection burst O(N²) in schema analyses
    * (code-review r14). The generation counter ([[noteSchemaSwap]], bumped
    * by the DROP/CREATE handlers ONLY — appends never change a schema)
    * catches a DROP + same-name CREATE with a different schema — the
    * mysqldump re-restore sequence — which leaves the name SET unchanged
    * (ADVICE r14); the burst case
    * (introspection with no DDL between queries) keeps a constant
    * generation, so the memo still holds where it matters. */
  private val infoSchemaColsKey =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, (Long, Seq[String])]())

  /** Schema-DDL generation, bumped ONLY by statements that can REPLACE a
    * table's schema under an unchanged name set (DROP/CREATE). The
    * info-schema columns memo keys on THIS, not Tables.viewGeneration:
    * the view generation bumps on every INSERT/LOAD append (data changes
    * the relation memos must see), so keying the columns view on it made a
    * reflect-after-write workload rebuild the O(N-tables) schema analysis
    * after every single-row INSERT (code-review r15). Appends never change
    * any schema; CREATE/DROP of a NEW name is already caught by the name
    * set in the memo key. */
  private val schemaGen = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Long]())

  private[graft] def noteSchemaSwap(spark: SparkSession): Unit =
    schemaGen.synchronized {
      schemaGen.put(spark,
        java.lang.Long.valueOf(schemaGeneration(spark) + 1L))
    }

  private def schemaGeneration(spark: SparkSession): Long =
    Option(schemaGen.get(spark)).map(_.longValue).getOrElse(0L)

  private[graft] def registerInfoSchema(s: Session): Unit = {
    val spark = s.spark
    import spark.implicits._
    val db = spark.catalog.currentDatabase
    val names = spark.catalog.listTables().collect().map(_.name)
      .filterNot(_.startsWith("graft_is_")).sorted.toSeq
    // the extra MySQL TABLES columns JDBC getTables-style queries read
    // (connector-j aliases TABLE_COMMENT AS REMARKS; DBeaver reads
    // TABLE_COLLATION / TABLE_ROWS — NULL rows is valid, tools re-query
    // COUNT(*) when they need cardinality)
    names.map(t => ("def", db, t, "BASE TABLE", "graft",
        Option.empty[Long], "utf8mb4_bin", ""))
      .toDF("table_catalog", "table_schema", "table_name", "table_type",
        "engine", "table_rows", "table_collation", "table_comment")
      .createOrReplaceTempView("graft_is_tables")
    val memoKey = (schemaGeneration(spark), names)
    if (infoSchemaColsKey.get(spark) == memoKey) {
      // columns view is current (and the cheap static views below are
      // rebuilt-identical every time — skip them too)
      return
    }
    infoSchemaColsKey.put(spark, memoKey)
    names.flatMap { t =>
      val fields =
        try spark.table(t).schema.fields
        catch { case _: Exception => Array.empty[org.apache.spark.sql.types.StructField] }
      fields.zipWithIndex.map { case (f, i) =>
        import org.apache.spark.sql.types._
        val dt = mysqlType(f.dataType)
        val ct = f.dataType match {
          case d: DecimalType => s"decimal(${d.precision},${d.scale})"
          case _ => dt
        }
        // the MySQL COLUMNS metadata JDBC getColumns-style queries alias
        // (CHARACTER_MAXIMUM_LENGTH AS COLUMN_SIZE, NUMERIC_SCALE AS
        // DECIMAL_DIGITS, …); typed NULL where the concept has no parquet
        // analog, MySQL's documented values where it does
        val (charMax, numPrec, numScale) = f.dataType match {
          case StringType => (Some(65535L), None, None)
          case BinaryType => (Some(65535L), None, None)
          case ByteType => (None, Some(3L), Some(0L))
          case ShortType => (None, Some(5L), Some(0L))
          case IntegerType => (None, Some(10L), Some(0L))
          case LongType => (None, Some(19L), Some(0L))
          case FloatType => (None, Some(12L), None)
          case DoubleType => (None, Some(22L), None)
          case d: DecimalType =>
            (None, Some(d.precision.toLong), Some(d.scale.toLong))
          case _ => (None, None, None)
        }
        val dtPrec: Option[Long] = f.dataType match {
          case _: TimestampType => Some(6L) // micros end-to-end
          case DateType => Some(0L)
          case _ => None
        }
        val (csName, collName) = f.dataType match {
          case StringType => (Some("utf8mb4"), Some("utf8mb4_bin"))
          case _ => (None, None)
        }
        ("def", db, t, f.name, (i + 1).toLong, dt, ct,
          if (f.nullable) "YES" else "NO", Option.empty[String],
          charMax, numPrec, numScale, dtPrec, csName, collName,
          "", "", "select,insert,update,references", "")
      }
    }.toDF("table_catalog", "table_schema", "table_name", "column_name",
        "ordinal_position", "data_type", "column_type", "is_nullable",
        "column_default", "character_maximum_length", "numeric_precision",
        "numeric_scale", "datetime_precision", "character_set_name",
        "collation_name", "column_key", "extra", "privileges",
        "column_comment")
      .createOrReplaceTempView("graft_is_columns")
    Seq(("def", db, "utf8mb4", "utf8mb4_bin"))
      .toDF("catalog_name", "schema_name", "default_character_set_name",
        "default_collation_name")
      .createOrReplaceTempView("graft_is_schemata")
    // the key/index relations tools read for FK and index discovery —
    // correctly EMPTY (parquet relations carry no index/constraint
    // structures), with MySQL's column shape so tool queries still parse
    Seq.empty[(String, String, String, Long, String, Long, String, Long,
        String)]
      .toDF("table_catalog", "table_schema", "table_name", "non_unique",
        "index_name", "seq_in_index", "column_name", "cardinality",
        "index_type")
      .createOrReplaceTempView("graft_is_statistics")
    Seq.empty[(String, String, String, String, String, String, Long,
        String, String, String)]
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "table_schema", "table_name", "column_name", "ordinal_position",
        "referenced_table_schema", "referenced_table_name",
        "referenced_column_name")
      .createOrReplaceTempView("graft_is_key_column_usage")
    Seq.empty[(String, String, String, String, String, String, String)]
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "unique_constraint_schema", "update_rule", "delete_rule",
        "referenced_table_name")
      .createOrReplaceTempView("graft_is_referential_constraints")
  }

  /** Substitute `@@[scope.]name` (system) and `@name` (user) references —
    * plus MySQL client-identity argless calls (`USER()`, `DATABASE()`, …)
    * when `fns` carries replacements — with their current values as SQL
    * literals, token-safely: quoted strings, backtick identifiers and
    * comments pass through untouched, exactly like [[translateMySql]]. An
    * unknown system variable raises MySQL's ER_UNKNOWN_SYSTEM_VARIABLE
    * (1193); an unset user variable reads as NULL (the MySQL contract). */
  private[graft] def substituteVars(query: String, sys: Map[String, String],
      user: Map[String, String], fns: Map[String, String] = Map.empty): String = {
    val out = new StringBuilder
    var i = 0
    def at(j: Int, c: Char): Boolean = j < query.length && query.charAt(j) == c
    while (i < query.length) {
      val c = query.charAt(i)
      val e = MySqlLexer.spanEnd(query, i)
      if (e > i) { out.append(query.substring(i, e)); i = e - 1 }
      else if (c == '@' && at(i + 1, '@')) {
        varNameRe.findFirstMatchIn(query.substring(i + 2)) match {
          case Some(m) =>
            val name = m.group(2).toLowerCase
            val v = sys.getOrElse(name, throw EngineError(1193, "HY000",
              s"Unknown system variable '$name'"))
            // a NULL-set variable reads as typed NULL (CAST keeps the
            // column off Spark's NullType, which has no wire mapping)
            out.append(
              if (v == SysVarNull) "CAST(NULL AS STRING)" else sqlLiteral(v))
            i += 1 + m.matched.length
          case None => out.append(c)
        }
      } else if (c == '@') {
        varNameRe.findFirstMatchIn(query.substring(i + 1)) match {
          case Some(m) if m.group(1) == null =>
            out.append(user.get(m.group(2).toLowerCase)
              .filterNot(_ == SysVarNull).map(sqlLiteral)
              .getOrElse("NULL"))
            i += m.matched.length
          case _ => out.append(c)
        }
      } else if (fns.nonEmpty && Character.isLetter(c) &&
          (i == 0 || { val p = query.charAt(i - 1)
            !Character.isLetterOrDigit(p) && p != '_' && p != '.' })) {
        clientFnNames.find { n =>
          query.regionMatches(true, i, n, 0, n.length) && {
            var j = i + n.length
            // word boundary after the name, then an ARGLESS call
            (j >= query.length || (!Character.isLetterOrDigit(query.charAt(j))
              && query.charAt(j) != '_')) && {
              while (j < query.length && query.charAt(j).isWhitespace) j += 1
              j < query.length && query.charAt(j) == '(' && {
                j += 1
                while (j < query.length && query.charAt(j).isWhitespace) j += 1
                j < query.length && query.charAt(j) == ')'
              }
            }
          }
        } match {
          case Some(n) if fns.contains(n) =>
            out.append(fns(n))
            var j = i + n.length
            while (query.charAt(j) != ')') j += 1
            i = j
          case _ => out.append(c)
        }
      }
      else out.append(c)
      i += 1
    }
    out.toString
  }

  /** Translate the two MySQL-dialect spellings Spark's parser rejects
    * (SURVEY.md §7.2 P6) with a token-safe scan — quoted strings, backtick
    * identifiers and comments pass through untouched, exactly like the
    * sqlBatch splitter:
    *
    *   - `LIMIT a, b` → `LIMIT b OFFSET a` (every occurrence, subqueries
    *     included; only rewritten when both operands are integer literals)
    *   - `# line comment` → stripped (MySQL-only spelling)
    *
    * The reference relays these byte-transparently to a MySQL-dialect
    * backend (/root/reference/gateway/relay.go:12-30); an engine that parses
    * with Spark must translate to keep that client contract. */
  def translateMySql(query: String): String = {
    val out = new StringBuilder
    var i = 0
    val limitRe = """(?is)^LIMIT\s+(\d+)\s*,\s*(\d+)""".r
    while (i < query.length) {
      val c = query.charAt(i)
      val e = MySqlLexer.spanEnd(query, i)
      if (e > i) {
        // literals and comments copy through; `#` comments strip
        if (c != '#') out.append(query.substring(i, e))
        i = e - 1
      } else if ((c == 'l' || c == 'L') &&
          (i == 0 || !Character.isLetterOrDigit(query.charAt(i - 1)))) {
        limitRe.findFirstMatchIn(query.substring(i)) match {
          case Some(m) =>
            out.append(s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
            i += m.matched.length - 1
          case None => out.append(c)
        }
      } else if ((c == 'd' || c == 'D') &&
          (i == 0 || !Character.isLetterOrDigit(query.charAt(i - 1)))) {
        dateFormatRe.findFirstMatchIn(query.substring(i)) match {
          case Some(m) =>
            val start = i + m.matched.length // first char after '('
            rewriteDateFormat(query, start) match {
              case Some((rewritten, end)) =>
                out.append(rewritten)
                i = end // index of ')'
              case None => out.append(c)
            }
          case None => out.append(c)
        }
      }
      else out.append(c)
      i += 1
    }
    out.toString
  }

  private val dateFormatRe = """(?is)^DATE_FORMAT\s*\(""".r

  /** Rewrite one `DATE_FORMAT(expr, '%fmt')` call starting after its `(` at
    * `start`: returns the Spark `date_format(expr, 'java-fmt')` spelling and
    * the index of the closing `)`. None when the second argument is not a
    * plain string literal (then the call relays untouched and Spark's own
    * error surfaces — the transparent-relay contract). The expr argument is
    * itself re-translated (nested dialect forms). */
  private def rewriteDateFormat(query: String, start: Int): Option[(String, Int)] = {
    val end = matchingClose(query, start)
    if (end < 0) return None
    splitTopLevel(query.substring(start, end), ',', nested = true) match {
      case Seq(expr, arg) =>
        val fmtArg = arg.trim
        if (fmtArg.length < 2 || fmtArg.head != '\'' || fmtArg.last != '\'' ||
            fmtArg.substring(1, fmtArg.length - 1).contains('\''))
          None
        else {
          val javaFmt = mysqlDateFmtToJava(fmtArg.substring(1, fmtArg.length - 1))
          Some((s"date_format(${translateMySql(expr)}, '$javaFmt')", end))
        }
      case _ => None
    }
  }

  /** MySQL `DATE_FORMAT` %-codes → Java datetime pattern letters. Unmapped
    * literal LETTERS are single-quoted (Java patterns treat bare letters as
    * pattern fields; MySQL treats non-% chars as literals). */
  private[graft] def mysqlDateFmtToJava(fmt: String): String = {
    val codes = Map(
      'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'c' -> "M", 'd' -> "dd",
      'e' -> "d", 'H' -> "HH", 'k' -> "H", 'h' -> "hh", 'l' -> "h",
      'i' -> "mm", 's' -> "ss", 'S' -> "ss", 'f' -> "SSSSSS", 'p' -> "a",
      'W' -> "EEEE", 'a' -> "EEE", 'M' -> "MMMM", 'b' -> "MMM",
      'j' -> "DDD", 'T' -> "HH:mm:ss", 'r' -> "hh:mm:ss a")
    val out = new StringBuilder
    val lit = new StringBuilder // pending literal-letter run (quoted once)
    def flush(): Unit =
      if (lit.nonEmpty) { out.append('\'').append(lit).append('\''); lit.clear() }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val code = fmt.charAt(i + 1)
        if (code == '%') { flush(); out.append('%') } // '%' is no pattern letter
        else codes.get(code) match {
          case Some(j) => flush(); out.append(j)
          case None => lit.append(code) // unknown code: MySQL emits it literally
        }
        i += 1
      } else if (Character.isLetter(c)) lit.append(c)
      else { flush(); out.append(c) }
      i += 1
    }
    flush()
    out.toString
  }

  /** Case-insensitive namespace lookup (the reference's `strings.EqualFold`,
    * /root/reference/gateway/config.go:28-35) with a structured error on
    * miss — shared by cluster routing and database selection. */
  private[graft] def resolve(name: String, table: Map[String, String],
      kind: String): String =
    table.collectFirst {
      case (id, d) if id.equalsIgnoreCase(name) => d
    }.getOrElse(throw EngineError(1105, "08S01", s"unknown $kind: $name"))

  /** The metadata tables `SHOW TABLES FROM information_schema` lists —
    * MySQL's names for the views the engine's info-schema rewrite serves
    * (each backed by the matching graft_is_* temp view). */
  private[graft] val infoSchemaTables = Seq("COLUMNS", "KEY_COLUMN_USAGE",
    "REFERENTIAL_CONSTRAINTS", "SCHEMATA", "STATISTICS", "TABLES")

  /** Resolve a `SHOW ... FROM <db>` qualifier — or, for the unqualified
    * form (None), the session's default schema. Every row SHOW DATABASES
    * advertises must round-trip here (code-review r15): `information_schema`
    * answers None (the metadata surface — also the unqualified default
    * after USE information_schema), a bound name resolves through the
    * session map, and a session routed WITHOUT a databases map accepts the
    * advertised current database as a synonym for its one namespace.
    * Shared by SHOW TABLES / SHOW COLUMNS / SHOW TABLE STATUS so a
    * namespace-rule change can never diverge the family (code-review
    * r15 #7). */
  private def resolveShowDb(s: Session, db: Option[String]): Option[String] =
    db match {
      case None =>
        if (s.inInfoSchema) None else Some(Tables.boundDir(s.spark))
      case Some(d) if d.equalsIgnoreCase("information_schema") => None
      case Some(d) if s.boundDatabases.isEmpty &&
          d.equalsIgnoreCase(s.spark.catalog.currentDatabase) =>
        Some(Tables.boundDir(s.spark))
      case Some(d) => Some(resolve(d, s.boundDatabases, "database"))
    }

  /** Schema override for SHOW COLUMNS / DESCRIBE against a resolved
    * namespace (`ns` per [[resolveShowDb]]): None for the live current
    * binding; the backing metadata view for information_schema (name
    * lookup case-insensitive, unknown → 1146 — in that schema, DATA
    * tables do not exist); the SURFACED schema via Tables.table for a
    * different data namespace (never the raw declared StructType —
    * code-review r15 #3). */
  private def namespaceSchema(s: Session, ns: Option[String],
      tbl: String): Option[org.apache.spark.sql.types.StructType] =
    ns match {
      case None =>
        if (!infoSchemaTables.exists(_.equalsIgnoreCase(tbl)))
          throw EngineError(1146, "42S02", s"Table '$tbl' doesn't exist")
        registerInfoSchema(s)
        Some(s.spark.table("graft_is_" + tbl.toLowerCase).schema)
      case Some(dir) if dir != Tables.boundDir(s.spark) =>
        val name = Tables.all.collectFirst {
          case (n, _) if n.equalsIgnoreCase(tbl) => n
        }.getOrElse(throw EngineError(1146, "42S02",
          s"Table '$tbl' doesn't exist"))
        Some(Tables.table(s.spark, dir, name).schema)
      case _ => None
    }

  /** Routing table: cluster id → data directory. The reference falls through
    * silently on unknown ids (treats the id as a literal address,
    * /root/reference/gateway/config.go:28-35); we tighten that to a structured
    * error per SURVEY.md §2A A5. Lookup is case-insensitive like the
    * reference's `strings.EqualFold`.
    *
    * `db` is the ClientConnectWithDB analog: the handshake response may name
    * an initial database (/root/reference/mysql/packet_handshake_response.go:
    * 119-129, capability bit constants.go:44) — when present, the session
    * opens bound to that namespace from `databases` instead of the cluster's
    * default directory. */
  def connect(shared: SparkSession, clusterId: String,
      backends: Map[String, String], db: Option[String] = None,
      databases: Map[String, String] = Map.empty, user: String = "",
      attrs: Map[String, String] = Map.empty): Session = {
    val dir = resolve(clusterId, backends, "cluster id")
    val sess = shared.newSession()
    Tables.register(sess, db.fold(dir)(resolve(_, databases, "database")))
    val s = new Session(sess, clusterId, user, attrs)
    s.boundDatabases = databases
    sweepRegistry() // reclaim sessions abandoned without close()
    registry.put(s.connectionId,
      (new java.lang.ref.WeakReference(s), new java.lang.ref.WeakReference(sess)))
    maxUsedConnections.accumulateAndGet(registry.size.toLong, Math.max)
    lifecycle("connect", s.connectionId,
      s"cluster=$clusterId user=$user")
    s
  }

  /** Overridable connection-lifecycle / slow-query logging seam — the
    * engine analog of the reference's structured logger around
    * accept/route/close (/root/reference/utility/logger.go:1-8, used at
    * main.go:37,41 and throughout gateway/gateway.go). Default is silent
    * (a library must not invent a logging framework); a deployment installs
    * one sink and gets connection history + slow-query records.
    * Events emitted: `connect` (detail = routed cluster + user), `close`
    * (detail = cluster), `slow_query` (detail = action + duration ms).
    * Hook failures are swallowed — logging must never break the engine. */
  @volatile var lifecycleHook: (String, Long, String) => Unit = null

  private[graft] def lifecycle(event: String, connId: Long,
      detail: String): Unit = {
    val h = lifecycleHook
    if (h != null) try h(event, connId, detail) catch { case _: Exception => () }
  }

  /** See the call site in the Session constructor: the slow-query listener
    * is built HERE (static outer) so its only path back to the Session is
    * the explicit WeakReference — never an implicit $outer field. */
  private def registerSlowQueryListener(session: Session): Unit = {
    val weakSelf = new java.lang.ref.WeakReference(session)
    val connId = session.connectionId
    val listener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val self = weakSelf.get
          if (self != null && durationNs > self.longQueryThresholdSec * 1e9) {
            self.slowQueries.incrementAndGet()
            Engine.globalSlowQueries.incrementAndGet()
            lifecycle("slow_query", connId,
              s"$funcName ${durationNs / 1000000} ms")
          }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
    session.spark.listenerManager.register(listener)
    session.slowListener = listener
  }

  /** Live-connection registry (weak — a dropped Session disappears on GC):
    * backs SHOW PROCESSLIST the way the gateway's goroutine-per-connection
    * set does implicitly (/root/reference/gateway/gateway.go:63-64).
    * Each entry also weak-refs the Session's underlying SparkSession: a
    * client that abandons its Session without close() drops the wrapper to
    * GC, but the SparkSession itself can stay strongly pinned by the
    * memoized-relation caches it touched ([[graft.operators.Memo]] keys it;
    * the checkpointed frames reference it). [[sweepRegistry]] detects the
    * dead wrapper and releases those caches through the still-reachable
    * weak SparkSession ref — the abandon-path analog of `Session.close()`
    * (VERDICT r10 "what's wrong" #1). */
  private val registry = new java.util.concurrent.ConcurrentHashMap[Long,
    (java.lang.ref.WeakReference[Session],
      java.lang.ref.WeakReference[SparkSession])]

  /** Prune registry entries whose Session was GC'd without close() — a
    * long-lived gateway process otherwise leaks one map entry per abandoned
    * connection (ADVICE r05) — and release the per-session caches that
    * would otherwise pin the abandoned SparkSession forever. Runs on every
    * [[connect]] and every PROCESSLIST read. */
  private[graft] def sweepRegistry(): Unit = {
    val it = registry.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue._1.get == null) {
        val sub = e.getValue._2.get
        if (sub != null) Tables.release(sub)
        it.remove()
      }
    }
  }

  /** The live SparkSession behind connection `id`, if any — a spec probe:
    * the wire idle-reap case asserts the reaped session's memo entries and
    * binding were actually released, which needs the underlying session
    * object the server never otherwise exposes. */
  private[graft] def sessionSpark(id: Long): Option[SparkSession] =
    Option(registry.get(id)).flatMap(e => Option(e._2.get))

  private[graft] def processList: Seq[(Long, String, String, String, String)] = {
    import scala.jdk.CollectionConverters._
    sweepRegistry()
    registry.asScala.toSeq.flatMap { case (id, (ref, _)) =>
      Option(ref.get).map { s =>
        val state = if (s.inTransaction) "in transaction" else "idle"
        (id, s.user, s.clusterId, state,
          s.attrs.getOrElse("program_name", ""))
      }
    }.sortBy(_._1)
  }

  /** Handshake-username routing — the reference splits the MySQL username at
    * the FIRST '.' into (clusterId, backend user); a dot-less name is all
    * cluster id with an empty backend user
    * (/root/reference/gateway/gateway.go:253-259; the :4000 default-port
    * append at gateway.go:261-264 has no analog here — namespaces are
    * directories, not addresses). The one routing rule: the wire handshake
    * and COM_CHANGE_USER log in through here too, passing the client's
    * connect attributes as `attrs`. */
  def login(shared: SparkSession, userName: String,
      backends: Map[String, String], db: Option[String] = None,
      databases: Map[String, String] = Map.empty,
      attrs: Map[String, String] = Map.empty): Session = {
    val (clusterId, user) = userName.split("\\.", 2) match {
      case Array(c, u) => (c, u)
      case Array(c) => (c, "")
    }
    connect(shared, clusterId, backends, db, databases, user, attrs)
  }
}
