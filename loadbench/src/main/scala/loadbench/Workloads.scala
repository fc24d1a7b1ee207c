package loadbench

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Engine

/** One client request as the load generator issues it. */
sealed trait Stmt
object Stmt {
  final case class Text(sql: String) extends Stmt
  /** COM_STMT_PREPARE once per connection, then COM_STMT_EXECUTE. */
  final case class Exec(sql: String, params: Seq[Long]) extends Stmt
  case object Ping extends Stmt
  case object Reconnect extends Stmt
  /** An in-process `SparkEntry.queries` stage, drained to the end. */
  final case class Stage(name: String) extends Stmt
}

/** A request and what happened to it. Times are `System.nanoTime`, except
  * the wall-clock milliseconds used to attribute Spark jobs. */
final class Req(val id: Long, val cls: String, val stmt: Stmt) {
  var dueNs = 0L
  var startNs = 0L
  var endNs = 0L
  var sendMs = 0L
  var recvMs = 0L
  var tag: String = ""
  var rows = 0L
  var bytes = 0L
  var packets = 0L
  var digest: Digest = Digest.empty
  var ok = true
  var err: String = null

  def fail(why: String): Unit = { ok = false; if (err == null) err = why }
  /** Latency from the due time (open loop) or the send time (closed loop). */
  def latencyMs: Double =
    if (!ok) Req.FailedLatencyMs
    else (endNs - (if (dueNs > 0) dueNs else startNs)) / 1e6
  def serviceMs: Double = (endNs - startNs) / 1e6
  /** Ping and reconnect return no result; everything else is checked. */
  def isStatement: Boolean = stmt != Stmt.Ping && stmt != Stmt.Reconnect
}

object Req {
  /** A failed request misses every latency limit. */
  val FailedLatencyMs = 1e9
}

/** An in-process replay of a sampled statement next to a fresh wire run of
  * it, both on otherwise idle connections (traced runs only). */
final case class Replay(cls: String, wireMs: Double, inprocMs: Double,
    resultBytes: Long)

/** What a workload hands back. */
final case class Run(reqs: Seq[Req], metrics: Map[String, Double],
    tailPercentile: Double, notes: Seq[String], lagMs: Seq[Double],
    replays: Seq[Replay])

/** Shared per-run state: options, the deployment, tracing, and every
  * connection and in-process session the workload opens. */
final class Ctx(val o: Main.Opts, val env: Env, val tracer: Tracer,
    val jobLog: JobLog) {
  private val wires = new ConcurrentLinkedQueue[Wire]()
  private val sessions = new ConcurrentLinkedQueue[Engine.Session]()
  val connectMs = new ConcurrentLinkedQueue[java.lang.Double]()

  def open(user: String): Wire = {
    val w = new Wire(env.port, user)
    connectMs.add(w.connectMs)
    wires.add(w)
    w
  }

  def close(w: Wire): Unit = { w.close(); wires.remove(w) }

  /** A twin in-process session on the same backend, tagged `tag` for job
    * attribution on the calling thread. */
  def twin(tag: String): Engine.Session = {
    env.spark.sparkContext.setLocalProperty(JobLog.TagKey, tag)
    val s = Engine.login(env.spark, "prod.twin", env.backends)
    sessions.add(s)
    s
  }

  def closeAll(): Unit = {
    wires.asScala.foreach(_.close()); wires.clear()
    sessions.asScala.foreach(_.close()); sessions.clear()
  }
}

/** A client connection that runs [[Stmt]]s and fills in their [[Req]]. */
final class Conn(ctx: Ctx, user: String) {
  var wire: Wire = ctx.open(user)
  private val prepared = mutable.Map.empty[String, Long]

  private def run(st: Stmt): Wire.Result = st match {
    case Stmt.Text(sql) => wire.query(sql)
    case Stmt.Exec(sql, ps) =>
      wire.execute(prepared.getOrElseUpdate(sql, wire.prepare(sql)), ps)
    case Stmt.Ping => wire.ping()
    case Stmt.Reconnect =>
      ctx.close(wire)
      wire = ctx.open(user)
      prepared.clear()
      Wire.Result(Digest.empty, 0L)
    case st => throw new IllegalArgumentException(s"not a wire request: $st")
  }

  def exec(r: Req): Unit = {
    r.tag = Env.connTag(wire.threadId)
    val p0 = wire.packetsIn
    r.sendMs = System.currentTimeMillis()
    r.startNs = System.nanoTime()
    try {
      val res = ctx.tracer.span("wire." + r.cls, r.id)(run(r.stmt))
      r.rows = res.digest.rows
      r.bytes = res.bytes
      r.digest = res.digest
    } catch {
      case e: Exception =>
        r.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        // a broken connection is replaced so later requests still run
        if (!e.isInstanceOf[Wire.Failure]) {
          try ctx.close(wire) catch { case _: Exception => () }
          wire = ctx.open(user)
          prepared.clear()
        }
    }
    r.endNs = System.nanoTime()
    r.recvMs = System.currentTimeMillis()
    if (r.stmt != Stmt.Reconnect) r.packets = wire.packetsIn - p0
  }
}

object Workloads {
  trait Workload { def run(ctx: Ctx): Run }

  val byName: Map[String, Workload] = Map(
    "interactive" -> Interactive,
    "analytics" -> Analytics,
    "pipeline" -> Pipeline)

  /** Run `body(i)` on `n` threads and wait for all of them. */
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = (0 until n).map { i =>
      val t = new Thread(() => try body(i) catch { case e: Throwable => err.set(e) },
        s"loadbench-client-$i")
      t.start()
      t
    }
    ts.foreach(_.join())
    if (err.get != null) throw err.get
  }

  /** End-to-end metrics common to every workload, over the timed window. */
  def endToEnd(reqs: Seq[Req], windowS: Double, rows: Long, bytes: Long,
      tailP: Double): Map[String, Double] = {
    val lat = reqs.map(_.latencyMs)
    Map(
      "latency_p50_ms" -> Stats.median(lat),
      "latency_tail_ms" -> Stats.pct(lat, tailP),
      "throughput_ops" -> reqs.size / windowS,
      "rows_per_s" -> rows / windowS,
      "result_mb_per_s" -> bytes / 1e6 / windowS)
  }

  /** Per-class request count and median service time, for the detail line. */
  def classNotes(reqs: Seq[Req]): Seq[String] =
    reqs.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, rs) =>
      f"$c: ${rs.size} x ${Stats.median(rs.map(_.serviceMs))}%.1f ms"
    }

  def windowOf(reqs: Seq[Req]): Double = {
    val t0 = reqs.map(r => if (r.dueNs > 0) r.dueNs else r.startNs).min
    (reqs.map(_.endNs).max - t0) / 1e9
  }

  /** Compare each statement with its reference digest; a mismatch, or a
    * statement without a reference, is a failed request. */
  def check(reqs: Seq[Req], expected: Req => Option[Digest]): Unit =
    reqs.filter(r => r.ok && r.isStatement).foreach { r =>
      expected(r) match {
        case Some(want) if r.digest == want => ()
        case Some(want) =>
          r.fail(s"wrong result: got ${r.digest.rows} rows, want ${want.rows}")
        case None => r.fail("no reference result")
      }
    }

  /** Run a statement in-process on a twin session the way the server runs
    * it, with a span around each layer call; returns the result digest. */
  def inProcess(ctx: Ctx, s: Engine.Session, st: Stmt, req: Long): Digest = {
    val t = ctx.tracer
    st match {
      case Stmt.Text(sql) =>
        val df = t.span("engine.sql", req)(s.sqlMySql(sql))
        if (df.schema.isEmpty) Digest.empty
        else {
          t.span("spark.plan", req)(df.queryExecution.executedPlan)
          t.span("operators.exec", req)(drain(df))
        }
      case Stmt.Exec(sql, params) =>
        val ps = t.span("engine.prepare", req)(s.prepareStatement(sql))
        try {
          val df = t.span("engine.execute", req)(ps.execute(params: _*))
          t.span("spark.plan", req)(df.queryExecution.executedPlan)
          t.span("operators.exec", req)(drain(df))
        } finally ps.close()
      case _ => Digest.empty
    }
  }

  def drain(df: org.apache.spark.sql.DataFrame): Digest = {
    val it = df.toLocalIterator()
    var n = 0L
    var sum = 0L
    while (it.hasNext) { n += 1; sum += Digest.ofRow(Digest.textRow(it.next())) }
    Digest(n, sum)
  }

  /** Traced runs: up to `perClass` sampled statements per class, each run
    * once more over an idle wire connection and once in-process on a twin
    * session (alternating which goes first), so the difference is the
    * server's share. The replay thread's Spark jobs are tagged "replay". */
  def replays(ctx: Ctx, reqs: Seq[Req], perClass: Int): Seq[Replay] =
    if (!ctx.tracer.enabled) Nil
    else {
      val samples = reqs.filter(r => r.ok && r.isStatement)
        .groupBy(_.cls).toSeq.sortBy(_._1).flatMap(_._2.sortBy(_.id).take(perClass))
      val conn = new Conn(ctx, "prod.replay")
      val s = ctx.twin("replay")
      samples.zipWithIndex.map { case (r, i) =>
        val id = 1000000000L + i
        def wire(): Double = {
          val w = new Req(id, r.cls, r.stmt)
          conn.exec(w)
          w.serviceMs
        }
        def inproc(): Double = {
          val t0 = System.nanoTime()
          ctx.tracer.span("replay." + r.cls, id)(inProcess(ctx, s, r.stmt, id))
          (System.nanoTime() - t0) / 1e6
        }
        val (w, p) =
          if (i % 2 == 0) { val a = wire(); (a, inproc()) }
          else { val b = inproc(); (wire(), b) }
        Replay(r.cls, w, p, r.bytes)
      }
    }

  /** Zipf(1) key sampler over `keys` in a seeded rank order. */
  final class Zipf(keys: Array[Long], rnd: scala.util.Random) {
    private val order = rnd.shuffle(keys.toSeq).toArray
    private val cdf = {
      val c = new Array[Double](order.length)
      var acc = 0.0
      var i = 0
      while (i < c.length) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }
    /** The `i`-th least likely key. */
    def cold(i: Int): Long = order(order.length - 1 - i)
    def next(): Long = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      order(math.min(order.length - 1, if (i >= 0) i else -i - 1))
    }
  }
}

/** Open loop: seeded Poisson arrivals at a fixed rate onto 4 connections. */
object Interactive extends Workloads.Workload {
  import Workloads._

  /** Offered load (requests/s): 35-45 % of the closed-loop capacity this
    * mix reached on the 4-core host the benchmark was defined on, low enough
    * that the queue stays stable when the host slows (see
    * loadbench/README.md). */
  val Rate = 7

  /** Closed-loop warm-up before the window, long enough for the JIT to
    * settle: on one seed, three runs each read a p50 of 106-140 ms after
    * 6 s of warm-up, 98-126 ms after 12 s and 87-91 ms after 20 s. */
  val WarmupSeconds = 20.0

  private val chatter = Seq(
    Stmt.Text("SET NAMES utf8mb4"),
    Stmt.Text("SELECT @@version_comment LIMIT 1"),
    Stmt.Text("SHOW VARIABLES LIKE 'max_allowed_packet'"),
    Stmt.Ping,
    Stmt.Text("SELECT 1"))

  private val lookups = Seq(
    ("orders", "o_orderkey"), ("customer", "c_custkey"), ("lineitem", "l_orderkey"))

  /** Lookup table by slot of 10: 6 orders, 1 customer, 3 lineitem. Sorted
    * by latency, chatter and customer lookups fill the lowest 35 % and
    * orders lookups and reconnects the next 35 %, so the median request is
    * an orders lookup and not a point between two unlike classes. */
  private val lookupSlots = Seq(0, 0, 0, 0, 0, 0, 1, 2, 2, 2)

  private def lookupSql(t: String, c: String, k: String) = s"SELECT * FROM $t WHERE $c = $k"
  private def aggSql(k: String) =
    "SELECT COUNT(*) AS n, SUM(CAST(o_totalprice * 100 AS BIGINT)) AS cents, " +
      s"MAX(o_orderdate) AS latest FROM orders WHERE o_custkey = $k"

  def run(ctx: Ctx): Run = {
    val o = ctx.o
    val rnd = new scala.util.Random(o.seed)
    val n = math.max(20, Rate * o.seconds)

    // inputs: key lists from the fixture, then a seeded request stream
    val keySession = ctx.twin("inputs")
    def keys(sql: String) = keySession.sql(sql).collect().map(_.getLong(0))
    // line lookups draw from orders with exactly 4 lines, so every lookup
    // of a class returns the same number of rows whatever keys a seed picks
    val zOrders = new Zipf(keys("SELECT o_orderkey FROM orders"), rnd)
    val zCust = new Zipf(keys("SELECT c_custkey FROM customer"), rnd)
    val zLines = new Zipf(keys(
      "SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) = 4"), rnd)
    def zipfOf(t: String) = t match {
      case "customer" => zCust
      case "orders" => zOrders
      case _ => zLines
    }
    val nReconnect = math.round(n * 0.05).toInt
    val nAgg = math.round(n * 0.15).toInt
    val nChat = math.round(n * 0.30).toInt
    val kinds = rnd.shuffle(
      Seq.fill(nReconnect)("reconnect") ++ Seq.fill(nAgg)("aggregate") ++
        Seq.tabulate(nChat)(i => s"chatter$i") ++
        Seq.tabulate(n - nReconnect - nAgg - nChat)(i => s"lookup$i"))
    val reqs = kinds.zipWithIndex.map { case (kind, id) =>
      if (kind == "reconnect") new Req(id, "reconnect", Stmt.Reconnect)
      else if (kind == "aggregate") new Req(id, "aggregate", Stmt.Text(aggSql(zCust.next().toString)))
      else if (kind.startsWith("chatter")) {
        val st = chatter(kind.stripPrefix("chatter").toInt % chatter.size)
        new Req(id, if (st == Stmt.Ping) "ping" else "chatter", st)
      } else {
        val i = kind.stripPrefix("lookup").toInt
        val (t, c) = lookups(lookupSlots((i / 2) % lookupSlots.size))
        val k = zipfOf(t).next()
        if (i % 2 == 0) new Req(id, "lookup_text", Stmt.Text(lookupSql(t, c, k.toString)))
        else new Req(id, "lookup_binary", Stmt.Exec(lookupSql(t, c, "?"), Seq(k)))
      }
    }
    // a Poisson process conditioned on `Rate` arrivals in every second:
    // uniform due times within each one-second slot, so every seed offers
    // the same load second by second and only the sub-second clustering
    // varies
    val dueOffsets = reqs.indices.grouped(Rate).zipWithIndex.flatMap { case (g, slot) =>
      g.map(_ => slot + rnd.nextDouble()).sorted
    }.toSeq

    // warm-up, untimed: each connection runs every statement shape in a
    // closed loop for WarmupSeconds, with keys from the cold end of the
    // Zipf order
    val conns = (0 until Main.cores).map(i => new Conn(ctx, s"prod.u$i"))
    val warmEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    parallel(conns.size) { i =>
      var pass = 0
      while (System.nanoTime() < warmEnd) {
        val cold = i + pass * conns.size
        val warm = chatter ++ Seq(Stmt.Text(aggSql(zCust.cold(cold).toString))) ++
          lookups.flatMap { case (t, c) =>
            val k = zipfOf(t).cold(cold)
            Seq(Stmt.Text(lookupSql(t, c, k.toString)), Stmt.Exec(lookupSql(t, c, "?"), Seq(k)))
          }
        warm.foreach(st => conns(i).exec(new Req(-1, "warmup", st)))
        pass += 1
      }
    }

    // the timed window
    val queue = new LinkedBlockingQueue[Req]()
    val lag = new ConcurrentLinkedQueue[java.lang.Double]()
    val poison = new Req(-1, "", Stmt.Ping)
    val t0 = System.nanoTime() + 20000000L
    val loader = new Thread(() => {
      reqs.zip(dueOffsets).foreach { case (r, off) =>
        r.dueNs = t0 + (off * 1e9).toLong
        var now = System.nanoTime()
        while (now < r.dueNs) { LockSupport.parkNanos(r.dueNs - now); now = System.nanoTime() }
        lag.add((now - r.dueNs) / 1e6)
        queue.put(r)
      }
      conns.foreach(_ => queue.put(poison))
    }, "loadbench-loadgen")
    loader.start()
    parallel(conns.size) { i =>
      var r = queue.take()
      while (r ne poison) { conns(i).exec(r); r = queue.take() }
    }
    loader.join()
    val window = windowOf(reqs)

    // reference, outside the window: batched in-process queries on a twin
    val ref = ctx.twin("reference")
    def byKey(sql: String, keyCol: Int, drop: Boolean): Map[String, Digest] =
      ref.sql(sql).collect().toSeq.map(Digest.textRow).groupBy(_(keyCol)).map {
        case (k, rows) => k -> Digest.of(if (drop) rows.map(_.drop(1)) else rows)
      }
    def keysOf(r: Req): String = r.stmt match {
      case Stmt.Text(sql) => sql.substring(sql.lastIndexOf('=') + 1).trim
      case Stmt.Exec(_, ps) => ps.head.toString
      case _ => ""
    }
    val lookupRef = lookups.map { case (t, c) =>
      val ks = reqs.filter(r => r.cls.startsWith("lookup") && sqlOf(r).contains(s"FROM $t "))
        .map(keysOf).distinct
      t -> (if (ks.isEmpty) Map.empty[String, Digest]
        else byKey(s"SELECT * FROM $t WHERE $c IN (${ks.mkString(",")})",
          0, drop = false))
    }.toMap
    val aggKeys = reqs.filter(_.cls == "aggregate").map(keysOf).distinct
    val aggRef = if (aggKeys.isEmpty) Map.empty[String, Digest] else byKey(
      "SELECT o_custkey, COUNT(*), SUM(CAST(o_totalprice * 100 AS BIGINT)), " +
        s"MAX(o_orderdate) FROM orders WHERE o_custkey IN (${aggKeys.mkString(",")}) " +
        "GROUP BY o_custkey", 0, drop = true)
    val chatRef = chatter.collect { case st @ Stmt.Text(sql) =>
      sql -> inProcess(ctx, ref, st, -1)
    }.toMap
    check(reqs, r => r.cls match {
      case "chatter" => chatRef.get(sqlOf(r))
      case "aggregate" =>
        Some(aggRef.getOrElse(keysOf(r), Digest.of(Seq(Array("0", null, null)))))
      case c if c.startsWith("lookup") =>
        val t = lookups.map(_._1).find(t => sqlOf(r).contains(s"FROM $t ")).get
        Some(lookupRef(t).getOrElse(keysOf(r), Digest.empty))
      case _ => None
    })

    val tailP = Stats.tailPercentile(reqs.size)
    val e2e = endToEnd(reqs, window, reqs.map(_.rows).sum, reqs.map(_.bytes).sum, tailP)
    Run(reqs, e2e, tailP, Seq(s"offered rate $Rate req/s over ${o.seconds} s") ++ classNotes(reqs),
      lag.asScala.map(_.doubleValue).toSeq,
      replays(ctx, reqs, 6))
  }

  private def sqlOf(r: Req): String = r.stmt match {
    case Stmt.Text(s) => s
    case Stmt.Exec(s, _) => s
    case _ => ""
  }
}

/** Closed loop: 2 connections draining a fixed rotation of analytic
  * statements with seeded parameters that never repeat. */
object Analytics extends Workloads.Workload {
  import Workloads._

  /** Statements per second of `--seconds`, in whole rounds: the run is
    * fixed work, 4 rounds at `--seconds 15`, which the seed commit finishes
    * in about 10 s on 4 cores after its warm-up round. Parameters are drawn
    * from narrow bands (e.g. TPC-H Q1's 60-120 day delta), so they never
    * repeat but every seed asks for about the same work. */
  val StmtsPerSecond = 2.0

  /** One round of the rotation. The projection comes twice, so the median
    * statement falls inside one class, not between two. The order is the
    * same for every seed: with two connections draining one queue, which
    * statements overlap follows from the order, and a seeded order moved
    * the median by a fifth from seed to seed. */
  val Round = Seq("projection", "q1", "knn", "join3", "projection", "window", "rollup")

  private val day0 = java.time.LocalDate.of(1995, 1, 2)
  private def ts(d: java.time.LocalDate) = s"TIMESTAMP '$d 00:00:00'"

  def sql(cls: String, rnd: scala.util.Random): String = cls match {
    case "q1" =>
      val cutoff = java.time.LocalDate.of(2001, 11, 4).minusDays(60 + rnd.nextInt(61))
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS sum_disc_price, " +
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge, " +
        s"COUNT(*) AS count_order FROM lineitem WHERE l_shipdate <= ${ts(cutoff)} " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    case "join3" =>
      val seg = Seq("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")(rnd.nextInt(5))
      val d = day0.plusDays(1200 + rnd.nextInt(120))
      "SELECT o.o_orderkey, " +
        "CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue, " +
        "o.o_orderdate FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey " +
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
        s"WHERE c.c_mktsegment = '$seg' AND o.o_orderdate < ${ts(d)} AND l.l_shipdate > ${ts(d)} " +
        "GROUP BY o.o_orderkey, o.o_orderdate ORDER BY revenue DESC, o.o_orderkey LIMIT 10"
    case "window" =>
      val d = day0.plusDays(900 + rnd.nextInt(120))
      "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (SELECT o_custkey, o_orderkey, " +
        "o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, " +
        s"o_orderkey) AS rn FROM orders WHERE o_orderdate >= ${ts(d)} AND o_custkey % 16 = " +
        s"${rnd.nextInt(16)}) t WHERE rn <= 3"
    case "rollup" =>
      val p = 240000 + rnd.nextInt(20000)
      "SELECT r.r_name, n.n_name, COUNT(*) AS orders, " +
        "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
        "JOIN region r ON n.n_regionkey = r.r_regionkey " +
        s"WHERE o.o_totalprice > $p GROUP BY ROLLUP(r.r_name, n.n_name)"
    case "knn" =>
      val probe = Seq.fill(64)(f"${rnd.nextGaussian()}%.6e").mkString(", ")
      s"SELECT vec_id, label, graft_dot(embedding, array($probe)) AS score " +
        "FROM embeddings ORDER BY score DESC, vec_id LIMIT 10"
    case "projection" =>
      val d = day0.plusDays(400 + rnd.nextInt(120))
      "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, l_discount, " +
        s"l_shipdate FROM lineitem WHERE l_shipdate >= ${ts(d)} AND l_shipdate < ${ts(d.plusDays(600))}"
  }

  def run(ctx: Ctx): Run = {
    val o = ctx.o
    val rnd = new scala.util.Random(o.seed)
    val rounds = math.max(1, math.round(o.seconds * StmtsPerSecond / Round.size).toInt)
    val seen = mutable.Set.empty[String]
    // one untimed warm-up round, so the window does not start on code the
    // JIT has not compiled yet, then the timed rounds
    val all = Seq.fill(rounds + 1)(Round).flatten.zipWithIndex.map {
      case (c, id) =>
        var s = sql(c, rnd)
        while (seen.contains(s)) s = sql(c, rnd)
        seen += s
        new Req(id - Round.size, c, Stmt.Text(s))
    }
    val (warm, reqs) = all.splitAt(Round.size)
    val conns = (0 until 2).map(i => new Conn(ctx, s"prod.a$i"))
    def runAll(rs: Seq[Req]): Unit = {
      val queue = new ConcurrentLinkedQueue[Req](rs.asJava)
      parallel(conns.size) { i =>
        var r = queue.poll()
        while (r != null) { conns(i).exec(r); r = queue.poll() }
      }
    }
    runAll(warm)
    runAll(reqs)
    val window = windowOf(reqs)

    // reference, outside the window: every statement again, in-process
    val digests = new java.util.concurrent.ConcurrentHashMap[Long, Digest]()
    val refQueue = new ConcurrentLinkedQueue[Req](reqs.asJava)
    parallel(Main.cores) { i =>
      val s = ctx.twin(s"reference-$i")
      var r = refQueue.poll()
      while (r != null) { digests.put(r.id, inProcess(ctx, s, r.stmt, -1)); r = refQueue.poll() }
    }
    check(reqs, r => Option(digests.get(r.id)))

    val tailP = Stats.tailPercentile(reqs.size)
    Run(reqs, endToEnd(reqs, window, reqs.map(_.rows).sum, reqs.map(_.bytes).sum, tailP),
      tailP, Seq(s"${reqs.size} statements in $rounds rounds") ++ classNotes(reqs), Nil,
      replays(ctx, reqs, 2))
  }
}

/** Closed loop, in-process: one job at a time through `SparkEntry.queries`
  * on a seeded sample of the corpus. Each job connects a fresh engine
  * session (cold memo), runs the streaming dedup stage and the MinHash-LSH
  * pair stage, runs the pair stage again so it is served from the session's
  * memo, and closes the session. The wire and the server are bypassed. */
object Pipeline extends Workloads.Workload {
  import Workloads._

  val Streaming = "q111_stream_dedup"
  val Memoized = "q73_minhash_band_pairs"
  /** Calls of one job, in order; the last is the memo-served repeat. */
  val Calls = Seq(Streaming -> Streaming, Memoized -> Memoized, (Memoized + ".memo") -> Memoized)

  /** Jobs per second of `--seconds`: the run is fixed work, sized so the
    * seed commit finishes it in about `--seconds`. */
  val JobsPerSecond = 0.25

  /** Share of the fixture's documents and embeddings rows each seed keeps. */
  val SampleShare = 0.9

  def run(ctx: Ctx): Run = {
    val o = ctx.o
    val spark = ctx.env.spark
    spark.sparkContext.setLocalProperty(JobLog.TagKey, "pipeline")
    val dir = corpus(ctx)
    val jobs = math.max(3, math.round(o.seconds * JobsPerSecond).toInt)
    val entry = graft.SparkEntry.queries

    val reqs = mutable.ArrayBuffer.empty[Req]
    val jobMs = mutable.ArrayBuffer.empty[Double]
    for (j <- 0 until jobs) {
      val t0 = System.nanoTime()
      val s = ctx.tracer.span("engine.login", -2)(
        Engine.connect(spark, "corpus", Map("corpus" -> dir)))
      try Calls.foreach { case (cls, stage) =>
        val r = new Req(reqs.size.toLong, cls, Stmt.Stage(stage))
        r.tag = "pipeline"
        r.sendMs = System.currentTimeMillis()
        r.startNs = System.nanoTime()
        try {
          val (d, bytes) = ctx.tracer.span("stage." + cls, r.id) {
            val df = entry(stage)(s.spark, dir)
            ctx.tracer.span("spark.plan", r.id)(df.queryExecution.executedPlan)
            ctx.tracer.span("operators.exec", r.id)(collect(df))
          }
          r.digest = d
          r.rows = d.rows
          r.bytes = bytes
        } catch { case e: Exception => r.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        r.endNs = System.nanoTime()
        r.recvMs = System.currentTimeMillis()
        reqs += r
      } finally s.close()
      jobMs += (System.nanoTime() - t0) / 1e6
    }
    val window = windowOf(reqs.toSeq)

    // reference, outside the window: both stages computed from the sample
    // by batch SQL on a separate session, from their definitions
    val ref = spark.newSession()
    ref.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("docs")
    def digest(sql: String) = Digest.of(ref.sql(sql).collect().toSeq.map(Digest.textRow))
    val want = Map(Streaming -> digest(StreamingRef), Memoized -> digest(MinhashPairsRef))
    check(reqs.toSeq, r => r.stmt match {
      case Stmt.Stage(name) => want.get(name)
      case _ => None
    })

    val tailP = Stats.tailPercentile(jobMs.size)
    val e2e = Map(
      "latency_p50_ms" -> Stats.median(jobMs.toSeq),
      "latency_tail_ms" -> Stats.pct(jobMs.toSeq, tailP),
      "throughput_ops" -> reqs.size / window,
      "rows_per_s" -> reqs.map(_.rows).sum / window,
      "result_mb_per_s" -> reqs.map(_.bytes).sum / 1e6 / window)
    Run(reqs.toSeq, e2e, tailP,
      Seq(f"$jobs jobs, job_s_p50 ${Stats.median(jobMs.toSeq) / 1e3}%.3f") ++ classNotes(reqs.toSeq),
      Nil, Nil)
  }

  /** Drain a stage's result; its digest and its rows' text bytes. */
  private def collect(df: org.apache.spark.sql.DataFrame): (Digest, Long) = {
    val rows = df.collect().toSeq.map(Digest.textRow)
    (Digest.of(rows), rows.map(_.map(v => if (v == null) 0L else v.length.toLong).sum).sum)
  }

  /** The corpus directory for this seed: seeded samples of `documents` and
    * `embeddings`, each one parquet file like the fixture's, and copies of
    * the fixture's other tables. Rewritten on every run, before the
    * window. */
  private def corpus(ctx: Ctx): String = {
    val spark = ctx.env.spark
    val dir = ctx.o.work.resolve(s"corpus-${ctx.o.seed}")
    deleteTree(dir)
    java.nio.file.Files.createDirectories(dir)
    graft.sources.Tables.all.map(_._1).foreach { name =>
      val file = s"$name.parquet"
      val src = java.nio.file.Paths.get(ctx.o.data, file)
      if (name == "documents" || name == "embeddings") {
        val tmp = dir.resolve(s"$name.tmp")
        spark.read.parquet(src.toString).sample(withReplacement = false, SampleShare, ctx.o.seed)
          .coalesce(1).write.parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).iterator.asScala
          .find(p => p.getFileName.toString.endsWith(".parquet")).get
        java.nio.file.Files.move(part, dir.resolve(file))
        deleteTree(tmp)
      } else java.nio.file.Files.copy(src, dir.resolve(file))
    }
    dir.toString
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).iterator.asScala.toList.foreach(deleteTree)
      java.nio.file.Files.delete(p)
    }

  /** `q111_stream_dedup` as a batch query: one row per distinct text, kept
    * in the language of its lowest `doc_id`, counted per language. */
  val StreamingRef: String =
    """SELECT lang, COUNT(*) AS n_unique FROM (
      |  SELECT md5(text) AS h, min_by(lang, doc_id) AS lang FROM docs GROUP BY md5(text))
      |GROUP BY lang""".stripMargin

  /** `q73_minhash_band_pairs` by its definition: 16 MinHash components over
    * each document's distinct lower-cased word 3-shingles (component i is
    * the least 8-hex-digit window i mod 4 of md5(shingle || ':' || i div 4)),
    * 4 bands of 4 components hashed with md5, and every pair of documents
    * sharing a band hash. No bucket cap: MinHash buckets never reach it on
    * this corpus. */
  val MinhashPairsRef: String = {
    val sigs = (0 until 16).map(i =>
      s"MIN(substr(md5(concat(shingle, ':${i / 4}')), ${(i % 4) * 8 + 1}, 8)) AS sig$i").mkString(", ")
    val bands = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, md5(concat(${(0 until 4).map(r => s"sig${b * 4 + r}").mkString(", ")})) AS bh FROM sigs"
    }.mkString(" UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, split(lower(text), ' ') AS t FROM docs),
       |shingles AS (
       |  SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i + 1], t[i + 2]) AS shingle
       |  FROM toks LATERAL VIEW posexplode(t) p AS i, w WHERE i + 2 < size(t)),
       |sigs AS (SELECT doc_id, $sigs FROM shingles GROUP BY doc_id),
       |bands AS ($bands)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin
  }
}
