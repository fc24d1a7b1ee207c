package loadbench

import scala.jdk.CollectionConverters._

import graft.Engine
import graft.sources.Tables

/** Reduces a traced run (client spans, replay spans and Spark job work
  * attributed per request) to the per-layer metrics. Every workload prints
  * every key; a layer the workload does not reach reads 0. */
object Layers {

  /** Metric name → unit. */
  val units: Seq[(String, String)] = Seq(
    "server.connect_ms" -> "ms",
    "server.overhead_ms" -> "ms",
    "server.overhead_ms.chatter" -> "ms",
    "server.overhead_ms.lookup" -> "ms",
    "server.overhead_ms.projection" -> "ms",
    "server.encode_ms_per_mb" -> "ms/MB",
    "server.bytes_per_row" -> "B",
    "server.packets_per_stmt" -> "count",
    "engine.login_ms" -> "ms",
    "engine.sql_ms" -> "ms",
    "engine.sql_ms.chatter" -> "ms",
    "engine.sql_ms.lookup" -> "ms",
    "engine.fastpath_share" -> "ratio",
    "engine.prepare_ms" -> "ms",
    "engine.execute_ms" -> "ms",
    "spark.plan_ms" -> "ms",
    "spark.plan_ms.lookup" -> "ms",
    "spark.jobs_per_stmt" -> "count",
    "spark.stages_per_stmt" -> "count",
    "spark.tasks_per_stmt" -> "count",
    "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms",
    "spark.shuffle_mb" -> "MB",
    "sources.register_ms" -> "ms",
    "sources.rows_read_per_row_returned" -> "ratio",
    "sources.rows_read_per_row_returned.lookup" -> "ratio",
    "sources.mb_read_per_stmt" -> "MB",
    "sources.mb_read_per_stmt.lookup" -> "MB",
    "operators.exec_ms" -> "ms",
    "operators.exec_ms.q1" -> "ms",
    "operators.exec_ms.join3" -> "ms",
    "operators.exec_ms.window" -> "ms",
    "operators.exec_ms.rollup" -> "ms",
    "operators.exec_ms.projection" -> "ms",
    "functions.knn_exec_ms" -> "ms",
    s"operators.stage_s.${Pipeline.Memoized}" -> "s",
    "operators.memo_reuse_ratio" -> "ratio",
    s"streaming.stage_s.${Pipeline.Streaming}" -> "s",
    "loadgen.lag_p99_ms" -> "ms",
    "host.sentinel_before_s" -> "s",
    "host.sentinel_after_s" -> "s",
    "trace.overhead_ratio" -> "ratio",
    "trace.spans" -> "count")

  def unit(k: String): String = units.toMap.getOrElse(k, "")

  private def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  def reduce(ctx: Ctx, run: Run, jobs: JobLog, tracer: Tracer): Map[String, Double] = {
    val stmts = run.reqs.filter(r => r.ok && r.isStatement)
    val work = stmts.map(r => r -> jobs.work(r.tag, r.sendMs, r.recvMs)).toMap
    def lookup(r: Req) = r.cls.startsWith("lookup")
    def perStmt(rs: Seq[Req], f: Work => Double): Double =
      if (rs.isEmpty) 0.0 else rs.map(r => f(work(r))).sum / rs.size
    def readRatio(rs: Seq[Req]): Double = {
      val out = rs.map(_.rows).sum
      if (out == 0) 0.0 else rs.map(work(_).inRecords).sum.toDouble / out
    }

    // self time of each layer span under a replay root (wire workloads) or
    // a pipeline stage root
    val self = tracer.selfTimes
    val spans = tracer.all
    val roots = Seq("replay.", "stage.")
    val rootCls = spans.flatMap(s => roots.find(s.name.startsWith).map(p => s.req -> s.name.stripPrefix(p))).toMap
    def layer(name: String, cls: String => Boolean): Double =
      med(spans.filter(s => s.name == name && rootCls.get(s.req).exists(cls)).map(s => self(s.id)))
    val any: String => Boolean = _ => true
    def overhead(cls: String => Boolean): Double =
      med(run.replays.filter(r => cls(r.cls)).map(r => r.wireMs - r.inprocMs))

    // engine entry points timed on fresh sessions, outside the window
    val logins = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val s = tracer.span("engine.login", -2)(Engine.login(ctx.env.spark, "prod.probe", ctx.env.backends))
      val ms = (System.nanoTime() - t0) / 1e6
      s.close()
      ms
    }
    val registers = (1 to 5).map { _ =>
      val fresh = ctx.env.spark.newSession()
      val t0 = System.nanoTime()
      tracer.span("sources.register", -3)(Tables.register(fresh, ctx.o.data))
      val ms = (System.nanoTime() - t0) / 1e6
      ms
    }

    val big = run.replays.filter(_.resultBytes >= 100000)
    val encode = if (big.isEmpty) 0.0
      else big.map(r => r.wireMs - r.inprocMs).sum / (big.map(_.resultBytes).sum / 1e6)
    // pipeline stages: service time per call; the memo ratio pairs each
    // job's memo-served repeat with its first call
    def stageS(cls: String) = med(stmts.filter(_.cls == cls).map(_.serviceMs / 1e3))
    val firsts = stmts.filter(_.cls == Pipeline.Memoized).sortBy(_.id)
    val repeats = stmts.filter(_.cls == Pipeline.Memoized + ".memo").sortBy(_.id)
    val withRows = stmts.filter(r => r.rows > 0 && !r.stmt.isInstanceOf[Stmt.Stage])
    val window = stmts.map(_.serviceMs).sum
    val busy = (tracer.overheadNs + jobs.callbackNs) / 1e6

    Map(
      "server.connect_ms" -> med(ctx.connectMs.asScala.map(_.doubleValue)),
      "server.overhead_ms" -> overhead(any),
      "server.overhead_ms.chatter" -> overhead(_ == "chatter"),
      "server.overhead_ms.lookup" -> overhead(_.startsWith("lookup")),
      "server.overhead_ms.projection" -> overhead(_ == "projection"),
      "server.encode_ms_per_mb" -> encode,
      "server.bytes_per_row" -> (if (withRows.isEmpty) 0.0 else withRows.map(_.bytes).sum.toDouble / withRows.map(_.rows).sum),
      "server.packets_per_stmt" -> (if (stmts.isEmpty) 0.0 else stmts.map(_.packets).sum.toDouble / stmts.size),
      "engine.login_ms" -> med(logins),
      "engine.sql_ms" -> layer("engine.sql", any),
      "engine.sql_ms.chatter" -> layer("engine.sql", _ == "chatter"),
      "engine.sql_ms.lookup" -> layer("engine.sql", _.startsWith("lookup")),
      "engine.fastpath_share" -> (if (stmts.isEmpty) 0.0 else stmts.count(work(_).jobs == 0).toDouble / stmts.size),
      "engine.prepare_ms" -> layer("engine.prepare", any),
      "engine.execute_ms" -> layer("engine.execute", any),
      "spark.plan_ms" -> layer("spark.plan", any),
      "spark.plan_ms.lookup" -> layer("spark.plan", _.startsWith("lookup")),
      "spark.jobs_per_stmt" -> perStmt(stmts, _.jobs.toDouble),
      "spark.stages_per_stmt" -> perStmt(stmts, _.stages.toDouble),
      "spark.tasks_per_stmt" -> perStmt(stmts, _.tasks.toDouble),
      "spark.executor_run_ms" -> perStmt(stmts, _.runMs.toDouble),
      "spark.executor_cpu_ms" -> perStmt(stmts, _.cpuMs.toDouble),
      "spark.shuffle_mb" -> perStmt(stmts, _.shuffleBytes / 1e6),
      "sources.register_ms" -> med(registers),
      "sources.rows_read_per_row_returned" -> readRatio(stmts),
      "sources.rows_read_per_row_returned.lookup" -> readRatio(stmts.filter(lookup)),
      "sources.mb_read_per_stmt" -> perStmt(stmts, _.inBytes / 1e6),
      "sources.mb_read_per_stmt.lookup" -> perStmt(stmts.filter(lookup), _.inBytes / 1e6),
      "operators.exec_ms" -> layer("operators.exec", any),
      "operators.exec_ms.q1" -> layer("operators.exec", _ == "q1"),
      "operators.exec_ms.join3" -> layer("operators.exec", _ == "join3"),
      "operators.exec_ms.window" -> layer("operators.exec", _ == "window"),
      "operators.exec_ms.rollup" -> layer("operators.exec", _ == "rollup"),
      "operators.exec_ms.projection" -> layer("operators.exec", _ == "projection"),
      "functions.knn_exec_ms" -> layer("operators.exec", _ == "knn"),
      s"operators.stage_s.${Pipeline.Memoized}" -> stageS(Pipeline.Memoized),
      "operators.memo_reuse_ratio" -> med(firsts.zip(repeats).map { case (a, b) => b.serviceMs / a.serviceMs }),
      s"streaming.stage_s.${Pipeline.Streaming}" -> stageS(Pipeline.Streaming),
      "loadgen.lag_p99_ms" -> Stats.pct(run.lagMs, 99),
      "trace.overhead_ratio" -> (if (window == 0) 0.0 else busy / window),
      "trace.spans" -> spans.size.toDouble)
  }
}
