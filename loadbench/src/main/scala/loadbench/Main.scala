package loadbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.Engine
import graft.server.MySqlServer

/** Load benchmark entry point.
  *
  *   loadbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <fixture dir> [--work <scratch dir>]
  *
  * One JVM is the deployment and the load: a SparkSession with the graft
  * extensions, a [[MySqlServer]] on loopback routing cluster `prod` to the
  * fixture directory, and at most 4 client threads and connections. The
  * last stdout line is the result JSON; `--trace 1` prints the per-layer
  * metrics instead of the end-to-end ones and writes the spans to
  * `<work>/trace-<workload>-<seed>.jsonl`. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, work: Path)

  /** Client threads and connections, and Spark cores: `nproc`, capped at 4. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val workload = Workloads.byName.getOrElse(o.workload,
      die(s"unknown workload '${o.workload}' (have: ${Workloads.byName.keys.toSeq.sorted.mkString(", ")})"))
    if (!Files.isDirectory(Paths.get(o.data)))
      die(s"fixture directory ${o.data} not found")

    // set-up: JVM start -> first correct wire response
    val env = Env.start(o)
    val setupS = (env.firstResponseMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer(o.trace)
    val jobLog = new JobLog
    if (o.trace) env.spark.sparkContext.addSparkListener(jobLog)
    Engine.lifecycleHook = (event, _, _) => event match {
      case "connect" =>
        Env.live.incrementAndGet()
        val t = Thread.currentThread.getName
        if (o.trace && t.startsWith("graft-mysql-conn-"))
          env.spark.sparkContext.setLocalProperty(JobLog.TagKey,
            Env.connTag(t.stripPrefix("graft-mysql-conn-").toLong))
      case "close" => Env.live.decrementAndGet()
      case _ => ()
    }

    val sentinelBefore = Sentinel.measure()
    val ctx = new Ctx(o, env, tracer, jobLog)
    val runStartMs = System.currentTimeMillis()
    val run = workload.run(ctx)
    val runS = (System.currentTimeMillis() - runStartMs) / 1e3
    val sentinelAfter = Sentinel.measure()

    val layers: Map[String, Double] =
      if (o.trace) {
        Env.drainListenerBus(env.spark)
        val l = Layers.reduce(ctx, run, jobLog, tracer)
        tracer.write(o.work.resolve(s"trace-${o.workload}-${o.seed}.jsonl"))
        l ++ Map("host.sentinel_before_s" -> sentinelBefore,
          "host.sentinel_after_s" -> sentinelAfter)
      } else Map.empty

    ctx.closeAll()
    val heapMb = env.retainedHeapMb()
    env.stop()

    val attempted = run.reqs.size.toLong
    val failed = run.reqs.count(!_.ok).toLong
    val e2e = run.metrics ++ Map(
      "setup_s" -> setupS, "retained_heap_mb" -> heapMb)
    // detail line for readers; the result is the last line alone
    System.out.println("detail " + Json.obj(Map(
      "workload" -> Json.str(o.workload), "seed" -> Json.num(o.seed),
      "error_rate" -> Json.num(if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "sentinel_s" -> Json.arr(Seq(Json.num(sentinelBefore), Json.num(sentinelAfter))),
      "samples" -> Json.num(run.reqs.size),
      "run_s" -> Json.num(runS),
      "tail_percentile" -> Json.num(run.tailPercentile),
      "notes" -> Json.arr(run.notes.map(Json.str)))))
    val shown: Seq[(String, Double, String)] =
      if (o.trace) layers.toSeq.sortBy(_._1).map { case (k, v) => (k, v, Layers.unit(k)) }
      else Metrics.endToEnd.map { case (k, u) => (k, e2e(k), u) }
    val metrics = Json.obj(shown.map { case (k, v, u) =>
      k -> Json.obj(Map("value" -> Json.num(v), "unit" -> Json.str(u)))
    }.toMap)
    System.out.println(Json.obj(Map(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> Json.num(attempted), "failed" -> Json.num(failed),
      "metrics" -> metrics)))
    System.out.flush()
    sys.exit(0)
  }

  def die(msg: String): Nothing = {
    System.err.println(s"loadbench: $msg")
    sys.exit(2)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, die(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      m.getOrElse("--trace", "0") == "1",
      need("--data"),
      Paths.get(m.getOrElse("--work", ".bench_work")).toAbsolutePath)
  }
}

/** The end-to-end metric names and units every workload prints. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_p50_ms" -> "ms",
    "latency_tail_ms" -> "ms",
    "throughput_ops" -> "1/s",
    "rows_per_s" -> "1/s",
    "result_mb_per_s" -> "MB/s",
    "retained_heap_mb" -> "MB")
}

/** The running deployment: SparkSession, server, backend routing. */
final class Env(val spark: SparkSession, val server: MySqlServer,
    val backends: Map[String, String], val firstResponseMs: Long) {
  def port: Int = server.port

  def stop(): Unit = {
    server.close()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Used heap after every session has closed: the least of three readings,
    * each after a forced collection and a pause in which Spark's context
    * cleaner can drop what the collection released. */
  def retainedHeapMb(): Double = {
    // server threads close their sessions once the client sockets close
    val deadline = System.nanoTime() + 10000000000L
    while (Env.live.get > 0 && System.nanoTime() < deadline)
      Thread.sleep(20)
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }
}

object Env {
  /** Engine sessions open (connect minus close lifecycle events). */
  val live = new java.util.concurrent.atomic.AtomicInteger(0)

  def connTag(threadId: Long): String = s"conn-$threadId"

  /** Start the engine the way a deployment does and prove it serves: the
    * first wire response must match the same statement run in-process. */
  def start(o: Main.Opts): Env = {
    val spark = Engine.build(s"local[${Main.cores}]", Main.cores)
    val backends = Map("prod" -> o.data)
    val server = MySqlServer.start(spark, backends)
    val w = new Wire(server.port, "prod.setup")
    val got = try w.query("SELECT COUNT(*) FROM region").digest finally w.close()
    val env = new Env(spark, server, backends, System.currentTimeMillis())
    val s = Engine.login(spark, "prod.setup", backends)
    val want = try s.sql("SELECT COUNT(*) FROM region").collect().map(Digest.textRow)
      finally s.close()
    if (got != Digest.of(want.toSeq))
      Main.die("set-up check failed: first wire response differs from in-process")
    env
  }

  /** Wait until Spark has delivered every queued listener event. */
  def drainListenerBus(spark: SparkSession): Unit =
    org.apache.spark.LoadbenchBridge.drain(spark.sparkContext)
}

/** Fixed-work, program-independent CPU + memory kernel, min of 3, timed
  * before and after a run: a reading well above its usual value marks a
  * run made on a loaded host. */
object Sentinel {
  private val buf = new Array[Long](1 << 20)

  private def once(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 8000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val j = (x & (buf.length - 1)).toInt
      buf(j) += x
      i += 1
    }
    if (buf(0) == 42L) System.out.print("")
    (System.nanoTime() - t0) / 1e9
  }

  def measure(): Double = (1 to 3).map(_ => once()).min
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
    }

  /** The highest percentile of 50/75/80/90/95/99 with at least ten samples
    * beyond it. */
  def tailPercentile(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
      .find(p => n * (1 - p / 100) >= 10 - 1e-9).getOrElse(50.0)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15)
      v.toLong.toString else java.lang.Double.toString(v)
  def num(v: Long): String = v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
