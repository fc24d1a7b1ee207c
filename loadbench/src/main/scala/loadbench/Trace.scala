package loadbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval: a layer boundary crossed by the benchmark's own
  * code. `parent` is the id of the enclosing span on the same thread (0 at
  * the root) and `req` the request the span serves. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, req: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` is a plain call. The time the
  * recorder spends on its own bookkeeping is summed so the traced run can
  * report its overhead. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val selfNs = new java.util.concurrent.atomic.AtomicLong(0)

  def span[T](name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val st = stack.get
      stack.set(id :: st)
      val start = System.nanoTime()
      selfNs.addAndGet(start - b0)
      try body
      finally {
        val end = System.nanoTime()
        stack.set(st)
        spans.add(Span(id, name, start, end, st.headOption.getOrElse(0L), req))
        selfNs.addAndGet(System.nanoTime() - end)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def overheadNs: Long = selfNs.get

  /** Self time of every span: its duration minus the time its children
    * cover (children of one span run sequentially on its thread). */
  def selfTimes: Map[Long, Double] = {
    val s = all
    val childMs = s.groupMapReduce(_.parent)(_.ms)(_ + _)
    s.map(x => x.id -> (x.ms - childMs.getOrElse(x.id, 0.0))).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { x =>
      w.write(f"""{"id":${x.id},"name":"${x.name}","start_ns":${x.startNs},""" +
        f""""end_ns":${x.endNs},"parent":${x.parent},"req":${x.req},""" +
        f""""self_ms":${self(x.id)}%.4f}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark-side work per job, from a listener the benchmark registers: the
  * job's submitter tag (a local property the benchmark sets on each server
  * connection thread and replay thread), submit time, and the summed task
  * metrics of its stages. Read after the listener bus drains. */
final class JobLog extends SparkListener {
  final class Job(val tag: String, val submitMs: Long, val stages: Seq[Int])
  final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleBytes = 0L; var inRecords = 0L; var inBytes = 0L
  }
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageAcc = mutable.HashMap.empty[Int, StageAcc]
  private val cbNs = new java.util.concurrent.atomic.AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t0 = System.nanoTime()
    val tag = Option(e.properties).map(_.getProperty(JobLog.TagKey)).orNull
    synchronized { jobs += new Job(tag, e.time, e.stageIds) }
    cbNs.addAndGet(System.nanoTime() - t0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    val m = e.taskMetrics
    synchronized {
      val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.inRecords += m.inputMetrics.recordsRead
        a.inBytes += m.inputMetrics.bytesRead
      }
    }
    cbNs.addAndGet(System.nanoTime() - t0)
  }

  def callbackNs: Long = cbNs.get

  /** Work of the jobs `tag` submitted in [fromMs, toMs]. A stage shared by
    * several jobs counts once, with its first job. */
  def work(tag: String, fromMs: Long, toMs: Long): Work = synchronized {
    val js = jobs.filter(j => j.tag == tag && j.submitMs >= fromMs && j.submitMs <= toMs)
    val stages = js.flatMap(_.stages).distinct.flatMap(stageAcc.get)
    Work(js.size, stages.size, stages.map(_.tasks).sum,
      stages.map(_.runMs).sum, stages.map(_.cpuNs).sum / 1000000L,
      stages.map(_.shuffleBytes).sum, stages.map(_.inRecords).sum,
      stages.map(_.inBytes).sum)
  }
}

object JobLog {
  val TagKey = "loadbench.tag"
}

/** Spark work attributed to one request. */
final case class Work(jobs: Int, stages: Int, tasks: Long, runMs: Long,
    cpuMs: Long, shuffleBytes: Long, inRecords: Long, inBytes: Long)
