package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Minimal JSON writing for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def nums(m: Iterable[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One recorded interval at a layer boundary. Times are epoch-relative
  * nanoseconds from `System.nanoTime`; `parent` 0 means a root span. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder plus per-layer counters. When disabled every
  * call is a pass-through, so the untraced run pays only a branch. Spans
  * are kept in memory and written out once, when the run ends. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String, parent: Long = 0L)(f: Long => T): T =
    if (!enabled) f(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try f(id) finally spans.add(Span(id, parent, name, t0, System.nanoTime()))
    }

  /** Record an interval measured elsewhere (e.g. from a progress event). */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, startNs, endNs))
      id
    }

  def set(name: String, v: Double): Unit =
    if (enabled) counters.synchronized { counters(name) = v }

  def counterValues: Map[String, Double] = counters.synchronized(counters.toMap)

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json.obj(Seq(
        "run" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Executor-side totals for every task that ends while `measuring` is
  * set, plus job counts per job group, from Spark's public listener bus. */
final class ExecListener extends SparkListener {
  @volatile var measuring = false
  val cpuNs, runMs, gcMs, shuffleWrite, spill = new AtomicLong
  private val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val tasksByGroup = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      jobsByGroup.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet()
      tasksByGroup.computeIfAbsent(g, _ => new AtomicLong)
        .addAndGet(e.stageInfos.map(_.numTasks).sum.toLong)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (measuring && e.taskMetrics != null) {
      val m = e.taskMetrics
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }

  def jobs(group: String): Long = Option(jobsByGroup.get(group)).map(_.get).getOrElse(0L)
  def groupTasks(group: String): Long = Option(tasksByGroup.get(group)).map(_.get).getOrElse(0L)

  def report(t: Tracer): Unit = {
    t.set("exec.cpu_ms", cpuNs.get / 1e6)
    t.set("exec.run_ms", runMs.get.toDouble)
    t.set("exec.gc_ms", gcMs.get.toDouble)
    t.set("exec.shuffle_write_bytes", shuffleWrite.get.toDouble)
    t.set("exec.spill_bytes", spill.get.toDouble)
  }
}

/** Counters of the JDBC calls the sink makes, kept JVM-global because the
  * sink's `connect` closure is serialized to the (local-mode) executors. */
object SinkCounters {
  val connections, prepareNs, executeCalls, rowsBound, executeNs, commits, commitNs,
    metadataCalls, ddlNs, rollbacks, failedCalls = new AtomicLong

  /** When set, `executeBatch` throws: the failure-accounting self-test. */
  val failExecute = new AtomicBoolean(false)

  def reset(): Unit = Seq(connections, prepareNs, executeCalls, rowsBound, executeNs, commits,
    commitNs, metadataCalls, ddlNs, rollbacks, failedCalls).foreach(_.set(0))

  def report(t: Tracer): Unit = {
    t.set("sink.connections", connections.get.toDouble)
    t.set("sink.prepare_ms", prepareNs.get / 1e6)
    t.set("sink.execute_calls", executeCalls.get.toDouble)
    t.set("sink.rows_bound", rowsBound.get.toDouble)
    t.set("sink.rows_per_execute",
      if (executeCalls.get == 0) 0.0 else rowsBound.get.toDouble / executeCalls.get)
    t.set("sink.execute_ms", executeNs.get / 1e6)
    t.set("sink.commits", commits.get.toDouble)
    t.set("sink.commit_ms", commitNs.get / 1e6)
    t.set("sink.metadata_calls", metadataCalls.get.toDouble)
    t.set("sink.ddl_ms", ddlNs.get / 1e6)
    t.set("sink.rollbacks", rollbacks.get.toDouble)
    t.set("sink.failed_calls", failedCalls.get.toDouble)
  }

  /** The run's tracer: each timed call is also recorded as a span. */
  @volatile var tracer: Option[Tracer] = None

  private def timed(acc: AtomicLong, span: String)(f: => AnyRef): AnyRef = {
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      acc.addAndGet(t1 - t0)
      tracer.foreach(_.record(span, 0L, t0, t1))
    }
  }

  /** Wrap a live connection in a dynamic proxy that counts and times the
    * calls the sink makes, including those on the statements it creates. */
  def proxy(conn: Connection): Connection = {
    connections.incrementAndGet()
    wrap(conn, classOf[Connection]) { (m, call) =>
      m.getName match {
        case "prepareStatement" =>
          val ps = timed(prepareNs, "sink.prepare")(call()).asInstanceOf[Statement]
          wrap(ps, classOf[java.sql.PreparedStatement])(statementCall)
        case "createStatement" =>
          wrap(call().asInstanceOf[Statement], classOf[Statement])(statementCall)
        case "commit" => commits.incrementAndGet(); timed(commitNs, "sink.commit")(call())
        case "rollback" => rollbacks.incrementAndGet(); call()
        case "getMetaData" => metadataCalls.incrementAndGet(); call()
        case _ => call()
      }
    }
  }

  private def statementCall(m: Method, call: () => AnyRef): AnyRef = m.getName match {
    case "addBatch" if m.getParameterCount == 0 => rowsBound.incrementAndGet(); call()
    case "executeBatch" =>
      executeCalls.incrementAndGet()
      if (failExecute.get) throw new java.sql.SQLException("injected executeBatch failure")
      timed(executeNs, "sink.executeBatch")(call())
    case "execute" | "executeUpdate" => timed(ddlNs, "sink.ddl")(call())
    case _ => call()
  }

  private def wrap[T](target: AnyRef, iface: Class[T])(
      handle: (Method, () => AnyRef) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          try handle(m, () =>
            try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
            catch { case e: InvocationTargetException => throw e.getCause })
          catch {
            case e: Throwable =>
              failedCalls.incrementAndGet()
              throw e
          }
      }).asInstanceOf[T]
}

/** Peak live heap: the heap still in use after a full collection, taken
  * at the end of set-up and at the end of the measured window (never
  * inside it), the larger of the two. Raw heap occupancy would mostly
  * measure when the collector last ran. */
object Heap {
  private var peak = 0L

  def mark(): Unit = {
    System.gc()
    peak = math.max(peak,
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / 1048576.0
}
