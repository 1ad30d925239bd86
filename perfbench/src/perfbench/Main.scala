package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.GraftSession
import graft.streaming.ReplicationPipeline

/** One benchmark run in a fresh JVM: `perfbench.Main <workload> <seed>
  * <seconds> <trace 0|1> <work dir> <data dir> <result file>`. Writes the
  * run's figures as one JSON object to the result file, and the spans
  * next to it when tracing. */
object Main {
  final case class Ctx(seed: Long, seconds: Double, tracer: Tracer, exec: ExecListener,
      work: Path, data: Path, sessionStartNs: Long)

  /** What a workload reports: counts of attempted and failed operations,
    * whether every output matched its model or oracle, set-up seconds,
    * the latency samples (ms) and throughput (1/s) of the workload's own
    * operation, and the figures named after the reference's published
    * numbers (name, value, unit). */
  final case class Result(attempted: Long, failed: Long, correct: Boolean, setupS: Double,
      latencyMs: Seq[Double], throughput: Double, named: Seq[(String, Double, String)],
      notes: Seq[String])

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, data, resultFile) = args
    val workDir = Paths.get(work).toAbsolutePath
    // Derby 10.16 throws an internal NPE on concurrent MERGE from several
    // sink partitions unless its statement cache is off; the benchmark's
    // embedded target sets this, the program does not.
    System.setProperty("derby.language.statementCacheSize", "0")
    System.setProperty("derby.stream.error.file", workDir.resolve("derby.log").toString)
    val tracer = new Tracer(trace == "1", s"$workload-$seed-${System.currentTimeMillis()}")
    val exec = new ExecListener
    val t0 = System.nanoTime()
    val spark = tracer.span("setup.session") { _ =>
      val s = GraftSession.local("perfbench", Runtime.getRuntime.availableProcessors)
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    if (tracer.enabled) {
      spark.sparkContext.addSparkListener(exec)
      SinkCounters.tracer = Some(tracer)
    }
    val ctx = Ctx(seed.toLong, seconds.toDouble, tracer, exec, workDir, Paths.get(data), t0)
    val r = workload match {
      case "cdc_steady"  => Steady.run(spark, ctx)
      case "query_mix"   => QueryMix.run(spark, ctx)
      case "selftest_sink_failure" => sinkFailure(spark, ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val heapMb = Heap.peakMb
    val metrics = Seq(
      "setup_s" -> r.setupS,
      "latency_p50_ms" -> Stats.median(r.latencyMs),
      "latency_p90_ms" -> Stats.quantile(r.latencyMs, 0.9),
      "throughput_per_s" -> r.throughput,
      "peak_heap_mb" -> heapMb)
    val json = Json.obj(Seq(
      "correct" -> r.correct.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.nums(metrics),
      "named" -> Json.obj(r.named.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "latency_samples" -> r.latencyMs.size.toString,
      "layers" -> Json.nums(tracer.counterValues.toSeq.sortBy(_._1)),
      "notes" -> r.notes.map(Json.str).mkString("[", ", ", "]")))
    Files.writeString(Paths.get(resultFile), json)
    if (tracer.enabled) tracer.writeSpans(Paths.get(resultFile + ".spans.jsonl"))
    spark.stop()
  }

  /** Self-test of the failure accounting: a sink whose `executeBatch`
    * always throws must end the run with failed operations counted and
    * the query terminated, not hung. Retries are shortened so the test
    * ends quickly; the program's retry loop itself runs unchanged. */
  def sinkFailure(spark: SparkSession, ctx: Main.Ctx): Result = {
    import spark.implicits._
    val w = Movies.wire()
    val n = 200
    val frames = Steady.encode(spark, ctx.seed, w, Steady.generate(ctx.seed, 0).take(n))
    val base = Movies.pipeline("movies_sink", ctx.work.resolve("ckpt").toString)
    val cfg = base.copy(sink = base.sink.copy(maxRetries = 2, retryBackoffMs = 50))
    SinkCounters.failExecute.set(true)
    val input = MemoryStream[Steady.Frame](spark)
    val q = ReplicationPipeline.startFromFrame(
      input.toDF().toDF("key", "value", "offset"), w.config, cfg, Movies.connect("selftest", traced = true))
    input.addData(frames.toSeq.flatten)
    val terminated =
      try q.awaitTermination(120000L)
      catch { case _: Exception => true }
    if (!terminated) q.stop()
    val delivered =
      try Movies.readTarget(spark, "selftest", "movies_sink").count()
      catch { case _: Exception => 0L }
    val failed = n - delivered
    Result(
      attempted = n, failed = failed,
      correct = terminated && failed > 0 && SinkCounters.failedCalls.get > 0,
      setupS = 0.0, latencyMs = Nil, throughput = 0.0,
      named = Seq(
        ("error_rate", failed.toDouble / n, "ratio"),
        ("sink_failed_calls", SinkCounters.failedCalls.get.toDouble, "count")),
      notes = Seq(s"terminated=$terminated exception=${q.exception.map(_.getMessage.take(200))}"))
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
