package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** query_mix: the operator library (`graft.ops`, `graft.functions`) through
  * declared `SparkEntry.queries`, with no stream or sink code. One warm
  * pass writes every result as parquet for the oracle check; then timed
  * passes execute each query with a noop write until the run's time is up.
  * Each query is split into construct (the call that returns the
  * DataFrame, with any eager jobs it runs) and execute (the write). */
object QueryMix {
  /** The heaviest query of each of nine `graft.ops` modules, the CDC
    * core among them, cut to what one run's time allows (see
    * perfbench/README.md). */
  val Names: Seq[String] = Seq(
    "q_latest_by_key", "q_enrich_join", "q_profile_approx", "q_rolling", "q_tfidf",
    "q_dup_clusters", "q_knn_label", "q_asof_join", "q_doc_bytes")

  def run(spark: SparkSession, ctx: Main.Ctx): Main.Result = {
    val t = ctx.tracer
    val queries = SparkEntry.queries
    val dir = ctx.data.toString
    val out = ctx.work.resolve("results")
    var failed = 0L
    var attempted = 0L

    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(Names.map(n => n -> Json.str(oracle(n)))))
    t.span("warm") { warm =>
      Names.foreach { name =>
        attempted += 1
        try t.span(s"q.$name", warm)(_ =>
          queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
            .parquet(out.resolve(name).toString))
        catch { case e: Exception => failed += 1; System.err.println(s"$name failed: $e") }
      }
    }
    val setupS = (System.nanoTime() - ctx.sessionStartNs) / 1e9
    Heap.mark()

    ctx.exec.measuring = true
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val windowStart = System.nanoTime()
    // another pass only when it should still end inside the window
    while (passes.isEmpty ||
        (System.nanoTime() - windowStart) / 1e9 + passes.last <= ctx.seconds) {
      var passS = 0.0
      t.span("pass") { pass =>
        Names.foreach { name =>
          attempted += 1
          try t.span(s"q.$name", pass) { q =>
            spark.sparkContext.setJobGroup(s"q.$name.construct", name, interruptOnCancel = false)
            val t0 = System.nanoTime()
            val df = t.span("construct", q)(_ => queries(name)(spark, dir))
            val t1 = System.nanoTime()
            spark.sparkContext.setJobGroup(s"q.$name.execute", name, interruptOnCancel = false)
            t.span("execute", q)(_ => df.write.format("noop").mode("overwrite").save())
            val t2 = System.nanoTime()
            perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (((t1 - t0) / 1e6, (t2 - t1) / 1e6))
            passS += (t2 - t0) / 1e9
          } catch { case e: Exception => failed += 1; System.err.println(s"$name failed: $e") }
          finally spark.sparkContext.clearJobGroup()
        }
      }
      passes += passS
    }
    ctx.exec.measuring = false
    Heap.mark()

    if (t.enabled) {
      ctx.exec.report(t)
      Names.foreach { name =>
        val samples = perQuery.getOrElse(name, mutable.ArrayBuffer.empty).toSeq
        t.set(s"q.$name.construct_ms", Stats.median(samples.map(_._1)))
        t.set(s"q.$name.execute_ms", Stats.median(samples.map(_._2)))
        t.set(s"q.$name.jobs_in_construct",
          ctx.exec.jobs(s"q.$name.construct").toDouble / math.max(1, samples.size))
      }
    }
    val latencies = perQuery.values.flatten.map { case (c, e) => c + e }.toSeq
    val mixS = Stats.median(passes.toSeq)
    Main.Result(
      attempted = attempted,
      failed = failed,
      correct = failed == 0,
      setupS = setupS,
      latencyMs = latencies,
      throughput = Names.size / mixS,
      named = Seq(
        ("query_mix_s", mixS, "s"),
        ("timed_passes", passes.size.toDouble, "count")),
      notes = Seq(s"passes=${passes.mkString(",")}"))
  }
}
