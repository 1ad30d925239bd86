package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.SchemaRegistry
import graft.streaming.ReplicationPipeline

/** cdc_steady: open-loop movie changes at a fixed rate through a
  * MemoryStream into `ReplicationPipeline.startFromFrame`, landing in
  * embedded Derby, with one closed-loop pull client beside the writes.
  *
  * Each change is timed from its due send time to the end of the first
  * committed micro-batch whose source end offset covers it. */
object Steady {
  // changes per second; at 2,000/s batches took 1.2-2.2 s against the
  // 2 s trigger on 4 cores, so latency swung with every slow batch
  val Rate = 1000
  val Keys = 100000        // key space
  val HotKeys = 1000       // created up front, then 20% of updates and deletes
  val TickMs = 100         // the generator appends one chunk per tick
  val WarmupS = 2.0        // schedule time excluded before the measured window
  val DrainTimeoutS = 60.0

  type Frame = (Array[Byte], Array[Byte], Long)

  /** One generated change; `offset` is that of its last frame. */
  final case class Change(id: Int, version: Int, op: String, offset: Long)

  /** Seeded change log: `HotKeys` creates first, then `n` changes of a
    * ~30% c / 60% u / 10% d mix; a delete is a rewrite record plus a
    * tombstone, so it takes two offsets. */
  def generate(seed: Long, n: Int): Array[Change] = {
    val rnd = new java.util.SplittableRandom(seed)
    val version = new Array[Int](Keys)
    val livePos = Array.fill(Keys)(-1)
    val live = mutable.ArrayBuffer.empty[Int]
    var offset = -1L
    def markLive(id: Int): Unit = { livePos(id) = live.size; live += id }
    def markDead(id: Int): Unit = {
      val p = livePos(id); val last = live.last
      live(p) = last; livePos(last) = p; live.remove(live.size - 1); livePos(id) = -1
    }
    def create(id: Int): Change = {
      version(id) += 1
      markLive(id)
      offset += 1
      Change(id, version(id), "c", offset)
    }
    def pickLive(): Int =
      if (rnd.nextInt(5) == 0) {
        val h = rnd.nextInt(HotKeys)
        if (livePos(h) >= 0) h else live(rnd.nextInt(live.size))
      } else live(rnd.nextInt(live.size))
    val out = mutable.ArrayBuffer.empty[Change]
    (0 until HotKeys).foreach(id => out += create(id))
    while (out.size < HotKeys + n) {
      val p = rnd.nextInt(10)
      if (p < 3 || live.size < 2) {
        var id = rnd.nextInt(Keys)
        while (livePos(id) >= 0) id = (id + 1) % Keys
        out += create(id)
      } else {
        val id = pickLive()
        if (p < 9) {
          version(id) += 1
          offset += 1
          out += Change(id, version(id), "u", offset)
        } else {
          markDead(id)
          offset += 2
          out += Change(id, version(id), "d", offset)
        }
      }
    }
    out.toArray
  }

  /** The frames of each change, in change order, encoded by Spark. */
  def encode(spark: SparkSession, seed: Long, w: Movies.Wire, changes: Array[Change]): Array[Seq[Frame]] = {
    import spark.implicits._
    val byOffset = Movies.frames(changes.toSeq.toDF(), seed, w)
      .as[Frame].collect().map(f => f._3 -> f).toMap
    changes.map { c =>
      if (c.op == "d") Seq(byOffset(c.offset - 1), byOffset(c.offset)) else Seq(byOffset(c.offset))
    }
  }

  /** Commit ends of the query's batches: (source end offset, end time in
    * System.nanoTime's clock, progress). */
  final class Commits(anchorNs: Long, anchorMs: Long) extends StreamingQueryListener {
    val ends = new ConcurrentLinkedQueue[(Long, Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]()
    @volatile var failure: Option[String] = None
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      e.exception.foreach(x => failure = Some(x))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = Option(p.sources.headOption.orNull).flatMap(s => Option(s.endOffset))
      end.foreach { off =>
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        val endMs = startMs + p.durationMs.getOrDefault("triggerExecution", 0L)
        ends.add((off.trim.toLong, anchorNs + (endMs - anchorMs) * 1000000L, p))
      }
    }
    def committedOffset: Long = ends.asScala.map(_._1).maxOption.getOrElse(-1L)
  }

  def run(spark: SparkSession, ctx: Main.Ctx): Main.Result = {
    import spark.implicits._
    val t = ctx.tracer
    val w = Movies.wire()
    val total = (Rate * (WarmupS + ctx.seconds + 10)).toInt
    val changes = generate(ctx.seed, total)
    val frames = t.span("setup.encode")(_ => encode(spark, ctx.seed, w, changes))
    val db = "steady"
    val cfg = Movies.pipeline("movies_sink", ctx.work.resolve("ckpt").toString)
    val commits = new Commits(System.nanoTime(), System.currentTimeMillis())
    spark.streams.addListener(commits)
    val progress = new Progress(t)
    if (t.enabled) spark.streams.addListener(progress)

    val input = MemoryStream[Frame](spark)
    val query = ReplicationPipeline.startFromFrame(
      input.toDF().toDF("key", "value", "offset"), w.config, cfg, Movies.connect(db, t.enabled))
    // the hot keys' creates form the first batch
    input.addData(frames.take(HotKeys).toSeq.flatten)
    val firstTimeout = System.nanoTime() + 300L * 1000000000L
    while (commits.committedOffset < 0 && query.isActive && System.nanoTime() < firstTimeout)
      Thread.sleep(20)
    require(commits.committedOffset >= 0,
      s"no batch committed: ${commits.failure.orElse(query.exception.map(_.toString))}")
    val setupS = (commits.ends.asScala.head._2 - ctx.sessionStartNs) / 1e9

    // open-loop schedule: change i (after the hot keys) is due at t0 + i / Rate
    val scheduled = frames.drop(HotKeys)
    Heap.mark()
    val t0 = System.nanoTime()
    def due(i: Int): Long = t0 + (i.toLong * 1000000000L) / Rate
    val windowStart = t0 + (WarmupS * 1e9).toLong
    val windowEnd = windowStart + (ctx.seconds * 1e9).toLong
    val chunkOffsets = mutable.ArrayBuffer.empty[(Int, Long)] // (first change index, offset)
    @volatile var sent = 0
    var lateMaxNs = 0L
    SinkCounters.reset()
    ctx.exec.measuring = true
    val generator = new Thread(() => {
      val tickNs = TickMs * 1000000L
      var i = 0
      var k = 0L
      while (t0 + k * tickNs < windowEnd && query.isActive) {
        val tickAt = t0 + k * tickNs
        val wait = tickAt - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMaxNs = math.max(lateMaxNs, System.nanoTime() - tickAt)
        // every change due by this tick
        val upTo = math.min(scheduled.length, (k * tickNs * Rate / 1000000000L).toInt + 1)
        if (upTo > i) {
          val off = input.addData(scheduled.slice(i, upTo).toSeq.flatten)
          chunkOffsets.synchronized { chunkOffsets += ((i, off.json.toLong)) }
          i = upTo
          sent = i
        }
        k += 1
      }
    }, "perfbench-generator")

    // closed-loop pulls on seeded keys, half hot and half uniform
    val pulls = new Pulls(spark, w, cfg, ctx, windowStart, windowEnd)
    generator.start()
    pulls.start()
    generator.join()
    pulls.join()

    // drain: wait until a committed batch covers the last chunk
    val lastOffset = chunkOffsets.synchronized(chunkOffsets.lastOption.map(_._2).getOrElse(0L))
    val drainDeadline = System.nanoTime() + (DrainTimeoutS * 1e9).toLong
    while (commits.committedOffset < lastOffset && query.isActive && System.nanoTime() < drainDeadline)
      Thread.sleep(20)
    ctx.exec.measuring = false
    t.span("stop")(_ => query.stop())
    Heap.mark()
    val stateBytes = Main.treeBytes(ctx.work.resolve("ckpt").resolve("state"))
    spark.streams.removeListener(commits)
    if (t.enabled) spark.streams.removeListener(progress)

    // propagation per change, from the commit that first covers its chunk
    val ends = commits.ends.asScala.toSeq.sortBy(_._1)
    val chunks = chunkOffsets.synchronized(chunkOffsets.toVector)
    val lat = mutable.ArrayBuffer.empty[Double]
    val commitOf = mutable.ArrayBuffer.empty[Long]
    var undelivered = 0
    var inWindow = 0
    chunks.zipWithIndex.foreach { case ((first, off), ci) =>
      val until = if (ci + 1 < chunks.size) chunks(ci + 1)._1 else sent
      val commitNs = ends.find(_._1 >= off).map(_._2)
      (first until until).foreach { i =>
        if (due(i) >= windowStart && due(i) < windowEnd) {
          inWindow += 1
          commitNs match {
            case Some(c) => lat += (c - due(i)) / 1e6; commitOf += c
            case None => undelivered += 1
          }
        }
      }
    }
    val committedBatches = ends.filter(e => e._2 >= windowStart)
    // capacity: the window's changes per second of micro-batch time spent
    // committing them (batches that carried no window change are left out)
    val carrying = commitOf.toSet
    val busyS = committedBatches.filter(e => carrying.contains(e._2))
      .map(_._3.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1000).sum
    val capacity = if (busyS > 0) lat.size / busyS else 0.0
    // delivered rate, commit to commit: the window's changes committed
    // after its first commit, over the time from that commit to its last
    val firstCommit = commitOf.minOption.getOrElse(0L)
    val lastCommit = commitOf.maxOption.getOrElse(0L)
    val throughput =
      if (lastCommit > firstCommit) commitOf.count(_ > firstCommit) / ((lastCommit - firstCommit) / 1e9)
      else 0.0

    // correctness, outside the timed region
    val sentChanges = changes.take(HotKeys + sent)
    val (mismatched, pullMismatches) = t.span("check") { _ =>
      val model = Movies.model(ctx.seed, sentChanges.toSeq.toDF()).cache()
      val m = Movies.mismatches(Movies.readTarget(spark, db, "movies_sink"), model)
      val p = pulls.verify(model, sentChanges)
      model.unpersist()
      (m, p)
    }
    Movies.dropDerby(db)

    if (t.enabled) {
      ctx.exec.report(t)
      SinkCounters.report(t)
      progress.report(committedBatches.map(_._3))
      t.set("generator.late_ms_max", math.max(0L, lateMaxNs) / 1e6)
      pulls.report()
      sourcesProbe(spark, ctx, w, frames.take(HotKeys + sent).toSeq.flatten)
    }
    val pullTimes = pulls.latencies.toSeq
    val failed = undelivered + mismatched + pulls.failures + pullMismatches +
      commits.failure.size
    Main.Result(
      attempted = sent + HotKeys + pulls.attempts + Pulls.VerifyKeys,
      failed = failed,
      correct = mismatched == 0 && pullMismatches == 0 && undelivered == 0 && commits.failure.isEmpty,
      setupS = setupS,
      latencyMs = lat.toSeq,
      throughput = throughput,
      named = Seq(
        ("propagation_p50_ms", Stats.median(lat.toSeq), "ms"),
        ("propagation_p99_ms", Stats.quantile(lat.toSeq, 0.99), "ms"),
        ("propagation_samples", lat.size.toDouble, "count"),
        ("pull_p50_ms", Stats.median(pullTimes), "ms"),
        ("pull_samples", pullTimes.size.toDouble, "count"),
        ("delivered_changes_per_s", throughput, "1/s"),
        ("batch_capacity_changes_per_s", capacity, "1/s"),
        ("window_changes", inWindow.toDouble, "count"),
        ("state_bytes_per_key", stateBytes.toDouble / sentChanges.map(_.id).distinct.length, "B"),
        ("batches_in_window", committedBatches.size.toDouble, "count")),
      notes = Seq(
        s"undelivered=$undelivered target_mismatches=$mismatched pull_failures=${pulls.failures} " +
          s"pull_mismatches=$pullMismatches stream_failure=${commits.failure.getOrElse("none")}"))
  }

  /** Wire decode alone: `SchemaRegistry.decodeEnvelope` over every frame
    * the run sent, with a noop write. The frames' keys are Confluent-framed;
    * the decode reads bare Avro keys, so the 5-byte frame header is cut
    * first. */
  private def sourcesProbe(spark: SparkSession, ctx: Main.Ctx, w: Movies.Wire,
      sent: Seq[Frame]): Unit = {
    import spark.implicits._
    val t = ctx.tracer
    val frame = sent.toDF("key", "value", "offset")
      .withColumn("key", expr("substring(key, 6)"))
      .cache()
    frame.count()
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      t.span("sources.decode")(_ =>
        SchemaRegistry.decodeEnvelope(frame, w.registry, Movies.keySchema, w.config.subject)
          .write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e6
    }
    frame.unpersist()
    t.set("sources.decode_ms", Stats.median(times))
    t.set("sources.frames", sent.size.toDouble)
  }
}

/** The closed-loop pull client: one thread calling
  * `ReplicationPipeline.pullQueryFromFrame` back to back inside the
  * measured window, each pull split into plan (the call that returns the
  * DataFrame) and exec (the collect). */
final class Pulls(spark: SparkSession, w: Movies.Wire, cfg: ReplicationPipeline.Config,
    ctx: Main.Ctx, windowStart: Long, windowEnd: Long) {
  private val rnd = new java.util.SplittableRandom(ctx.seed ^ 0x5eed)
  val latencies = mutable.ArrayBuffer.empty[Double]
  private val planMs, execMs = mutable.ArrayBuffer.empty[Double]
  private val groups = mutable.ArrayBuffer.empty[String]
  @volatile var attempts = 0
  @volatile var failures = 0
  private val thread = new Thread(() => loop(), "perfbench-pulls")

  def start(): Unit = thread.start()
  def join(): Unit = thread.join()

  private def loop(): Unit = {
    while (System.nanoTime() < windowStart) Thread.sleep(10)
    var n = 0
    while (System.nanoTime() < windowEnd) {
      val key = if (n % 2 == 0) rnd.nextInt(Steady.HotKeys) else rnd.nextInt(Steady.Keys)
      val group = s"pull-$n"
      n += 1
      attempts += 1
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try ctx.tracer.span("pull") { id =>
        val t0 = System.nanoTime()
        val df = ctx.tracer.span("pull.plan", id)(_ =>
          ReplicationPipeline.pullQueryFromFrame(spark, w.config, cfg, key))
        val t1 = System.nanoTime()
        ctx.tracer.span("pull.exec", id)(_ => df.collect())
        val t2 = System.nanoTime()
        latencies += (t2 - t0) / 1e6
        planMs += (t1 - t0) / 1e6
        execMs += (t2 - t1) / 1e6
        groups += group
      } catch {
        case e: Exception =>
          failures += 1
          System.err.println(s"pull failed: $e")
      } finally spark.sparkContext.clearJobGroup()
    }
  }

  /** Post-quiesce pulls: a live hot key must match the model and a
    * deleted key must pull empty. */
  def verify(model: org.apache.spark.sql.DataFrame, sent: Array[Steady.Change]): Int = {
    val last = sent.groupBy(_.id).view.mapValues(_.maxBy(_.offset)).toMap
    val liveKeys = last.values.filter(_.op != "d").map(_.id).toSeq.sorted
    val deleted = last.values.filter(_.op == "d").map(_.id).toSeq.sorted
    val picks = Seq(liveKeys.find(_ < Steady.HotKeys), deleted.headOption).flatten
    var bad = Pulls.VerifyKeys - picks.size
    picks.foreach { k =>
      val got = ReplicationPipeline.pullQueryFromFrame(spark, w.config, cfg, k)
        .select(Movies.targetColumns.map(col): _*).collect().toSeq
      val want = model.filter(col("ID") === k)
        .select(Movies.targetColumns.map(col): _*).collect().toSeq
      if (got != want) {
        bad += 1
        System.err.println(s"pull mismatch for key $k: got $got want $want")
      }
    }
    bad
  }

  def report(): Unit = {
    val t = ctx.tracer
    t.set("pull.count", latencies.size.toDouble)
    t.set("pull.plan_ms", Stats.median(planMs.toSeq))
    t.set("pull.exec_ms", Stats.median(execMs.toSeq))
    val jobs = groups.map(ctx.exec.jobs)
    val pruned = groups.count(g => ctx.exec.jobs(g) > 0 && ctx.exec.groupTasks(g) == ctx.exec.jobs(g))
    t.set("pull.pruned_frac", if (groups.isEmpty) 0.0 else pruned.toDouble / groups.size)
    t.set("pull.jobs_per_lookup", if (groups.isEmpty) 0.0 else jobs.sum.toDouble / groups.size)
  }
}

object Pulls { val VerifyKeys = 2 }

/** Micro-batch and state-operator figures from the query's own progress
  * reports: durations per phase, rows, and the changelog state. */
final class Progress(t: Tracer) extends StreamingQueryListener {
  val seen = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    seen.add(p)
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    // batch spans in the wall clock, converted to the tracer's clock
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val id = t.record(s"batch", 0L, startMs * 1000000L + offsetNs,
      (startMs + d.getOrElse("triggerExecution", 0L)) * 1000000L + offsetNs)
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .foreach { k =>
        d.get(k).foreach(ms => t.record(s"batch.$k", id, startMs * 1000000L + offsetNs,
          (startMs + ms) * 1000000L + offsetNs))
      }
  }

  def report(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    t.set("batch.count", ps.size.toDouble)
    t.set("batch.trigger_ms_p50", Stats.median(dur("triggerExecution")))
    t.set("batch.trigger_ms_max", dur("triggerExecution").maxOption.getOrElse(0.0))
    t.set("batch.planning_ms", mean(dur("queryPlanning")))
    t.set("batch.add_batch_ms", mean(dur("addBatch")))
    t.set("batch.wal_commit_ms", mean(dur("walCommit")))
    t.set("batch.commit_offsets_ms", mean(dur("commitOffsets")))
    t.set("batch.rows_p50", Stats.median(ps.map(_.numInputRows.toDouble)))
    val ops = ps.flatMap(_.stateOperators.headOption)
    t.set("state.update_ms", ops.map(_.allUpdatesTimeMs.toDouble).sum)
    t.set("state.commit_ms", ops.map(_.commitTimeMs.toDouble).sum)
    t.set("state.rows_total", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0))
    t.set("state.rows_updated", ops.map(_.numRowsUpdated.toDouble).sum)
    t.set("state.memory_bytes", ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
    t.set("state.disk_bytes", ops.lastOption.flatMap(o =>
      Option(o.customMetrics.get("rocksdbSstFileSize")).map(_.doubleValue)).getOrElse(0.0))
  }
}
