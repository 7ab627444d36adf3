package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.streaming.EventStream.EventSourceConfig

/** `scoreboard_stream`: the scoreboard pipeline
  * `kvSink(killCounts(readEvents(pulsarReplay(dir))))` fed by an open
  * loop. Set-up generates broker-framed event files (the
  * `EventSourceConfig.pulsarReplay` frame schema, thousands of room
  * topics) plus, from the same generated columns, the expected kill
  * totals. In the measured phase a timer thread lands the frames into
  * the source directory by atomic rename on a fixed schedule while the
  * client calls the pipeline back to back (each call is an
  * `AvailableNow` run that resumes from the checkpoint) and reads the KV
  * store after each call. The run ends with a fixed backlog landed at
  * once and drained by one call.
  *
  * A file is visible once a KV read's total equals the expected total of
  * the landed prefix that ends with it; its latency runs from its due
  * landing time to that read. Checks: every read's total equals some
  * landed prefix's total, and the final store equals the batch kill
  * counts over all frames exactly. */
object ScoreboardStream extends Workload {

  /** Frames `0 until warmup` land before the session's first (cold) call;
    * `warmup until scheduled` land on the open-loop schedule; the last
    * `backlog` land at once. */
  final case class Sizes(topics: Int, eventsPerFile: Int, intervalS: Double,
                         warmup: Int, scheduled: Int, backlog: Int) {
    def files: Int = scheduled + backlog
  }

  def sizes(o: Opts): Sizes =
    if (o.tiny) Sizes(topics = 64, eventsPerFile = 500, intervalS = 0.5,
      warmup = 1, scheduled = 4, backlog = 2)
    else {
      // one file every 2 s is about half of what the back-to-back calls
      // drain on 4 cores (a call that picks up one file takes 1.0-1.3 s:
      // restart, one micro-batch, KV read); the cold call (three warm-up
      // frames) and the backlog drain take about 8 s of the run, the open
      // loop the rest
      val interval = 2.0
      Sizes(topics = 4096, eventsPerFile = 5000, intervalS = interval, warmup = 3,
        scheduled = 3 + math.max(4, ((o.seconds - 8) / interval).toInt), backlog = 6)
    }

  final case class Prepared(
      sizes: Sizes,
      staged: IndexedSeq[Path],
      source: Path, kv: Path, checkpoint: Path,
      /** expected KV total after files 0 until i have landed, i = 0..files */
      prefixKills: IndexedSeq[Long],
      /** expected final store: (room, killer) -> kills */
      expected: Map[(String, String), Long])

  def prepare(spark: SparkSession, o: Opts, dir: Path): Prepared = {
    val s = sizes(o)
    val staging = dir.resolve("staging")
    val frames = generate(spark, s, o.seed)
    frames.cache()
    frames.repartition(s.files, col("file"))
      .select(col("file"), col("__topic"), col("__sequenceId"),
        col("__publishTime"), col("value"))
      .write.partitionBy("file").parquet(staging.toString)
    val staged = (0 until s.files).map { i =>
      val parts = Files.list(staging.resolve(s"file=$i")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(parts.size == 1, s"frame $i: expected one part file, got ${parts.size}")
      parts.head
    }
    // the oracle reads the generated columns, not the framed payload
    val kills = frames.filter(col("event_type") === "error" &&
      col("user_id") =!= col("k") % 30)
    val perFile = kills.groupBy("file").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val prefix = (0 to s.files).map(i => (0 until i).map(perFile.getOrElse(_, 0L)).sum)
    val expected = kills
      .groupBy(concat(lit("room"), col("room_ix")).as("room"),
        concat(lit("u"), col("k") % 30).as("killer"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    frames.unpersist(blocking = true)
    val source = Files.createDirectories(dir.resolve("source"))
    Prepared(s, staged, source, dir.resolve("kv"), dir.resolve("checkpoint"),
      prefix, expected)
  }

  /** The generated log: event i lands in file i / eventsPerFile, on a
    * seeded-random room topic; a quarter are `error` events. */
  private def generate(spark: SparkSession, s: Sizes, seed: Long): DataFrame = {
    def h(salt: Int, mod: Long) =
      pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(mod))
    spark.range(0L, s.files.toLong * s.eventsPerFile)
      .select(
        (col("id") / s.eventsPerFile).cast("int").as("file"),
        col("id"),
        h(1, s.topics).as("room_ix"),
        h(2, 1000).as("user_id"),
        element_at(array(lit("error"), lit("click"), lit("view"), lit("purchase")),
          (h(3, 4) + 1).cast("int")).as("event_type"),
        (h(4, 10000) / 100.0).as("amount"),
        h(5, 1000).as("k"))
      .select(col("*"),
        concat(lit("persistent://public/default/room"), col("room_ix"),
          lit("-event-topic")).as("__topic"),
        col("id").as("__sequenceId"),
        timestamp_seconds(lit(1767225600L) + col("id") / 100).as("__publishTime"),
        to_json(struct(col("user_id"), col("event_type"), col("amount").as("value"),
          concat(lit("{\"k\": "), col("k"), lit("}")).as("props")))
          .cast("binary").as("value"))
  }

  def measure(spark: SparkSession, o: Opts, p: Prepared, trace: Trace): Outcome = {
    val s = p.sizes
    val failures = mutable.ArrayBuffer.empty[String]
    val landedAt = new Array[Long](s.files) // nanoTime; 0 = not landed
    @volatile var landedCount = 0
    var stampMs = 0L
    def land(i: Int): Unit = {
      val dst = p.source.resolve(f"frame-$i%05d.parquet")
      // the file source takes new files oldest first: stamp a strictly
      // increasing landing time before the rename makes the file visible
      stampMs = math.max(System.currentTimeMillis(), stampMs + 1)
      Files.setLastModifiedTime(p.staged(i), FileTime.fromMillis(stampMs))
      Files.move(p.staged(i), dst, StandardCopyOption.ATOMIC_MOVE)
      landedAt(i) = System.nanoTime()
      landedCount = i + 1
    }

    var visible = 0
    val dueNs = new Array[Long](s.files)
    val latency = mutable.ArrayBuffer.empty[Double]
    var reads = 0L; var badReads = 0L
    /** Read the KV store; mark newly visible files. */
    def readKv(): Unit = {
      reads += 1
      val total =
        if (!Files.exists(p.kv.resolve("_SUCCESS"))) 0L
        else spark.read.parquet(p.kv.toString).agg(sum("kills")).first() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
      val now = System.nanoTime()
      val k = p.prefixKills.lastIndexWhere(_ == total)
      if (k < 0 || k > landedCount || k < visible) {
        badReads += 1
        failures += s"KV total $total matches no landed prefix (landed $landedCount, visible $visible)"
      } else {
        (visible until k).foreach(j => latency += (now - dueNs(j)) / 1e9)
        visible = k
      }
    }

    /** `batchS`: `triggerExecution` of each batch that read input, in s. */
    final case class Call(span: Span, wall: Double, batchS: Seq[Double], traced: Boolean,
                          runId: java.util.UUID) {
      def batches: Int = batchS.size
    }
    val calls = mutable.ArrayBuffer.empty[Call]
    var backlogMax = 0
    var failedCalls = 0L
    /** One client call: build the pipeline, run it to the end of the
      * files it sees, read the store. */
    def call(): Call = {
      // idle calls do not take a turn
      trace.alternate(calls.count(_.batches > 0))
      val traced = trace.isAttached
      val t0 = System.nanoTime()
      val sp = if (traced) trace.open("call", calls.size.toString) else null
      var runId: java.util.UUID = null
      val batchS =
        try {
          val scores = trace.span("build") {
            EventStream.killCounts(EventStream.readEvents(spark,
              EventSourceConfig.pulsarReplay(p.source.toString)))
          }
          trace.span("run") {
            val q = EventStream.kvSink(scores, p.kv.toString, p.checkpoint.toString)
            q.awaitTermination()
            runId = q.runId
            q.recentProgress.toSeq.filter(_.numInputRows > 0)
              .map(_.durationMs.get("triggerExecution").doubleValue / 1e3)
          }
        } catch {
          case e: Throwable =>
            failedCalls += 1
            failures += s"call ${calls.size} threw: ${e.getMessage}"
            Nil
        }
      if (sp != null) trace.close(sp)
      val wall = (System.nanoTime() - t0) / 1e9
      // before the next call's alternate() may detach the stream listener
      val c = Call(sp, wall, batchS, traced, runId)
      if (traced && runId != null) trace.awaitBatches(runId, c.batches)
      calls += c
      readKv()
      System.err.println(f"[perfbench] call ${calls.size - 1} wall $wall%.3f s " +
        s"batches ${c.batches} landed $landedCount visible $visible " +
        batchS.map(b => f"$b%.3f").mkString("[", " ", "]"))
      c
    }

    // the cold call: the warm-up frames, landed before the session's
    // first call, so the open loop starts with the batch path compiled
    (0 until s.warmup).foreach { i => dueNs(i) = System.nanoTime(); land(i) }
    val cold = call().wall
    // the open loop: frame i is due at start + (i - warmup) * interval
    val lander = Executors.newSingleThreadScheduledExecutor()
    val start = System.nanoTime() + 50L * 1000 * 1000
    (s.warmup until s.scheduled).foreach { i =>
      dueNs(i) = start + ((i - s.warmup) * s.intervalS * 1e9).toLong
      lander.schedule(new Runnable { def run(): Unit = land(i) },
        dueNs(i) - System.nanoTime(), TimeUnit.NANOSECONDS)
    }
    val hardStop = start + ((s.scheduled * s.intervalS + 60) * 1e9).toLong
    try {
      while (visible < s.scheduled && System.nanoTime() < hardStop) {
        backlogMax = math.max(backlogMax, landedCount - visible)
        call()
      }
    } finally {
      lander.shutdown()
      lander.awaitTermination(60, TimeUnit.SECONDS)
    }
    if (visible < s.scheduled)
      failures += s"open loop ended with $visible of ${s.scheduled} files visible"
    val openLoopCalls = calls.size
    val lateMax = (s.warmup until s.scheduled).filter(landedAt(_) > 0)
      .map(i => (landedAt(i) - dueNs(i)) / 1e9).max

    // the backlog: landed at once, drained by one call
    val drainStart = System.nanoTime()
    (s.scheduled until s.files).foreach { i => dueNs(i) = drainStart; land(i) }
    val visibleBefore = visible
    val drain = call()
    val drainWall = drain.wall
    if (visible != s.files)
      failures += s"backlog drain left ${s.files - visible} files invisible"
    val drainEps = (visible - visibleBefore).toDouble * s.eventsPerFile / drainWall

    // final exact check against batch kill counts over all frames
    val store = spark.read.parquet(p.kv.toString).collect()
      .map(r => (r.getAs[String]("room"), r.getAs[String]("killer")) -> r.getAs[Long]("kills"))
      .toMap
    val finalOk = store == p.expected
    if (!finalOk)
      failures += s"final store (${store.size} keys) != batch kill counts (${p.expected.size} keys)"

    val attempted = calls.size + reads + 1
    val failed = failedCalls + badReads + (if (finalOk) 0 else 1) +
      (if (visible < s.files) 1 else 0)
    val openLat = latency.slice(s.warmup, s.scheduled).toSeq
    // the drain's median micro-batch: the per-batch cost that bounds how
    // fast a backlog drains, and steadier than the call's wall, which one
    // slow batch (a state snapshot, a collection) can move by half
    val drainBatch = Stats.median(drain.batchS)
    val endToEnd = Map(
      "work_s" -> Metric(drainBatch, "s"),
      "latency_s" -> Metric(Stats.median(openLat), "s"))
    val detail = Map(
      "stream_visible_p50_s" -> endToEnd("latency_s"),
      "stream_visible_p90_s" -> Metric(Stats.quantile(openLat, 0.9), "s"),
      "stream_visible_samples" -> Metric(openLat.size, "count"),
      "stream_cold_call_s" -> Metric(cold, "s"),
      "stream_drain_eps" -> Metric(drainEps, "1/s"),
      "stream_drain_s" -> Metric(drainWall, "s"),
      "stream_drain_batch_s" -> Metric(drainBatch, "s"),
      "stream_files" -> Metric(s.files, "count"),
      "stream_topics" -> Metric(s.topics, "count"),
      "stream_events_per_file" -> Metric(s.eventsPerFile, "count"),
      "stream_interval_s" -> Metric(s.intervalS, "s"),
      "stream_calls" -> Metric(calls.size, "count"),
      "generator.late_s_max" -> Metric(lateMax, "s"),
      "source.backlog_files_max" -> Metric(backlogMax, "count"))
    val layers =
      if (!o.trace) Map.empty[String, Metric]
      else {
        trace.flush()
        val open = calls.slice(1, openLoopCalls).filter(_.batches > 0).toSeq
        streamLayers(o, trace, open.filter(_.traced).map(c => (c.span, c.wall, c.runId)),
          open.filterNot(_.traced).map(c => c.wall / c.batches)) ++ Map(
          "source.backlog_files_max" -> Metric(backlogMax, "count"),
          "generator.late_s_max" -> Metric(lateMax, "s"))
      }
    Outcome(attempted, failed, endToEnd, layers, detail, failures.toSeq)
  }

  /** Per-layer metrics of the traced open-loop calls: micro-batch phases
    * from the StreamingQueryListener, state-store and sink counters, and
    * the shared layers (build = pipeline construction, plan = the
    * batches' queryPlanning, action = the rest of the call). */
  private def streamLayers(o: Opts, trace: Trace,
                           traced: Seq[(Span, Double, java.util.UUID)],
                           untracedPerBatch: Seq[Double]): Map[String, Metric] = {
    val byRun = trace.progress.asScala.map(_.progress).toSeq
      .filter(_.numInputRows > 0).groupBy(_.runId)
    val calls = traced.map { case (span, wall, run) =>
      (span, wall, byRun.getOrElse(run, Nil)) }
    val progress = calls.flatMap(_._3)
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, phase: String) =
      Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)
    def phaseMs(phase: String) = Stats.median(progress.map(ms(_, phase)))
    val restart = calls.map { case (_, wall, ps) =>
      wall - ps.map(ms(_, "triggerExecution")).sum / 1e3 }
    val generic = Layers.generic(o, trace, calls.map { case (span, _, ps) =>
      Layers.Rep(Seq(span), Some(ps.map(ms(_, "queryPlanning")).sum / 1e3)) })
    val stateOps = progress.flatMap(_.stateOperators.headOption)
    val inputRows = progress.map(_.numInputRows).sum.toDouble
    val written = calls.map(c => trace.countersUnder(c._1).recordsWritten).sum
    val tracedPerBatch = Stats.median(calls.map(c => c._2 / math.max(1, c._3.size)))
    val untraced = Stats.median(untracedPerBatch)
    generic ++ Map(
      "Materialize.staged_rdds" -> Metric(0.0, "count"),
      "EventStream.batches" -> Metric(progress.size, "count"),
      "EventStream.restart_s" -> Metric(Stats.median(restart), "s"),
      "EventStream.latestOffset_ms" -> Metric(phaseMs("latestOffset"), "ms"),
      "EventStream.getBatch_ms" -> Metric(phaseMs("getBatch"), "ms"),
      "EventStream.queryPlanning_ms" -> Metric(phaseMs("queryPlanning"), "ms"),
      "EventStream.addBatch_ms" -> Metric(phaseMs("addBatch"), "ms"),
      "EventStream.walCommit_ms" -> Metric(phaseMs("walCommit"), "ms"),
      "EventStream.commitOffsets_ms" -> Metric(phaseMs("commitOffsets"), "ms"),
      "EventStream.triggerExecution_ms" -> Metric(phaseMs("triggerExecution"), "ms"),
      "state.rows_total" -> Metric(
        stateOps.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      "state.memory_bytes" -> Metric(
        stateOps.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      "state.commit_ms" -> Metric(Stats.median(stateOps.map(_.commitTimeMs.toDouble)), "ms"),
      "sink.rows_written_per_input_row" -> Metric(written / math.max(1.0, inputRows), "ratio"),
      "trace.overhead_pct" -> Metric((tracedPerBatch - untraced) / untraced * 100, "%"))
  }
}
