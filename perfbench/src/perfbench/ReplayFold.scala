package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.game.{GameEvent, GameFold, RoomSummary}

/** `replay_fold`: a `GameEventsProvider` log (64 rooms, generator seed =
  * the run's seed) replayed through `GameFold.summarize` as a closed loop
  * of repetitions. The first repetition runs in the fresh session; the
  * next [[WarmupReps]] let the JIT settle (a repetition still gets 30%
  * faster over them); the rest are timed while time remains.
  *
  * Checks: every repetition's summary equals `summarizePresorted` (the
  * shuffle-free fold over the room-partitioned source, folded in set-up)
  * row for row, both
  * equal `foldLocal` on two sampled rooms, and every room folds all of
  * its events. */
object ReplayFold extends Workload {

  val Rooms = 64
  val WarmupReps = 2

  def eventsPerRoom(o: Opts): Long = if (o.tiny) 500L else 8192L

  /** `reference` is the check's expected summary: the shuffle-free
    * `summarizePresorted` over the same log, sorted by room. */
  final case class Prepared(events: Dataset[GameEvent], total: Long,
                            reference: Seq[RoomSummary])

  /** Set-up reads the whole log through the generator once and folds the
    * check's reference, so `setup_s` times graft's source and fold rather
    * than session start-up alone. */
  def prepare(spark: SparkSession, o: Opts, dir: Path): Prepared = {
    import spark.implicits._
    val perRoom = eventsPerRoom(o)
    val events = spark.read.format("graft.sources.GameEventsProvider")
      .option("rooms", Rooms).option("eventsPerRoom", perRoom)
      .option("seed", o.seed).load()
      .withColumn("list", array().cast("array<int>"))
      .as[GameEvent]
    val scanned = events.count()
    require(scanned == Rooms * perRoom, s"generator produced $scanned events")
    Prepared(events, scanned, sorted(GameFold.summarizePresorted(events).collect()))
  }

  private def sorted(rs: Array[RoomSummary]): Seq[RoomSummary] = rs.toSeq.sortBy(_.room)

  def measure(spark: SparkSession, o: Opts, p: Prepared, trace: Trace): Outcome = {
    import spark.implicits._
    val failures = mutable.ArrayBuffer.empty[String]
    // (rep, traced, seconds, result)
    val reps = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Seq[RoomSummary])]
    final case class RepLayers(scan: Double, presorted: Double, summarize: Double)
    val tracedReps = mutable.ArrayBuffer.empty[(Span, RepLayers)]

    /** build, plan and action of one fold, each its own span. */
    def fold(name: String, f: Dataset[GameEvent] => Dataset[RoomSummary]): Array[RoomSummary] =
      trace.span(name) {
        val ds = trace.span("build")(f(p.events))
        trace.span("plan")(ds.queryExecution.executedPlan)
        trace.span("action")(ds.collect())
      }

    def rep(i: Int): Double = {
      trace.alternate(i)
      val traced = trace.isAttached
      val s = if (traced) trace.open("rep", i.toString) else null
      var scan = 0.0; var pre = 0.0
      if (traced) {
        val t0 = System.nanoTime()
        trace.span("scan")(p.events.count())
        val t1 = System.nanoTime()
        fold("presorted", GameFold.summarizePresorted)
        val t2 = System.nanoTime()
        scan = (t1 - t0) / 1e9; pre = (t2 - t1) / 1e9
      }
      val t0 = System.nanoTime()
      val rows = fold("summarize", GameFold.summarize)
      val sec = (System.nanoTime() - t0) / 1e9
      if (s != null) { trace.close(s); tracedReps += s -> RepLayers(scan, pre, sec) }
      reps += ((i, traced, sec, sorted(rows)))
      System.err.println(f"[perfbench] rep $i summarize $sec%.3f s traced=$traced")
      sec
    }

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    rep(0)
    var i = 1
    var last = 0.0
    while (i <= WarmupReps + 3 || elapsed + last < o.seconds) { last = rep(i); i += 1 }

    // checks (untimed): the presorted fold and the single-thread fold
    val reference = p.reference
    var checks = 0L; var checkFailures = 0L
    def check(ok: Boolean, what: => String): Unit = {
      checks += 1
      if (!ok) { checkFailures += 1; failures += what }
    }
    val perRoom = p.total / Rooms
    check(reference.size == Rooms && reference.forall(_.n_events == perRoom),
      s"presorted fold: ${reference.size} rooms, event counts " +
        reference.map(_.n_events).distinct.mkString(","))
    val sample = new scala.util.Random(o.seed).shuffle((0 until Rooms).toList)
      .take(2).map(r => s"room$r")
    val local = GameFold.foldLocal(p.events.filter(col("room").isin(sample: _*))
      .collect().toSeq)
    check(local == reference.filter(r => sample.contains(r.room)),
      s"foldLocal on ${sample.mkString(",")} differs from summarizePresorted")
    val badReps = reps.filter(_._4 != reference)
    badReps.foreach(r => failures += s"summarize rep ${r._1} differs from summarizePresorted")

    val good = reps.filterNot(r => badReps.contains(r))
    val untraced = good.filter(r => r._1 > WarmupReps && !r._2).map(_._3)
    val work = Stats.median(untraced)
    val cold = reps.find(_._1 == 0).filter(r => !badReps.contains(r)).map(_._3)
      .getOrElse(Double.NaN)
    // one summarize is both the unit of work and the result a user waits
    // for: the two names carry the same number by design
    val endToEnd = Map(
      "work_s" -> Metric(work, "s"),
      "latency_s" -> Metric(work, "s"))
    val detail = Map(
      "replay_eps" -> Metric(p.total / work, "1/s"),
      "replay_summarize_s" -> Metric(work, "s"),
      "replay_summarize_p90_s" -> Metric(Stats.quantile(untraced, 0.9), "s"),
      "replay_cold_s" -> Metric(cold, "s"),
      "replay_events" -> Metric(p.total.toDouble, "count"),
      "replay_rooms" -> Metric(Rooms, "count"),
      "replay_reps" -> Metric(untraced.size, "count"))
    val layers =
      if (!o.trace) Map.empty[String, Metric]
      else {
        trace.flush()
        val traced = tracedReps.filter(_._1.key.toInt > WarmupReps).toSeq
        val tracedWall = Stats.median(traced.map(_._2.summarize))
        val kids = trace.all.groupBy(_.parent)
        Layers.generic(o, trace, traced.map { case (s, _) =>
          Layers.Rep(kids.getOrElse(s.id, Nil).filter(_.name == "summarize"))
        }) ++ Map(
          "Materialize.staged_rdds" -> Metric(0.0, "count"),
          "sources.scan_s" -> Metric(Stats.median(traced.map(_._2.scan)), "s"),
          "GameFold.fold_s" -> Metric(
            Stats.median(traced.map(r => r._2.presorted - r._2.scan)), "s"),
          "GameFold.shuffle_sort_s" -> Metric(
            Stats.median(traced.map(r => r._2.summarize - r._2.presorted)), "s"),
          "GameFold.kernel_ns_per_event" -> Metric(kernelNsPerEvent(p, sample.head), "ns"),
          "trace.overhead_pct" -> Metric((tracedWall - work) / work * 100, "%"))
      }
    Outcome(reps.size + checks, badReps.size + checkFailures, endToEnd, layers,
      detail, failures.toSeq)
  }

  /** `foldPartition` over one room held in memory, seq-sorted, on the
    * driver thread: the single-threaded kernel baseline. Median of five. */
  private def kernelNsPerEvent(p: Prepared, room: String): Double = {
    val events = p.events.filter(col("room") === room).collect().sortBy(_.seq)
    val times = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      GameFold.foldPartition(events.iterator).foreach(_ => ())
      (System.nanoTime() - t0).toDouble / events.length
    }
    Stats.median(times.drop(2))
  }
}
