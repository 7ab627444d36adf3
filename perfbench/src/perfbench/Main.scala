package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command-line options, parsed from `--key value` pairs. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    workDir: Path,
    dataDir: String,
    reference: String,
    benchmark: Path,
    profile: String) {
  def tiny: Boolean = profile == "tiny"
  /** Set-ups a run makes; `setup_s` is their median. */
  def setups: Int = if (tiny) 1 else 3
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      cores = m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors),
      workDir = Paths.get(need("work")).toAbsolutePath,
      dataDir = Paths.get(need("data")).toAbsolutePath.toString,
      reference = m.getOrElse("reference", ""),
      benchmark = Paths.get(need("benchmark")).toAbsolutePath,
      profile = m.getOrElse("profile", "full"))
  }
}

/** One metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload's measured phase reports: operation counts for the
  * result line, the end-to-end metrics (untraced run) or the per-layer
  * metrics (traced run), and the workload-specific names that explain
  * them (printed on the detail line, with the workload's `results`). */
final case class Outcome(
    attempted: Long,
    failed: Long,
    endToEnd: Map[String, Metric],
    layers: Map[String, Metric],
    detail: Map[String, Metric],
    failures: Seq[String],
    results: Seq[(String, Any)] = Nil)

/** A workload: `prepare` is the set-up that `setup_s` times (it runs
  * several times, each in a fresh session); `measure` runs once, in the
  * session of the last `prepare`. */
trait Workload {
  type Prepared
  def prepare(spark: SparkSession, o: Opts, dir: Path): Prepared
  def measure(spark: SparkSession, o: Opts, p: Prepared, trace: Trace): Outcome
}

object Main {

  /** The result line's metric names and units, as BENCHMARK.json declares
    * them: `end_to_end` for untraced runs, `per_layer` for traced ones. A
    * per-layer count that a workload's path does not reach reads 0; every
    * per-layer time is measured on all three workloads. */
  def declared(benchmark: Path, key: String): Seq[(String, String)] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(benchmark.toFile).get(key)
    require(tree != null && tree.isArray, s"$benchmark has no $key list")
    tree.elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  def session(o: Opts, dir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String): Workload = name match {
    case "headline"          => Headline
    case "replay_fold"       => ReplayFold
    case "scoreboard_stream" => ScoreboardStream
    case other => sys.error(s"unknown workload '$other'")
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status)
      .map(_.group(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  /** Exits explicitly either way: a failed run must not linger on a
    * non-daemon Spark thread. */
  def main(args: Array[String]): Unit = {
    try run(Opts.parse(args))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  private def run(o: Opts): Unit = {
    val wl = workload(o.workload)
    val declaredMetrics = declared(o.benchmark, if (o.trace) "per_layer" else "end_to_end")
    Files.createDirectories(o.workDir)
    // set-up runs `setups` times, each in a fresh session with fresh
    // checkpoint and artifact-store dirs; the last one is measured
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var prepared: wl.Prepared = null.asInstanceOf[wl.Prepared]
    for (i <- 1 to o.setups) {
      if (spark != null) spark.stop()
      val dir = o.workDir.resolve(s"setup$i")
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      spark = session(o, dir)
      prepared = wl.prepare(spark, o, dir)
      setupTimes += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup $i: ${setupTimes.last}%.3f s")
    }
    val trace = new Trace(o.trace)
    trace.bind(spark)
    val t0 = System.nanoTime()
    val out = wl.measure(spark, o, prepared, trace)
    trace.detach()
    trace.write(o.workDir.resolve("spans.jsonl"), t0)
    val rss = peakRssMb()
    spark.stop()

    val setupS = Stats.median(setupTimes.toSeq)
    val errorRate = out.failed.toDouble / math.max(1L, out.attempted)
    val common = Map(
      "setup_s" -> Metric(setupS, "s"),
      "peak_rss_mb" -> Metric(rss, "MB"),
      "error_rate" -> Metric(errorRate, "ratio"))
    val measured = common ++ (if (o.trace) out.layers else out.endToEnd)
    val metrics = declaredMetrics.map { case (name, unit) =>
      val m = measured.getOrElse(name, {
        require(unit != "s" && unit != "ms", s"${o.workload} does not measure $name")
        Metric(0.0, unit)
      })
      require(m.unit == unit, s"$name: unit ${m.unit}, declared $unit")
      name -> m
    }.toMap
    def raw(ms: Map[String, Metric]) = Json.Raw(Json.obj(ms.toSeq.sortBy(_._1).map {
      case (k, m) => k -> Json.Raw(Json.obj("value" -> m.value, "unit" -> m.unit)) }: _*))
    out.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val detail = out.detail ++ common ++ (if (o.trace) out.layers else Map.empty)
    println(Json.obj("detail" -> Json.Raw(Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cores" -> o.cores, "setups_s" -> setupTimes.toSeq,
      "failures" -> out.failures.take(20), "metrics" -> raw(detail),
      "results" -> Json.Raw(Json.obj(out.results: _*))))))
    println(Json.obj(
      "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> raw(metrics)))
    Console.out.flush()
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: collection.Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile (q in [0, 1]); NaN on an empty input. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
