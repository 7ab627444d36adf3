package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.{GQuery, SparkEntry}

/** `headline`: a fixed slice of the `bench = true` registry, run as a
  * closed loop with one client — one cold pass in the fresh session, then
  * whole warm passes while time remains. The seed permutes the query
  * order of every pass.
  *
  * Each execution is `q.run` (build, including the staging jobs it
  * launches), then `collect()` (plan + action). Its rows are checked
  * against the query's `minRowsAt` floor and against a recorded
  * order-independent hash; a failed or wrong execution counts toward
  * `error_rate` and is left out of every timing. After each execution
  * every persisted RDD is unpersisted through the public API. */
object Headline extends Workload {

  /** The slice, drawn from the registry by measured cost: the 85 queries
    * sorted by warm wall at sf0.01 (4 cores), and every query whose running
    * sum crosses (j + 1/2) of an eighth of the total, j = 0..7 — a
    * systematic sample with probability proportional to warm time, so the
    * slice's mix follows where the registry's time goes (perfbench/README.md
    * gives its shares of jobs, build and warm time). */
  val Queries: Seq[String] = Seq(
    "graph_bfs_hops", "graph_pagerank", "q9_product_profit", "funnel_windowed",
    "join_broadcast", "q13_customer_distribution", "session_path_topk",
    "sketch_quantile_rank")

  final case class Prepared(queries: Seq[GQuery], reference: Map[String, (Long, Long)])

  def prepare(spark: SparkSession, o: Opts, dir: Path): Prepared = {
    spark.conf.set(graft.Materialize.SharedDirConfKey,
      Files.createDirectories(dir.resolve("checkpoint")).toString)
    spark.conf.set(graft.ArtifactStore.DirConfKey,
      Files.createDirectories(dir.resolve("artifacts")).toString)
    val byName = SparkEntry.benchQueries.map(q => q.name -> q).toMap
    val qs = Queries.map(n => byName.getOrElse(n,
      sys.error(s"$n is not a bench = true query")))
    warmup(spark, o.dataDir)
    Prepared(qs, readReference(o.reference))
  }

  /** Shared first-use costs (codegen, parquet footers, JSON and regex
    * evaluators, graft's native functions), so the cold pass times
    * queries rather than JVM start-up. Same shape as graft.Bench's. */
  private def warmup(spark: SparkSession, dataDir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Tables.events(spark, dataDir).limit(64)
      .select(get_json_object(col("props"), "$.k").as("k"),
        regexp_extract(col("event_type"), "(.*)", 1).as("re"))
      .count()
    graft.functions.VectorExpressions.ensureRegistered(spark)
    spark.sql(
      "SELECT graft_simhash(graft_shingle_hashes('warm up the native kernels'))")
      .count()
  }

  /** `name<TAB>rows<TAB>hash` lines. */
  def readReference(path: String): Map[String, (Long, Long)] =
    if (path.isEmpty) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, h) = l.split('\t')
        n -> (rows.toLong, java.lang.Long.parseUnsignedLong(h, 16))
      }.toMap

  /** One execution's record. */
  final case class Exec(query: String, pass: Int, traced: Boolean,
                        seconds: Double, ok: Boolean)

  def measure(spark: SparkSession, o: Opts, p: Prepared, trace: Trace): Outcome = {
    val rng = new scala.util.Random(o.seed)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val failures = mutable.ArrayBuffer.empty[String]
    val results = mutable.Map.empty[String, (Long, Long)]
    val stagedPerPass = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val passSpans = mutable.ArrayBuffer.empty[(Int, Span)]

    def runOnce(q: GQuery, pass: Int): Unit = {
      val traced = trace.isAttached
      val t0 = System.nanoTime()
      val qSpan = if (traced) trace.open("query", q.name) else null
      val outcome =
        try {
          val df = trace.span("build", q.name)(q.run(spark, o.dataDir))
          if (traced)
            stagedPerPass(pass) += spark.sparkContext.getPersistentRDDs.size
          trace.span("plan", q.name)(df.queryExecution.executedPlan)
          val rows = trace.span("action", q.name)(df.collect())
          Right(rows)
        } catch { case e: Throwable => Left(e) }
      if (qSpan != null) trace.close(qSpan)
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      val ok = outcome match {
        case Left(e) =>
          failures += s"${q.name} pass $pass threw: ${e.getMessage}"; false
        case Right(rows) =>
          val got = (rows.length.toLong, ResultHash.of(rows))
          results(q.name) = got
          val floor = q.minRowsAt(o.dataDir)
          val expect = p.reference.get(q.name)
          if (got._1 < floor) {
            failures += s"${q.name} pass $pass: ${got._1} rows < minRows $floor"; false
          } else if (!expect.contains(got)) {
            failures += s"${q.name} pass $pass: (rows, hash) ${got._1}, " +
              s"${java.lang.Long.toHexString(got._2)} != reference " +
              expect.map(e => s"${e._1}, ${java.lang.Long.toHexString(e._2)}")
                .getOrElse("(none)"); false
          } else true
      }
      System.err.println(f"[perfbench] pass $pass ${q.name} $sec%.3f s ok=$ok")
      execs += Exec(q.name, pass, traced, sec, ok)
    }

    def runPass(pass: Int): Double = {
      trace.alternate(pass)
      val t0 = System.nanoTime()
      val s = if (trace.isAttached) trace.open("pass", pass.toString) else null
      rng.shuffle(p.queries).foreach(q => runOnce(q, pass))
      if (s != null) { trace.close(s); passSpans += pass -> s }
      (System.nanoTime() - t0) / 1e9
    }

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    runPass(0)
    // whole warm passes only, so every query has the same sample count;
    // at least three, so one contended pass cannot move a query's median
    var pass = 1
    var last = 0.0
    while (pass <= 3 || elapsed + last < o.seconds) {
      last = runPass(pass)
      pass += 1
    }
    trace.flush()

    val good = execs.filter(_.ok)
    val cold = good.filter(_.pass == 0)
    val warm = good.filter(e => e.pass > 0 && !e.traced)
    val warmTraced = good.filter(e => e.pass > 0 && e.traced)
    def perQuery(xs: collection.Seq[Exec], f: collection.Seq[Double] => Double) =
      xs.groupBy(_.query).values.map(v => f(v.map(_.seconds))).toSeq
    val warmS = perQuery(warm, Stats.median).sum
    val warmSamples = warm.map(_.seconds)
    // the result line takes each query's best warm execution, as graft.Bench
    // does: warm passes still speed up pass over pass (JIT), and the best
    // of three shrugs off a contended moment that moves a median of three
    val best = perQuery(warm, _.min)
    val endToEnd = Map(
      "work_s" -> Metric(best.sum, "s"),
      "latency_s" -> Metric(Stats.geomean(best), "s"))
    val detail = Map(
      "headline_warm_s" -> Metric(warmS, "s"),
      "headline_warm_best_s" -> Metric(best.sum, "s"),
      "headline_query_geomean_s" -> Metric(Stats.geomean(best), "s"),
      "headline_cold_s" -> Metric(cold.map(_.seconds).sum, "s"),
      "headline_query_p50_s" -> Metric(Stats.quantile(warmSamples, 0.5), "s"),
      "headline_query_p90_s" -> Metric(Stats.quantile(warmSamples, 0.9), "s"),
      "headline_warm_samples" -> Metric(warmSamples.size, "count"),
      "headline_queries" -> Metric(p.queries.size, "count"),
      "headline_warm_passes" -> Metric(pass - 1, "count"))
    val layers =
      if (!o.trace) Map.empty[String, Metric]
      else {
        val kids = trace.all.groupBy(_.parent)
        val warmPasses = passSpans.filter(_._1 > 0).toSeq
        val tracedWarmS = perQuery(warmTraced, Stats.median).sum
        Layers.generic(o, trace, warmPasses.map { case (_, s) =>
          Layers.Rep(kids.getOrElse(s.id, Nil).filter(_.name == "query"))
        }) ++ Map(
          "Materialize.staged_rdds" -> Metric(
            Stats.median(warmPasses.map(x => stagedPerPass(x._1).toDouble)), "count"),
          "trace.overhead_pct" -> Metric((tracedWarmS - warmS) / warmS * 100, "%"))
      }
    // each query's last (rows, hash), in the reference file's terms
    val resultsOut = results.toSeq.sortBy(_._1).map { case (n, (rows, h)) =>
      n -> Json.Raw(Json.obj("rows" -> rows, "hash" -> java.lang.Long.toHexString(h))) }
    Outcome(execs.size, execs.count(!_.ok), endToEnd, layers, detail, failures.toSeq,
      resultsOut)
  }
}

/** Order-independent 64-bit hash of a collected result: the wrapping sum
  * of per-row hashes, each over a canonical rendering of the row. Doubles
  * render at 10 significant digits, so the last-bit noise of a float
  * aggregate's merge order does not read as a wrong answer. */
object ResultHash {
  def of(rows: Array[Row]): Long = rows.foldLeft(0L)((acc, r) => acc + row(r))

  private def row(r: Row): Long = {
    val s = render(r)
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1f0d)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0"
      else String.format(java.util.Locale.ROOT, "%.10g", Double.box(d))
    case f: Float => render(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => render(b.bigDecimal)
    case bytes: Array[Byte] => bytes.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
