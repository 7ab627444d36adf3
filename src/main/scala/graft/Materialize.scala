package graft

import org.apache.spark.sql.Dataset

/** One policy for staging intermediates that multiple consumers walk
  * (signature corpora, pair sets, iterative labels) instead of bare
  * localCheckpoint calls at every site:
  *
  *  - default: `localCheckpoint()` — executor-storage-pinned, right for
  *    single-node and sf-scale runs;
  *  - `spark.graft.checkpoint.dir` set: reliable `checkpoint()` into that
  *    directory — the 100 TB posture, where executor loss must not trigger
  *    a recompute storm and storage eviction must not fail the job.
  *
  * The plan shape is identical either way; only the materialization medium
  * changes, which is exactly why it belongs behind one switch rather than
  * per-call-site caveats.
  */
object Materialize {

  /** Effective shuffle parallelism for an EXPLICIT-COUNT repartition that
    * spreads a CPU-bound kernel (the §2.5 AQE-starved-stage fix): under
    * AQE with partition coalescing on, `coalescePartitions.initialPartitionNum`
    * — not `spark.sql.shuffle.partitions` — is the intended pre-coalesce
    * parallelism; reading the base knob raw would understate it. With AQE
    * or coalescing off Spark ignores that override, and so does this. */
  def shuffleParallelism(spark: org.apache.spark.sql.SparkSession): Int = {
    def on(key: String) = spark.conf.get(key).trim.equalsIgnoreCase("true")
    val coalescing = on("spark.sql.adaptive.enabled") &&
      on("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf
      .getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .filter(_ => coalescing)
      .flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  val DirConfKey = "spark.graft.checkpoint.dir"

  /** Reliable-checkpoint dir for SHARED intermediates only (the
    * dataset-memo artifacts that outlive the query that built them).
    * A session that isolates queries by unpersisting all blocks between
    * them (graft.Bench's releaseStaged) sets ONLY this key: memo frames
    * then survive the release — recompute reads the checkpoint files —
    * while query-internal iteration frames (star rounds, BFS/SSSP
    * frontiers) keep the cheap localCheckpoint path instead of paying a
    * disk write per loop round (measured +0.8 s on graph_components
    * alone when the blanket [[DirConfKey]] was used for this). The full
    * 100 TB posture still sets [[DirConfKey]], which covers both. */
  val SharedDirConfKey = "spark.graft.checkpoint.sharedDir"

  /** Stage an intermediate that OUTLIVES the building query — a
    * dataset-memo artifact handed to later queries. Honors
    * [[SharedDirConfKey]], then [[DirConfKey]], else localCheckpoint. */
  def stageShared[T](df: Dataset[T]): Dataset[T] = {
    val spark = df.sparkSession
    spark.conf.getOption(SharedDirConfKey).filter(_.nonEmpty) match {
      case Some(dir) => reliably(df, dir)
      case None      => stage(df)
    }
  }

  def stage[T](df: Dataset[T]): Dataset[T] = {
    val spark = df.sparkSession
    spark.conf.getOption(DirConfKey) match {
      case Some(dir) => reliably(df, dir)
      case None      => withRetryBarrier(df).localCheckpoint()
    }
  }

  /** [[stage]] for a frame that a LATER action in the SAME query is
    * guaranteed to consume (an iterative round followed by its digest,
    * a staged edge frame walked by the final count): local checkpoint
    * with eager = false, so the final-stage materialization job merges
    * into that consumer's job instead of running as its own — one fewer
    * scheduled job per staged frame (AQE still materializes the frame's
    * internal exchange stages at call time; only the last stage defers).
    * Partial consumption is safe: LocalRDDCheckpointData completes any
    * missing partitions at first-job end. Under [[DirConfKey]] (the
    * reliable-checkpoint 100 TB posture) this stays EAGER — a lazy
    * reliable checkpoint recomputes the frame a second time to write the
    * checkpoint files, which is strictly worse. */
  def stageLazy[T](df: Dataset[T]): Dataset[T] = {
    val spark = df.sparkSession
    spark.conf.getOption(DirConfKey) match {
      case Some(dir) => reliably(df, dir)
      case None      => withRetryBarrier(df).localCheckpoint(eager = false)
    }
  }

  /** Audit-only fault point (graft.tools.RetryAudit): staged intermediates
    * are computed by their own checkpoint job, so a barrier here makes that
    * job's final stage — post-shuffle wherever the staged frame shuffles —
    * fail attempt 0 and re-execute over the written partials. */
  private def withRetryBarrier[T](df: Dataset[T]): Dataset[T] =
    if (df.sparkSession.conf
          .get(Tables.RetryFaultPostShuffleKey, "false") == "true")
      Tables.retryFaultBarrier(df)
    else df

  private def reliably[T](df: Dataset[T], dir: String): Dataset[T] = {
    val spark = df.sparkSession
    spark.sparkContext.getCheckpointDir match {
      case None => spark.sparkContext.setCheckpointDir(dir)
      // setCheckpointDir appends a random UUID segment and may qualify
      // the scheme, so "already ours" = the configured path is a
      // path-component prefix of the effective one (scheme and trailing
      // slash stripped on both sides — a bare substring test would let
      // "/a" accept "file:/abc/<uuid>"). SparkContext's dir wins once
      // set; a silently-ignored config is worse than a loud one.
      case Some(existing) =>
        def norm(p: String) =
          p.replaceFirst("^file:", "").stripSuffix("/")
        val want = norm(dir)
        val have = norm(existing)
        if (have != want && !have.startsWith(want + "/"))
          throw new IllegalStateException(
            s"a graft checkpoint dir of $dir conflicts with the " +
              s"SparkContext checkpoint dir already set to $existing; " +
              "unset one of them")
    }
    withRetryBarrier(df).checkpoint()
  }
}
