package graft

import java.nio.file.Files

/** The one materialization policy behind every staged intermediate:
  * localCheckpoint by default, reliable checkpoint into
  * spark.graft.checkpoint.dir when set — same data either way.
  */
class MaterializeSpec extends SparkSuite {

  test("default stages via localCheckpoint; conf switches to reliable dir") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")

    val local = Materialize.stage(df)
    assert(local.count() === 100)

    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Materialize.DirConfKey, dir)
    try {
      val reliable = Materialize.stage(df)
      assert(reliable.count() === 100)
      assert(reliable.collect().map(_.getLong(0)).sorted ===
        local.collect().map(_.getLong(0)).sorted)
      // the reliable path actually wrote RDD checkpoint data under dir
      val walk = Files.walk(java.nio.file.Paths.get(dir))
      val wrote = try walk.filter(Files.isRegularFile(_)).count()
      finally walk.close()
      assert(wrote > 0, s"expected checkpoint files under $dir")
    } finally {
      spark.conf.unset(Materialize.DirConfKey)
    }
  }

  test("shuffleParallelism reads initialPartitionNum only while AQE coalesces") {
    val keys = Seq("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    try {
      assert(Materialize.shuffleParallelism(spark) === base)
      spark.conf.set(keys(0), (base + 5).toString)
      spark.conf.set(keys(1), "true")
      spark.conf.set(keys(2), "true")
      assert(Materialize.shuffleParallelism(spark) === base + 5)
      spark.conf.set(keys(2), "false")
      assert(Materialize.shuffleParallelism(spark) === base)
      spark.conf.set(keys(2), "true")
      spark.conf.set(keys(1), "false")
      assert(Materialize.shuffleParallelism(spark) === base)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
