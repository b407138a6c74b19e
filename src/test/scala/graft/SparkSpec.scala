package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for all specs — one JVM-wide session (sbt forks
  * a single test JVM), small parallelism, UTC, AQE on as in production. */
trait SparkSpec { self: Suite =>
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with the driver-tier size limit at 0, so every size
    * gate declines and the distributed twins run (the benchmark's twin
    * regime); the previous setting is restored afterwards. */
  def withTwins[T](body: => T): T = withTierLimit(0L)(body)

  /** Runs `body` with the driver-tier size limit at `bytes`; the previous
    * setting is restored afterwards. */
  def withTierLimit[T](bytes: Long)(body: => T): T = {
    val was = SparkSpec.TierLimits.map(k => k -> spark.conf.getOption(k))
    SparkSpec.TierLimits.foreach(spark.conf.set(_, bytes.toString))
    try body
    finally was.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Runs `body` with Spark's auto-broadcast off, so every join without a
    * hint plans as a shuffle join — the shape a twin runs once its sides
    * outgrow the broadcast threshold; the previous setting is restored
    * afterwards. */
  def withShuffleJoins[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkSpec {
  val TierLimits = Seq("graft.graph.broadcastLimitBytes")

  lazy val session: SparkSession = LocalTuning(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
