package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built: Bench, Verify, every
  * tool main and the test session all start here.
  *
  *  - `local[cores]`: `SPARK_GRAFT_CPUS`, else every available core;
  *    shuffle partitions: `SPARK_GRAFT_SHUFFLE`, else cores.
  *  - The [[SparkEntry]] session contract, set at construction: UTC
  *    zone, parquet TIMESTAMP(NANOS) read as long, no NTZ inference.
  *  - [[GraftExtensions]], so SQL resolves `fp2_decode` & co.
  *  - UI off; log level WARN (`spark.log.level` is the conf form of
  *    `setLogLevel`, so it also holds for callers that chain extras).
  *
  * Callers needing more confs chain them onto [[builder]] before
  * `getOrCreate()`. */
object GraftSession {
  private val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cores.toString))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    .config("spark.ui.enabled", "false")
    .config("spark.log.level", "WARN")

  def apply(): SparkSession = builder().getOrCreate()
}
