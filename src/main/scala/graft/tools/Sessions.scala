package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * The one place a non-bench session is built (`graft.Bench` is frozen and
 * keeps its own builder). Each profile reproduces a session that already
 * existed, conf for conf:
 *
 *  - [[Sessions.Gate]]: the correctness gate's session, which `graft.Verify`,
 *    `DriveOne` and `DrivePipeline` share — one shuffle partition per core,
 *    UTC session time zone, WARN logging.
 *  - [[Sessions.Pipeline]]: the bench's session profiles. With `aqe = false`
 *    the pipeline profile (AQE off, 4 shuffle partitions per core,
 *    uncompressed in-memory cache); with `aqe = true` the headline profile
 *    (AQE on, 2 per core, AQE never coalescing below the core count).
 */
object Sessions {

  sealed trait Confs
  case object Gate extends Confs
  final case class Pipeline(aqe: Boolean) extends Confs

  /** the core count the gate runs at: `SPARK_GRAFT_CPUS`, else 4 */
  def gateCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cores: Int, confs: Confs): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val (s, logLevel) = confs match {
      case Gate =>
        (b.config("spark.sql.shuffle.partitions", cores.toString).getOrCreate(), "WARN")
      case Pipeline(aqe) =>
        (b.appName(s"graft-profile-$cores")
          .config("spark.sql.shuffle.partitions", (if (aqe) cores * 2 else cores * 4).toString)
          .config("spark.sql.inMemoryColumnarStorage.compressed", aqe.toString)
          .config("spark.sql.adaptive.enabled", aqe.toString)
          .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", cores.toString)
          .getOrCreate(), "ERROR")
    }
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
