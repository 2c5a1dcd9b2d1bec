package graft

import org.apache.spark.sql.SparkSession

/** Host-derived launch defaults and the one session builder of the
  * runnable mains (`CrawlDriver`, `graft.tools.*`). */
object HostFit {

  /** Spark local cores: SPARK_GRAFT_CPUS, else the cores this JVM may
    * run on (its CPU affinity mask and container quota — what `nproc`
    * reports). */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The crawl's session: `local[cores]`, one shuffle partition per
    * core, UTC, AQE off, 128m broadcast threshold, UI off, log level
    * ERROR. */
  def session(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE off for the crawl loop: its partitioning is explicit and
      // data-derived (host-salted buckets, shard cogroups, hash-
      // partitioned page index); AQE's runtime coalescing of those
      // deliberately-sized partitions measured +33% task time and a
      // 45s GC surge at local[16] (see Bench.session scaladoc)
      .config("spark.sql.adaptive.enabled", "false")
      // the per-wave frontier slice is always tiny next to the pages
      // table: broadcast it instead of shuffling the whole page index
      // to disk (at cluster scale the same join is a bucketed SMJ)
      .config("spark.sql.autoBroadcastJoinThreshold", "128m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // a main's log is its own tagged lines: Spark WARN output (which
    // can quote exception text) would pollute SmokeDrive's Exception count
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
