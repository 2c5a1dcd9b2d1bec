package graft

/** Host-derived launch defaults for the runnable mains. */
object HostFit {

  /** Spark local cores: SPARK_GRAFT_CPUS, else the cores this JVM may
    * run on (its CPU affinity mask and container quota — what `nproc`
    * reports). */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())
}
