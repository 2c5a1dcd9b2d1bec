package graft.tools
import org.apache.spark.sql.SparkSession
object TimeQ {
  def main(args: Array[String]): Unit = {
    val cores = graft.HostFit.cores
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled","false")
      .config("spark.sql.session.timeZone","UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.foreach { q =>
      graft.SparkEntry.queries(q)(spark, d).count() // warm
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(q)(spark, d).count()
      println(s"[timeq] $q rows=$n sec=${(System.nanoTime()-t0)/1e9}")
    }
    spark.stop()
  }
}
