package graft.model

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import graft.{SparkSpec, TestData}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The battery source-table registry ([[Tables.sources]]) against the
  * generated data: an imposed schema that drifted from the files would
  * silently null or fail a column, so every sf directory is pinned here
  * (the SnapshotCatalogSpec discipline for snapshot tables), and the
  * point of the registry — reads that start no Spark job — is measured. */
class SourceTablesSpec extends SparkSpec {

  test("every registered source table equals parquet inference in every sf directory") {
    val dirs = Option(new File(TestData.root).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("sf"))
    assert(dirs.nonEmpty, s"no sf directories under ${TestData.root}")
    dirs.foreach { d =>
      val onDisk = d.list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSet
      assert(onDisk === Tables.sources.keySet, s"$d: tables on disk vs registry")
      // file-source reads relax every nullability flag, so the reader's
      // schema is the registered one with nullability aside
      Tables.sources.keys.foreach { name =>
        assert(Tables.readSource(spark, d.toString, name).schema ===
          spark.read.parquet(s"$d/$name.parquet").schema, s"$d/$name drifted from the registry")
      }
    }
  }

  /** How many jobs `body` starts under job group `group`. A marker job
    * after `body` flushes the listener bus: events arrive in order, so
    * once the marker is seen every earlier job has been counted. */
  private def jobsStartedBy(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(s"$group-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$group-marker"), "listener bus did not deliver the marker job")
      seen.toArray.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("reading a source table through the registry starts no Spark job") {
    val dir = s"${TestData.root}/sf0.01"
    val registered = jobsStartedBy("source-read") {
      Tables.sources.keys.foreach { name =>
        val df = Tables.readSource(spark, dir, name)
        df.schema
        df.queryExecution.optimizedPlan
      }
    }
    assert(registered === 0)
    // control: the inferring read does start jobs (one per table), so
    // the count above is not zero for want of a listener
    val inferred = jobsStartedBy("inferred-read") {
      Tables.sources.keys.foreach(name => spark.read.parquet(s"$dir/$name.parquet").schema)
    }
    assert(inferred >= Tables.sources.size)
  }
}
