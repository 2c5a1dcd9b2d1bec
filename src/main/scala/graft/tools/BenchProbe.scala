package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.checkpoint.SnapshotCatalog
import graft.frontier.Wave
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Diagnostic: one full bench-shaped crawl at a given core count with a
  * task-metrics listener — separates task CPU time, GC time, and
  * "unaccounted wall" (scheduling gaps + driver work) so scaling
  * bottlenecks are measured, not guessed. args: [cores] [rows] */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val cores = args.lift(0).map(_.toInt).getOrElse(graft.HostFit.cores)
    val rows = args.lift(1).map(_.toInt).getOrElse(300000)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"probe-$cores")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_PROBE_PARTITIONS", cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("GRAFT_PROBE_AQE", "true"))
      .config("spark.sql.autoBroadcastJoinThreshold", "128m")
      .config("spark.local.dir",
        if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm"))) "/dev/shm"
        else System.getProperty("java.io.tmpdir"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (!sys.env.contains("GRAFT_PROBE_NO_EXEC"))
      graft.plans.GraftPlanner.install(spark)

    val taskMs = new AtomicLong; val gcMs = new AtomicLong
    val cpuNs = new AtomicLong; val tasks = new AtomicInteger
    val deserMs = new AtomicLong; val shuffleFetchMs = new AtomicLong
    val shuffleWriteMs = new AtomicLong
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageMs = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
    val stageCpuMs = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
    val t00 = System.nanoTime()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stageNames.merge(e.stageInfo.stageId,
          e.stageInfo.name.takeWhile(_ != '\n').take(60), (a: String, b: String) => s"$a | $b")
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
          cpuNs.addAndGet(m.executorCpuTime)
          deserMs.addAndGet(m.executorDeserializeTime)
          shuffleFetchMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
          shuffleWriteMs.addAndGet(m.shuffleWriteMetrics.writeTime / 1000000L)
          tasks.incrementAndGet()
          stageMs.computeIfAbsent(e.stageId, _ => new AtomicLong)
            .addAndGet(m.executorRunTime)
          stageCpuMs.computeIfAbsent(e.stageId, _ => new AtomicLong)
            .addAndGet(m.executorCpuTime / 1000000L)
        }
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobStarts.put(e.jobId, System.nanoTime())
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (desc.nonEmpty) e.stageIds.foreach(sid =>
          stageNames.merge(sid, s"[$desc]", (a: String, b: String) => s"$b $a"))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = Option(jobStarts.get(e.jobId)).getOrElse(System.nanoTime())
        jobLog.add(f"job=${e.jobId}%3d at=${(s - t00) / 1e9}%7.2fs dur=${(System.nanoTime() - s) / 1e9}%6.2fs")
      }
    })

    val synthCfg = SynthConfig(
      nAccounts = math.max(10, rows * 7 / 100), articlesPerAccount = 10,
      longTail = rows * 3 / 10,
      richness = sys.env.getOrElse("GRAFT_PROBE_RICHNESS", "30").toInt)
    val corpusBase =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm"))) "/dev/shm"
      else "/tmp"
    val corpusDir = s"$corpusBase/graft-bench-corpus-${synthCfg.totalRows}-r${synthCfg.richness}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$corpusDir/_SUCCESS"))) {
      Synth.pages(spark, synthCfg).toDF().write.mode("overwrite").parquet(corpusDir)
    }
    val pagesIdx = Wave.pageIndex(spark.read.parquet(corpusDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pagesIdx.count()

    import spark.implicits._
    val budgets = (Seq((Synth.HotHost, 1000000)) ++
      (0 until Synth.NLongTailHosts).map(k => (s"host$k.example", 4096)))
      .toDF("host", "tokens_per_round")

    (1 to 2).foreach { round =>
      taskMs.set(0); gcMs.set(0); cpuNs.set(0); tasks.set(0)
      deserMs.set(0); shuffleFetchMs.set(0); shuffleWriteMs.set(0)
      val ckpt = java.nio.file.Files.createTempDirectory(s"probe-$cores").toString
      val catalog = new SnapshotCatalog(ckpt, spark)
      val rc = graft.CrawlDriver.RunConfig(ckpt, nWaves = synthCfg.pagesPerAccount + 2,
        seenCapacity = synthCfg.totalRows * 2L, nShards = 16)
      val t0 = System.nanoTime()
      graft.CrawlDriver.init(spark, catalog,
        Synth.seedFrontier(spark, synthCfg).toDF(),
        Synth.robots(spark, synthCfg).toDF(), budgets, rc)
      graft.CrawlDriver.run(spark, catalog, pagesIdx, rc)
      val wallS = (System.nanoTime() - t0) / 1e9
      SnapshotCatalog.deleteRecursively(java.nio.file.Paths.get(ckpt))
      val busyS = taskMs.get / 1000.0
      println(f"[probe] round=$round cores=$cores wall=$wallS%.1fs " +
        f"taskTime=${busyS}%.1fs (=${busyS / cores}%.1fs/core) " +
        f"cpu=${cpuNs.get / 1e9}%.1fs gc=${gcMs.get / 1000.0}%.1fs " +
        f"deser=${deserMs.get / 1000.0}%.1fs fetchWait=${shuffleFetchMs.get / 1000.0}%.1fs " +
        f"shufWrite=${shuffleWriteMs.get / 1000.0}%.1fs " +
        f"coreUtil=${busyS / cores / wallS * 100}%.0f%% tasks=${tasks.get}")
      if (sys.env.contains("GRAFT_PROBE_JOBS")) {
        import scala.jdk.CollectionConverters._
        jobLog.asScala.toSeq.sorted.foreach(l => println(s"[probe-job] $l"))
        jobLog.clear()
      }
      if (sys.env.contains("GRAFT_PROBE_STAGES")) {
        import scala.jdk.CollectionConverters._
        stageMs.asScala.toSeq.sortBy(-_._2.get).take(25).foreach { case (sid, ms) =>
          println(f"[probe-stage] run=${ms.get / 1000.0}%7.2fs cpu=${stageCpuMs.get(sid).get / 1000.0}%7.2fs  ${stageNames.getOrDefault(sid, "?")}")
        }
        stageMs.clear(); stageCpuMs.clear()
      }
    }
    spark.stop()
  }
}
