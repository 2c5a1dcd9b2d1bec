package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** The traced run's span recorder, built from outside the engine.
  *
  * Spans nest workload → operation → Spark job → phase. Operations are
  * opened by the harness ([[op]]); jobs come from a SparkListener and are
  * attributed to the open operation; a job's phase comes from the job
  * description the crawl loop already sets: `wave-k/chain-warm`, and
  * `commit-k/<table>` for each snapshot write. Task metrics are summed
  * per stage and rolled up per phase. Everything stays in memory until
  * [[spansJson]] at the end of the run. */
final class Tracer(val cores: Int) extends SparkListener {
  final class Op(val name: String, val start: Long) { @volatile var end: Long = -1L }
  final class Job(val id: Int, val desc: String, val op: String, val start: Long,
      val stages: Seq[Int]) { @volatile var end: Long = -1L }
  final class Stage {
    var runMs, cpuNs, gcMs, shuffleWrite, spill = 0L
    var probe = false
    var ran = false
  }

  private val t0 = System.nanoTime()
  private def now: Long = System.nanoTime() - t0
  val ops = mutable.ArrayBuffer.empty[Op]
  @volatile private var openOp = "setup"
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()

  def op[T](name: String)(f: => T): T = {
    val o = new Op(name, now)
    ops.synchronized(ops += o)
    val prev = openOp
    openOp = name
    try f finally { o.end = now; openOp = prev }
  }

  private def stage(id: Int): Stage = stages.computeIfAbsent(id, _ => new Stage)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, desc, openOp, now, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = now)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val names = e.stageInfo.rddInfos.flatMap(_.scope.map(_.name))
    if (names.exists(_.startsWith("ShardedProbe"))) stage(e.stageInfo.stageId).probe = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stage(e.stageInfo.stageId).ran = true

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId)
      s.synchronized {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Phase of a job, from its description. */
  def phase(desc: String): String = {
    val table = desc.dropWhile(_ != '/').drop(1)
    if (desc.startsWith("wave-") && table == "chain-warm") "chain_warm"
    else if (desc.startsWith("commit-")) {
      if (Set("frontier", "fetched", "seen_sketch", "budget_state")(table)) "loop_commit"
      else if (table.endsWith("_base")) "compact"
      else "bulk_commit"
    } else "other"
  }

  def jobsOf(opName: String): Seq[Job] =
    jobs.values.asScala.toSeq.filter(_.op == opName).sortBy(_.start)

  def opsNamed(name: String): Seq[Op] = ops.synchronized(ops.filter(_.name == name).toSeq)

  /** Length of the union of [start, end) intervals, in seconds. */
  def unionSec(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }

  /** Metric sums over the jobs of `opName` whose phase is `ph` (all
    * phases when `ph` is empty). */
  def phaseSums(opName: String, ph: String): Tracer.PhaseSums = {
    val js = jobsOf(opName).filter(j => ph.isEmpty || phase(j.desc) == ph)
    val sts = js.flatMap(_.stages).distinct.flatMap(id => Option(stages.get(id)))
    Tracer.PhaseSums(unionSec(js.map(j => (j.start, j.end))),
      sts.map(_.runMs).sum / 1e3, sts.map(_.cpuNs).sum / 1e9, sts.map(_.gcMs).sum / 1e3,
      sts.map(_.shuffleWrite).sum / 1048576.0, sts.map(_.spill).sum / 1048576.0,
      sts.count(_.ran))
  }

  def probeRunSec(opName: String): Double =
    jobsOf(opName).flatMap(_.stages).distinct.flatMap(id => Option(stages.get(id)))
      .filter(_.probe).map(_.runMs).sum / 1e3

  /** Wall of `opName` covered by no Spark job: driver-only time. */
  def gapSec(opName: String): Double = opsNamed(opName).map { o =>
    val inside = jobsOf(opName).map(j => (math.max(j.start, o.start), math.min(j.end, o.end)))
    (o.end - o.start) / 1e9 - unionSec(inside)
  }.sum

  /** (wave, first chain warm-up job start) per wave of `opName`. */
  def chainWarmStarts(opName: String): Seq[(Int, Long)] =
    jobsOf(opName).filter(j => phase(j.desc) == "chain_warm")
      .groupBy(_.desc.stripPrefix("wave-").takeWhile(_.isDigit).toInt)
      .map { case (w, js) => w -> js.map(_.start).min }.toSeq.sortBy(_._2)

  def spansJson(workload: String): String = {
    val b = new StringBuilder
    b ++= s"""{"workload":${Json.q(workload)},"cores":$cores,"spans":["""
    val parts = mutable.ArrayBuffer.empty[String]
    parts += s"""{"name":${Json.q(workload)},"parent":null,"start":0,"end":$now}"""
    ops.synchronized(ops.toSeq).foreach { o =>
      parts += s"""{"name":${Json.q(o.name)},"parent":${Json.q(workload)},"start":${o.start},"end":${o.end}}"""
    }
    jobs.values.asScala.toSeq.sortBy(_.start).foreach { j =>
      val name = if (j.desc.nonEmpty) j.desc else s"job-${j.id}"
      parts += s"""{"name":${Json.q(name)},"parent":${Json.q(j.op)},"phase":${Json.q(phase(j.desc))},""" +
        s""""start":${j.start},"end":${j.end},"stages":${j.stages.mkString("[", ",", "]")}}"""
    }
    b ++= parts.mkString(",")
    b ++= "]}"
    b.toString
  }
}

object Tracer {
  final case class PhaseSums(wallSec: Double, runSec: Double, cpuSec: Double, gcSec: Double,
      shuffleMb: Double, spillMb: Double, stagesRan: Int)
}
