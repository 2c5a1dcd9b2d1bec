package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, FloatType, MapType}

/** What a run hands back to `run.py`: raw samples, scalar readings and
  * correctness checks. All statistics (medians, W/F fit, spreads) are
  * computed on the Python side, where `selftest.py` covers them. */
final class Recorder {
  val lists = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val nums = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0
  var failed = 0

  def add(key: String, v: Double): Unit =
    lists.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  def set(key: String, v: Double): Unit = nums(key) = v

  /** One counted operation; a throw counts as a failed operation. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failed += 1
        checks += ((s"op:$name", false, String.valueOf(e.getMessage).take(300)))
        System.err.println(s"[perfbench] operation $name failed: $e")
        e.printStackTrace()
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    val d = if (ok) "" else detail
    checks += ((name, ok, d))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $d")
  }

  def toJson: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    val l = lists.map { case (k, v) => s"${Json.q(k)}:${v.map(num).mkString("[", ",", "]")}" }
    val n = nums.map { case (k, v) => s"${Json.q(k)}:${num(v)}" }
    val c = checks.map { case (k, ok, d) => s"""{"name":${Json.q(k)},"ok":$ok,"detail":${Json.q(d)}}""" }
    s"""{"attempted":$attempted,"failed":$failed,"lists":{${l.mkString(",")}},""" +
      s""""nums":{${n.mkString(",")}},"checks":[${c.mkString(",")}]}"""
  }
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Peak live heap: the largest heap occupancy right after a full
  * collection, read from the JVM's GC notifications. Readings come from
  * two kinds of forced collection:
  *  - [[sample]], between operations and outside their timing: full
  *    collections 250 ms apart
  *    until two readings in a row agree within 1 MB (Spark's
  *    ContextCleaner drops the broadcast and shuffle state the previous
  *    one released, so the kept reading is the settled retained set:
  *    caches, live broadcasts, driver-side structures);
  *  - [[ChainWarmProbe]], inside a crawl operation: one full collection
  *    when a wave's chain warm-up job ends, while the wave's cached
  *    decision chain is held (its pause is part of the operation's wall).
  * Young collections do not count: right after one, the old generation
  * still holds whatever died there since the last full collection.
  * Until [[install]] (the traced run never reports the heap) both are
  * no-ops. */
object HeapWatch {
  @volatile private var installed = false
  @volatile private var lastAfterGc = 0L
  @volatile private var majors = 0L
  private var peak = 0L

  def install(): Unit = {
    import scala.jdk.CollectionConverters._
    installed = true
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              if (info.getGcAction.contains("major")) {
                lastAfterGc = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
                  case (pool, u) if !pool.contains("Metaspace") && !pool.contains("Code") &&
                    !pool.contains("Compressed") => u.getUsed
                }.sum
                majors += 1
              }
            }
        }, null, null)
      case _ =>
    }
  }

  /** A full collection; returns its after-GC reading once the
    * notification (delivered on a service thread) has arrived. */
  private def fullGc(): Long = {
    val before = majors
    System.gc()
    val until = System.nanoTime() + 2000000000L
    while (majors == before && System.nanoTime() < until) Thread.sleep(5)
    lastAfterGc
  }

  def sample(): Unit = if (installed) synchronized {
    def settled(): Long = { val r = fullGc(); Thread.sleep(250); r } // cleaner time
    var prev = settled()
    var cur = settled()
    var tries = 2
    while (math.abs(cur - prev) > (1L << 20) && tries < 8) {
      prev = cur
      cur = settled()
      tries += 1
    }
    peak = math.max(peak, cur)
  }

  /** Raises the peak with one full collection when a `wave-k/chain-warm`
    * job ends. Runs on the listener bus thread, so the crawl loop goes
    * on while the collection is requested; the chain's caches stay held
    * until the next wave's warm-up, well after it. */
  final class ChainWarmProbe extends SparkListener {
    private val warmJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .exists(_.endsWith("/chain-warm"))) warmJobs.add(e.jobId)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (warmJobs.remove(e.jobId) && installed) HeapWatch.synchronized {
        peak = math.max(peak, fullGc())
      }
  }

  def peakMb: Double = synchronized(peak / (1024.0 * 1024.0))
}

object Sessions {
  /** A local session shaped like the crawl loop's own (`Bench.session`):
    * fixed shuffle partitioning (a property of the job, so the 1-core and
    * N-core passes run the same plan), spill dirs under the run's work
    * directory, the custom probe operator installed. */
  def start(cores: Int, partitions: Int, aqe: Boolean, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.default.parallelism", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "128m")
      .config("spark.sql.broadcastTimeout", "3600")
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftPlanner.install(s)
    s
  }

  def stop(s: SparkSession): Unit =
    try s.stop()
    finally { SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
}

object Files2 {
  def sizeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def countFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).count()
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val it = Files.walk(src).iterator()
    while (it.hasNext) {
      val p = it.next()
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def delete(p: String): Unit =
    graft.checkpoint.SnapshotCatalog.deleteRecursively(Paths.get(p))
}

/** Order-insensitive content digest of a DataFrame: row count plus the
  * sum of per-row xxhash64 values (as an exact decimal, so the sum never
  * overflows). Floating-point columns are rounded to 6 decimals first,
  * so a summation-order difference in the last bits between parallelism
  * levels does not read as a content change. */
object Digest {
  /** (row count, hash sum) as two named aggregate columns — usable in a
    * plain `select` or in `Dataset.observe` alongside another action. */
  def exprs(df: DataFrame): Seq[Column] = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    Seq(count(lit(1)).as("__n"),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0))).as("__h"))
  }

  def render(n: Long, h: java.math.BigDecimal): String = s"$n:${h.toPlainString}"

  def of(df: DataFrame): String = {
    val r = df.select(exprs(df): _*).head()
    render(r.getLong(0), r.getDecimal(1))
  }
}

object Clock {
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] t=${(System.nanoTime() - t0) / 1e9}%.1fs $what")

  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
