package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** The operator battery: all `SparkEntry.queries` over generated sf
  * tables, AQE on. The seed permutes the query order. A run: setup
  * three times, once when traced (session start + one footer read of
  * every table) → an untimed warm-up pass that runs the queries
  * 2 × `cores` at a time and writes every result as parquet for the
  * DuckDB compare and golden check in `run.py` → timed passes at
  * local[N] into the noop sink, a closed loop of `cores` clients, while
  * the window lasts (at least one). The traced run adds two untraced
  * and two traced passes with one client (per-query numbers, trace
  * overhead). Every pass observes each query's row count and
  * order-insensitive digest, which must match the warm-up pass. */
final class BatteryBench(a: Args, rec: Recorder, tracer: Option[Tracer]) {
  private val sf = a.sfDir
  private val localDir = s"${a.work}/spark-local"
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  private val order: Seq[String] =
    new scala.util.Random(a.seed).shuffle(SparkEntry.queries.keys.toSeq.sorted)
  private val reference = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Runs query `q` into `sink`, and checks the observed row count and
    * digest against the warm-up pass (or records them, on that pass).
    * Returns the wall. */
  private def runQuery(spark: SparkSession, q: String, tag: String,
      sink: DataFrame => Unit): Double = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(q)(spark, sf)
    val ob = Observation(s"$q-$tag")
    val ex = Digest.exprs(df)
    sink(df.observe(ob, ex.head, ex.tail: _*))
    val secs = (System.nanoTime() - t0) / 1e9
    val m = ob.get
    val d = Digest.render(m("__n").asInstanceOf[Long], m("__h").asInstanceOf[java.math.BigDecimal])
    val r = reference.putIfAbsent(q, d)
    if (r != null) rec.synchronized(rec.check(s"$q rows+digest stable ($tag pass)", r == d, s"$d vs $r"))
    secs
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One client: every query in seed order, into the noop sink, under
    * a tracer span when `traced`. */
  private def pass(spark: SparkSession, tag: String, traced: Option[Tracer]): Unit = {
    order.foreach { q =>
      rec.op(s"query:$q") {
        val s = traced match {
          case Some(t) => t.op(s"query:$q")(runQuery(spark, q, tag, noop))
          case None => runQuery(spark, q, tag, noop)
        }
        rec.add(s"q:$q:$tag", s)
      }
    }
    Clock.mark(s"$tag pass")
  }

  /** Runs every query once, `clients` at a time (a closed loop: each
    * client takes the next query in seed order when its last one ends).
    * Records each query's wall and the pass wall. */
  private def concurrentPass(spark: SparkSession, tag: String, clients: Int,
      sink: String => DataFrame => Unit): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val t0 = System.nanoTime()
    try {
      val all = order.map { q => Future {
        rec.synchronized(rec.op(s"query:$q")(())) // counted now, failure below
        try {
          val s = runQuery(spark, q, tag, sink(q))
          rec.synchronized(rec.add(s"q:$q:$tag", s))
        } catch { case e: Exception => rec.synchronized(rec.check(s"query:$q ($tag pass)", ok = false, e.toString)) }
      } }
      Await.result(Future.sequence(all), Duration.Inf)
    } finally pool.shutdown()
    rec.add(s"pass_s:$tag", (System.nanoTime() - t0) / 1e9)
    Clock.mark(s"$tag pass")
  }

  def run(): Unit = {
    Files.createDirectories(Paths.get(localDir))
    val n = a.cores
    var spark: SparkSession = null
    // setup_s is an untraced metric; the traced run sets up once
    for (_ <- 0 until (if (tracer.isEmpty) 3 else 1)) {
      if (spark != null) Sessions.stop(spark)
      val t0 = System.nanoTime()
      spark = Sessions.start(n, n, aqe = true, localDir)
      tables.foreach(t => spark.read.parquet(s"$sf/$t.parquet").count())
      rec.add("setup_s", (System.nanoTime() - t0) / 1e9)
      Clock.mark("setup")
    }
    // untimed warm-up: planning and code generation run on the
    // submitting thread, so 2 × cores clients spread them over the cores;
    // every result lands as parquet for the checks in run.py. No heap
    // sample after it: which queries happened to overlap would set it
    concurrentPass(spark, "warmup", 2 * n, q => _.write.mode("overwrite").parquet(s"${a.work}/out/$q"))
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.q(k)}:${Json.q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"${a.work}/out/oracle_sql.json"), json)

    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var first = true
    while (first || System.nanoTime() < deadline) {
      first = false
      concurrentPass(spark, "n", n, _ => noop)
      HeapWatch.sample()
    }
    // one-client passes, untraced (U) and traced (T) in the order U, T,
    // T, U, so JIT warm-up still under way weighs on both sides alike
    tracer.foreach { t =>
      pass(spark, "untraced", None)
      spark.sparkContext.addSparkListener(t)
      for (_ <- 0 until 2) pass(spark, "traced", Some(t))
      spark.sparkContext.removeSparkListener(t)
      pass(spark, "untraced", None)
      val sums = order.map(q => t.phaseSums(s"query:$q", ""))
      rec.set("queries.task_cpu_s", sums.map(_.cpuSec).sum)
      rec.set("queries.gc_s", sums.map(_.gcSec).sum)
    }
    Sessions.stop(spark)
  }
}
