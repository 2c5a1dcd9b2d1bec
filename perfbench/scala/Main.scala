package graft.perfbench

import java.nio.file.{Files, Paths}

/** Command-line arguments, passed by `run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, cores: Int, out: String, spans: String, sfDir: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("cores").toInt, kv("out"), kv.getOrElse("spans", ""),
      kv.getOrElse("sf", ""))
  }
}

/** Benchmark process entry: runs one workload and writes the raw
  * result (and, when traced, the span file). */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Clock.mark("start")
    val rec = new Recorder
    if (!a.trace) HeapWatch.install()
    val tracer = if (a.trace) Some(new Tracer(a.cores)) else None
    a.workload match {
      case "crawl" => new CrawlBench(a, rec, tracer).run()
      case "battery" => new BatteryBench(a, rec, tracer).run()
      case w => sys.error(s"unknown workload $w")
    }
    HeapWatch.sample()
    rec.set("heap_peak_mb", HeapWatch.peakMb)
    Files.writeString(Paths.get(a.out), rec.toJson)
    tracer.foreach(t => if (a.spans.nonEmpty) Files.writeString(Paths.get(a.spans), t.spansJson(a.workload)))
    Clock.mark("done")
  }
}
