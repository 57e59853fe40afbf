package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the workload's inputs, measure,
  * check every output, and write `result.json` into `--out`.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --out <dir> [--conf key=value]...
  *
  * run.py builds the classpath, launches this main and prints the result. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, out: Path, confs: Seq[(String, String)])

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => (k, v) }.toVector
    def one(k: String): String = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing $k"))
    Opts(one("--workload"), one("--seed").toLong, one("--seconds").toDouble,
      one("--trace") == "1", Paths.get(one("--out")),
      kv.collect { case ("--conf", v) => val i = v.indexOf('='); (v.take(i), v.drop(i + 1)) })
  }

  /** Single-threaded fixed-work probe, in the style of graft.Bench's
    * calibration: a register xorshift loop (vCPU steal) plus a dependent
    * random walk over 64 MB (memory-bandwidth and cache contention). */
  private def calibrate(): Double = {
    val arr = Array.tabulate(1 << 23)(i => (i * 0x9e3779b97f4a7c15L) >>> 3)
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < 50000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val mask = (1 << 23) - 1
    var idx = 0
    var j = 0
    while (j < (1 << 21)) { idx = ((arr(idx) + j) & mask).toInt; j += 1 }
    if (x == 42L || idx == -1) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = Workloads.all.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    Files.createDirectories(o.out)
    val calibStart = System.nanoTime()
    val calib = calibrate()
    val calibNs = System.nanoTime() - calibStart

    val b = SparkSession.builder().appName(s"perfbench-${o.workload}")
    o.confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    val ctx = new Ctx(spark, o, new Tracer(spark.sparkContext), res)
    res.metric("host.calib_s", calib, "s")
    ctx.phase("session up")
    try work(ctx)
    finally {
      if (o.trace) ctx.tracer.writeJson(o.out.resolve("trace.json"), calibStart)
    }
    res.reported("peak_rss_mb", peakRssMb(), "MB")
    spark.stop()

    def block(m: collection.Map[String, (Double, String)]): String =
      Json.obj(m.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val json = Json.obj(Seq(
      "metrics" -> block(res.metrics),
      "report" -> block(res.report),
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "wrong" -> res.wrong.toString,
      "unexpected" -> res.unexpected.toString,
      "calib_ns" -> calibNs.toString,
      "setup_done_epoch_ms" -> res.setupDoneEpochMs.toString,
      "notes" -> res.notes.map(Json.str).mkString("[", ", ", "]")))
    Files.writeString(o.out.resolve("result.json"), json + "\n")
  }
}
