package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

/** The benchmark's JVM side. Sets the workload up once (timed from JVM
  * start: the session, the inputs and, for serve_rw, the index publish),
  * measures it for `--seconds`, and writes `<work>/result.json` for
  * `perfbench/run.py`, which checks correctness and prints the result.
  *
  * Usage: graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --cores <n> [--verified <digest cache>]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val ledger = new Ledger
    val wl: Workload = o.workload match {
      case "serve_rw" => new ServeRw(o, ledger)
      case w if Batch.Specs.contains(w) => new Batch(o, ledger)
      case w => sys.error(s"unknown workload $w")
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Common.PeakAfterGc.start()
    val dir = s"${o.work}/input"
    Common.deleteRecursively(new File(dir))
    val spark = Common.session(o.cores)
    wl.setup(spark, dir)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    wl.prepare(spark, dir)

    val tracer = if (o.trace) Some(new Tracer(spark, o.cores)) else None
    val res = wl.measure(spark, tracer, o.seconds)
    tracer.foreach { t => t.close(); t.dump(s"${o.work}/spans.json") }
    Json.write(s"${o.work}/result.json", Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> ledger.attempted, "failed" -> ledger.failed, "errors" -> ledger.errors,
      "e2e" -> (res.e2e ++ Map("setup_s" -> setupS, "peak_mem_mb" -> Common.PeakAfterGc.mb)),
      "layers" -> res.layers,
      "detail" -> (res.detail ++ Map("cores" -> o.cores, "peak_rss_mb" -> Common.peakRssMb())),
      "oracle" -> wl.oracle))
    spark.stop()
  }
}
