package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.file.{Files, Paths}

/** One benchmark process: one workload, one seed.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --root <fresh dir> --out <samples.json> [--plant]
  * }}}
  *
  * Writes the raw samples (and, traced, the spans) as JSON; `run.py`
  * computes the metrics from them. `--plant` plants one fault in the
  * workload's output before its check, to show the check can fail. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val traced = args("trace") == "1"
    val root = args("root")

    val t0 = System.nanoTime()
    val spark = graft.Sessions.build()
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, new Gen(spark, seed), root, args("seconds").toDouble, traced,
      argv.contains("--plant"))
    Workloads.run(workload, run)

    val m = new ObjectMapper().registerModule(DefaultScalaModule)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cores" -> spark.sparkContext.defaultParallelism,
      "mix" -> Workloads.Mix,
      "session_start_s" -> sessionStart,
      "setup_once_s" -> run.onceS,
      "setup_reps_s" -> run.setupReps.toSeq,
      "passes" -> run.passes.toSeq.map { case (i, t, s) => Map("pass" -> i, "traced" -> t, "seconds" -> s) },
      "ops" -> run.ops.toSeq,
      "checks" -> run.checks.toSeq,
      "failed" -> run.failed,
      "rss_peak_mb" -> rssPeakMb(),
      "info" -> run.info.toMap)
    Files.writeString(Paths.get(args("out")), m.writeValueAsString(result))
    if (traced) {
      val lines = Trace.all.map(s => m.writeValueAsString(s)).mkString("", "\n", "\n")
      Files.writeString(Paths.get(args("out") + ".spans.jsonl"), lines)
    }
    spark.stop()
  }

  /** The process's peak resident set (VmHWM), in MB. */
  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
