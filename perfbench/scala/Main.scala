package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Benchmark JVM: one workload, one client, closed loop (each pipeline run
  * or query starts after the previous one ends).
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>
  *  --data <dir> --out <file> --launched-ms <epoch ms> --individuals <n>
  *  --nonce <id>`; `--nonce` names this run's dataset dirs, so staged frames
  * (keyed on a dataset dir's basename) never collide with another run's.
  *
  * `setup_s` is one span from JVM launch until `GraftSession` is up. There
  * is no warm-up: `cold_s` is the first pipeline run or query pass of a
  * fresh JVM, JIT and code generation included, the way a batch job runs
  * when it is launched; the later scenarios run warm. (A warm-up would add
  * about one more full run to every run, and the benchmark's run budget
  * has no room for it.)
  *
  * The measured phase is one scenario cycle, whose repeated scenarios go
  * on until `--seconds` have passed. In a traced run the cycle is traced,
  * with the tracing code's own time charged to `overhead.<metric>`, and
  * the run ends with a layer-by-layer replay.
  * The record goes to `--out` as JSON; `perfbench/run.py` turns it into
  * metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val root = Paths.get(a("root"))
    val data = Paths.get(a("data"))
    val rec = new Record
    val ledger = new Ledger
    val w: Workload = a("workload") match {
      case "pipelines" => new DagPipelines(root.resolve("pipelines"), Seq(
        new CsrEtl(root.resolve("csr"), seed, a("individuals").toInt, rec),
        new CorpusLlm(data, rec)), rec, ledger)
      case "query_mix" => new QueryMix(root.resolve("qm"), data, seed, a("nonce"), rec, ledger)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spark = GraftSession()
    rec.sample("setup_s", (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3)
    spark.sparkContext.addSparkListener(ledger)
    rec.num("prepare_s", Clock.time(w.prepare(spark, rec))._2)

    val t0 = Clock.now
    w.cycle(spark, t0 + (a("seconds").toDouble * 1e9).toLong, traced = trace)
    rec.num("measured_s", Clock.secs(t0))
    if (trace) rec.num("replay_s", Clock.time(w.replay(spark))._2)

    rec.sample("peak_rss_mb", vmHwmKb() / 1024.0)
    rec.str("spark_version", spark.version)
    rec.num("heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    rec.num("spark_cores", spark.sparkContext.defaultParallelism)
    rec.str("java_version", System.getProperty("java.version"))
    spark.stop()
    Files.write(Paths.get(a("out")), rec.toJson.getBytes(StandardCharsets.UTF_8))
  }

  private def vmHwmKb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
}
