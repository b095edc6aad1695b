package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.pipeline.{DagReport, SignalStore}
import org.apache.spark.sql.SparkSession

/** One benchmark workload. A run calls [[prepare]] once, then [[cycle]]
  * once, and in a traced run [[replay]] once at the end. */
trait Workload {
  def prepare(spark: SparkSession, rec: Record): Unit
  /** The scenario sequence on fresh state. Its repeated scenarios go on
    * in rounds until `deadline` (a [[Clock.now]] value) has passed; a
    * traced cycle records its spans and ledger into the per-layer
    * metrics. */
  def cycle(spark: SparkSession, deadline: Long, traced: Boolean): Unit
  /** Times each layer call of one run from the benchmark's code. */
  def replay(spark: SparkSession): Unit = ()
}

/** A signal store that times each Dag task from the benchmark side: the
  * scheduler calls `get(id)` right before deciding on task `id` and
  * `put(id, _)` right after running it, so get→put is one task run. Spans
  * and the Spark ledger of each run are handed to `onRun`; the ledger
  * snapshots are tracing overhead and lie outside the spans. */
final class TimedStore(inner: SignalStore, spark: SparkSession, ledger: Ledger, rec: Record,
                       onRun: (String, Double, Ledger.Snap) => Unit) extends SignalStore {
  private var open: Option[(String, Long, Ledger.Snap)] = None
  def get(taskId: String): Option[String] = {
    val r = inner.get(taskId)
    val l0 = rec.tracing(ledger.snap(spark.sparkContext))
    open = Some((taskId, Clock.now, l0))
    r
  }
  def put(taskId: String, signal: String): Unit = {
    open.foreach { case (id, t0, l0) =>
      if (id == taskId) {
        val s = Clock.secs(t0)
        onRun(id, s, rec.tracing(ledger.snap(spark.sparkContext)) - l0)
      }
    }
    open = None
    inner.put(taskId, signal)
  }
}

/** One Dag pipeline set up on fresh state, as [[PipelineScenarios]] drives
  * it: how to run it, the seeded input edit, and its output checks. */
final case class PipelineRun(
    name: String,
    tasks: Seq[String],
    /** The task a warm rerun re-runs: its done-signal is removed first. */
    leaf: String,
    /** The tasks the run after `edit` must re-run. */
    expectIncremental: Seq[String],
    signalsDir: Path,
    newStore: () => SignalStore,
    execute: SignalStore => DagReport,
    edit: () => Unit,
    checkCold: () => Boolean,
    checkIncremental: () => Boolean,
    diskBytes: () => Long)

/** The scenario sequence of the Dag pipelines, on fresh state. Every
  * sample runs each pipeline once, one after the other, and is their
  * summed wall time:
  *  - `cold_s`: every task runs on empty pipeline state;
  *  - `incremental_s`: after a seeded input edit, exactly the expected
  *    cone must re-run;
  *  - `noop_s`: reruns with nothing changed (they must run no task);
  *  - `warm_s`: reruns after the done-signal of each `leaf` task is
  *    removed: every upstream output is current, so exactly the leaf
  *    re-runs.
  * No-op and warm reruns alternate in rounds after the two full runs, until
  * the deadline, so their samples spread over the run rather than sit in
  * one short window. */
final class PipelineScenarios(rec: Record, ledger: Ledger) {
  /** Task spans of the traced incremental run, in which every task re-runs
    * in a warm JVM, like the layer replay that follows the cycle (for
    * `task.<id>.unattributed_s`). */
  val fullSpans = mutable.LinkedHashMap.empty[String, Double]
  val NoopsPerRound = 3
  val MinRounds = 3

  /** Runs `p` once; returns its report and wall time (None when it failed). */
  private def once(spark: SparkSession, traced: Boolean, scenario: String,
                   p: PipelineRun): Option[(DagReport, Double)] = {
    val spans = mutable.LinkedHashMap.empty[String, Double]
    val store =
      if (!traced) p.newStore()
      else new TimedStore(p.newStore(), spark, ledger, rec, (id, s, l) => {
        spans(id) = s
        rec.add(s"task.$id.busy_s", l.busyS)
        rec.add(s"task.$id.shuffle_write_bytes", l.shuffleWrite)
        rec.add("ledger.spill_bytes", l.spill)
        rec.add("ledger.spark_tasks", l.tasks)
      })
    rec.scenario = scenario
    val hooks0 = rec.layer.getOrElse(s"overhead.$scenario", 0.0)
    rec.op(s"${p.name} $scenario run") {
      val (r, s) = Clock.time(p.execute(store))
      if (traced) {
        val hooks = rec.layer.getOrElse(s"overhead.$scenario", 0.0) - hooks0
        rec.add("dag.probe_s", s - spans.values.sum - hooks)
        rec.add("dag.tasks_ran", r.ran.size)
        rec.add("dag.tasks_skipped", r.skipped.size)
        if (scenario == "incremental_s") fullSpans ++= spans
        spans.foreach { case (id, v) => rec.add(s"task.$id.self_s", v) }
      }
      (r, s)
    }
  }

  /** One sample of `scenario`: every pipeline once. Returns each
    * pipeline's report, in order, or None when one of the runs failed. */
  private def sample(spark: SparkSession, traced: Boolean, scenario: String,
                     runs: Seq[PipelineRun]): Option[Seq[DagReport]] = {
    val out = runs.map(once(spark, traced, scenario, _))
    if (out.forall(_.isDefined)) {
      rec.sample(scenario, out.map(_.get._2).sum)
      Some(out.map(_.get._1))
    } else None
  }

  def run(spark: SparkSession, traced: Boolean, deadline: Long, runs: Seq[PipelineRun]): Unit = {
    def ranAll(reports: Option[Seq[DagReport]], expect: PipelineRun => Seq[String]) =
      reports.exists(_.zip(runs).forall { case (r, p) => r.ran.sorted == expect(p).sorted })

    val cold = sample(spark, traced, "cold_s", runs)
    rec.check("cold runs ran every task")(ranAll(cold, _.tasks))
    runs.foreach(p => rec.check(s"${p.name} cold outputs")(p.checkCold()))
    runs.foreach(_.edit())
    val incremental = sample(spark, traced, "incremental_s", runs)
    rec.check("incremental runs re-ran the expected cone")(ranAll(incremental, _.expectIncremental))
    runs.foreach(p => rec.check(s"${p.name} incremental outputs")(p.checkIncremental()))

    var rounds = 0
    val noops, warms = mutable.ArrayBuffer.empty[Option[Seq[DagReport]]]
    while (rounds < MinRounds || Clock.now - deadline < 0) {
      (1 to NoopsPerRound).foreach(_ => noops += sample(spark, traced, "noop_s", runs))
      runs.foreach(p => Files.delete(p.signalsDir.resolve(s".done-${p.leaf}")))
      warms += sample(spark, traced, "warm_s", runs)
      rounds += 1
    }
    rec.num("rounds", rounds)
    rec.check("no-op runs ran no task")(noops.forall(ranAll(_, _ => Nil)))
    rec.check("warm runs re-ran only the leaf")(warms.forall(ranAll(_, p => Seq(p.leaf))))
    if (!traced) rec.sample("disk_mb", runs.map(_.diskBytes()).sum / 1e6)
  }
}

/** One Dag pipeline of the `pipelines` workload. */
trait Pipeline {
  def prepare(spark: SparkSession, rec: Record): Unit
  /** Sets the pipeline up on fresh state under `base`. */
  def open(spark: SparkSession, base: Path): PipelineRun
  /** Times each layer call of one full run from the benchmark's code; sets
    * `task.<id>.unattributed_s` against the task spans in `fullSpans`. */
  def replay(spark: SparkSession, base: Path, fullSpans: collection.Map[String, Double]): Unit
}

/** `pipelines`: both Dag pipelines, as one deployment runs them in one
  * JVM: `GraftPipeline` over a seeded CSR drop zone ([[CsrEtl]]), then
  * `CorpusPipeline` with near-dup dedup over a seeded corpus
  * ([[CorpusLlm]]). */
final class DagPipelines(root: Path, pipelines: Seq[Pipeline], rec: Record, ledger: Ledger)
    extends Workload {
  private val scenarios = new PipelineScenarios(rec, ledger)

  def prepare(spark: SparkSession, r: Record): Unit = pipelines.foreach(_.prepare(spark, r))

  def cycle(spark: SparkSession, deadline: Long, traced: Boolean): Unit = {
    val base = root.resolve("cycle")
    scenarios.run(spark, traced, deadline,
      pipelines.zipWithIndex.map { case (p, i) => p.open(spark, base.resolve(s"p$i")) })
    Files2.delete(base)
  }

  override def replay(spark: SparkSession): Unit = {
    val base = root.resolve("replay")
    pipelines.zipWithIndex.foreach { case (p, i) => p.replay(spark, base.resolve(s"p$i"), scenarios.fullSpans) }
    Files2.delete(base)
  }
}
