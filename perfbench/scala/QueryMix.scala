package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{PlanAudit, SparkEntry}
import graft.operators.Cached
import graft.pipeline.Metrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query_mix`: four groups of registered queries (`SparkEntry.queries`)
  * over a fresh dataset directory. The directory's basename is unique, so
  * every staged frame (keyed on it) is built inside the cold pass:
  *  - `cold_s`: one pass in the fresh directory;
  *  - `warm_s`: passes with every frame current;
  *  - `noop_s`: construction-only passes (`fn(spark, dir)` without
  *    executing the result) with every frame current: the staging probes,
  *    planning inputs and any work a query does while it is constructed;
  *  - `incremental_s`: one pass after `documents.parquet` is replaced by
  *    the seeded variant.
  * The order is cold, incremental, then rounds of one warm and one no-op
  * pass until the deadline. Every executed query writes its result as
  * parquet under `<root>/out/<pass>/<query>`, for the checks in `run.py`. */
final class QueryMix(root: Path, data: Path, seed: Long, nonce: String, rec: Record,
                     ledger: Ledger) extends Workload {
  import QueryMix._
  /** Rounds of one warm and one no-op pass after the incremental pass, at
    * least; more follow while the run's time lasts. */
  private val MinRounds = 3
  private val tmp = Paths.get("/tmp")
  private val localTmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val mix: Seq[(String, String)] = Groups.flatMap { case (g, qs) => qs.map(_ -> g) }

  /** Staged frames of one dataset dir: the hard-coded `/tmp/graft_*_<basename>`
    * ones and the `java.io.tmpdir` ones (the run's own tmpdir), each with
    * its modification time. */
  private def frames(basename: String): Map[Path, Long] = {
    def ls(dir: Path, keep: String => Boolean): Seq[Path] = {
      val s = Files.list(dir)
      try s.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_") && !n.endsWith(".sig") && keep(n)
      }.toSeq finally s.close()
    }
    (ls(tmp, _.endsWith(s"_$basename")) ++ ls(localTmp, _ => true))
      .map(p => p -> Files.getLastModifiedTime(p).toMillis).toMap
  }
  private def changed(before: Map[Path, Long], after: Map[Path, Long]): Int =
    after.count { case (p, t) => !before.get(p).contains(t) }
  private def frameBytes(basename: String): Long = frames(basename).keys.map(Files2.bytes).sum
  private def dropFrames(basename: String): Unit = frames(basename).keys.foreach { p =>
    Files2.delete(p)
    Files.deleteIfExists(Paths.get(p.toString + ".sig"))
  }

  private def dataset(tables: Path, dir: Path): Unit = {
    Files.createDirectories(dir)
    val s = Files.list(tables)
    try s.iterator.asScala.foreach(f => Files.createLink(dir.resolve(f.getFileName), f))
    finally s.close()
  }

  def prepare(spark: SparkSession, r: Record): Unit = {
    // fail loudly when a listed name is no longer registered, so a rename
    // cannot silently shrink the mix
    val unknown = mix.map(_._1).filterNot(SparkEntry.registry.keySet)
    require(unknown.isEmpty, s"query_mix names not in SparkEntry.registry: ${unknown.mkString(", ")}")
    Groups.foreach { case (name, qs) => r.num(s"group_${name}_queries", qs.size) }
    r.num("input_bytes", Files2.bytes(data.resolve("tables")).toDouble)
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(root)
    Files.write(root.resolve("oracle_sql.json"), mix.map(_._1).flatMap(q => oracle.get(q).map(q -> _))
      .map { case (q, sql) => Json.str(q) + ":" + Json.str(sql) }.mkString("{", ",", "}")
      .getBytes(StandardCharsets.UTF_8))
  }

  private def release(spark: SparkSession): Unit = {
    Cached.releaseAll()
    spark.catalog.clearCache()
  }

  /** One pass over the mix in a seeded order; returns its wall time. With
    * `sink` every result is written there; without it the pass only
    * constructs each query. */
  private def pass(spark: SparkSession, dir: Path, order: Long, sink: Option[Path],
                   traced: Boolean, layers: Boolean): Double = {
    val basename = dir.getFileName.toString
    val shuffled = new scala.util.Random(seed * 1000003L + order).shuffle(mix)
    val t0 = Clock.now
    shuffled.foreach { case (q, group) =>
      val before = if (traced) rec.tracing(frames(basename)) else Map.empty[Path, Long]
      val tq = Clock.now
      rec.op(s"query $q") {
        val (df, construct) = Clock.time(SparkEntry.queries(q)(spark, dir.toString))
        sink.foreach { out =>
          if (layers) {
            // planned here and again by the write: the first planning is
            // tracing overhead
            val (_, plan) = Clock.time(rec.tracing(df.queryExecution.executedPlan))
            val busy0 = rec.tracing(ledger.snap(spark.sparkContext)).busyS
            val ((_, l), exec) = Clock.time(Metrics.measure(spark, q)(write(df, out.resolve(q))))
            val busy = rec.tracing(ledger.snap(spark.sparkContext)).busyS - busy0
            val pm = rec.tracing(PlanAudit.metrics(df))
            rec.add(s"query.$group.construct_s", construct)
            rec.add(s"query.$group.plan_s", plan)
            rec.add(s"query.$group.exec_s", exec)
            rec.add(s"query.$group.busy_s", busy)
            rec.add(s"query.$group.shuffle_write_bytes", l.shuffleWriteBytes.toDouble)
            rec.add(s"query.$group.spill_bytes", l.spillBytes.toDouble)
            rec.add(s"query.$group.spark_tasks", l.tasks.toDouble)
            rec.add("plan.shuffles", pm.shuffles)
            rec.add("plan.sorts", pm.sorts)
            rec.add("plan.custom_ops", pm.customOps)
          } else write(df, out.resolve(q))
        }
      }
      val spent = Clock.secs(tq)
      System.err.println(f"[perfbench] $basename ${sink.map(_.getFileName.toString).getOrElse("noop")} $q%s $spent%.3f")
      release(spark)
      if (traced && rec.tracing(changed(before, frames(basename))) > 0) rec.add("stage.build_s", spent)
    }
    Clock.secs(t0)
  }

  private def write(df: DataFrame, out: Path): Unit = df.write.mode("overwrite").parquet(out.toString)

  def cycle(spark: SparkSession, deadline: Long, traced: Boolean): Unit = {
    val basename = s"pbq_${nonce}_mix"
    val dir = root.resolve(basename)
    val out = root.resolve("out")
    dataset(data.resolve("tables"), dir)
    var order = 0L // each pass runs the mix in its own seeded order
    def timed(metric: String, sink: Option[String], layers: Boolean = false): Int = {
      val before = frames(basename)
      rec.scenario = metric
      order += 1
      rec.sample(metric, pass(spark, dir, order, sink.map(out.resolve), traced, layers))
      changed(before, frames(basename))
    }
    val built = timed("cold_s", Some("cold"))
    if (traced) {
      rec.add("stage.frames_built", built)
      rec.add("stage.bytes", frameBytes(basename).toDouble)
    }
    Files.delete(dir.resolve("documents.parquet"))
    Files.copy(data.resolve("variant/documents.parquet"), dir.resolve("documents.parquet"))
    val rebuiltIncr = timed("incremental_s", Some("incremental"))
    // the warm and no-op passes follow the two passes that build frames, so
    // the JIT compiler has caught up with the query code; every warm pass
    // writes to `warm`, which the checks in run.py compare with `incremental`
    var rebuiltWarm, rounds = 0
    while (rounds < MinRounds || Clock.now - deadline < 0) {
      rebuiltWarm += timed("warm_s", Some("warm"), layers = traced && rounds == 0) + timed("noop_s", None)
      rounds += 1
    }
    rec.num("rounds", rounds)
    rec.check("warm and no-op passes rebuild no staged frame")(rebuiltWarm == 0)
    rec.check("incremental pass rebuilds a staged frame")(rebuiltIncr > 0)
    if (traced) {
      rec.add("stage.rebuilt.incremental", rebuiltIncr)
      rec.add("stage.rebuilt.warm", rebuiltWarm)
    } else rec.sample("disk_mb", frameBytes(basename) / 1e6)
    dropFrames(basename)
    Files2.delete(dir)
  }
}

object QueryMix {
  /** The mix, by group; `BENCHMARK.json` records why each group is in it. */
  val Groups: Seq[(String, Seq[String])] = Seq(
    // consumers of four staged document frames: tokens, spans, minhash
    // signatures and source shingles (the frame Bench's stage warm-up
    // misses); the mix is kept this small to fit the benchmark's run budget
    "staged" -> Seq("text_token_diversity", "dedup_repeated_spans", "dedup_minhash_estimate",
      "dedup_source_overlap"),
    // the CSR observation fact (wide entity join, EAV melt) as a query
    "csr" -> Seq("csr_observations"),
    "heavy" -> Seq("events_copresence_topk", "q_assoc_rules"),
    // TPC-H queries: no staged frame, no custom operator
    "control" -> Seq("q1_pricing_summary", "q6_forecast_revenue"))
}
