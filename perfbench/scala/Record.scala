package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Everything one benchmark run measures: timing samples per end-to-end
  * metric, per-layer values (summed over the run), op counts, failures and
  * provenance. Rendered as one JSON object by [[toJson]]. */
final class Record {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String] // raw JSON values
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  /** The end-to-end metric whose sample is being measured. */
  var scenario = ""

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v
  def add(name: String, v: Double): Unit = layer(name) = layer.getOrElse(name, 0.0) + v
  def set(name: String, v: Double): Unit = layer(name) = v
  def str(key: String, v: String): Unit = info(key) = Json.str(v)
  def num(key: String, v: Double): Unit = info(key) = Json.num(v)

  /** Runs a piece of the benchmark's own tracing code (a ledger snapshot,
    * a frame listing, an extra planning pass) and charges its time to
    * `overhead.<scenario>`: what the traced run spends that an untraced
    * run does not. */
  def tracing[T](body: => T): T = {
    val (r, s) = Clock.time(body)
    add(s"overhead.$scenario", s)
    r
  }

  /** One op (a pipeline run, a query, an output check): counted as
    * attempted, and as failed when `ok` is false or the body throws. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failures += s"$what: $e"
        System.err.println(s"[perfbench] FAILED $what: $e")
        None
    }
  }
  def check(what: String)(ok: => Boolean): Unit =
    op(what) { if (!ok) throw new AssertionError("check failed") }

  def toJson: String = {
    val s = samples.map { case (k, vs) =>
      Json.str(k) + ":" + vs.map(Json.num).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val l = layer.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    val i = info.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":${failures.size},""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},""" +
      s""""samples":$s,"layer":$l,"info":$i}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Wall clock for spans measured from the benchmark's own code. */
object Clock {
  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[T](body: => T): (T, Double) = {
    val t0 = now
    val r = body
    (r, secs(t0))
  }
}

/** Spark execution ledger summed over every finished task: executor run
  * time (busy), shuffle bytes written, bytes spilled and task count.
  * [[snap]] drains the listener bus first, so a snapshot taken right after
  * an action includes that action's tasks. */
final class Ledger extends SparkListener {
  private val busyMs, shuffleWrite, spill, tasks = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      busyMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snap(sc: SparkContext): Ledger.Snap = {
    org.apache.spark.graftbridge.ListenerBridge.flush(sc)
    Ledger.Snap(busyMs.get / 1e3, shuffleWrite.get.toDouble, spill.get.toDouble, tasks.get.toDouble)
  }
}

object Ledger {
  final case class Snap(busyS: Double, shuffleWrite: Double, spill: Double, tasks: Double) {
    def -(o: Snap): Snap = Snap(busyS - o.busyS, shuffleWrite - o.shuffleWrite,
      spill - o.spill, tasks - o.tasks)
  }
}

object Files2 {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    } else Files.size(p)

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally s.close()
  }
}
