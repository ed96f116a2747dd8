package choirbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Sessions

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, cores: Int)

/** One benchmark run: `Bench --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints `metric` lines for a reader and, as
  * its last line, `RESULT {json}` with the run's metrics, the number of
  * operations attempted and the number that failed or gave a wrong answer.
  *
  * Set-up runs [[Workload.setupReps]] times, each in a fresh SparkSession,
  * and `setup_s` is their median: the first repetition also pays JVM and
  * class loading, the later ones show any work a change moves into set-up. */
object Bench {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1 (got $trace)")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1",
      need("work"), math.min(4, Runtime.getRuntime.availableProcessors()))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ctx = new Ctx(a)
    val w: Workload = a.workload match {
      case "etl_full" => new EtlFull(ctx)
      case "alerts_serve" => new AlertsServe(ctx)
      case "curate_corpus" => new CurateCorpus(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    val sessions = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until w.setupReps) {
      val t0 = System.nanoTime()
      spark = Sessions.local(cores = a.cores)
      sessions += (System.nanoTime() - t0) / 1e9
      w.setup(spark, rep)
      setups += (if (rep == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
                 else (System.nanoTime() - t0) / 1e9)
      if (rep < w.setupReps - 1) { w.teardown(); spark.stop() }
    }
    ctx.say(f"setup repetitions (s): ${setups.map(x => f"$x%.3f").mkString(" ")}")
    ctx.e2e("setup_s", Stats.median(setups.toSeq), "s")
    ctx.layer("sessions.start_s", Stats.median(sessions.toSeq), "s")
    ctx.layer("setup.first_s", setups.head, "s")

    w.measure(spark)
    w.teardown()
    ctx.e2e("live_heap_mb", w.liveHeapMb, "MB")
    ctx.say(f"metric peak_rss_mb = ${Stats.peakRssMb}%.1f MB")
    spark.stop()
    ctx.finish()
  }
}

/** Shared state of one run: arguments, the work directory, correctness
  * bookkeeping and the metrics gathered so far. */
final class Ctx(val args: Args) {
  val work: String = new File(args.work).getAbsolutePath
  private var attempted = 0L
  private var failed = 0L
  private val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def say(line: String): Unit = println(line)

  /** Record one checked operation; `problems` empty means correct. */
  def checked(what: String, problems: Seq[String]): Unit = synchronized {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (failed <= 10) say(s"CHECK FAILED [$what]: ${problems.mkString("; ")}")
    }
  }

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)

  def path(rel: String): String = s"$work/$rel"

  def finish(): Unit = {
    val failedFrac = if (attempted == 0) 1.0 else failed.toDouble / attempted
    say(f"metric failed_frac = $failedFrac%.6f ratio  (failed $failed of $attempted)")
    e2eMetrics.foreach { case (k, (v, u)) => say(f"metric $k = $v%.6f $u") }
    if (args.trace) layerMetrics.foreach { case (k, (v, u)) => say(f"layer $k = $v%.6f $u") }
    val shown =
      if (args.trace) Layers.All.map { case (k, u) => k -> layerMetrics.getOrElse(k, (0.0, u)) }
      else e2eMetrics.toSeq
    val body = shown.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    say(s"""RESULT {"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile that leaves at least ten samples above it,
    * with its value, or None for ten samples or fewer. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size <= 10) None
    else { val p = 1 - 10.0 / xs.size; Some((p, quantile(xs, p))) }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def dirBytes(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      (files.map(f => Files.size(f)).sum, files.length.toLong)
    }
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }
}

/** A workload: set-up (repeated, each in a fresh session), then a measured
  * closed loop of operations with their output checks. */
abstract class Workload(val ctx: Ctx) {
  /** How many times set-up runs; odd, so the median is one of them. */
  def setupReps: Int = 5

  /** Largest live heap seen after an operation, in MB. */
  var liveHeapMb = 0.0

  /** Between operations: a full GC, so every operation starts on a clean
    * heap, and the heap still in use after it is the live set the
    * operations left behind. Spark's ContextCleaner frees blocks (local
    * checkpoints among them) only after a GC has collected their owners,
    * so a second GC after a pause counts what the cleaner left. */
  protected def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    liveHeapMb = math.max(liveHeapMb,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }
  def setup(spark: SparkSession, rep: Int): Unit
  def measure(spark: SparkSession): Unit
  def teardown(): Unit

  /** Run `op` in a closed loop until `seconds` have passed and at least
    * `minOps` operations completed; returns their durations in seconds. */
  protected def loop(seconds: Double, minOps: Int)(op: Int => Double): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (out.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      out += op(out.size)
      settle()
    }
    out.toSeq
  }
}
