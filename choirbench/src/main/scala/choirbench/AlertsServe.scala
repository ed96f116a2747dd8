package choirbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col

import graft.Main
import graft.Main.AlertConfig
import graft.analytics.Alerts
import graft.etl.RawSheet
import graft.format.AlertMessage
import graft.io.TableStore

/** One served query: its kind, latency, and (traced runs only) the scan
  * counts read off its executed plan. */
final case class Served(kind: String, seconds: Double,
    filesScanned: Long = 0L, rowsScanned: Long = 0L, rowsReturned: Long = 0L)

/** `alerts_serve`: read-only traffic against a store set-up builds once
  * with `Main.run`. [[AlertsServe.Clients]] closed-loop client threads each
  * run a seeded mix: one in three queries is an alert check (streaks,
  * rate, formatted message) with a seeded lookback and threshold, the rest
  * are one chorister's attendance history from `mart_attendance`. */
final class AlertsServe(ctx: Ctx) extends Workload(ctx) {
  import AlertsServe._

  private val input = new SheetInput(ctx)
  private val sink = new RecordingSink
  private var store: TableStore = _
  private var storeRoot = ""
  private var firstBuild = 0.0
  private var storeBytes = 0L
  private val oracle = mutable.HashMap.empty[(Int, Int), Oracle.Alert]

  // each set-up builds the store with a full Main.run
  override def setupReps: Int = 3

  def setup(spark: SparkSession, rep: Int): Unit = {
    input.generate(rep)
    storeRoot = ctx.path(s"store-$rep")
    store = new TableStore(spark, storeRoot)
    val before = sink.messages.size
    val t0 = System.nanoTime()
    val res = Main.run(spark, RawSheet.fromCsv(spark, input.path), store,
      AlertConfig(enabled = true, sink = sink))
    if (rep == 0) firstBuild = (System.nanoTime() - t0) / 1e9
    for (l <- Lookbacks; t <- Thresholds) oracle.getOrElseUpdate((l, t), Oracle.alert(input.sheet, l, t))
    ctx.checked("store build", input.checkStore(store, res, before, sink, oracle((3, 3))))
    storeBytes = Stats.dirBytes(storeRoot)._1
  }

  def teardown(): Unit = Stats.deleteTree(storeRoot)

  private def alertCheck(t: Tracer, l: Int, th: Int): Seq[String] = t.span("serve.alert") {
    val mart = t.span("io.read")(store.read("mart_attendance"))
    val v = t.span("analytics.streaks")(
      AlertMessage.collectViolators(Alerts.currentMissedStreaks(mart, l, th)))
    val rate = t.span("analytics.rate")(Alerts.attendanceRate(mart, l))
    val msg = t.span("format.message")(AlertMessage.format(v, l, th, rate))
    val want = oracle((l, th))
    Seq(
      if (v != want.violators) Some(s"violators differ (L=$l T=$th): got ${v.size}, want ${want.violators.size}") else None,
      if (rate != want.rate) Some(s"rate $rate, want ${want.rate}") else None,
      if (msg != AlertMessage.format(want.violators, l, th, want.rate)) Some("message differs") else None
    ).flatten
  }

  private def lookup(t: Tracer, c: ChoristerRow, t0: Long): (Served, Seq[String]) =
    t.span("serve.lookup") {
      val df = t.span("io.read")(store.read("mart_attendance")
        .filter(col("chorister_id") === c.id).select("hours_attended", "missed_flag"))
      val rows = t.span("io.scan")(df.collect())
      val dt = (System.nanoTime() - t0) / 1e9
      val scansOf = if (t.enabled) Tracer.scans(df.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec => s
      } else Nil
      def metric(k: String) = scansOf.flatMap(_.metrics.get(k)).map(_.value).sum
      val (n, hours, missed) = Oracle.history(input.sheet, c)
      val got = (rows.length.toLong, rows.map(_.getDouble(0)).sum, rows.count(_.getInt(1) == 1).toLong)
      val problems = if (got == (n, hours, missed)) Nil
        else Seq(s"history of '${c.id}' is $got, want ${(n, hours, missed)}")
      (Served("lookup", dt, metric("numFiles"), metric("numOutputRows"), rows.length.toLong), problems)
    }

  /** Run the client threads for `seconds`; every query is checked. */
  private def window(t: Tracer, seconds: Double, salt: Int): (Seq[Served], Double) = {
    val clients = math.min(Clients, ctx.args.cores)
    val out = mutable.ArrayBuffer.empty[Served]
    val errors = mutable.ArrayBuffer.empty[Throwable]
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = (0 until clients).map { k =>
      new Thread(() => {
        val r = new Random(ctx.args.seed * 1000003L + salt * 101L + k)
        var i = 0
        try while (System.nanoTime() < deadline) {
          val opId = k * 1000000 + i
          t.beginOp(opId)
          val t0 = System.nanoTime()
          val (s, problems) =
            if (r.nextInt(3) == 0) {
              val l = Lookbacks(r.nextInt(Lookbacks.size))
              val th = Thresholds(r.nextInt(Thresholds.size))
              val p = alertCheck(t, l, th)
              (Served("alert", (System.nanoTime() - t0) / 1e9), p)
            } else {
              val cs = input.sheet.choristers
              lookup(t, cs(r.nextInt(cs.size)), t0)
            }
          ctx.checked(s.kind, problems)
          out.synchronized(out += s)
          i += 1
        } catch { case e: Throwable => errors.synchronized(errors += e) }
      }, s"client-$k")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    errors.foreach(e => ctx.checked("client", Seq(e.toString)))
    (out.toSeq, (System.nanoTime() - start) / 1e9)
  }

  def measure(spark: SparkSession): Unit = {
    settle()
    val seconds = ctx.args.seconds
    val (served, wall) = window(new Tracer(spark, enabled = false), seconds, 0)
    val all = served.map(_.seconds)
    ctx.e2e("first_op_s", firstBuild, "s")
    ctx.e2e("op_s_p50", Stats.median(all), "s")
    ctx.e2e("items_per_s", served.size / wall, "1/s")
    ctx.e2e("store_bytes_per_input_byte", storeBytes.toDouble / input.bytes, "B/B")
    ctx.say(f"alerts_serve: ${served.size} queries from ${math.min(Clients, ctx.args.cores)} clients in $wall%.1f s")
    for (kind <- Seq("alert", "lookup")) {
      val xs = served.filter(_.kind == kind).map(_.seconds)
      val name = if (kind == "alert") "alerts_check_s" else "history_lookup_s"
      if (xs.nonEmpty) {
        ctx.say(f"metric ${name}_p50 = ${Stats.median(xs)}%.6f s  (${xs.size} samples)")
        Stats.tail(xs) match {
          case Some((p, v)) => ctx.say(f"metric ${name}_tail = $v%.6f s  (p${p * 100}%.1f of ${xs.size} samples)")
          case None => ctx.say(s"metric ${name}_tail = n/a  (${xs.size} samples: 10 or fewer)")
        }
      }
    }
    ctx.say(f"metric serve_ops_per_s = ${served.size / wall}%.3f 1/s")
    ctx.say(f"metric etl_first_run_s = $firstBuild%.6f s  (set-up's store build)")
    if (ctx.args.trace) {
      val tracer = new Tracer(spark, enabled = true)
      tracer.attach()
      val (tServed, tWall) = window(tracer, seconds, 1)
      tracer.detach()
      Layers.serve(ctx, tracer, tServed, tWall, Stats.median(all))
      Files.write(Paths.get(ctx.path("trace.json")), tracer.json.getBytes("UTF-8"))
    }
  }
}

object AlertsServe {
  val Clients = 2
  val Lookbacks: IndexedSeq[Int] = IndexedSeq(2, 3, 4, 6)
  val Thresholds: IndexedSeq[Int] = IndexedSeq(2, 3, 4)
}
