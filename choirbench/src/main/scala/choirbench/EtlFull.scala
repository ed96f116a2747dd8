package choirbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.Main
import graft.Main.AlertConfig
import graft.analytics.Alerts
import graft.etl.{DimChorister, DimSong, FactAttendance, FactSongTime, Marts, RawSheet}
import graft.format.{AlertMessage, AlertSink}
import graft.io.TableStore

/** Alert sink that keeps every message in memory: nothing leaves the
  * process. */
final class RecordingSink extends AlertSink {
  val messages: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  override def send(text: String): Unit = synchronized(messages += text)
}

/** The generated wide sheet every choir workload runs on, written to the
  * work directory; each set-up repetition regenerates it and checks that
  * the same seed gave the same bytes. */
final class SheetInput(ctx: Ctx) {
  // 300 choristers x 40 weekly dates (12,000 fact rows): a warm Main.run
  // takes about ten seconds on four local cores, mostly the per-job
  // overhead of its ~76 jobs; larger sheets add run time faster than signal
  // (400 x 52 took 10-11 s warm, 600 x 104 took 14 s).
  val params: SheetParams = SheetParams.draw(ctx.args.seed, choristers = 300, dates = 40,
    songs = 12, songsPerRehearsal = 4, attendShare = 0.7)
  val path: String = ctx.path("sheet.csv")
  private var digest: String = _
  var sheet: Sheet = _

  def generate(rep: Int): Unit = {
    sheet = Sheet.generate(params, ctx.args.seed)
    val d = MessageDigest.getInstance("SHA-256").digest(sheet.csv).map("%02x".format(_)).mkString
    if (rep == 0) {
      digest = d
      ctx.say(s"sheet: ${params.describe} bytes=${sheet.csv.length} sha256=${d.take(16)}")
    }
    Files.createDirectories(Paths.get(ctx.work))
    Files.write(Paths.get(path), sheet.csv)
    ctx.checked("sheet is byte-identical for one seed",
      if (d == digest) Nil else Seq(s"set-up $rep produced sha256 $d, first produced $digest"))
  }

  def bytes: Long = sheet.csv.length.toLong

  /** Everything a finished Main.run must have written, against the truth
    * the generator knows. */
  def checkStore(store: TableStore, res: Main.RunResult, alertsBefore: Int,
      sink: RecordingSink, alert: Oracle.Alert): Seq[String] = {
    val exp = sheet.expectedCounts
    val p = mutable.ArrayBuffer.empty[String]
    if (res.status != "success") p += s"status ${res.status}: ${res.errorMessage}"
    exp.foreach { case (t, n) =>
      val got = res.counts.getOrElse(t, store.read(t).count())
      if (got != n) p += s"$t has $got rows, expected $n"
    }
    val agg = store.read("fact_attendance")
      .agg(sum("hours_attended"), sum("missed_flag")).head()
    if (agg.getDouble(0) != sheet.hoursSum) p += s"hours_attended sums to ${agg.getDouble(0)}, expected ${sheet.hoursSum}"
    if (agg.getLong(1) != sheet.missedSum) p += s"missed_flag sums to ${agg.getLong(1)}, expected ${sheet.missedSum}"
    val log = store.read("etl_log").collect()
    if (log.length != 1 || log.head.getAs[String]("status") != "success" ||
        log.head.getAs[Long]("rows_fact_attendance") != exp("fact_attendance"))
      p += s"etl_log holds ${log.length} rows (${log.map(_.getAs[String]("status")).mkString(",")}), expected one success row"
    val sent = sink.synchronized(sink.messages.drop(alertsBefore).toList)
    val want = AlertMessage.format(alert.violators, 3, 3, alert.rate)
    if (sent != List(want)) p += s"alert sink got ${sent.size} messages, expected one matching the recomputed alert"
    p.toSeq
  }
}

/** `etl_full`: repeated `Main.run` on the generated sheet, one run at a
  * time, each into a fresh store with alerts on and a recording sink. */
final class EtlFull(ctx: Ctx) extends Workload(ctx) {
  private val input = new SheetInput(ctx)
  private val sink = new RecordingSink
  private var alert: Oracle.Alert = _
  private var runs = 0

  def setup(spark: SparkSession, rep: Int): Unit = {
    input.generate(rep)
    alert = Oracle.alert(input.sheet, 3, 3)
  }

  def teardown(): Unit = Stats.deleteTree(ctx.path("stores"))

  private def freshStore(spark: SparkSession): (TableStore, String) = {
    runs += 1
    val root = ctx.path(s"stores/run-$runs")
    (new TableStore(spark, root), root)
  }

  /** One untraced operation: RawSheet.fromCsv + Main.run, then checks. */
  private def op(spark: SparkSession, keep: Boolean = false): (Double, String) = {
    val (store, root) = freshStore(spark)
    val before = sink.messages.size
    val t0 = System.nanoTime()
    val res = Main.run(spark, RawSheet.fromCsv(spark, input.path), store,
      AlertConfig(enabled = true, sink = sink))
    val dt = (System.nanoTime() - t0) / 1e9
    ctx.checked("etl run", input.checkStore(store, res, before, sink, alert))
    if (!keep) Stats.deleteTree(root)
    (dt, root)
  }

  def measure(spark: SparkSession): Unit = {
    val (first, firstRoot) = op(spark, keep = true)
    val (storeBytes, _) = Stats.dirBytes(firstRoot)
    Stats.deleteTree(firstRoot)
    settle()
    val tracer = new Tracer(spark, enabled = ctx.args.trace)
    val warm, traced, files = mutable.ArrayBuffer.empty[Double]
    var lastRoot = ""
    loop(ctx.args.seconds, if (tracer.enabled) 5 else 2) { i =>
      if (tracer.enabled && i % 2 == 1) {
        val (dt, nFiles) = tracedOp(spark, tracer, i, lastRoot)
        traced += dt
        files += nFiles
        dt
      } else {
        if (lastRoot.nonEmpty) Stats.deleteTree(lastRoot)
        val (dt, root) = op(spark, keep = tracer.enabled)
        lastRoot = root
        warm += dt
        dt
      }
    }
    if (lastRoot.nonEmpty) Stats.deleteTree(lastRoot)
    val med = Stats.median(warm.toSeq)
    val facts = input.sheet.expectedCounts("fact_attendance")
    ctx.say(f"etl_full: cold run $first%.3f s, warm runs ${warm.map(x => f"$x%.3f").mkString(" ")} s")
    ctx.e2e("first_op_s", first, "s")
    ctx.e2e("op_s_p50", med, "s")
    ctx.e2e("items_per_s", facts / med, "1/s")
    ctx.e2e("store_bytes_per_input_byte", storeBytes.toDouble / input.bytes, "B/B")
    ctx.say(f"metric etl_run_s = $med%.6f s  (median of ${warm.size})")
    ctx.say(f"metric etl_first_run_s = $first%.6f s")
    ctx.say(f"metric etl_fact_rows_per_s = ${facts / med}%.1f 1/s  ($facts fact rows)")
    if (tracer.enabled) {
      Layers.etl(ctx, tracer, traced.toSeq, files.toSeq, Stats.median(warm.drop(1).toSeq))
      Files.write(Paths.get(ctx.path("trace.json")), tracer.json.getBytes("UTF-8"))
    }
  }

  /** One traced operation: replay Main.run's public call sequence with a
    * span on every step, check it, and check it wrote what the untraced
    * Main.run into `mainRoot` wrote. Returns its time and parquet file count. */
  private def tracedOp(spark: SparkSession, tracer: Tracer, i: Int, mainRoot: String): (Double, Double) = {
    val (store, root) = freshStore(spark)
    val before = sink.messages.size
    tracer.attach()
    tracer.beginOp(i)
    val t0 = System.nanoTime()
    val res = Replay.run(spark, tracer, input.path, store, sink)
    val dt = (System.nanoTime() - t0) / 1e9
    tracer.detach()
    ctx.checked("traced etl run", input.checkStore(store, res, before, sink, alert) ++
      Replay.sameAs(store, new TableStore(spark, mainRoot)))
    val nFiles = Stats.dirBytes(root)._2.toDouble
    Stats.deleteTree(root)
    (dt, nFiles)
  }
}

/** Main.run's public call sequence, step by step, each step in a span. */
object Replay {
  val Curated = Seq("dim_chorister", "dim_chorister_assignment", "dim_song",
    "fact_attendance", "fact_song_time")
  val Marts3 = Seq("mart_attendance", "mart_song_rehearsal", "mart_chorister_song")

  def run(spark: SparkSession, t: Tracer, sheetPath: String, store: TableStore,
      sink: AlertSink): Main.RunResult = t.span("etl.run") {
    val raw = t.span("widesheet.infer")(RawSheet.fromCsv(spark, sheetPath))
    val counts = mutable.LinkedHashMap.empty[String, Long]
    def table(name: String)(build: => DataFrame): Unit = t.span(s"etl.$name") {
      val df = t.span("etl.build")(build)
      t.span("io.overwrite")(store.overwrite(name, df))
      counts(name) = t.span("io.readback")(store.read(name).count())
    }
    table("dim_chorister")(DimChorister.build(raw))
    table("dim_chorister_assignment")(DimChorister.buildAssignments(raw))
    table("dim_song")(DimSong.build(raw))
    table("fact_attendance")(FactAttendance.build(raw, DimChorister.idByKey(raw)))
    table("fact_song_time")(FactSongTime.build(raw, DimSong.withSeq(raw)))

    val Seq(dc, asg, ds, fa, fst) = t.span("io.read") {
      val missing = Curated.filterNot(store.exists)
      require(missing.isEmpty, s"missing tables: $missing")
      Curated.map(store.read)
    }
    def mart(name: String)(build: => DataFrame): Unit = t.span(s"etl.$name") {
      val df = t.span("etl.build")(build)
      t.span("io.overwrite")(store.overwrite(name, df))
    }
    mart("mart_attendance")(Marts.martAttendance(dc, asg, fa))
    mart("mart_song_rehearsal")(Marts.martSongRehearsal(ds, fst))
    mart("mart_chorister_song")(Marts.martChoristerSong(dc, asg, ds, fa, fst))

    val cfg = AlertConfig(enabled = true, sink = sink)
    val martDf = t.span("io.read")(store.read("mart_attendance"))
    val violators = t.span("analytics.streaks")(AlertMessage.collectViolators(
      Alerts.currentMissedStreaks(martDf, cfg.lookbackWeeks, cfg.streakThreshold)))
    val rate = t.span("analytics.rate")(Alerts.attendanceRate(martDf, cfg.lookbackWeeks))
    t.span("format.message")(sink.send(AlertMessage.format(
      violators, cfg.lookbackWeeks, cfg.streakThreshold, rate)))

    t.span("io.append") {
      val row = spark.sql("SELECT 1").select(
        current_timestamp().as("run_ts"),
        lit("success").as("status"),
        lit(counts("dim_chorister")).as("rows_dim_chorister"),
        lit(counts("dim_chorister_assignment")).as("rows_dim_chorister_assignment"),
        lit(counts("dim_song")).as("rows_dim_song"),
        lit(counts("fact_attendance")).as("rows_fact_attendance"),
        lit(counts("fact_song_time")).as("rows_fact_song_time"),
        lit("").as("error_message"))
      store.append("etl_log", row)
    }
    Main.RunResult("success", "", counts.toMap)
  }

  /** Row count and an order-free content hash of every table, wall-clock
    * timestamp columns left out. */
  def fingerprint(store: TableStore, name: String): (Long, String) = {
    val df = store.read(name)
    val cols = df.schema.fields.filterNot(_.dataType == TimestampType).map(f => col(f.name))
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")), lit(0)).cast("string")).head()
    (r.getLong(0), r.getString(1))
  }

  def sameAs(replay: TableStore, main: TableStore): Seq[String] =
    (Curated ++ Marts3 :+ "etl_log").flatMap { t =>
      val (a, b) = (fingerprint(replay, t), fingerprint(main, t))
      if (a == b) None else Some(s"replay wrote $t as $a, Main.run as $b")
    }
}
