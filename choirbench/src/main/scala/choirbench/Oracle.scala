package choirbench

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import graft.format.AlertMessage.Violator

/** Plain-Scala recomputation of the alert analytics from the generated
  * matrix — no Spark — so the served answers are checked against the truth
  * the generator already holds rather than against another Spark plan. */
object Oracle {
  private val Dmy2 = DateTimeFormatter.ofPattern("dd.MM.yy")

  final case class Alert(violators: Seq[Violator], rate: Option[Double])

  private def voicePart(tag: String): String = {
    val t = tag.trim
    val v = if (t.toLowerCase.startsWith("ex")) t.substring(2).replaceFirst("^[ \\-_]+", "") else t
    v.trim.toLowerCase
  }

  private def iso(dmy: String): String =
    if (dmy.isEmpty) "" else LocalDate.parse(dmy, Dmy2).toString

  /** (is_active, voice_part) valid for `c` on `date` (the mart's as-of
    * assignment: the newest valid_from, then the override order). */
  private def assignment(sheet: Sheet, c: ChoristerRow, date: String): (Boolean, String) =
    if (!sheet.isOverride(c)) (c.active, voicePart(c.tag))
    else {
      val n = Sheet.norm(c.name)
      val valid = graft.etl.DimChorister.Overrides.filter(_._1 == n).filter { o =>
        iso(o._4) <= date && (o._5.isEmpty || date <= iso(o._5))
      }
      if (valid.isEmpty) (false, "")
      else (true, valid.maxBy(o => (iso(o._4), -o._2))._3)
    }

  def alert(sheet: Sheet, lookbackWeeks: Int, threshold: Int): Alert = {
    val dates = sheet.dateIso
    def available(c: ChoristerRow): Seq[Int] = dates.indices.filter(d => dates(d) >= c.joinedIso)
    val avail = sheet.choristers.map(c => c -> available(c))
    val allAvail = avail.flatMap(_._2)
    if (allAvail.isEmpty) return Alert(Nil, None)
    val maxDate = LocalDate.parse(dates(allAvail.max))
    val from = maxDate.minusDays(7L * lookbackWeeks).toString
    var nAvail = 0L
    var nAtt = 0L
    val violators = avail.flatMap { case (c, ds) =>
      val inWin = ds.filter(d => dates(d) >= from).sortBy(d => dates(d)).reverse
      nAvail += inWin.size
      nAtt += inWin.count(d => c.hours(d) > 0)
      if (inWin.isEmpty) None
      else {
        val streak = inWin.takeWhile(d => c.cells(d).isEmpty)
        val (active, voice) = assignment(sheet, c, dates(inWin.head))
        val lastAtt = ds.filter(d => c.hours(d) > 0).map(dates).maxOption
        if (!active || streak.size < threshold) None
        else Some(c.id -> Violator(
          fullName = if (c.name.isEmpty) "—" else c.name,
          voicePart = if (voice.isEmpty) "—" else voice,
          streakLen = streak.size.toLong,
          missedDates = streak.take(10).map(dates),
          lastAttendedDate = lastAtt,
          tgid = c.tgid))
      }
    }.sortBy(_._1).map(_._2)
    Alert(violators, if (nAvail > 0) Some(nAtt.toDouble / nAvail) else None)
  }

  /** mart_attendance rows of one chorister: (rows, hours, misses). */
  def history(sheet: Sheet, c: ChoristerRow): (Long, Double, Long) =
    (c.cells.length.toLong, c.cells.map(Sheet.num(_).getOrElse(0.0)).sum,
      c.cells.count(_.isEmpty).toLong)
}
