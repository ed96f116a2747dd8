package choirbench

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Knobs of the seeded wide-sheet generator. The sizes (`choristers`,
  * `dates`, `songs`, `songsPerRehearsal`, `attendShare`) set the pipeline's
  * cost and are fixed per workload; the shares steer which ETL branches run
  * (D1 duplicate names, the `ex` prefix, the hard-coded voice-part overrides,
  * comma decimals, the four header formats) and are drawn from the seed. */
final case class SheetParams(
    choristers: Int,
    dates: Int,
    songs: Int,
    songsPerRehearsal: Int,
    attendShare: Double,
    zeroShare: Double,
    lapsedShare: Double,
    dupNameShare: Double,
    exShare: Double,
    overrideNames: Int,
    commaShare: Double,
    mixedHeaderShare: Double,
    ghostRows: Int) {
  def describe: String = productElementNames.zip(productIterator)
    .map { case (k, v) => s"$k=$v" }.mkString(" ")
}

object SheetParams {
  /** Fixed sizes, seed-drawn branch shares. */
  def draw(seed: Long, choristers: Int, dates: Int, songs: Int,
      songsPerRehearsal: Int, attendShare: Double): SheetParams = {
    val r = new Random(seed * 7919L + 17L)
    def in(lo: Double, hi: Double): Double = lo + (hi - lo) * r.nextDouble()
    SheetParams(
      choristers = choristers, dates = dates, songs = songs,
      songsPerRehearsal = songsPerRehearsal, attendShare = attendShare,
      zeroShare = in(0.01, 0.02),
      lapsedShare = in(0.06, 0.10),
      dupNameShare = in(0.03, 0.06),
      exShare = in(0.08, 0.12),
      overrideNames = 1 + r.nextInt(3),
      commaShare = in(0.2, 0.3),
      mixedHeaderShare = in(0.3, 0.5),
      ghostRows = 1 + r.nextInt(4))
  }
}

/** One chorister row as generated, with everything the checks need to know
  * in advance: its D1 id, ISO join date and cells (`""` = missed). */
final case class ChoristerRow(
    tag: String, joinedRaw: String, joinedIso: String, tgid: String,
    name: String, id: String, cells: Array[String]) {
  def hours(d: Int): Double = Sheet.num(cells(d)).getOrElse(0.0)
  def active: Boolean = !tag.trim.toLowerCase.startsWith("ex")
}

final case class SongRow(title: String, cells: Array[String])

/** A generated sheet: its CSV bytes plus the plain-Scala truth the
  * benchmark checks the pipeline's outputs against. */
final case class Sheet(
    params: SheetParams,
    header: IndexedSeq[String],
    dateIso: IndexedSeq[String],
    choristers: IndexedSeq[ChoristerRow],
    songs: IndexedSeq[SongRow],
    csv: Array[Byte]) {

  private val overrideNorms = graft.etl.DimChorister.Overrides.map(_._1).toSet
  def isOverride(c: ChoristerRow): Boolean = overrideNorms(Sheet.norm(c.name))

  /** Song rows that receive a dim_song id (the D5 positional link: the k-th
    * Song row takes the k-th non-empty title's id). */
  lazy val linkedSongs: Int = songs.count(_.title.nonEmpty)

  private def songFacts(d: Int): Int =
    songs.take(linkedSongs).count(s => Sheet.num(s.cells(d)).isDefined)

  lazy val expectedCounts: Map[String, Long] = {
    val nC = choristers.size.toLong
    val nOvr = choristers.count(isOverride).toLong
    val songFactRows = dateIso.indices.map(songFacts).sum.toLong
    val choristerSong = dateIso.indices.map { d =>
      choristers.count(_.hours(d) > 0).toLong * songFacts(d)
    }.sum
    Map(
      "dim_chorister" -> nC,
      "dim_chorister_assignment" -> (nC - nOvr + 2 * nOvr),
      "dim_song" -> linkedSongs.toLong,
      "fact_attendance" -> nC * dateIso.size,
      "fact_song_time" -> songFactRows,
      "mart_attendance" -> nC * dateIso.size,
      "mart_song_rehearsal" -> songFactRows,
      "mart_chorister_song" -> choristerSong)
  }

  lazy val hoursSum: Double =
    choristers.iterator.map(c => c.cells.iterator.map(Sheet.num(_).getOrElse(0.0)).sum).sum
  lazy val missedSum: Long =
    choristers.iterator.map(_.cells.count(_.isEmpty).toLong).sum
}

object Sheet {
  val Start: LocalDate = LocalDate.of(2024, 6, 16)
  private val Epoch = LocalDate.of(1899, 12, 30)
  private val Dmy2 = DateTimeFormatter.ofPattern("dd.MM.yy")

  def num(cell: String): Option[Double] =
    if (cell.trim.isEmpty) None else cell.trim.replace(',', '.').toDoubleOption

  def norm(name: String): String =
    name.trim.toLowerCase.replaceAll("\\s+", "_").replaceAll("[^\\p{L}\\p{N}_]+", "")

  private val Firsts = IndexedSeq("Anna", "Boris", "Olga", "Ivan", "Maria",
    "Pavel", "Elena", "Sergei", "Daria", "Nikita", "Анна", "Борис", "Ольга",
    "Иван", "Ксения", "Павел", "Елена", "Сергей", "Дарья", "Никита")
  private val Latin = "abcdefghijklmnopqrstuvwxyz"
  private val Cyr = "абвгдежзиклмнопрстуфхцчшэюя"
  private val OverrideNames = IndexedSeq("Мария Дидуренко", "Полина Калач", "Митя Чернаков")
  private val Voices = IndexedSeq("Soprano", "Alto", "Tenor", "Bass")
  private val ExForms = IndexedSeq("ex%s", "ex-%s", "Ex_%s", "EX %s")
  private val Hours = IndexedSeq(0.5, 1.0, 1.5, 2.0, 2.5, 3.0)
  private val Minutes = IndexedSeq(10.0, 12.5, 15.0, 20.0, 30.0, 45.0)
  private val Titles = IndexedSeq("Gloria", "Ave Maria", "Kyrie", "Sanctus",
    "Agnus Dei", "Magnificat", "Nunc dimittis", "Te Deum", "Богородице Дево",
    "Херувимская", "Stabat Mater", "Requiem", "Jubilate", "Alleluia")

  private def surname(i: Int): String = {
    val alpha = if (i % 2 == 0) Latin else Cyr
    val sb = new StringBuilder
    var k = i
    do { sb.append(alpha.charAt(k % alpha.length)); k /= alpha.length } while (k > 0)
    sb.setCharAt(0, sb.charAt(0).toUpper)
    sb.toString
  }

  private def numText(v: Double, comma: Boolean): String = {
    val s = if (v == v.floor) v.toLong.toString else v.toString
    if (comma) s.replace('.', ',') else s
  }

  private def headerText(iso: LocalDate, style: Int): String = style match {
    case 0 => iso.format(Dmy2)
    case 1 => ChronoUnit.DAYS.between(Epoch, iso).toString // Sheets serial
    case 2 => iso.toString
    case _ => s"${iso.getDayOfMonth}.${iso.getMonthValue}.${iso.getYear}"
  }

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Deterministic in (`p`, `seed`): the same arguments give the same bytes. */
  def generate(p: SheetParams, seed: Long): Sheet = {
    val r = new Random(seed)
    val dates = (0 until p.dates).map(i => Start.plusWeeks(i.toLong))
    val header = dates.map { d =>
      headerText(d, if (r.nextDouble() < p.mixedHeaderShare) 1 + r.nextInt(3) else 0)
    }
    val dateIso = dates.map(_.toString)
    val span = ChronoUnit.DAYS.between(Start, dates.last).toInt

    val ovrAt = r.shuffle((0 until p.choristers).toList).take(p.overrideNames)
      .zip(OverrideNames).toMap
    val rows = ArrayBuffer.empty[ChoristerRow]
    val usedKeys = scala.collection.mutable.HashSet.empty[(String, String)]
    val firstOf = scala.collection.mutable.HashSet.empty[String]
    val dupSources = ArrayBuffer.empty[String]
    for (i <- 0 until p.choristers) {
      val dup = !ovrAt.contains(i) && dupSources.nonEmpty && r.nextDouble() < p.dupNameShare
      val name = ovrAt.getOrElse(i,
        if (dup) dupSources(r.nextInt(dupSources.size))
        else s"${Firsts(i % Firsts.size)} ${surname(i)}")
      // most joined before the first rehearsal, the rest during the season;
      // (name, joined) stays unique so every row keeps its own id
      var joined: LocalDate = null
      while (joined == null || usedKeys((name, joined.format(Dmy2)))) {
        joined =
          if (ovrAt.contains(i) || r.nextDouble() < 0.7) Start.minusDays(1L + r.nextInt(365))
          else Start.plusDays(r.nextInt(math.max(1, span * 4 / 5)).toLong)
      }
      val joinedRaw = joined.format(Dmy2)
      usedKeys += ((name, joinedRaw))
      val voice = Voices(r.nextInt(Voices.size))
      val tag =
        if (!ovrAt.contains(i) && r.nextDouble() < p.exShare)
          ExForms(r.nextInt(ExForms.size)).format(voice)
        else voice
      val tgid = if (r.nextDouble() < 0.8) s"@user$i" else ""
      val personal = math.min(0.98, math.max(0.05, p.attendShare + (r.nextDouble() - 0.5) * 0.3))
      val lapseFrom =
        if (r.nextDouble() < p.lapsedShare) p.dates - 1 - r.nextInt(math.max(1, p.dates / 4))
        else Int.MaxValue
      val cells = Array.tabulate(p.dates) { d =>
        if (dates(d).isBefore(joined) || d >= lapseFrom) ""
        else {
          val u = r.nextDouble()
          if (u < p.zeroShare) "0"
          else if (u < p.zeroShare + personal)
            numText(Hours(r.nextInt(Hours.size)), r.nextDouble() < p.commaShare)
          else ""
        }
      }
      val id = if (firstOf(name)) s"$name | $joinedRaw" else name
      firstOf += name
      if (!dup && !ovrAt.contains(i)) dupSources += name
      rows += ChoristerRow(tag, joinedRaw, joined.toString, tgid, name, id, cells)
    }

    // Song rows: duplicate titles (D2) and one empty title whose row still
    // takes a position in the D5 link, so the last titled row loses its id.
    val songs = (0 until p.songs).map { k =>
      val title =
        if (k == p.songs / 2) "" else Titles(k % math.max(1, math.min(Titles.size, p.songs - 3)))
      SongRow(title, Array.fill(p.dates)(""))
    }
    for (d <- 0 until p.dates) {
      r.shuffle(songs.indices.toList).take(p.songsPerRehearsal).foreach { k =>
        songs(k).cells(d) = numText(Minutes(r.nextInt(Minutes.size)), r.nextDouble() < p.commaShare)
      }
      // lenient parse drops non-numeric song cells
      if (r.nextDouble() < 0.05) {
        val k = r.nextInt(songs.size)
        if (songs(k).cells(d).isEmpty) songs(k).cells(d) = "x"
      }
    }

    val sb = new StringBuilder
    def line(fields: Seq[String]): Unit = { sb.append(fields.map(csvField).mkString(",")); sb.append('\n') }
    line(Seq("Tag", "Joined", "tgid", "Who") ++ header)
    val ghostAt = (0 until p.ghostRows).map(_ => r.nextInt(p.choristers)).toSet
    rows.zipWithIndex.foreach { case (c, i) =>
      line(Seq(c.tag, c.joinedRaw, c.tgid, c.name) ++ c.cells)
      // a row without a Tag is not a chorister: the pipeline skips it
      if (ghostAt(i)) line(Seq("", "", "", s"Guest $i") ++ Seq.fill(p.dates)(""))
    }
    songs.foreach(s => line(Seq("Song", "", "", s.title) ++ s.cells))
    Sheet(p, header, dateIso, rows.toIndexedSeq, songs, sb.toString.getBytes("UTF-8"))
  }
}
