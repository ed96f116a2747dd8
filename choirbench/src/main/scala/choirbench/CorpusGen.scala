package choirbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One corpus document, in the column layout of the repository's
  * `documents` test table (doc_id, text, lang, source, n_chars). */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** A seeded curation corpus: base documents drawn like the `documents` test
  * table (random words from its 30-word vocabulary, 10 to 100 words, five
  * languages, 20 round-robin sources) plus injected exact duplicates,
  * near duplicates (one word changed) and eval leaks (fresh train-split text
  * carrying a 12-word span of an eval-split document), so that the dedup, connected-component
  * and decontamination stages all have real work. */
final case class Corpus(docs: IndexedSeq[Doc], exact: Int, near: Int, leaks: Int) {
  def share(n: Int): Double = n.toDouble / docs.size

  /** Share of documents whose text repeats an earlier document's, measured
    * on the generated corpus. */
  def measuredExactShare: Double = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    docs.count(d => !seen.add(d.text)).toDouble / docs.size
  }
}

object CorpusGen {
  /** The split rule of graft.functions.Curation.splitAssign with its
    * default cut points: md5 hex prefix below "1a" is test or val. */
  def isEval(text: String): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
    f"${d(0) & 0xff}%02x" < "1a"
  }

  private val Vocab = IndexedSeq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = IndexedSeq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  def generate(base: Int, exactShare: Double, nearShare: Double, leakShare: Double,
      seed: Long): Corpus = {
    val r = new Random(seed)
    def words(n: Int): IndexedSeq[String] = IndexedSeq.fill(n)(Vocab(r.nextInt(Vocab.size)))
    def lang(): String = {
      var u = r.nextDouble()
      Langs.find { case (_, p) => u -= p; u < 0 }.getOrElse(Langs.head)._1
    }
    val out = ArrayBuffer.empty[Doc]
    def add(text: String): Unit = {
      val id = out.size.toLong
      out += Doc(id, text, lang(), s"src${id % 20}", text.length.toLong)
    }
    (0 until base).foreach(_ => add(words(10 + r.nextInt(91)).mkString(" ")))
    val exact = math.round(base * exactShare).toInt
    val near = math.round(base * nearShare).toInt
    val leaks = math.round(base * leakShare).toInt
    (0 until exact).foreach(_ => add(out(r.nextInt(base)).text))
    val long = out.take(base).filter(_.text.count(_ == ' ') >= 40)
    (0 until near).foreach { _ =>
      val w = long(r.nextInt(long.size)).text.split(' ')
      val i = r.nextInt(w.length)
      w(i) = if (w(i) == "dup") "spark" else "dup"
      add(w.mkString(" "))
    }
    // a leak copies a span of an eval-split document into a train-split
    // one, so the decontamination screen has something to remove
    val evalDocs = long.filter(d => isEval(d.text))
    (0 until leaks).foreach { _ =>
      val src = evalDocs(r.nextInt(evalDocs.size)).text.split(' ')
      val at = r.nextInt(src.length - 12)
      var text = ""
      while (text.isEmpty || isEval(text)) {
        val fresh = words(40 + r.nextInt(40))
        val cut = r.nextInt(fresh.size)
        text = (fresh.take(cut) ++ src.slice(at, at + 12) ++ fresh.drop(cut)).mkString(" ")
      }
      add(text)
    }
    Corpus(out.toIndexedSeq, exact, near, leaks)
  }
}
