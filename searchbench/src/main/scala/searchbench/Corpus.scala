package searchbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable

/** One generated document: `tokens` is the ground truth the scorer counts;
  * `text` is what the program sees (capitalised sentence starts and
  * punctuation that the program's normalizer must strip back to `tokens`).
  */
final case class Doc(id: Long, url: String, title: String,
                     tokens: Array[String], text: String)

/** One generated query: `terms` is the ground truth, `text` the string the
  * program receives.
  */
final case class Query(terms: Seq[String], kind: String) {
  def text: String = terms.mkString(" ")
}

/** Seeded WikiExtractor-style corpus generator.
  *
  * Vocabulary: `vocabSize` distinct lowercase `[a-z]` words, never a
  * character four times in a row, so the reference's `filterText` (query
  * side) and the RE2-safe `normalize` (document side) tokenize identically.
  * Word frequencies follow Zipf(s = 1) over the vocabulary's rank order, so
  * the top ranks appear in nearly every document (df ≈ N) and most of the
  * tail is rare or unseen.
  *
  * Every random stream is derived from (seed, stream id), so a document
  * batch or a query list does not depend on what else was generated first.
  */
final class Gen(seed: Long, vocabSize: Int = 50000,
                minTokens: Int = 100, maxTokens: Int = 500) {

  private def rng(stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  private def word(r: SplittableRandom, len: Int): String = {
    val sb = new StringBuilder
    while (sb.length < len) {
      val c = ('a' + r.nextInt(26)).toChar
      val run = sb.length >= 3 && sb.takeRight(3).forall(_ == c)
      if (!run) sb += c
    }
    sb.toString
  }

  /** Vocabulary in rank order (index 0 is the most frequent word). */
  val vocab: IndexedSeq[String] = {
    val r = rng(1)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < vocabSize) seen += word(r, 2 + r.nextInt(8))
    seen.toIndexedSeq
  }
  private val vocabSet = vocab.toSet

  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(i => 1.0 / (i + 1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def sampleRank(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, vocabSize - 1)
  }

  /** Documents with ids `firstId until firstId + n`, from stream `stream`. */
  def docs(stream: Long, firstId: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(1000 + stream)
    (0 until n).map { i =>
      val id = firstId + i
      val toks = Array.fill(minTokens + r.nextInt(maxTokens - minTokens + 1))(vocab(sampleRank(r)))
      val sb = new StringBuilder
      var sentence = 0
      toks.indices.foreach { j =>
        if (j > 0) sb += ' '
        val w = toks(j)
        sb ++= (if (sentence == 0) w.capitalize else w)
        sentence += 1
        if (sentence >= 8 && r.nextInt(6) == 0) { sb ++= (if (r.nextBoolean()) "." else ","); sentence = 0 }
      }
      Doc(id, s"https://en.wikipedia.org/wiki?curid=$id",
        s"Doc $id ${toks(0)} ${toks(toks.length - 1)}", toks, sb.toString)
    }
  }

  /** `n` queries of 1–4 terms over the corpus `docs`, shaped by
    * `Gen.Shapes` in turn: head (rank < 20, df ≈ N), mid (rank 100–2000)
    * and tail (df 1 or 2 in `docs`) terms, a repeated term (qtf > 1), and
    * one query in ten made only of words outside the vocabulary (empty
    * result). The shape of query i is fixed; the seed picks the words, so
    * runs with different seeds serve the same mix, and any `Gen.ShapeCycle`
    * consecutive queries hold all of it.
    */
  def queries(n: Int, docs: Seq[Doc]): IndexedSeq[Query] = {
    val r = rng(2)
    val df = mutable.HashMap[String, Int]()
    docs.foreach(_.tokens.distinct.foreach(w => df(w) = df.getOrElse(w, 0) + 1))
    val tail = vocab.filter(w => df.get(w).exists(_ <= 2))
    require(tail.nonEmpty, "the corpus has no word of df 1 or 2")
    def absent(): String = {
      var w = word(r, 4 + r.nextInt(6))
      while (vocabSet(w)) w = word(r, 4 + r.nextInt(6))
      w
    }
    (0 until n).map { i =>
      val shape = Gen.Shapes(i % Gen.ShapeCycle)
      val terms = shape.foldLeft(Vector.empty[String]) {
        case (ts, "head") => ts :+ vocab(r.nextInt(20))
        case (ts, "mid") => ts :+ vocab(100 + r.nextInt(1900))
        case (ts, "tail") => ts :+ tail(r.nextInt(tail.size))
        case (ts, "repeat") => ts :+ ts.head
        case (ts, _) => ts :+ absent()
      }
      Query(terms, shape.filter(_ != "repeat").distinct.sorted.mkString("+"))
    }
  }

  /** Seeded malformed-line plan for a corpus of `nDocs` lines: about one
    * bad line per 500 documents, at least 3, at seeded positions.
    */
  def malformedPositions(nDocs: Int): Seq[Int] = {
    val r = rng(3)
    val count = math.max(3, nDocs / 500 + r.nextInt(3))
    Seq.fill(count)(r.nextInt(nDocs + 1)).sorted
  }
}

object Gen {
  /** Query shapes, one per query in turn: the class of each term, where
    * `repeat` repeats the query's first term.
    */
  val Shapes: IndexedSeq[Seq[String]] = IndexedSeq(
    Seq("head"), Seq("mid", "tail"), Seq("head", "mid", "tail"), Seq("mid", "head", "repeat"),
    Seq("tail"), Seq("head", "mid"), Seq("mid", "tail", "head", "mid"), Seq("mid"),
    Seq("tail", "mid", "repeat"), Seq("absent", "absent"))
  val ShapeCycle: Int = Shapes.size
}

object Corpus {

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def jsonLine(d: Doc): String =
    s"""{"id":${quote(d.id.toString)},"url":${quote(d.url)},"title":${quote(d.title)},"text":${quote(d.text)}}"""

  /** Lines that are not JSON objects, or are cut off mid-record: the
    * reader's DROPMALFORMED mode must drop each of them. Ids on these
    * lines are never used by a real document.
    */
  private def badLine(i: Int, good: Doc): String = i % 3 match {
    case 0 => jsonLine(good.copy(id = -1L - i)).take(40 + i % 25)
    case 1 => s"""<doc id="${-1L - i}" url="${good.url}">"""
    case _ => s"""{"id":"${-1L - i}","url":"x","title":"t","text":"unterminated"""
  }

  /** Writes `docs` as WikiExtractor JSON-lines shards `AA00`, `AA01`, …
    * under `dir`, with a malformed line planted before each document index
    * in `malformedAt` (an index equal to docs.size lands at the very end).
    * Returns (lines written, bytes written).
    */
  def writeJson(dir: String, docs: IndexedSeq[Doc], shards: Int,
                malformedAt: Seq[Int]): (Int, Long) = {
    Files.createDirectories(Paths.get(dir))
    val bad = malformedAt.groupBy(identity).map { case (k, v) => k -> v.size }
    val perShard = (docs.size + shards - 1) / shards
    var lines = 0
    var bytes = 0L
    var planted = 0
    (0 until shards).foreach { s =>
      val out: Writer = new OutputStreamWriter(new BufferedOutputStream(
        new FileOutputStream(f"$dir/AA$s%02d")), UTF_8)
      def emit(l: String): Unit = {
        out.write(l); out.write('\n'); lines += 1; bytes += l.getBytes(UTF_8).length + 1
      }
      try {
        val from = s * perShard
        val until = math.min(docs.size, from + perShard)
        (from until until).foreach { i =>
          (0 until bad.getOrElse(i, 0)).foreach { _ => emit(badLine(planted, docs(i))); planted += 1 }
          emit(jsonLine(docs(i)))
        }
        if (s == shards - 1)
          (0 until bad.getOrElse(docs.size, 0)).foreach { _ =>
            emit(badLine(planted, docs.last)); planted += 1
          }
      } finally out.close()
    }
    (lines, bytes)
  }

  def writeQueries(path: String, qs: Seq[Query]): Unit =
    Files.write(Paths.get(path), qs.map(_.text).mkString("", "\n", "\n").getBytes(UTF_8))
}
