package perfbench

import java.util.SplittableRandom

import graft.lake.DocumentFetcher

/** Seeded input generators. Every generator is a pure function of its seed
  * (and of the id it is asked for), so the same seed gives byte-identical
  * inputs in any JVM, on any core count. */
object Gen {

  /** SplitMix64 finaliser: decorrelates (seed, id) pairs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(mix(seed, stream))

  /** Fisher-Yates permutation of `xs`, driven by `seed`. */
  def permute[A](xs: Seq[A], seed: Long): Seq[A] = {
    val a = xs.toArray[Any]
    val r = rng(seed, 0x5045524DL)
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }
}

/** What the ingest path must report for one id — the generator's ground
  * truth. `body` is the exact body text a correct marker split yields. */
sealed trait Expect
object Expect {
  case object DownloadFailed extends Expect
  case object MarkerSplitFailed extends Expect
  final case class Downloaded(body: String) extends Expect
}

/** Project-Gutenberg-shaped documents, served as the ingest path's
  * [[DocumentFetcher]].
  *
  * Per id (all decisions drawn from `mix(seed, id)`):
  *  - [[GutenbergDocs.FailShare]] of ids fail to fetch (`None`);
  *  - [[GutenbergDocs.MarkerlessShare]] are malformed: no start marker, no
  *    end marker, or the end marker before the start marker;
  *  - the rest carry a start and an end marker, each independently in its
  *    `OF THE` or `OF THIS` spelling;
  *  - body size is log-normal: median `medianBytes`, shape
  *    [[GutenbergDocs.Sigma]], capped at [[GutenbergDocs.MaxBytes]], as
  *    Gutenberg texts are (a few KB to ~1 MB).
  * Text is mostly ASCII prose with some Latin-1 and typographic
  * characters, CRLF line ends and a trailing licence block. */
final class GutenbergDocs(val seed: Long, val medianBytes: Int = 24000)
    extends DocumentFetcher {

  import GutenbergDocs._

  private def draw(id: Long): SplittableRandom = Gen.rng(seed, id)

  /** 0 = fetch fails, 1 = malformed markers, 2 = well-formed. */
  private def kind(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    if (u < FailShare) 0 else if (u < FailShare + MarkerlessShare) 1 else 2
  }

  override def fetch(id: Long): Option[String] = render(id).map(_._1)

  def expect(id: Long): Expect = render(id) match {
    case None => Expect.DownloadFailed
    case Some((_, None)) => Expect.MarkerSplitFailed
    case Some((_, Some(body))) => Expect.Downloaded(body)
  }

  /** Whether `id` ingests cleanly, without rendering its text. */
  def ingestible(id: Long): Boolean = kind(draw(id)) == 2

  /** (text, expected body or None when the split must reject it). */
  private def render(id: Long): Option[(String, Option[String])] = {
    val r = draw(id)
    val k = kind(r)
    if (k == 0) return None
    val title = titleFor(r)
    val startM = if (r.nextBoolean()) StartThe else StartThis
    val endM = if (r.nextBoolean()) EndThe else EndThis
    val target = math.min(MaxBytes.toDouble,
      medianBytes * math.exp(Sigma * gaussian(r))).toInt.max(200)
    val body = prose(r, target)
    val header =
      s"The Project Gutenberg eBook of $title\r\n\r\n" +
        "This ebook is for the use of anyone anywhere in the United States " +
        "and most other parts of the world at no cost.\r\n\r\n" +
        s"Title: $title\r\n\r\nAuthor: ${word(r).capitalize} " +
        s"${word(r).capitalize}\r\n\r\nRelease date: ${1990 + r.nextInt(35)}" +
        s" [eBook #$id]\r\n\r\nLanguage: English\r\n\r\n"
    val start = s"$startM ${title.toUpperCase} ***"
    val end = s"$endM ${title.toUpperCase} ***"
    val licence = "\r\n\r\nUpdated editions will replace the previous one." +
      "\r\n\r\nSTART: FULL LICENSE\r\n"
    if (k == 1) {
      val text = r.nextInt(3) match {
        case 0 => header + body + "\r\n\r\n" + end + licence
        case 1 => header + start + "\r\n\r\n" + body + licence
        case _ => header + end + "\r\n\r\n" + body + "\r\n\r\n" + start +
          licence
      }
      Some((text, None))
    } else {
      val text = header + start + "\r\n\r\n" + body + "\r\n\r\n" + end + licence
      // the reference rule, restated on plain strings: the body runs from
      // just after the start marker's fixed prefix to the last end marker
      val s = text.indexOf(startM) + startM.length
      val e = text.lastIndexOf(endM)
      Some((text, Some(text.substring(s, e).strip())))
    }
  }
}

object GutenbergDocs {
  val FailShare = 0.02
  val MarkerlessShare = 0.10
  val Sigma = 1.2
  val MaxBytes: Int = 1 << 20

  val StartThe = "*** START OF THE PROJECT GUTENBERG EBOOK"
  val StartThis = "*** START OF THIS PROJECT GUTENBERG EBOOK"
  val EndThe = "*** END OF THE PROJECT GUTENBERG EBOOK"
  val EndThis = "*** END OF THIS PROJECT GUTENBERG EBOOK"

  private val Words: Array[String] = (
    "the of and to a in that he was it his is with as had for you not " +
      "be her on at by which have or from this him but all she they were " +
      "my are me one their so an said them we who would been will no " +
      "when there if more out up into do any your what has man could " +
      "other than our some very time upon about may its only now like " +
      "little then can should made did us such great before must two " +
      "these see know over much down after first good men own never " +
      "most old shall day where those came come himself way work life " +
      "without go make well through being long say might how am too " +
      "even again many back here think every people went same last " +
      "thought away under take found hand eyes still place while just " +
      "also young yet though against things get ever give god years off " +
      "face nothing right once another left part saw house world head " +
      "three took new love always mrs put night each king between tell " +
      "mind heart few because thing whom far seemed looked called whole " +
      "de set table café naïve façade rôle œuvre señor über déjà").split(' ')

  private def word(r: SplittableRandom): String =
    Words(r.nextInt(Words.length))

  private def titleFor(r: SplittableRandom): String =
    (0 until 2 + r.nextInt(4)).map(_ => word(r).capitalize).mkString(" ")

  /** Standard normal draw (Box-Muller, one of the pair). */
  private def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Sentences wrapped at ~70 columns with CRLF, paragraphs separated by
    * blank lines, until at least `targetBytes` chars. */
  private def prose(r: SplittableRandom, targetBytes: Int): String = {
    val sb = new java.lang.StringBuilder(targetBytes + 128)
    var col = 0
    var sentence = 0
    while (sb.length < targetBytes) {
      val n = 4 + r.nextInt(18)
      var i = 0
      while (i < n) {
        var w = word(r)
        if (i == 0) w = w.capitalize
        if (i == n - 1) w += (if (r.nextInt(8) == 0) "?" else ".")
        else if (r.nextInt(9) == 0) w += ","
        if (r.nextInt(40) == 0) w = "“" + w + "”"
        if (col + w.length > 70) { sb.append("\r\n"); col = 0 }
        else if (col > 0) { sb.append(' '); col += 1 }
        sb.append(w)
        col += w.length
        i += 1
      }
      sentence += 1
      if (sentence % (3 + r.nextInt(6)) == 0) { sb.append("\r\n\r\n"); col = 0 }
    }
    sb.toString.strip()
  }
}
