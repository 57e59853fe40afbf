package perfbench

import java.sql.Timestamp
import scala.collection.mutable

import graft.corpus.PageRow
import graft.text.{Porter, Stopwords}

/** Seeded splitmix64 stream: the same seed gives the same inputs. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def shuffle[T](xs: IndexedSeq[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toVector.asInstanceOf[Vector[T]]
  }
}

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  def sample(r: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** The pages corpus of the `index-serve` workload.
  *
  * BenchCorpus cannot serve here: its 18-word vocabulary puts every word in
  * every page, so every tf-idf weight is 0 and every document length is 0.
  * This corpus draws body text from a Zipf vocabulary of synthetic terms
  * (vowel-free, so Porter stemming leaves them unchanged and each query
  * term resolves to itself), puts three navigation terms on every page,
  * and makes a fixed share of pages navigation-only. Those pages have
  * document length 0 (each of their terms is in every page, idf 0).
  *
  * Link graph, as in BenchCorpus: Zipf-sized hosts, the seed page links
  * every host root and directory page, each directory page links a slice
  * of its host, and every page links a few popular pages (low indices of a
  * host are linked more), so PageRank is not flat. Every link target is a
  * page of the corpus, so the crawl's seen set is the whole corpus. */
object ServeCorpus {
  final case class Shape(pages: Int, hosts: Int, vocab: Int, seed: Long,
                         navOnlyShare: Double = 0.02, dirSpan: Int = 64)

  private val consonants = "bcdfghjklmnpqrtvwxz" // no vowels, no s/y

  /** Vocabulary term `i`: "k" + four base-19 consonant digits. */
  def term(i: Int): String = {
    val sb = new StringBuilder("k")
    var x = i
    (0 until 4).foreach { _ => sb.append(consonants(x % 19)); x /= 19 }
    sb.toString
  }

  /** Navigation terms, present on every page. */
  val nav: Vector[String] = Vector("zhmpg", "zntct", "zbtrm")

  def url(host: Int, i: Int): String =
    if (i == 0) s"https://sv$host.test/" else s"https://sv$host.test/p$i.html"
  val seedUrl: String = url(0, 0)
  val filter: String = ".test/"

  final case class Generated(pages: Vector[PageRow], bodies: Vector[Vector[String]])

  def generate(shape: Shape): Generated = {
    require(shape.vocab <= 19 * 19 * 19 * 19)
    (nav ++ (0 until 32).map(term)).foreach { t =>
      require(Porter.stripAffixes(t) == t && !Stopwords.isStop(t), t)
    }
    val r = new Rng(shape.seed)
    val zipfWords = new Zipf(shape.vocab, 1.0)
    val hostW = Array.tabulate(shape.hosts)(h => 1.0 / (h + 1))
    val counts = hostW.map(w => math.max(4, (w / hostW.sum * shape.pages).toInt))
    val popular = new Zipf(64, 1.2)
    val pages = Vector.newBuilder[PageRow]
    val bodies = Vector.newBuilder[Vector[String]]
    var gid = 0L
    for (h <- 0 until shape.hosts; i <- 0 until counts(h)) {
      val n = counts(h)
      val u = url(h, i)
      val isNavOnly = i > 0 && gid % math.round(1 / shape.navOnlyShare) == 7
      val sb = new StringBuilder("<html><head><title>")
      val body = if (isNavOnly) Vector.empty[String] else
        Vector.fill(40 + r.nextInt(80))(term(zipfWords.sample(r)))
      if (isNavOnly) sb.append(nav.mkString(" "))
      else sb.append(Vector.fill(2)(term(zipfWords.sample(r))).mkString(" "))
      sb.append("</title></head><body>")
      body.grouped(20).foreach(p => sb.append("<p>").append(p.mkString(" ")).append("</p>"))
      def a(href: String): Unit = sb.append("<a href=\"").append(href).append("\">l</a>")
      val nDirs = (n + shape.dirSpan - 1) / shape.dirSpan
      if (i == 0 && h == 0) (0 until shape.hosts).foreach { oh =>
        a(url(oh, 0))
        (1 to math.min((counts(oh) + shape.dirSpan - 1) / shape.dirSpan, counts(oh) - 1))
          .foreach(j => a(url(oh, j)))
      }
      if (i == 0) (1 to math.min(nDirs, n - 1)).foreach(j => a(url(h, j)))
      if (i >= 1 && i <= nDirs) {
        val lo = (i - 1) * shape.dirSpan
        (lo until math.min(lo + shape.dirSpan, n)).foreach(j => if (j != i) a(url(h, j)))
      }
      (0 until 2 + r.nextInt(6)).foreach { _ =>
        if (r.nextInt(5) == 0) { val oh = r.nextInt(shape.hosts); a(url(oh, popular.sample(r) % counts(oh))) }
        else a(url(h, popular.sample(r) % n))
      }
      sb.append("<p>").append(nav.mkString(" ")).append("</p></body></html>")
      val html = sb.toString
      pages += PageRow(u, new Timestamp(1546300800000L + gid * 1000L),
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        graft.html.Html.parse(html).text, "en")
      bodies += body
      gid += 1
    }
    Generated(pages.result(), bodies.result())
  }

  /** Query classes of the serve mix, with their share in every block of 20
    * serves (miss 1, tail 6, head 6, multi 3, phrase 3, zero_len 1). The
    * shares keep p50 inside the single-term classes and p90 inside the
    * phrase class. */
  val classes: Vector[(String, Int)] = Vector(
    "miss" -> 1, "tail" -> 6, "head" -> 6, "multi" -> 3, "phrase" -> 3, "zero_len" -> 1)
  val blockSize: Int = classes.map(_._2).sum

  /** Distinct queries per class, drawn from the generated pages. */
  def queryPools(g: Generated, seed: Long, perClass: Int): Map[String, Vector[String]] = {
    val r = new Rng(seed ^ 0x5eedL)
    val df = mutable.HashMap.empty[String, Int]
    g.bodies.foreach(_.distinct.foreach(t => df(t) = df.getOrElse(t, 0) + 1))
    val byDf = df.toVector.sortBy { case (t, d) => (-d, t) }
    val head = byDf.take(perClass * 2).map(_._1)
    val tail = byDf.filter { case (_, d) => d >= 2 && d <= 8 }.map(_._1)
    def pick(xs: Vector[String], k: Int): Vector[String] = r.shuffle(xs).take(k)
    val withBody = g.bodies.filter(_.size >= 2)
    val phrases = Vector.fill(perClass) {
      val b = withBody(r.nextInt(withBody.size))
      val i = r.nextInt(b.size - 1)
      "\"" + b(i) + " " + b(i + 1) + "\""
    }
    Map(
      "miss" -> Vector.tabulate(perClass)(i => "zqqx" + term(i).drop(1)),
      "tail" -> pick(tail, perClass),
      "head" -> pick(head, perClass),
      "multi" -> Vector.fill(perClass)(
        Seq(head(r.nextInt(head.size)), tail(r.nextInt(tail.size)),
          tail(r.nextInt(tail.size))).take(2 + r.nextInt(2)).mkString(" ")),
      "phrase" -> phrases,
      "zero_len" -> Vector.tabulate(perClass)(i => nav(i % nav.size)))
  }

  /** The serve schedule: `blocks` blocks of 20, each holding every class at
    * its share in seeded order; each query is drawn from its class pool. */
  def schedule(pools: Map[String, Vector[String]], seed: Long, blocks: Int)
      : Vector[(String, String)] = {
    val r = new Rng(seed ^ 0x9a11L)
    Vector.fill(blocks) {
      r.shuffle(classes.flatMap { case (c, k) => Vector.fill(k)(c) })
        .map(c => c -> pools(c)(r.nextInt(pools(c).size)))
    }.flatten
  }
}

/** The `documents` table of the `dedup-ops` workload (schema of the
  * repo's documents.parquet: doc_id, text, lang, source, n_chars). A
  * stated share of documents are planted near-duplicates: a copy of an
  * earlier base document with a few word substitutions, so every near-dup
  * op has true pairs to find. */
object Documents {
  final case class Shape(docs: Int, seed: Long, nearDupShare: Double = 0.2,
                         vocab: Int = 4000)

  final case class Doc(docId: Long, text: String, lang: String, source: String,
                       nChars: Long)

  private val letters = "abcdefghijklmnopqrstuvwxyz"
  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 27
    while (x > 0) { sb.append(letters(x % 26)); x /= 26 }
    sb.append(letters(i % 7)).toString
  }

  /** Only the words depend on the seed: document lengths, the number of
    * near-duplicates (each of a distinct base document, so every planted
    * cluster is one pair) and the edits per copy are fixed, so every seed
    * gives the ops the same amount of work. */
  def generate(shape: Shape): Vector[Doc] = {
    val r = new Rng(shape.seed ^ 0xd0c5L)
    val z = new Zipf(shape.vocab, 1.0)
    val nDup = (shape.docs * shape.nearDupShare).toInt
    val nBase = shape.docs - nDup
    val base = Vector.tabulate(nBase)(i => Vector.fill(40 + (i * 37) % 41)(word(z.sample(r))))
    val dups = r.shuffle(base.indices).take(nDup).map { b =>
      var d = base(b)
      (0 until 3).foreach(_ => d = d.updated(r.nextInt(d.size), word(z.sample(r))))
      d
    }
    r.shuffle(base ++ dups).zipWithIndex.map { case (toks, i) =>
      val text = toks.mkString(" ")
      Doc(i.toLong, text, "en", s"src${i % 7}", text.length.toLong)
    }
  }
}
