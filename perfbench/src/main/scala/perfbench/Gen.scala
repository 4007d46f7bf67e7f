package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.SplittableRandom
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}

import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Every stream of the benchmark (vocabulary,
  * corpus text, questions, upload plan) is drawn from its own split of one
  * `SplittableRandom(seed)`, so the same seed gives byte-identical inputs
  * and adding a draw to one stream never shifts another.
  *
  * Text is synthetic prose over a Zipf(s = 1.1) vocabulary: frequent words
  * recur across documents (so embeddings overlap and top-k ranking is not
  * trivial), rare words make chunks distinguishable. Questions draw from the
  * same vocabulary. */
final class Gen(seed: Long) {
  private val root = new SplittableRandom(seed)
  private val vocabRnd = root.split()
  val corpusRnd: SplittableRandom = root.split()
  val questionRnd: SplittableRandom = root.split()
  val planRnd: SplittableRandom = root.split()

  val vocab: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < Gen.VocabSize) {
      val len = 3 + vocabRnd.nextInt(8)
      seen += Iterator.fill(len)(('a' + vocabRnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(vocab.length)(r => 1.0 / math.pow(r + 1.0, 1.1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var i = java.util.Arrays.binarySearch(zipfCdf, u)
    if (i < 0) i = -i - 1
    vocab(math.min(i, vocab.length - 1))
  }

  def sentence(r: SplittableRandom): String = {
    val n = 6 + r.nextInt(12)
    val ws = Array.fill(n)(word(r))
    ws(0) = ws(0).capitalize
    ws.mkString(" ") + "."
  }

  def paragraph(r: SplittableRandom): String =
    Array.fill(2 + r.nextInt(5))(sentence(r)).mkString(" ")

  /** Paragraphs (joined by blank lines) until at least `chars` characters. */
  def paragraphs(r: SplittableRandom, chars: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    var n = 0
    while (n < chars) {
      val p = paragraph(r)
      out += p
      n += p.length + 2
    }
    out.result()
  }

  def question(r: SplittableRandom): String =
    Array.fill(3 + r.nextInt(6))(word(r)).mkString(" ") + "?"

  /** Zipf(s) index over `n` items (rank 0 most likely). */
  def zipfIndex(r: SplittableRandom, n: Int, s: Double = 1.0): Int = {
    val cdf = zipfCache.getOrElseUpdate((n, s), {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val t = w.sum
      var acc = 0.0
      w.map { x => acc += x / t; acc }
    })
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i < 0) -i - 1 else i, n - 1)
  }
  private val zipfCache = scala.collection.mutable.Map.empty[(Int, Double), Array[Double]]

  /** Log-normal size in bytes, median `median`, clamped to [lo, hi]. */
  def logNormalBytes(r: SplittableRandom, median: Double, sigma: Double, lo: Int, hi: Int): Int = {
    // Box-Muller from two uniforms
    val z = math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    math.max(lo, math.min(hi, (median * math.exp(sigma * z)).toInt))
  }
}

object Gen {
  val VocabSize = 5000

  /** The `q` quantile of a log-normal of median `median` and shape `sigma`,
    * clamped to [lo, hi]. */
  def logNormalQuantile(q: Double, median: Double, sigma: Double, lo: Int, hi: Int): Int = {
    val z = new org.apache.commons.math3.distribution.NormalDistribution().inverseCumulativeProbability(q)
    math.max(lo, math.min(hi, (median * math.exp(sigma * z)).toInt))
  }

  /** Formats of the upload stream, in equal shares. */
  val Formats: Vector[String] =
    Vector("txt", "md", "csv", "html", "eml", "docx", "xlsx", "pptx", "pdf")

  /** Encode paragraphs as a file of the given format, with the JDK alone
    * (ZIP + XML for OOXML, a Flate content stream for PDF, RFC 822 for
    * mail). Every encoding keeps the words of the paragraphs, so each
    * format parses back to non-blank text. */
  def encode(fmt: String, title: String, paras: Vector[String]): Array[Byte] = fmt match {
    case "txt" => paras.mkString("\n\n").getBytes(UTF_8)
    case "md" => (s"# $title\n\n" + paras.map(p => s"$p\n").mkString("\n")).getBytes(UTF_8)
    case "csv" =>
      // one record per paragraph; the words carry no commas or quotes
      ("id,title,body\n" + paras.zipWithIndex.map { case (p, i) => s"$i,$title,$p" }
        .mkString("\n") + "\n").getBytes(UTF_8)
    case "html" =>
      (s"<html><head><title>$title</title><style>p { margin: 0 }</style></head><body>" +
        paras.map(p => s"<p>$p</p>").mkString("\n") + "</body></html>").getBytes(UTF_8)
    case "eml" =>
      (s"From: author@example.com\r\nTo: reader@example.com\r\nSubject: $title\r\n" +
        "Date: Tue, 1 Jul 2025 10:00:00 +0000\r\n" +
        "Content-Type: text/plain; charset=UTF-8\r\n\r\n" +
        paras.map(wrap(_, 76).mkString("\r\n")).mkString("\r\n\r\n") + "\r\n").getBytes(UTF_8)
    case "docx" =>
      zip("[Content_Types].xml" -> "<Types/>",
        "word/document.xml" ->
          ("""<?xml version="1.0"?><w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>""" +
            paras.map(p => s"<w:p><w:r><w:t>$p</w:t></w:r></w:p>").mkString +
            "</w:body></w:document>"))
    case "xlsx" =>
      val rows = paras.zipWithIndex.map { case (p, i) =>
        s"""<row r="${i + 1}"><c r="A${i + 1}"><v>$i</v></c><c r="B${i + 1}" t="inlineStr"><is><t>$p</t></is></c></row>"""
      }
      zip("xl/worksheets/sheet1.xml" ->
        ("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
          rows.mkString + "</sheetData></worksheet>"))
    case "pptx" =>
      // four paragraphs per slide
      val slides = paras.grouped(4).zipWithIndex.map { case (ps, i) =>
        s"ppt/slides/slide${i + 1}.xml" ->
          ("""<p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main">""" +
            ps.map(p => s"<a:p><a:r><a:t>$p</a:t></a:r></a:p>").mkString + "</p:sld>")
      }.toSeq
      zip(slides: _*)
    case "pdf" => pdf("BT /F1 10 Tf 12 TL " + paras.map(p => s"($p) '").mkString(" ") + " ET")
  }

  /** A one-page PDF 1.4 as writers emit it: catalog, page tree, page, a
    * Flate content stream with its /Length, a font, the cross-reference
    * table and the trailer. */
  private def pdf(content: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val offsets = ArrayBuffer.empty[Int]
    def raw(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(body: String): Unit = { offsets += out.size(); raw(s"${offsets.size} 0 obj\n$body\nendobj\n") }
    raw("%PDF-1.4\n")
    obj("<< /Type /Catalog /Pages 2 0 R >>")
    obj("<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> >>")
    val data = deflate(content.getBytes(ISO_8859_1))
    offsets += out.size()
    raw(s"4 0 obj\n<< /Length ${data.length} /Filter /FlateDecode >>\nstream\n")
    out.write(data)
    raw("\nendstream\nendobj\n")
    obj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val xref = out.size()
    raw(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => raw(f"$o%010d 00000 n \n"))
    raw(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  private def wrap(p: String, width: Int): Seq[String] = {
    val lines = Seq.newBuilder[String]
    val sb = new StringBuilder
    p.split(' ').foreach { w =>
      if (sb.nonEmpty && sb.length + 1 + w.length > width) { lines += sb.toString; sb.clear() }
      if (sb.nonEmpty) sb.append(' ')
      sb.append(w)
    }
    if (sb.nonEmpty) lines += sb.toString
    lines.result()
  }

  private def zip(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes(UTF_8))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
}
