package graft.ingest

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.Deflater

import org.scalatest.funsuite.AnyFunSuite

/** PdfParser tests against hand-built PDFs: uncompressed and
  * Flate-compressed content streams, escape/octal/nesting in literal
  * strings, TJ arrays, and graceful degradation outside the subset. */
class PdfParserSpec extends AnyFunSuite {

  private def deflate(s: String): Array[Byte] = {
    val d = new Deflater()
    d.setInput(s.getBytes(StandardCharsets.ISO_8859_1)); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Assemble a minimal PDF wrapping the given raw stream bodies. */
  private def pdf(streams: (String, Array[Byte])*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    streams.zipWithIndex.foreach { case ((filter, data), i) =>
      val dict = s"<< /Length ${data.length} $filter >>"
      out.write(s"${i + 1} 0 obj\n$dict\nstream\n".getBytes(StandardCharsets.ISO_8859_1))
      out.write(data)
      out.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    }
    out.write("%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }

  /** PDF-style LZW encoder (MSB-first, 9→12-bit codes, clear/EOD) for
    * fixtures. Emits each code at the width the DECODER will read it at
    * by tracking the decoder's (next, width) state machine exactly —
    * the early-change off-by-ones live in that sync, so the round-trip
    * tests exercise them for real. */
  private def lzwEncode(bytes: Array[Byte], earlyChange: Int = 1): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var acc = 0L; var nbits = 0
    var dNext = 258; var dWidth = 9; var dPrev = false
    def emit(code: Int): Unit = {
      acc = (acc << dWidth) | code; nbits += dWidth
      while (nbits >= 8) { out.write(((acc >>> (nbits - 8)) & 0xff).toInt); nbits -= 8 }
      if (code == 256) { dNext = 258; dWidth = 9; dPrev = false }
      else if (code != 257) {
        if (dPrev && dNext < 4096) dNext += 1
        dPrev = true
        if (dWidth < 12 && dNext + earlyChange >= (1 << dWidth)) dWidth += 1
      }
    }
    val dict = scala.collection.mutable.HashMap.empty[Seq[Byte], Int]
    (0 until 256).foreach(b => dict(Vector(b.toByte)) = b)
    var next = 258
    emit(256)
    var cur = Vector.empty[Byte]
    bytes.foreach { b =>
      val ext = cur :+ b
      if (dict.contains(ext)) cur = ext
      else {
        emit(dict(cur))
        if (next < 4096) { dict(ext) = next; next += 1 }
        cur = Vector(b)
      }
    }
    if (cur.nonEmpty) emit(dict(cur))
    emit(257)
    if (nbits > 0) out.write(((acc << (8 - nbits)) & 0xff).toInt)
    out.toByteArray
  }

  test("LZW decoder reproduces the ISO 32000 7.4.4 worked example") {
    // spec's sample: decimal 45 45 45 45 45 65 45 45 45 66 ("-----A---B")
    // encodes (EarlyChange irrelevant at this size) to the byte sequence
    // below — an implementation-independent ground truth for code
    // packing, the clear code, and the KwKwK (code == next) case
    val encoded = Array(0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01)
      .map(_.toByte)
    val want = "-----A---B".getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfParser.lzwDecode(encoded).map(_.toSeq).contains(want.toSeq))
  }

  test("LZW round-trips through width growth (9→12 bits), both EarlyChange values") {
    val rnd = new java.util.Random(42)
    val data = new Array[Byte](20000)
    rnd.nextBytes(data) // near-incompressible: forces the table past 2048
    for (early <- Seq(0, 1)) {
      val got = PdfParser.lzwDecode(lzwEncode(data, early), early)
      assert(got.map(_.toSeq).contains(data.toSeq), s"earlyChange=$early round-trip broke")
    }
  }

  test("LZWDecode content stream extracts text") {
    val content = "BT (lzw compressed text works) Tj ET"
    val doc = pdf("/Filter /LZWDecode" ->
      lzwEncode(content.getBytes(StandardCharsets.ISO_8859_1)))
    assert(PdfParser.pdf(doc) == Right(Seq("lzw compressed text works")))
  }

  test("a corrupt LZW stream is skipped entirely, never throws") {
    // clear (256) then code 300 while the table holds only 258 entries —
    // a code beyond `next` must refuse, not fabricate output
    val garbage = Array(0x80, 0x4B, 0x00).map(_.toByte)
    assert(PdfParser.lzwDecode(garbage).isEmpty)
    val doc = pdf("/Filter /LZWDecode" -> garbage)
    assert(PdfParser.pdf(doc) == Right(Seq.empty))
  }

  test("uncompressed content stream: Tj and TJ text extracts in order") {
    val content = "BT /F1 12 Tf 72 720 Td (Hello) Tj [(wor) -20 (ld)] TJ ET"
    val doc = pdf("" -> content.getBytes(StandardCharsets.ISO_8859_1))
    assert(PdfParser.pdf(doc) == Right(Seq("Hello wor ld")))
  }

  test("FlateDecode content stream inflates and extracts") {
    val content = "BT (Compressed text works) Tj ET"
    val doc = pdf("/Filter /FlateDecode" -> deflate(content))
    assert(PdfParser.pdf(doc) == Right(Seq("Compressed text works")))
    // deflate output whose last byte is CR: the direct /Length keeps it,
    // where trimming the pre-endstream EOL would truncate the stream
    val crLast = "BT (Carriage return as trailing byte remains whole) Tj ET"
    assert(deflate(crLast).last == '\r')
    assert(PdfParser.pdf(pdf("/Filter /FlateDecode" -> deflate(crLast))) ==
      Right(Seq("Carriage return as trailing byte remains whole")))
  }

  test("literal string escapes: nested parens, octal, backslash escapes") {
    val content = """BT (a \(nested\) \134 pair) Tj (oct\101l) Tj ET"""
    val doc = pdf("" -> content.getBytes(StandardCharsets.ISO_8859_1))
    val Right(Seq(text)) = PdfParser.pdf(doc): @unchecked
    assert(text.contains("a (nested) \\ pair"))
    assert(text.contains("octAl")) // \101 = 'A'
  }

  test("text outside BT/ET is ignored; textless PDFs yield no documents") {
    val content = "(not shown) Tj"
    val doc = pdf("" -> content.getBytes(StandardCharsets.ISO_8859_1))
    assert(PdfParser.pdf(doc) == Right(Seq()))
  }

  test("multiple streams become multiple documents (page-per-stream shape)") {
    val doc = pdf(
      "" -> "BT (page one) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
      "/Filter /FlateDecode" -> deflate("BT (page two) Tj ET"))
    assert(PdfParser.pdf(doc) == Right(Seq("page one", "page two")))
  }

  test("non-PDF bytes and corrupt streams reject or degrade, never throw") {
    assert(PdfParser.pdf("plain text pretending".getBytes).isLeft)
    // valid header, garbage flate data -> stream skipped, no crash
    val bad = pdf("/Filter /FlateDecode" -> Array[Byte](1, 2, 3, 4))
    assert(bad.length > 0)
    assert(PdfParser.pdf(bad) == Right(Seq()))
  }

  test("a truncated Flate stream is skipped entirely, not partially extracted") {
    val full = deflate("BT (visible prefix) Tj (lost suffix) Tj ET")
    // cut the deflate stream mid-way: decodable prefix, missing final block
    val truncated = full.take(full.length / 2)
    val doc = pdf("/Filter /FlateDecode" -> truncated)
    assert(PdfParser.pdf(doc) == Right(Seq()),
      "partial inflate output must not leak into extracted text")
  }

  test("end-to-end: a real Flate PDF uploads ok through the default pipeline") {
    // exercised via IngestPipeline.defaultParsers dispatch in IngestPipelineSpec
    val doc = pdf("/Filter /FlateDecode" -> deflate("BT (ingestable pdf body) Tj ET"))
    assert(IngestPipeline.defaultParsers("pdf")(doc) == Right(Seq("ingestable pdf body")))
  }

  // ------------------------------------------------------------------
  // PDF 1.5+: cross-reference streams, ObjStm, predictors, page tree
  // ------------------------------------------------------------------

  /** Incremental writer tracking byte offsets of each emitted object. */
  private final class Builder {
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    def raw(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def obj(num: Int, body: String): Unit = {
      offsets(num) = out.size()
      raw(s"$num 0 obj\n$body\nendobj\n")
    }
    def streamObj(num: Int, dict: String, data: Array[Byte]): Unit = {
      offsets(num) = out.size()
      raw(s"$num 0 obj\n<< $dict /Length ${data.length} >>\nstream\n")
      out.write(data)
      raw("\nendstream\nendobj\n")
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  /** Rows of (type, field2, field3) packed with widths W = [1 2 1]. */
  private def xrefRows(rows: Seq[(Int, Int, Int)]): Array[Byte] =
    rows.flatMap { case (t, f2, f3) =>
      Seq(t.toByte, ((f2 >> 8) & 0xff).toByte, (f2 & 0xff).toByte, f3.toByte)
    }.toArray

  /** Apply PNG Up-filter (predictor 12) row encoding: prepend filter-type
    * byte 2 and store byte-wise deltas vs the previous row. */
  private def pngUpEncode(data: Array[Byte], cols: Int): Array[Byte] = {
    val rows = data.length / cols
    val out = new ByteArrayOutputStream()
    var prev = new Array[Byte](cols)
    (0 until rows).foreach { r =>
      out.write(2)
      val row = data.slice(r * cols, (r + 1) * cols)
      (0 until cols).foreach(c => out.write((row(c) - prev(c)) & 0xff))
      prev = row
    }
    out.toByteArray
  }

  /** A complete PDF 1.5 file: catalog/pages/page live inside an ObjStm,
    * content is a Flate stream, the xref is a cross-reference stream. */
  private def pdf15(content: String, predictor: Boolean): Array[Byte] = {
    val b = new Builder
    b.raw("%PDF-1.5\n")
    // obj 4: page content (regular Flate stream — never inside an ObjStm)
    val cdata = deflate(content)
    b.streamObj(4, "/Filter /FlateDecode", cdata)
    // obj 5: ObjStm holding catalog(1), pages(2), page(3)
    val o1 = "<< /Type /Catalog /Pages 2 0 R >>"
    val o2 = "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    val o3 = "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
    val hdr = s"1 0 2 ${o1.length + 1} 3 ${o1.length + 1 + o2.length + 1} "
    val payload = s"$o1 $o2 $o3"
    val stmData = deflate(hdr + payload)
    b.streamObj(5, s"/Type /ObjStm /N 3 /First ${hdr.length} /Filter /FlateDecode", stmData)
    // obj 6: cross-reference stream (W = [1 2 1], Size 7)
    val xrefOff = b.out.size()
    val rows = xrefRows(Seq(
      (0, 0, 255),            // 0: free
      (2, 5, 0), (2, 5, 1), (2, 5, 2), // 1-3 live in ObjStm 5
      (1, b.offsets(4), 0), (1, b.offsets(5), 0), (1, xrefOff, 0)))
    val (xdata, parms) =
      if (predictor) (deflate2(pngUpEncode(rows, 4)), " /DecodeParms << /Predictor 12 /Columns 4 >>")
      else (deflate2(rows), "")
    b.streamObj(6,
      s"/Type /XRef /Size 7 /W [1 2 1] /Root 1 0 R /Filter /FlateDecode$parms", xdata)
    b.raw(s"startxref\n$xrefOff\n%%EOF\n")
    b.bytes
  }

  private def deflate2(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  test("PDF 1.5: xref stream + ObjStm page tree extracts text") {
    val doc = pdf15("BT (modern compressed pdf) Tj ET", predictor = false)
    assert(PdfParser.pdf(doc) == Right(Seq("modern compressed pdf")))
  }

  test("PDF 1.5: PNG Up predictor (12) on the xref stream decodes") {
    val doc = pdf15("BT (predicted xref works) Tj ET", predictor = true)
    assert(PdfParser.pdf(doc) == Right(Seq("predicted xref works")))
  }

  test("hex strings <..> decode as single-byte text in content streams") {
    // "Hex 15!" = 48 65 78 20 31 35 21
    val doc = pdf15("BT <48657820313521> Tj ET", predictor = false)
    assert(PdfParser.pdf(doc) == Right(Seq("Hex 15!")))
    // spec: an odd trailing digit pads with 0 → final "2" reads as 0x20
    val odd = pdf15("BT <4865782031352> Tj ET", predictor = false)
    assert(PdfParser.pdf(odd) == Right(Seq("Hex 15")))
  }

  test("marked-content property dicts inside BT/ET are not mistaken for hex") {
    val doc = pdf15("BT /P <</MCID 0>> BDC (marked body) Tj EMC ET", predictor = false)
    assert(PdfParser.pdf(doc) == Right(Seq("marked body")))
  }

  test("classic xref table + trailer also routes through the page tree") {
    val b = new Builder
    b.raw("%PDF-1.4\n")
    b.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    b.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    val data = deflate("BT (classic xref body) Tj ET")
    b.streamObj(4, "/Filter /FlateDecode", data)
    // decoy stream NOT referenced by any page: the page tree must skip it
    b.streamObj(9, "", "BT (unreferenced decoy) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val xref = b.out.size()
    b.raw("xref\n0 5\n0000000000 65535 f \n")
    (1 to 4).foreach(n => b.raw(f"${b.offsets(n)}%010d 00000 n \n"))
    b.raw(s"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    assert(PdfParser.pdf(b.bytes) == Right(Seq("classic xref body")),
      "page-tree extraction must include only /Contents streams")
  }

  test("incremental update: xref chain resolves the LIVE object only") {
    val b = new Builder
    b.raw("%PDF-1.4\n")
    b.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    b.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    b.streamObj(4, "", "BT (superseded revision) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val xref1 = b.out.size()
    b.raw("xref\n0 5\n0000000000 65535 f \n")
    (1 to 4).foreach(n => b.raw(f"${b.offsets(n)}%010d 00000 n \n"))
    b.raw(s"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n$xref1\n%%EOF\n")
    // incremental update: replace object 4, chain via /Prev
    b.streamObj(4, "", "BT (current revision) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val xref2 = b.out.size()
    b.raw("xref\n0 1\n0000000000 65535 f \n4 1\n")
    b.raw(f"${b.offsets(4)}%010d 00001 n \n")
    b.raw(s"trailer\n<< /Size 5 /Root 1 0 R /Prev $xref1 >>\nstartxref\n$xref2\n%%EOF\n")
    assert(PdfParser.pdf(b.bytes) == Right(Seq("current revision")),
      "a linear scan would also surface the superseded text; xref must not")
  }

  test("multi-stream /Contents arrays concatenate into one page text") {
    val b = new Builder
    b.raw("%PDF-1.4\n")
    b.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    b.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.obj(3, "<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>")
    b.streamObj(4, "", "BT (first half".getBytes(StandardCharsets.ISO_8859_1))
    b.streamObj(5, "", ") Tj (second half) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val xref = b.out.size()
    b.raw("xref\n0 6\n0000000000 65535 f \n")
    (1 to 5).foreach(n => b.raw(f"${b.offsets(n)}%010d 00000 n \n"))
    b.raw(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    val Right(Seq(text)) = PdfParser.pdf(b.bytes): @unchecked
    assert(text.contains("second half"))
  }

  test("an explicit empty /Filter [] means uncompressed, not Flate") {
    val b = new Builder
    b.raw("%PDF-1.4\n")
    b.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    b.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    b.streamObj(4, "/Filter []", "BT (legal empty filter array) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val xref = b.out.size()
    b.raw("xref\n0 5\n0000000000 65535 f \n")
    (1 to 4).foreach(n => b.raw(f"${b.offsets(n)}%010d 00000 n \n"))
    b.raw(s"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    assert(PdfParser.pdf(b.bytes) == Right(Seq("legal empty filter array")))
  }

  test("text inside /Subtype /Form XObjects is extracted (stamped PDFs)") {
    val b = new Builder
    b.raw("%PDF-1.4\n")
    b.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    b.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources << /XObject << /Fm0 5 0 R >> >> >>")
    b.streamObj(4, "", "/Fm0 Do".getBytes(StandardCharsets.ISO_8859_1)) // page just draws the form
    b.streamObj(5, "/Type /XObject /Subtype /Form",
      "BT (flattened form text) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val xref = b.out.size()
    b.raw("xref\n0 6\n0000000000 65535 f \n")
    (1 to 5).foreach(n => b.raw(f"${b.offsets(n)}%010d 00000 n \n"))
    b.raw(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    assert(PdfParser.pdf(b.bytes) == Right(Seq("flattened form text")))
  }

  test("classic xref entries with single-char EOLs (19 bytes) still reach the trailer") {
    val b = new Builder
    b.raw("%PDF-1.4\n")
    b.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    b.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    b.streamObj(4, "", "BT (narrow eol entries) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val xref = b.out.size()
    b.raw("xref\n0 5\n0000000000 65535 f\n") // 19-byte entries
    (1 to 4).foreach(n => b.raw(f"${b.offsets(n)}%010d 00000 n\n"))
    b.raw(s"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    assert(PdfParser.pdf(b.bytes) == Right(Seq("narrow eol entries")))
  }

  test("annotation appearance streams are extracted (signature stamps, field rendering)") {
    val b = new Builder
    b.raw("%PDF-1.4\n")
    b.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    b.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Annots [5 0 R] >>")
    b.streamObj(4, "", "BT (body) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    b.obj(5, "<< /Type /Annot /Subtype /Widget /AP << /N 6 0 R >> >>")
    b.streamObj(6, "/Type /XObject /Subtype /Form",
      "BT (signed by example) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val xref = b.out.size()
    b.raw("xref\n0 7\n0000000000 65535 f \n")
    (1 to 6).foreach(n => b.raw(f"${b.offsets(n)}%010d 00000 n \n"))
    b.raw(s"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    assert(PdfParser.pdf(b.bytes) == Right(Seq("body", "signed by example")))
  }

  test("orphan and unreferenced form objects are NOT extracted; empty structured result is authoritative") {
    // a live page with an EMPTY content stream, plus an orphan stream full
    // of text that no page references (the shape a superseded revision or
    // a freed stamp leaves behind): the structured parse succeeds, so the
    // orphan text must not be resurrected — neither via the linear-scan
    // fallback nor via a form walk over the raw object table
    val b = new Builder
    b.raw("%PDF-1.4\n")
    b.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    b.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    b.streamObj(4, "", Array.emptyByteArray)
    b.streamObj(5, "/Type /XObject /Subtype /Form",
      "BT (ghost of a deleted stamp) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val xref = b.out.size()
    b.raw("xref\n0 6\n0000000000 65535 f \n")
    (1 to 5).foreach(n => b.raw(f"${b.offsets(n)}%010d 00000 n \n"))
    b.raw(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    assert(PdfParser.pdf(b.bytes) == Right(Seq.empty))
  }

  test("hostile structures degrade instead of crashing the task") {
    // (a) ObjStm that claims to contain itself: xref maps 5 -> InObjStm(5)
    val b = new Builder
    b.raw("%PDF-1.5\n")
    val rows = xrefRows(Seq((0, 0, 255), (2, 5, 0), (1, 0, 0), (1, 0, 0), (1, 0, 0), (2, 5, 1)))
    b.streamObj(6, "/Type /XRef /Size 7 /W [1 2 1] /Root 1 0 R /Filter /FlateDecode",
      deflate2(rows))
    val xo = b.offsets(6)
    b.raw(s"startxref\n$xo\n%%EOF\n")
    assert(PdfParser.pdf(b.bytes).isRight, "self-referential ObjStm must not recurse")

    // (b) a content body of deeply nested arrays must not blow the stack
    val deep = "[" * 200000
    val doc = pdf("" -> s"BT (survives) Tj ET $deep".getBytes(StandardCharsets.ISO_8859_1))
    assert(PdfParser.pdf(doc) == Right(Seq("survives")))

    // (c) a classic trailer whose /XRefStm points at its own section AND
    // whose dict carries a deeply nested array (hits the object Lexer)
    val c = new Builder
    c.raw("%PDF-1.4\n")
    c.streamObj(4, "", "BT (cyclic xrefstm) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val xref = c.out.size()
    c.raw("xref\n0 1\n0000000000 65535 f \n")
    c.raw(s"trailer\n<< /Size 1 /XRefStm $xref /Junk ${"[" * 100000} >>\nstartxref\n$xref\n%%EOF\n")
    assert(c.bytes.length > 0 && PdfParser.pdf(c.bytes).isRight)
  }

  // ------------------------------------------------------------------
  // composite (Type0/CID) fonts and ToUnicode CMaps
  // ------------------------------------------------------------------

  /** Classic-xref PDF whose single page selects font objects by name;
    * `fonts` maps resource name → font dict body (object numbers 10+). */
  private def pdfWithFonts(content: String, fonts: (String, String)*)(
      extraObjs: Builder => Unit = _ => ()): Array[Byte] = {
    val b = new Builder
    b.raw("%PDF-1.4\n")
    b.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    b.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    val fontRefs = fonts.zipWithIndex
      .map { case ((name, _), k) => s"/$name ${10 + k} 0 R" }.mkString(" ")
    b.obj(3, s"<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      s"/Resources << /Font << $fontRefs >> >> >>")
    b.streamObj(4, "/Filter /FlateDecode", deflate(content))
    fonts.zipWithIndex.foreach { case ((_, body), k) => b.obj(10 + k, body) }
    extraObjs(b)
    val xref = b.out.size()
    val top = b.offsets.keys.max
    b.raw(s"xref\n0 ${top + 1}\n0000000000 65535 f \n")
    (1 to top).foreach(n =>
      b.raw(f"${b.offsets.getOrElse(n, 0)}%010d 00000 n \n"))
    b.raw(s"trailer\n<< /Size ${top + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    b.bytes
  }

  private val HefgCmap =
    """/CIDInit /ProcSet findresource begin begincmap
      |1 begincodespacerange <0000> <FFFF> endcodespacerange
      |1 beginbfchar
      |<0001> <0048>
      |endbfchar
      |1 beginbfrange
      |<0002> <0004> <0065>
      |endbfrange
      |endcmap end""".stripMargin

  test("Type0 font: 2-byte hex codes map through the ToUnicode CMap") {
    // <0001>→H (bfchar), <0002..0004>→e,f,g (incrementing bfrange)
    val doc = pdfWithFonts(
      "BT /F1 12 Tf <0001000200030004> Tj ET",
      "F1" -> ("<< /Type /Font /Subtype /Type0 /BaseFont /X " +
        "/Encoding /Identity-H /ToUnicode 20 0 R >>")) { b =>
      b.streamObj(20, "", HefgCmap.getBytes(StandardCharsets.ISO_8859_1))
    }
    assert(PdfParser.pdf(doc) == Right(Seq("Hefg")))
  }

  test("Type0 font: literal strings carry 2-byte codes too (octal escapes)") {
    val doc = pdfWithFonts(
      "BT /F1 12 Tf (\u0000\u0001\u0000\u0002) Tj ET",
      "F1" -> ("<< /Type /Font /Subtype /Type0 /BaseFont /X " +
        "/Encoding /Identity-H /ToUnicode 20 0 R >>")) { b =>
      b.streamObj(20, "", HefgCmap.getBytes(StandardCharsets.ISO_8859_1))
    }
    assert(PdfParser.pdf(doc) == Right(Seq("He")))
  }

  test("Type0 without ToUnicode yields no text, never glyph-id mojibake") {
    val doc = pdfWithFonts(
      "BT /F1 12 Tf <00010002> Tj ET",
      "F1" -> "<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding /Identity-H >>")()
    assert(PdfParser.pdf(doc) == Right(Seq.empty))
  }

  test("simple font with a partial ToUnicode remaps mapped codes, passes the rest") {
    val cmap =
      """1 beginbfchar
        |<41> <0058>
        |endbfchar""".stripMargin // only 'A' remaps (to X)
    val doc = pdfWithFonts(
      "BT /F1 9 Tf (cAt) Tj ET",
      "F1" -> "<< /Type /Font /Subtype /TrueType /ToUnicode 20 0 R >>") { b =>
      b.streamObj(20, "", cmap.getBytes(StandardCharsets.ISO_8859_1))
    }
    assert(PdfParser.pdf(doc) == Right(Seq("cXt")))
  }

  test("Tf switches decoders mid-page; unknown names fall back to Latin-1") {
    val doc = pdfWithFonts(
      "BT /F1 12 Tf <0001> Tj /F9 8 Tf (plain) Tj ET",
      "F1" -> ("<< /Type /Font /Subtype /Type0 /BaseFont /X " +
        "/Encoding /Identity-H /ToUnicode 20 0 R >>")) { b =>
      b.streamObj(20, "", HefgCmap.getBytes(StandardCharsets.ISO_8859_1))
    }
    assert(PdfParser.pdf(doc) == Right(Seq("H plain")))
  }

  test("parseToUnicode: array-form ranges, multi-unit (ligature) targets") {
    val m = PdfParser.parseToUnicode(
      """2 beginbfchar
        |<0007> <00660066>
        |<0008> <0041>
        |endbfchar
        |1 beginbfrange
        |<0005> <0006> [<0058> <0059>]
        |endbfrange""".stripMargin)
    assert(m(0x0007) == "ff") // two UTF-16 units from one code
    assert(m(0x0008) == "A")
    assert(m(0x0005) == "X" && m(0x0006) == "Y")
  }

  test("pngUnfilter inverts all five PNG row filters") {
    val raw = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80)
    // encode rows with Up (2) then verify round trip via the decoder
    val enc = pngUpEncode(raw, 4)
    assert(PdfParser.pngUnfilter(enc, 4, 1).toSeq == raw.toSeq)
    // Sub filter (1): delta vs previous byte in the same row
    val sub = Array[Byte](1, 10, 10, 10, 10) // decodes to 10,20,30,40
    assert(PdfParser.pngUnfilter(sub, 4, 1).toSeq == Seq[Byte](10, 20, 30, 40))
    // Paeth (4) first row degenerates to Sub; Average (3) to half-left
    val paeth = Array[Byte](4, 5, 5, 5, 5)
    assert(PdfParser.pngUnfilter(paeth, 4, 1).toSeq == Seq[Byte](5, 10, 15, 20))
    val avg = Array[Byte](3, 8, 8, 8, 8)
    assert(PdfParser.pngUnfilter(avg, 4, 1).toSeq == Seq[Byte](8, 12, 14, 15))
  }
}
