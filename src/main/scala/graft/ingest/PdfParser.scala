package graft.ingest

import java.nio.charset.StandardCharsets
import java.util.zip.Inflater

import scala.collection.mutable

/** PDF text extraction, pure JDK.
  *
  * Two tiers, mirroring how real files are laid out:
  *
  *  1. **Structured path** (PDF 1.0-1.7, incl. 1.5+ compressed files):
  *     parse `startxref` → the cross-reference (classic `xref` tables OR
  *     PDF 1.5 cross-reference *streams* with `/W` field widths, `/Index`
  *     subsections and PNG predictors), follow `/Prev` chains and hybrid
  *     `/XRefStm` pointers, expand `/Type /ObjStm` compressed object
  *     streams, then walk `/Root` → `/Pages` → page tree and extract each
  *     page's `/Contents` in document order. Because the xref names the
  *     *live* object generation, incrementally-updated files extract only
  *     the current text, not superseded revisions.
  *  2. **Fallback path**: if the file has no usable xref (hand-built or
  *     damaged files), scan `stream ... endstream` spans linearly — the
  *     pre-1.5 behavior.
  *
  * Text operators covered: Tj, ', ", TJ with literal `(..)` strings
  * (escapes, octal, nesting) and hex `<..>` strings. Shown strings decode
  * through the font selected by `Tf`: simple fonts read single-byte codes
  * (through their /ToUnicode CMap when present, Latin-1 otherwise), and
  * CID/Type0 composite fonts read TWO-byte codes mapped through their
  * /ToUnicode CMap (`beginbfchar`/`beginbfrange`, incl. array-form
  * ranges) — the composite-font layout nearly every real-world generator
  * emits. A Type0 font with no ToUnicode (glyph ids only) yields no text
  * for its runs, never mojibake; Flate and LZW content filters decode
  * natively, DCT and encryption stay out of subset — out-of-subset pages
  * degrade to no text, never a crash; corrupt structure degrades to the
  * fallback scan, then `parse_error`.
  *
  * Reference capability matched: pypdf text extraction used by the upload
  * loader (/root/reference/helper/multiple_document_upload.py:36-44).
  */
object PdfParser {

  // ---------------------------------------------------------------- model

  private sealed trait Obj
  private final case class PNum(v: Double) extends Obj { def i: Int = v.toInt; def l: Long = v.toLong }
  private final case class PStr(v: String) extends Obj
  private final case class PName(v: String) extends Obj
  private final case class PBool(v: Boolean) extends Obj
  private case object PNull extends Obj
  private final case class PArr(v: Vector[Obj]) extends Obj
  private final case class PDict(v: Map[String, Obj]) extends Obj {
    def get(k: String): Option[Obj] = v.get(k)
  }
  private final case class PRef(num: Int, gen: Int) extends Obj
  private final case class PStream(dict: PDict, raw: Array[Byte]) extends Obj

  /** Where an object body lives: directly at a byte offset, or at slot
    * `idx` inside the object stream numbered `objStm`. */
  private sealed trait Loc
  private final case class AtOffset(off: Long) extends Loc
  private final case class InObjStm(objStm: Int, idx: Int) extends Loc

  // ---------------------------------------------------------------- entry

  val pdf: IngestPipeline.Parser = bytes => {
    if (bytes.length < 8 || !new String(bytes, 0, 5, StandardCharsets.ISO_8859_1).startsWith("%PDF-"))
      Left("not a PDF (missing %PDF- header)")
    else
      try {
        val s = new String(bytes, StandardCharsets.ISO_8859_1)
        val structured =
          try pagesViaXref(bytes, s)
          // StackOverflowError included: depth caps and cycle guards below
          // bound well-known shapes, but a parser over hostile bytes must
          // degrade to the linear scan, never kill the executor task
          catch { case _: Exception | _: StackOverflowError => None }
        // a SUCCESSFUL structured parse is authoritative even when empty:
        // falling back to the raw linear scan would resurrect superseded
        // revisions' content streams (e.g. redaction-by-replacement)
        val docs = structured.getOrElse {
          streams(bytes).flatMap { case (dict, data) =>
            val f =
              if (dict.contains("/FlateDecode")) FFlate
              else if (dict.contains("/LZWDecode")) FLzw
              else FNone
            decodeFiltered(f, data)
              .map(c => extractText(new String(c, StandardCharsets.ISO_8859_1)))
              .filter(_.nonEmpty)
          }
        }
        Right(docs)
      } catch {
        case e: Exception => Left(s"pdf error: ${e.getMessage}")
        case _: StackOverflowError => Left("pdf error: nesting too deep")
      }
  }

  // ------------------------------------------------- structured (xref) path

  /** Per-page extracted text via the cross-reference and page tree, or
    * None when the file has no usable xref/root (→ fallback scan). */
  private def pagesViaXref(bytes: Array[Byte], s: String): Option[Seq[String]] = {
    val sx = s.lastIndexOf("startxref")
    if (sx < 0) return None
    val offStr = s.substring(sx + 9).trim.takeWhile(_.isDigit)
    if (offStr.isEmpty) return None

    val locs = mutable.Map.empty[Int, Loc] // first (newest) xref section wins
    var trailer = Map.empty[String, Obj]
    val seenXref = mutable.Set.empty[Long]
    var next: Long = offStr.toLong
    while (next >= 0 && next < bytes.length && seenXref.add(next)) {
      val (dict, cont) = readXrefSection(bytes, s, next, locs, seenXref)
      dict.foreach { d => trailer = d.v ++ trailer } // newer sections override
      next = cont
    }
    if (locs.isEmpty) return None

    val resolver = new Resolver(bytes, s, locs.toMap)
    trailer.get("Encrypt").foreach { encObj =>
      val id0 = trailer.get("ID") match {
        case Some(PArr(ids)) if ids.nonEmpty => resolver.deref(ids(0)) match {
          case PStr(x) => x.toCharArray.map(_.toByte)
          case _ => Array.empty[Byte]
        }
        case _ => Array.empty[Byte]
      }
      resolver.deref(encObj) match {
        case d: PDict => buildDecryptor(d, id0, resolver) match {
          case some @ Some(_) => resolver.decryptor = some
          // unsupported handler or a real (non-empty) password: degrade —
          // the fallback scan can't inflate ciphertext, so the document
          // yields no text rather than mojibake
          case None => return None
        }
        case _ => return None
      }
    }
    val root = trailer.get("Root").map(resolver.deref).collect { case d: PDict => d }
    root.flatMap { cat =>
      cat.get("Pages").map(resolver.deref).collect { case pagesRoot: PDict =>
        val pages = collectPages(pagesRoot, resolver)
        pages.flatMap { page =>
          val text = pageText(page, resolver)
          (if (text.nonEmpty) Seq(text) else Seq.empty) ++ formTexts(page, resolver)
        }
      }
    }
  }

  /** Read one xref section (classic table or xref stream) at `off` into
    * `locs` (not overwriting entries already present — newest wins), and
    * return (trailer dict if any, offset of the previous section or -1). */
  private def readXrefSection(
      bytes: Array[Byte], s: String, off: Long,
      locs: mutable.Map[Int, Loc], seen: mutable.Set[Long]): (Option[PDict], Long) = {
    val lx = new Lexer(s, off.toInt)
    lx.ws()
    if (s.startsWith("xref", lx.i)) {
      // classic table: subsections of "start count" then entries of
      // "offset gen n|f". Entries are tokenized, not stride-read: the
      // spec says 20 bytes each, but single-char-EOL writers emit 19 and
      // a stride would walk off the subsection boundary into `trailer`.
      lx.i += 4; lx.ws()
      while (lx.i < s.length && s.charAt(lx.i).isDigit) {
        val start = lx.int(); lx.ws()
        val count = lx.int(); lx.ws()
        var k = 0
        var ok = true
        while (k < count && ok) {
          if (lx.i < s.length && s.charAt(lx.i).isDigit) {
            val offv = lx.int(); lx.ws()
            if (lx.i < s.length && s.charAt(lx.i).isDigit) { lx.int(); lx.ws() } // gen
            val kind = if (lx.i < s.length) s.charAt(lx.i) else ' '
            if (kind == 'n') locs.getOrElseUpdate(start + k, AtOffset(offv.toLong))
            if (kind == 'n' || kind == 'f') lx.i += 1
            lx.ws()
          } else ok = false // malformed subsection: stop, keep what we have
          k += 1
        }
      }
      // trailer dict follows; may carry /XRefStm (hybrid-reference files)
      val tIdx = s.indexOf("trailer", lx.i)
      if (tIdx < 0) (None, -1L)
      else {
        val tl = new Lexer(s, tIdx + 7)
        tl.ws()
        tl.parse() match {
          case d: PDict =>
            d.get("XRefStm").foreach {
              case n: PNum if seen.add(n.l) => readXrefSection(bytes, s, n.l, locs, seen)
              case _ => ()
            }
            val prev = d.get("Prev") match { case Some(n: PNum) => n.l; case _ => -1L }
            (Some(d), prev)
          case _ => (None, -1L)
        }
      }
    } else {
      // PDF 1.5 xref stream: "N G obj << /Type /XRef ... >> stream"
      parseIndirectAt(bytes, s, off.toInt, None) match {
        case Some(PStream(dict, raw)) if dict.get("Type").contains(PName("XRef")) =>
          val data = decodeXrefStream(dict, raw).getOrElse(return (None, -1L))
          val w = dict.get("W") match {
            case Some(PArr(ws)) => ws.collect { case n: PNum => n.i }
            case _ => return (None, -1L)
          }
          if (w.length < 3) return (None, -1L)
          val rowLen = w.sum
          val size = dict.get("Size") match { case Some(n: PNum) => n.i; case _ => 0 }
          val index = dict.get("Index") match {
            case Some(PArr(ix)) => ix.collect { case n: PNum => n.i }.grouped(2).map(p => (p(0), p(1))).toSeq
            case _ => Seq((0, size))
          }
          var pos = 0
          def field(width: Int): Long = {
            var v = 0L; var k = 0
            while (k < width) { v = (v << 8) | (data(pos) & 0xffL); pos += 1; k += 1 }
            v
          }
          index.foreach { case (start, count) =>
            var k = 0
            while (k < count && pos + rowLen <= data.length) {
              val t = if (w(0) == 0) 1L else field(w(0))
              val f2 = field(w(1))
              val f3 = field(w(2))
              t match {
                case 1 => locs.getOrElseUpdate(start + k, AtOffset(f2))
                case 2 => locs.getOrElseUpdate(start + k, InObjStm(f2.toInt, f3.toInt))
                case _ => () // type 0 = free
              }
              k += 1
            }
          }
          val prev = dict.get("Prev") match { case Some(n: PNum) => n.l; case _ => -1L }
          (Some(dict), prev)
        case _ => (None, -1L)
      }
    }
  }

  /** Supported single-pass stream filters. */
  private sealed trait Filt
  private case object FNone extends Filt
  private case object FFlate extends Filt
  private case object FLzw extends Filt

  /** /Filter classification: no filter (absent or the legal empty
    * array), one Flate pass, or one LZW pass; None = out of subset
    * (DCT/crypt or multi-filter chains — skip the stream, do not
    * guess). One helper so every stream consumer agrees. */
  private def filterOf(dict: PDict): Option[Filt] = dict.get("Filter") match {
    case None => Some(FNone)
    case Some(PName("FlateDecode")) => Some(FFlate)
    case Some(PName("LZWDecode")) => Some(FLzw)
    case Some(PArr(fs)) if fs.isEmpty => Some(FNone)
    case Some(PArr(fs)) if fs == Vector(PName("FlateDecode")) => Some(FFlate)
    case Some(PArr(fs)) if fs == Vector(PName("LZWDecode")) => Some(FLzw)
    case Some(_) => None
  }

  /** The stream's declared LZW EarlyChange (spec 7.4.4.2, default 1). */
  private def earlyChangeOf(dict: PDict): Int =
    dict.get("DecodeParms").orElse(dict.get("DP")) match {
      case Some(p: PDict) => p.get("EarlyChange") match {
        case Some(n: PNum) => n.i
        case _ => 1
      }
      case _ => 1
    }

  /** Decode a hex-string body: ignore non-hex chars, pad an odd trailing
    * digit with 0 (spec 7.3.4.3), pair-decode as single-byte codes. */
  private def decodeHex(body: String): String = {
    val hex = body.filter(c => Character.digit(c, 16) >= 0)
    val padded = if (hex.length % 2 == 1) hex + "0" else hex
    padded.grouped(2).map(h => Integer.parseInt(h, 16).toChar).mkString
  }

  /** Inflate an xref stream and undo its PNG predictor if declared. */
  private def decodeXrefStream(dict: PDict, raw: Array[Byte]): Option[Array[Byte]] = {
    filterOf(dict).flatMap(decodeFiltered(_, raw, earlyChangeOf(dict))).map { data =>
      dict.get("DecodeParms").orElse(dict.get("DP")) match {
        case Some(p: PDict) =>
          val pred = p.get("Predictor") match { case Some(n: PNum) => n.i; case _ => 1 }
          val cols = p.get("Columns") match { case Some(n: PNum) => n.i; case _ => 1 }
          if (pred >= 10) pngUnfilter(data, cols, 1) else data
        case _ => data
      }
    }
  }

  /** Undo PNG row filters (predictors 10-15): each row is a filter-type
    * byte then `cols` bytes; bpp = bytes per complete pixel (1 for xref
    * streams). Implements None/Sub/Up/Average/Paeth per RFC 2083. */
  private[ingest] def pngUnfilter(data: Array[Byte], cols: Int, bpp: Int): Array[Byte] = {
    val rowLen = cols
    val rows = data.length / (rowLen + 1)
    val out = new Array[Byte](rows * rowLen)
    var r = 0
    while (r < rows) {
      val ft = data(r * (rowLen + 1)) & 0xff
      val in = r * (rowLen + 1) + 1
      val o = r * rowLen
      var c = 0
      while (c < rowLen) {
        val x = data(in + c) & 0xff
        val a = if (c >= bpp) out(o + c - bpp) & 0xff else 0            // left
        val b = if (r > 0) out(o - rowLen + c) & 0xff else 0            // up
        val cc = if (r > 0 && c >= bpp) out(o - rowLen + c - bpp) & 0xff else 0 // up-left
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 =>
            val p = a + b - cc
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - cc)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else cc)
          case _ => x
        }
        out(o + c) = (v & 0xff).toByte
        c += 1
      }
      r += 1
    }
    out
  }

  /** Resolves indirect references through the xref map, expanding
    * `/Type /ObjStm` containers on demand, with memoization and cycle
    * safety (a ref chain longer than 32 hops bails to PNull). */
  private final class Resolver(bytes: Array[Byte], s: String, locs: Map[Int, Loc]) {
    private val cache = mutable.Map.empty[Int, Obj]
    private val objStmCache = mutable.Map.empty[Int, Map[Int, Obj]]
    private val inFlight = mutable.Set.empty[Int] // cycle guard (see fetch)

    /** Set once (before any content fetch) when the trailer carries a
      * supported /Encrypt dict; streams then decrypt at fetch time.
      * Objects inside an ObjStm need no second pass — the container
      * stream was decrypted when fetched. Xref streams are never
      * encrypted (spec) and never pass through fetch. */
    var decryptor: Option[Decryptor] = None

    def deref(o: Obj): Obj = deref(o, 0)

    @annotation.tailrec
    private def deref(o: Obj, depth: Int): Obj = o match {
      case PRef(num, _) if depth < 32 => deref(fetch(num), depth + 1)
      case PRef(_, _) => PNull
      case other => other
    }

    private def fetch(num: Int): Obj = cache.getOrElse(num, {
      // a crafted xref can make an object depend on itself (e.g. object N
      // located inside ObjStm N); re-entrant fetches must bottom out, not
      // recurse — the caches only populate AFTER the computation returns
      if (!inFlight.add(num)) PNull
      else try {
        val v = locs.get(num) match {
          case Some(AtOffset(off)) if off >= 0 && off < bytes.length =>
            parseIndirectWithIds(bytes, s, off.toInt, Some(this)) match {
              case Some((hNum, hGen, st: PStream)) => decryptor match {
                case Some(dec) =>
                  dec.decryptStream(hNum, hGen, st.raw) match {
                    case Some(plain) => PStream(st.dict, plain)
                    case None => PNull // undecryptable stream: no text
                  }
                case None => st
              }
              case Some((_, _, o)) => o
              case None => PNull
            }
          case Some(InObjStm(stm, idx)) =>
            objStmObjects(stm).getOrElse(idx, PNull)
          case _ => PNull
        }
        cache(num) = v
        v
      } finally inFlight.remove(num)
    })

    /** slot index → object for one expanded `/Type /ObjStm` stream. */
    private def objStmObjects(stmNum: Int): Map[Int, Obj] =
      objStmCache.getOrElseUpdate(stmNum, {
        deref(PRef(stmNum, 0)) match {
          case PStream(dict, raw) if dict.get("Type").contains(PName("ObjStm")) =>
            val n = dict.get("N") match { case Some(x: PNum) => x.i; case _ => 0 }
            val first = dict.get("First") match { case Some(x: PNum) => x.i; case _ => 0 }
            filterOf(dict).flatMap(decodeFiltered(_, raw, earlyChangeOf(dict))) match {
              case Some(data) =>
                val text = new String(data, StandardCharsets.ISO_8859_1)
                val hdr = new Lexer(text, 0)
                val offsets = (0 until n).map { _ =>
                  hdr.ws(); val num = hdr.int(); hdr.ws(); val off = hdr.int(); (num, off)
                }
                offsets.zipWithIndex.map { case ((_, off), idx) =>
                  val ol = new Lexer(text, first + off)
                  ol.ws()
                  idx -> ol.parse()
                }.toMap
              case None => Map.empty[Int, Obj]
            }
          case _ => Map.empty[Int, Obj]
        }
      })
  }

  /** Depth-first page-tree walk: internal nodes carry /Kids, leaves are
    * /Page (or kid-less dicts). Bounded visit set guards malformed cyclic
    * trees. */
  private def collectPages(root: PDict, r: Resolver): Seq[PDict] = {
    val out = mutable.ArrayBuffer.empty[PDict]
    val seen = mutable.Set.empty[Int] // identity guard via ref numbers
    def walk(node: Obj, depth: Int): Unit = if (depth < 64) {
      val resolved = node match {
        case ref @ PRef(num, _) =>
          if (!seen.add(num)) return
          r.deref(ref)
        case o => o
      }
      resolved match {
        case d: PDict =>
          d.get("Kids") match {
            case Some(kids) => r.deref(kids) match {
              case PArr(ks) => ks.foreach(walk(_, depth + 1))
              case _ => ()
            }
            case None => out += d
          }
        case _ => ()
      }
    }
    walk(root, 0)
    out.toSeq
  }

  /** Text in /Subtype /Form XObjects reachable from a page — via its
    * /Resources (content stamped/drawn with `Do`) and via its /Annots'
    * appearance streams (/AP — signature stamps, form-field rendering).
    * Only LIVE, page-referenced forms are walked (never the raw object
    * table), so freed/superseded/orphaned objects cannot resurrect text
    * and a form-free document dereferences nothing extra. Nested form
    * resources are followed with a seen-guard and a depth cap; names are
    * visited in sorted order for deterministic output. */
  private def formTexts(page: PDict, r: Resolver): Seq[String] = {
    val seen = mutable.Set.empty[Int]
    val pageFonts = resourceFonts(page.get("Resources"), r, Map.empty)
    def fresh(v: Obj): Boolean =
      v match { case PRef(num, _) => seen.add(num); case _ => true }
    // a form's own /Resources override the page's font table per name;
    // names the form doesn't define inherit the page's (spec 7.8.3)
    def fromForm(st: PStream, depth: Int): Seq[String] =
      decodeStream(st)
        .map(c => extractText(new String(c, StandardCharsets.ISO_8859_1),
          resourceFonts(st.dict.get("Resources"), r, pageFonts)))
        .filter(_.nonEmpty).toSeq ++
        st.dict.get("Resources").toSeq.flatMap(fromResources(_, depth + 1))
    def fromResources(res: Obj, depth: Int): Seq[String] =
      if (depth >= 8) Seq.empty
      else r.deref(res) match {
        case rd: PDict => rd.get("XObject").map(r.deref) match {
          case Some(xd: PDict) =>
            xd.v.toSeq.sortBy(_._1).flatMap { case (_, v) =>
              if (!fresh(v)) Seq.empty
              else r.deref(v) match {
                case st: PStream if st.dict.get("Subtype").contains(PName("Form")) =>
                  fromForm(st, depth)
                case _ => Seq.empty
              }
            }
          case _ => Seq.empty
        }
        case _ => Seq.empty
      }
    // /AP values are a Form stream directly or a one-level state map
    // (e.g. /N << /On 12 0 R /Off 13 0 R >>) whose values are streams
    def fromAppearance(v: Obj, depth: Int): Seq[String] =
      if (depth >= 8 || !fresh(v)) Seq.empty
      else r.deref(v) match {
        case st: PStream if st.dict.get("Subtype").forall(_ == PName("Form")) =>
          fromForm(st, depth)
        case d: PDict =>
          d.v.toSeq.sortBy(_._1).flatMap { case (_, sv) => fromAppearance(sv, depth + 1) }
        case _ => Seq.empty
      }
    val fromAnnots = page.get("Annots").toSeq.flatMap { a =>
      r.deref(a) match {
        case PArr(as) => as.flatMap { an =>
          (if (fresh(an)) r.deref(an) else PNull) match {
            case ad: PDict => ad.get("AP").toSeq.flatMap { ap =>
              r.deref(ap) match {
                case apd: PDict =>
                  apd.v.toSeq.sortBy(_._1).flatMap { case (_, v) => fromAppearance(v, 0) }
                case _ => Seq.empty
              }
            }
            case _ => Seq.empty
          }
        }
        case _ => Seq.empty
      }
    }
    page.get("Resources").toSeq.flatMap(fromResources(_, 0)) ++ fromAnnots
  }

  /** One page's text: /Contents is one stream or an array of streams whose
    * decoded bytes concatenate into a single content stream; shown strings
    * decode through the page's font table. */
  private def pageText(page: PDict, r: Resolver): String = {
    val parts: Seq[Array[Byte]] = page.get("Contents").toSeq.flatMap { c =>
      r.deref(c) match {
        case st: PStream => decodeStream(st).toSeq
        case PArr(cs) => cs.flatMap(x => r.deref(x) match {
          case st: PStream => decodeStream(st)
          case _ => None
        })
        case _ => Seq.empty
      }
    }
    if (parts.isEmpty) ""
    else extractText(parts.map(new String(_, StandardCharsets.ISO_8859_1)).mkString("\n"),
      resourceFonts(page.get("Resources"), r, Map.empty))
  }

  // ------------------------------------------------------------------ fonts

  /** How shown string bytes become text for one selected font. */
  private[ingest] sealed trait FontDec
  /** Simple font, no ToUnicode: Latin-1 passthrough (historic behavior). */
  private[ingest] case object OneByte extends FontDec
  /** `byteLen`-byte codes mapped through a ToUnicode CMap. Simple fonts
    * (byteLen 1) fall back to the raw byte for unmapped codes — the CMap
    * is usually partial there; composite fonts (byteLen 2) DROP unmapped
    * codes: without the CMap row a CID is a glyph index, and emitting it
    * as a char would be mojibake, worse for downstream dedup/embedding
    * than a gap. */
  private[ingest] final case class Mapped(byteLen: Int, map: Map[Int, String]) extends FontDec

  /** The /Font table of a resource dict: resource name → decoder.
    * `inherited` (the page's table, when walking a form) fills names the
    * form's own resources don't define. */
  private def resourceFonts(res: Option[Obj], r: Resolver,
      inherited: Map[String, FontDec]): Map[String, FontDec] = {
    val own: Map[String, FontDec] = res.map(r.deref) match {
      case Some(rd: PDict) => rd.get("Font").map(r.deref) match {
        case Some(fd: PDict) =>
          fd.v.map { case (name, f) => name -> fontDecoder(r.deref(f), r) }
        case _ => Map.empty[String, FontDec]
      }
      case _ => Map.empty[String, FontDec]
    }
    inherited ++ own
  }

  private def fontDecoder(font: Obj, r: Resolver): FontDec = font match {
    case d: PDict =>
      val toUni: Option[Map[Int, String]] = d.get("ToUnicode").map(r.deref)
        .collect { case st: PStream => st }
        .flatMap(decodeStream)
        .map(b => parseToUnicode(new String(b, StandardCharsets.ISO_8859_1)))
      if (d.get("Subtype").contains(PName("Type0")))
        // 2-byte codes: Identity-H/V and the CMaps real generators emit
        // address CIDs as two bytes; without a ToUnicode row a code drops
        Mapped(2, toUni.getOrElse(Map.empty))
      else toUni.map(Mapped(1, _)).getOrElse(OneByte)
    case _ => OneByte
  }

  /** Parse a ToUnicode CMap's `beginbfchar`/`beginbfrange` sections into
    * code → text. Destinations are UTF-16BE hex strings (possibly several
    * code units — ligatures expand to multi-char text); ranges come as
    * `<lo> <hi> <dstStart>` (destination increments) or
    * `<lo> <hi> [<d0> <d1> …]` (one destination per code). Entry count is
    * capped so a hostile <0000> <FFFF> range pile-up stays bounded. */
  private[ingest] def parseToUnicode(cmap: String): Map[Int, String] = {
    val MaxEntries = 1 << 17
    val out = mutable.Map.empty[Int, String]
    def utf16(hex: String): String = {
      val clean = if (hex.length % 2 == 1) hex + "0" else hex
      val bytes = clean.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      new String(bytes, StandardCharsets.UTF_16BE)
    }
    // source codes in our subset are 1-2 bytes; a corrupt/hostile CMap
    // can carry arbitrarily wide hex tokens, and Integer.parseInt would
    // THROW on them — aborting the whole structured parse and dropping
    // the document to the raw linear scan. Out-of-range codes are
    // unusable anyway: parse bounded, skip the entry.
    def code(hex: String): Int =
      if (hex.isEmpty || hex.length > 8) -1
      else {
        val v = java.lang.Long.parseLong(hex, 16)
        if (v > 0xFFFFL) -1 else v.toInt
      }
    val hexP = "<([0-9A-Fa-f]+)>"
    val charSection = s"(?s)beginbfchar(.*?)endbfchar".r
    val charEntry = s"$hexP\\s*$hexP".r
    charSection.findAllMatchIn(cmap).foreach { sec =>
      charEntry.findAllMatchIn(sec.group(1)).foreach { m =>
        val c = code(m.group(1))
        if (c >= 0 && out.size < MaxEntries)
          out(c) = utf16(m.group(2))
      }
    }
    val rangeSection = s"(?s)beginbfrange(.*?)endbfrange".r
    val rangeEntry = s"$hexP\\s*$hexP\\s*(?:$hexP|\\[([^\\]]*)\\])".r
    rangeSection.findAllMatchIn(cmap).foreach { sec =>
      rangeEntry.findAllMatchIn(sec.group(1)).foreach { m =>
        val lo = code(m.group(1))
        // an over-wide hi (generator quirk) clamps to the code-space top
        // instead of dropping the whole entry — the lo..0xFFFF portion is
        // still a valid mapping the document's text depends on
        val hi =
          if (code(m.group(2)) >= 0) code(m.group(2))
          else if (lo >= 0 && m.group(2).nonEmpty) 0xFFFF
          else -1
        if (lo >= 0 && hi >= 0) {
          if (m.group(3) != null) {
            val dst = utf16(m.group(3)).toCharArray
            var c = lo
            while (c <= hi && out.size < MaxEntries) {
              val d = dst.clone()
              // spec 9.10.3: the LAST code unit increments across the range
              if (d.nonEmpty) d(d.length - 1) = (d(d.length - 1) + (c - lo)).toChar
              out(c) = new String(d)
              c += 1
            }
          } else {
            val dsts = hexP.r.findAllMatchIn(m.group(4)).map(_.group(1)).toVector
            var c = lo
            while (c <= hi && (c - lo) < dsts.length && out.size < MaxEntries) {
              out(c) = utf16(dsts(c - lo))
              c += 1
            }
          }
        }
      }
    }
    out.toMap
  }

  /** Decode one shown string's raw bytes through the current font. */
  private def decodeShown(raw: String, f: FontDec): String = f match {
    case OneByte => raw
    case Mapped(1, map) =>
      raw.iterator.map(c => map.getOrElse(c.toInt, c.toString)).mkString
    case Mapped(_, map) =>
      val sb = new StringBuilder
      var k = 0
      while (k + 1 < raw.length) {
        val code = ((raw.charAt(k) & 0xff) << 8) | (raw.charAt(k + 1) & 0xff)
        map.get(code).foreach(sb.append)
        k += 2
      }
      sb.toString
  }

  private def decodeStream(st: PStream): Option[Array[Byte]] =
    filterOf(st.dict).flatMap(decodeFiltered(_, st.raw, earlyChangeOf(st.dict)))

  private def decodeFiltered(f: Filt, data: Array[Byte], earlyChange: Int = 1): Option[Array[Byte]] =
    f match {
      case FNone => Some(data)
      case FFlate => inflate(data)
      case FLzw => lzwDecode(data, earlyChange)
    }

  /** PDF LZWDecode (spec 7.4.4): MSB-first variable-width codes growing
    * 9 → 12 bits, 256 = clear-table, 257 = EOD, EarlyChange = 1 default
    * (the width bumps one table entry early). Pure JVM (~40 lines — the
    * filter predates zlib and needs no tables beyond the 4096-entry
    * string dictionary). Returns None on malformed input (a code beyond
    * the table, no EOD semantics violated) — the same degrade-to-no-text
    * contract as [[inflate]], never an exception. */
  private[ingest] def lzwDecode(data: Array[Byte], earlyChange: Int = 1): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 3))
    val table = new Array[Array[Byte]](4096)
    var next = 258
    var width = 9
    var prev: Array[Byte] = null
    var acc = 0
    var nbits = 0
    var i = 0
    var done = false
    while (!done && i < data.length) {
      acc = ((acc << 8) | (data(i) & 0xff)) & 0xfffff // ≤ 20 live bits
      nbits += 8
      i += 1
      while (!done && nbits >= width) {
        val code = (acc >>> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if (code == 256) { next = 258; width = 9; prev = null }
        else if (code == 257) done = true
        else {
          val entry: Array[Byte] =
            if (code < 256) Array(code.toByte)
            else if (code < next && table(code) != null) table(code)
            else if (code == next && prev != null) prev :+ prev(0) // KwKwK
            else return None
          out.write(entry, 0, entry.length)
          if (prev != null && next < 4096) {
            table(next) = prev :+ entry(0)
            next += 1
          }
          prev = entry
          if (width < 12 && next + earlyChange >= (1 << width)) width += 1
        }
      }
    }
    Some(out.toByteArray)
  }

  // ------------------------------------------------------------- encryption

  /** RC4 stream cipher (spec §7.6.2-era; symmetric — the test encryptor
    * reuses it). ~15 lines of pure JVM, no provider needed. */
  private[ingest] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val S = Array.tabulate(256)(identity)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + S(i) + (key(i % key.length) & 0xff)) & 0xff
      val t = S(i); S(i) = S(j); S(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    i = 0; j = 0
    var k = 0
    while (k < data.length) {
      i = (i + 1) & 0xff
      j = (j + S(i)) & 0xff
      val t = S(i); S(i) = S(j); S(j) = t
      out(k) = (data(k) ^ S((S(i) + S(j)) & 0xff)).toByte
      k += 1
    }
    out
  }

  /** The standard handler's 32-byte password pad (ISO 32000-1 §7.6.3.3). */
  private[ingest] val PwPad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  /** Algorithm 2 file key for /R 2-4 with an EMPTY user password: MD5 of
    * pad ‖ /O ‖ /P (little-endian) ‖ file ID[0] (‖ FFFFFFFF when R ≥ 4
    * metadata is unencrypted), re-hashed 50× over the key prefix for
    * R ≥ 3, truncated to `lenBytes`. */
  private[ingest] def fileKeyR234(o: Array[Byte], p: Int, id0: Array[Byte],
      lenBytes: Int, r: Int, encryptMetadata: Boolean = true): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(PwPad)
    md.update(o, 0, math.min(32, o.length))
    md.update(Array((p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
      ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte))
    md.update(id0)
    if (r >= 4 && !encryptMetadata)
      md.update(Array(0xff, 0xff, 0xff, 0xff).map(_.toByte))
    var key = md.digest()
    if (r >= 3) {
      var i = 0
      while (i < 50) {
        val m2 = java.security.MessageDigest.getInstance("MD5")
        m2.update(key, 0, lenBytes)
        key = m2.digest()
        i += 1
      }
    }
    java.util.Arrays.copyOf(key, lenBytes)
  }

  /** ISO 32000-2 Algorithm 2.B hash (R6): iterated SHA-256/384/512 with
    * an AES-128-CBC mixing round, selected by the round output mod 3.
    * `udata` is empty for the user-password derivations used here. */
  private[ingest] def hash2B(password: Array[Byte], salt: Array[Byte],
      udata: Array[Byte] = Array.empty): Array[Byte] = {
    def sha(n: Int, d: Array[Byte]) =
      java.security.MessageDigest.getInstance(s"SHA-$n").digest(d)
    var k = sha(256, password ++ salt ++ udata)
    var e = Array.empty[Byte]
    var i = 0
    var done = false
    while (!done) {
      val block = password ++ k ++ udata
      val k1 = new Array[Byte](block.length * 64)
      var b = 0
      while (b < 64) { System.arraycopy(block, 0, k1, b * block.length, block.length); b += 1 }
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(k, 0, 16, "AES"),
        new javax.crypto.spec.IvParameterSpec(k, 16, 16))
      e = c.doFinal(k1)
      val mod = (0 until 16).map(e(_) & 0xff).sum % 3
      k = sha(if (mod == 0) 256 else if (mod == 1) 384 else 512, e)
      i += 1
      done = i >= 64 && (e(e.length - 1) & 0xff) <= i - 32
    }
    java.util.Arrays.copyOf(k, 32)
  }

  /** Stream decryptor bound to a computed file key. V5 (AES-256) uses the
    * file key directly; earlier revisions derive a per-object key from
    * MD5(key ‖ obj-num₃ ‖ gen₂ [‖ "sAlT" for AES]). AES payloads are
    * IV ‖ CBC-ciphertext; padding is stripped tolerantly (an invalid pad
    * byte keeps the data rather than rejecting the stream). Any failure
    * → None → the stream degrades to no text. */
  private final class Decryptor(fileKey: Array[Byte], aes: Boolean, v5: Boolean) {
    def decryptStream(num: Int, gen: Int, data: Array[Byte]): Option[Array[Byte]] = try {
      val key =
        if (v5) fileKey
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          md.update(fileKey)
          md.update(Array((num & 0xff).toByte, ((num >> 8) & 0xff).toByte,
            ((num >> 16) & 0xff).toByte, (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte))
          if (aes) md.update(Array(0x73, 0x41, 0x6C, 0x54).map(_.toByte)) // "sAlT"
          java.util.Arrays.copyOf(md.digest(), math.min(fileKey.length + 5, 16))
        }
      if (!aes) Some(rc4(key, data))
      else if (data.length < 16 || (data.length - 16) % 16 != 0) None
      else {
        val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
        c.init(javax.crypto.Cipher.DECRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(key, "AES"),
          new javax.crypto.spec.IvParameterSpec(data, 0, 16))
        val plain = c.doFinal(data, 16, data.length - 16)
        val pad = if (plain.isEmpty) 0 else plain(plain.length - 1) & 0xff
        if (pad >= 1 && pad <= 16 && pad <= plain.length)
          Some(java.util.Arrays.copyOf(plain, plain.length - pad))
        else Some(plain)
      }
    } catch { case _: Exception => None }
  }

  /** Build a decryptor for the standard security handler assuming an
    * EMPTY user password — the ubiquitous permissions-only encryption.
    * Supported: /V 1-2 RC4 (R 2-3), /V 4 crypt filters /V2 (RC4) and
    * /AESV2 (AES-128), /V 5 /R 6 /AESV3 (AES-256, validated against /U
    * and unwrapped from /UE). Anything else (a real password, public-key
    * handlers, /StmF Identity oddities) → None → degrade to no text. */
  private def buildDecryptor(enc: PDict, id0: Array[Byte], r: Resolver): Option[Decryptor] = {
    if (!enc.get("Filter").contains(PName("Standard"))) return None
    def intOf(k: String, d: Int) = enc.get(k) match { case Some(n: PNum) => n.i; case _ => d }
    def strOf(k: String): Option[Array[Byte]] = r.deref(enc.get(k).getOrElse(PNull)) match {
      case PStr(x) => Some(x.toCharArray.map(_.toByte))
      case _ => None
    }
    val p = intOf("P", -1)
    val rev = intOf("R", 0)
    val encMeta = enc.get("EncryptMetadata") match {
      case Some(PBool(b)) => b
      case _ => true
    }
    intOf("V", 0) match {
      case 1 | 2 =>
        strOf("O").map(o =>
          new Decryptor(fileKeyR234(o, p, id0, intOf("Length", 40) / 8, rev), aes = false, v5 = false))
      case 4 =>
        // resolve the stream crypt filter: /StmF names a /CF entry
        val stmF = enc.get("StmF") match { case Some(PName(n)) => n; case _ => "Identity" }
        val cf = enc.get("CF") match {
          case Some(d: PDict) => d.get(stmF) match { case Some(c: PDict) => Some(c); case _ => None }
          case _ => None
        }
        cf.flatMap { c =>
          val lenBytes = c.get("Length") match {
            // /CF lengths appear both in bytes (spec) and bits (common
            // writer bug) — normalize. 40 itself can only mean bits:
            // 40 bytes = a 320-bit key, which no revision defines
            case Some(n: PNum) => if (n.i >= 40) n.i / 8 else n.i
            case _ => intOf("Length", 128) / 8
          }
          c.get("CFM") match {
            case Some(PName("V2")) => strOf("O").map(o =>
              new Decryptor(fileKeyR234(o, p, id0, lenBytes, rev, encMeta), aes = false, v5 = false))
            case Some(PName("AESV2")) => strOf("O").map(o =>
              new Decryptor(fileKeyR234(o, p, id0, lenBytes, rev, encMeta), aes = true, v5 = false))
            case _ => None
          }
        }
      case 5 if rev == 6 =>
        for {
          u <- strOf("U").filter(_.length >= 48)
          ue <- strOf("UE").filter(_.length >= 32)
          // validate the empty user password against /U's hash+salts
          if hash2B(Array.empty, u.slice(32, 40)).sameElements(u.take(32))
          ik = hash2B(Array.empty, u.slice(40, 48))
          fileKey <- try {
            val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
            c.init(javax.crypto.Cipher.DECRYPT_MODE,
              new javax.crypto.spec.SecretKeySpec(ik, "AES"),
              new javax.crypto.spec.IvParameterSpec(new Array[Byte](16)))
            Some(c.doFinal(ue, 0, 32))
          } catch { case _: Exception => None }
        } yield new Decryptor(fileKey, aes = true, v5 = true)
      case _ => None
    }
  }

  // ----------------------------------------------------------- object lexer

  /** Parse the indirect object whose "N G obj" header starts at `off`.
    * Returns the body (PStream for stream objects). `resolver` is used
    * only to chase an indirect /Length; None falls back to an endstream
    * search. */
  private def parseIndirectAt(
      bytes: Array[Byte], s: String, off: Int, resolver: Option[Resolver]): Option[Obj] =
    parseIndirectWithIds(bytes, s, off, resolver).map(_._3)

  /** [[parseIndirectAt]] plus the header's (object number, generation) —
    * the per-object encryption key inputs. */
  private def parseIndirectWithIds(
      bytes: Array[Byte], s: String, off: Int, resolver: Option[Resolver]): Option[(Int, Int, Obj)] = {
    val lx = new Lexer(s, off)
    lx.ws()
    if (lx.i >= s.length || !s.charAt(lx.i).isDigit) return None
    val num = lx.int(); lx.ws()
    if (lx.i >= s.length || !s.charAt(lx.i).isDigit) return None
    val gen = lx.int(); lx.ws()
    if (!s.startsWith("obj", lx.i)) return None
    lx.i += 3
    lx.ws()
    val body = lx.parse()
    body match {
      case d: PDict =>
        lx.ws()
        if (s.startsWith("stream", lx.i)) {
          val dataStart =
            if (s.startsWith("stream\r\n", lx.i)) lx.i + 8
            else if (s.startsWith("stream\n", lx.i)) lx.i + 7
            else lx.i + 6
          val len: Option[Int] = d.get("Length").flatMap {
            case n: PNum => Some(n.i)
            case ref: PRef => resolver.flatMap(_.deref(ref) match {
              case n: PNum => Some(n.i); case _ => None
            })
            case _ => None
          }
          streamEnd(s, dataStart, len).map { case (end, _) =>
            (num, gen, PStream(d, bytes.slice(dataStart, end)))
          }
        } else Some((num, gen, d))
      case other => Some((num, gen, other))
    }
  }

  /** Minimal recursive-descent PDF object lexer over the latin-1 view. */
  private final class Lexer(s: String, var i: Int) {
    private def isDelim(c: Char) =
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
        c == '{' || c == '}' || c == '/' || c == '%'
    private def isWs(c: Char) =
      c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == 0

    def ws(): Unit = {
      var going = true
      while (going && i < s.length) {
        val c = s.charAt(i)
        if (isWs(c)) i += 1
        else if (c == '%') { // comment to EOL
          while (i < s.length && s.charAt(i) != '\n' && s.charAt(i) != '\r') i += 1
        } else going = false
      }
    }

    def int(): Int = {
      val st = i
      if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
      while (i < s.length && s.charAt(i).isDigit) i += 1
      s.substring(st, i).toInt
    }

    private var depth = 0

    def parse(): Obj = {
      ws()
      if (i >= s.length) return PNull
      // bound container nesting: a crafted million-'[' body must not
      // recurse the JVM stack away — past the cap, consume one char and
      // yield PNull so enclosing loops still terminate
      if (depth >= 128) { i += 1; return PNull }
      depth += 1
      try s.charAt(i) match {
        case '<' if i + 1 < s.length && s.charAt(i + 1) == '<' => dict()
        case '<' => hexString()
        case '(' =>
          val (lit, next) = literal(s, i)
          i = next
          PStr(lit)
        case '[' => array()
        case '/' => name()
        case 't' if s.startsWith("true", i) => i += 4; PBool(true)
        case 'f' if s.startsWith("false", i) => i += 5; PBool(false)
        case 'n' if s.startsWith("null", i) => i += 4; PNull
        case c if c.isDigit || c == '+' || c == '-' || c == '.' => numberOrRef()
        case _ => i += 1; PNull // unknown token: skip a char, stay total
      } finally depth -= 1
    }

    private def dict(): Obj = {
      i += 2
      val m = mutable.Map.empty[String, Obj]
      var going = true
      while (going) {
        ws()
        if (i + 1 < s.length && s.charAt(i) == '>' && s.charAt(i + 1) == '>') {
          i += 2; going = false
        } else if (i >= s.length) going = false
        else if (s.charAt(i) == '/') {
          val PName(k) = name(): @unchecked
          m(k) = parse()
        } else i += 1 // malformed key: skip
      }
      PDict(m.toMap)
    }

    private def array(): Obj = {
      i += 1
      val out = Vector.newBuilder[Obj]
      var going = true
      while (going) {
        ws()
        if (i >= s.length) going = false
        else if (s.charAt(i) == ']') { i += 1; going = false }
        else out += parse()
      }
      PArr(out.result())
    }

    private def name(): PName = {
      i += 1
      val st = i
      while (i < s.length && !isWs(s.charAt(i)) && !isDelim(s.charAt(i))) i += 1
      // #xx hex escapes in names
      val raw = s.substring(st, i)
      val sb = new StringBuilder
      var k = 0
      while (k < raw.length) {
        if (raw.charAt(k) == '#' && k + 2 < raw.length)
          try { sb.append(Integer.parseInt(raw.substring(k + 1, k + 3), 16).toChar); k += 3 }
          catch { case _: NumberFormatException => sb.append(raw.charAt(k)); k += 1 }
        else { sb.append(raw.charAt(k)); k += 1 }
      }
      PName(sb.toString)
    }

    private def hexString(): Obj = {
      i += 1
      val st = i
      while (i < s.length && s.charAt(i) != '>') i += 1
      val body = s.substring(st, i)
      if (i < s.length) i += 1
      PStr(decodeHex(body))
    }

    private def numberOrRef(): Obj = {
      val st = i
      if (s.charAt(i) == '+' || s.charAt(i) == '-') i += 1
      var isInt = true
      while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) {
        if (s.charAt(i) == '.') isInt = false
        i += 1
      }
      val numText = s.substring(st, i)
      val v = numText.toDouble
      if (isInt && v >= 0) {
        // lookahead for "gen R" making this an indirect reference
        val save = i
        ws()
        if (i < s.length && s.charAt(i).isDigit) {
          val gst = i
          while (i < s.length && s.charAt(i).isDigit) i += 1
          val gen = s.substring(gst, i)
          ws()
          if (i < s.length && s.charAt(i) == 'R' &&
            (i + 1 >= s.length || isWs(s.charAt(i + 1)) || isDelim(s.charAt(i + 1)))) {
            i += 1
            return PRef(v.toInt, gen.toInt)
          }
        }
        i = save
      }
      PNum(v)
    }
  }

  // ------------------------------------------------ fallback + text engine

  /** A direct `/Length N` in a raw dictionary text; an indirect
    * `/Length N G R` (and `/Length1` etc.) does not match. */
  private val DirectLength = """/Length\s+(\d{1,9})\b(?!\s+\d+\s+R)""".r

  /** Where a stream's data ends, for data starting at `dataStart`:
    * (end of data, exclusive; index of the `endstream` keyword). A /Length
    * that lands on `endstream` (at most an EOL between) is exact, so data
    * whose last byte happens to be CR or LF keeps it. Without a usable
    * /Length, the data runs to the next `endstream`, minus the EOL the
    * writer placed before the keyword. None when no `endstream` follows. */
  private def streamEnd(s: String, dataStart: Int, len: Option[Int]): Option[(Int, Int)] = {
    val exact = len.filter(l => l >= 0 && l <= s.length - dataStart).flatMap { l =>
      val e = dataStart + l
      (e to e + 2).find(s.startsWith("endstream", _)).map(k => (e, k))
    }
    exact.orElse {
      val k = s.indexOf("endstream", dataStart)
      if (k < 0) None
      else {
        var e = k
        if (e > dataStart && s.charAt(e - 1) == '\n') e -= 1
        if (e > dataStart && s.charAt(e - 1) == '\r') e -= 1
        Some((e, k))
      }
    }
  }

  /** All (stream dictionary, raw stream bytes) pairs, in file order. The
    * dictionary is kept as raw text — only filter names are needed.
    * Fallback for files without a usable cross-reference. */
  private def streams(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    val out = mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var from = 0
    while ({
      val i = s.indexOf("stream", from)
      if (i < 0) false
      else if (i > 0 && s.charAt(i - 1).isLetter) { from = i + 6; true } // e.g. "endstream"
      else {
        // keyword must be followed by EOL per spec
        val dataStart =
          if (s.startsWith("stream\r\n", i)) i + 8
          else if (s.startsWith("stream\n", i)) i + 7
          else -1
        if (dataStart < 0) { from = i + 6; true }
        else {
          val dictStart = math.max(s.lastIndexOf("<<", i), 0)
          val dict = s.substring(dictStart, i)
          val len = DirectLength.findFirstMatchIn(dict).map(_.group(1).toInt)
          streamEnd(s, dataStart, len) match {
            case None => false
            case Some((end, keyword)) =>
              out += ((dict, bytes.slice(dataStart, end)))
              from = keyword + 9
              true
          }
        }
      }
    }) ()
    out.toSeq
  }

  private def inflate(data: Array[Byte]): Option[Array[Byte]] =
    try {
      val inf = new Inflater()
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 4))
      val buf = new Array[Byte](8192)
      // loop until the deflate stream's final block is seen: a truncated
      // stream ends with inflate()==0 and needsInput/needsDictionary while
      // NOT finished — that must reject the stream, not return the partial
      // bytes already produced
      var ok = true
      while (ok && !inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (!inf.finished()) ok = false // truncated or dict-needed
      }
      inf.end()
      if (ok) Some(out.toByteArray) else None
    } catch { case _: Exception => None }

  /** Text shown by Tj / ' / " / TJ operators inside BT..ET blocks, in
    * order; TJ kerning numbers are dropped, strings concatenated. Words
    * are joined with spaces; ' (next-line show) starts a new line. Shown
    * strings decode through the font most recently selected by
    * `/Name size Tf` in `fonts` (Latin-1 single bytes when no table or
    * the name is unknown — the simple-font/fallback-scan behavior);
    * `<<..>>` property dicts (BDC/DP marked content) are skipped. */
  private[ingest] def extractText(content: String,
      fonts: Map[String, FontDec] = Map.empty): String = {
    val sb = new StringBuilder
    var i = 0
    val n = content.length
    var inText = false
    var cur: FontDec = OneByte
    def precededBy(op: String, at: Int): Boolean = {
      // operator follows optional whitespace after the closing delimiter
      var j = at
      while (j < n && (content.charAt(j) == ' ' || content.charAt(j) == '\r' ||
        content.charAt(j) == '\n' || content.charAt(j) == '\t')) j += 1
      content.startsWith(op, j)
    }
    def show(raw: String, next: Int): Unit = {
      val text = decodeShown(raw, cur)
      if (precededBy("'", next) || precededBy("\"", next)) sb.append('\n')
      else if (sb.nonEmpty && !sb.last.isWhitespace) sb.append(' ')
      sb.append(text)
    }
    def isWsAt(j: Int): Boolean = {
      val c = content.charAt(j)
      c == ' ' || c == '\r' || c == '\n' || c == '\t' || c == '\f' || c == 0
    }
    // `/Name <size> Tf` handling shared by the in-text loop and the
    // between-blocks scan: Tf is a TEXT-STATE operator but legal at page
    // description level (outside BT..ET), and text state persists into
    // the next BT block — skipping straight to "BT" would leave `cur` on
    // the previous font and mojibake the next block's CID strings.
    // Returns the index to continue from (past Tf when matched, past the
    // name token otherwise).
    def consumeName(at: Int): Int = {
      val st = at + 1
      var j = st
      while (j < n && !isWsAt(j) && "()<>[]{}/%".indexOf(content.charAt(j)) < 0) j += 1
      var k = j
      while (k < n && isWsAt(k)) k += 1
      var sawNum = false
      while (k < n && (content.charAt(k).isDigit || content.charAt(k) == '.' ||
        content.charAt(k) == '-')) { sawNum = true; k += 1 }
      var m = k
      while (m < n && isWsAt(m)) m += 1
      if (sawNum && content.startsWith("Tf", m)) {
        cur = fonts.getOrElse(content.substring(st, j), OneByte)
        m + 2
      } else j
    }
    while (i < n) {
      if (!inText) {
        val bt = content.indexOf("BT", i)
        val end = if (bt < 0) n else bt
        // scan the gap for page-level Tf — but tokenize like the in-text
        // loop: literal strings, << >> dicts, and % comments are DATA,
        // and a '/... Tf'-shaped byte run inside them (e.g. an
        // /ActualText string) must not clobber the active font
        var g = i
        while (g < end) {
          content.charAt(g) match {
            case '/' => g = consumeName(g)
            case '(' => g = literal(content, g)._2
            case '<' if g + 1 < n && content.charAt(g + 1) == '<' =>
              var depth = 1; g += 2
              while (g + 1 < n && depth > 0) {
                if (content.charAt(g) == '<' && content.charAt(g + 1) == '<') { depth += 1; g += 2 }
                else if (content.charAt(g) == '>' && content.charAt(g + 1) == '>') { depth -= 1; g += 2 }
                else g += 1
              }
            case '%' =>
              while (g < n && content.charAt(g) != '\n' && content.charAt(g) != '\r') g += 1
            case _ => g += 1
          }
        }
        if (bt < 0) i = n
        else if (g > bt) i = g // "BT" was inside a string/dict/comment — keep scanning
        else { inText = true; i = bt + 2 }
      } else content.charAt(i) match {
        case 'E' if content.startsWith("ET", i) =>
          inText = false; i += 2
        case '(' =>
          val (lit, next) = literal(content, i)
          show(lit, next)
          i = next
        case '<' if i + 1 < n && content.charAt(i + 1) == '<' =>
          // inline dict (marked-content properties): skip to matching >>
          var depth = 1; i += 2
          while (i + 1 < n && depth > 0) {
            if (content.charAt(i) == '<' && content.charAt(i + 1) == '<') { depth += 1; i += 2 }
            else if (content.charAt(i) == '>' && content.charAt(i + 1) == '>') { depth -= 1; i += 2 }
            else i += 1
          }
        case '<' =>
          val close = content.indexOf('>', i + 1)
          if (close < 0) i = n
          else {
            show(decodeHex(content.substring(i + 1, close)), close + 1)
            i = close + 1
          }
        case '/' =>
          // font selection: `/Name <size> Tf` switches the decoder for
          // every show that follows; any other name token is skipped
          i = consumeName(i)
        case _ => i += 1
      }
    }
    sb.toString.replaceAll("\\s+", " ").trim
  }

  /** Decode one PDF literal string starting at `start` (which must be
    * '('); returns (decoded, index just past the closing paren). Handles
    * nesting, backslash escapes, and octal codes per the spec. */
  private def literal(s: String, start: Int): (String, Int) = {
    val sb = new StringBuilder
    var depth = 1
    var i = start + 1
    while (i < s.length && depth > 0) {
      s.charAt(i) match {
        case '\\' if i + 1 < s.length =>
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '(' => sb.append('('); i += 2
            case ')' => sb.append(')'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '\n' => i += 2 // line continuation
            case c if c >= '0' && c <= '7' =>
              var code = 0; var k = i + 1; var cnt = 0
              while (k < s.length && cnt < 3 && s.charAt(k) >= '0' && s.charAt(k) <= '7') {
                code = code * 8 + (s.charAt(k) - '0'); k += 1; cnt += 1
              }
              sb.append(code.toChar); i = k
            case c => sb.append(c); i += 2
          }
        case '(' => depth += 1; sb.append('('); i += 1
        case ')' =>
          depth -= 1
          if (depth > 0) sb.append(')')
          i += 1
        case c => sb.append(c); i += 1
      }
    }
    (sb.toString, i)
  }
}
