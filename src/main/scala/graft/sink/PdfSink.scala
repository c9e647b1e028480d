package graft.sink

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ingest.Fetch

/** K2 — PDF report sink (reference render_pdf.py:324-471).
  *
  * A deliberately minimal hand-rolled PDF writer: the environment ships no
  * PDF library, and the reference's own CJK strategy — reportlab's
  * UnicodeCIDFont("HeiseiMin-W3") — emits a NON-embedded CID font
  * reference with a predefined CMap, which is exactly what this writer
  * does (Type0 / UniJIS-UCS2-H, text as UTF-16BE hex strings, no font
  * program). Layout is a structural subset: A4 pages, title, labeled
  * sections with paragraph lines, page breaks. The diagonal-diagram
  * geometry (render_pdf.py:141-321) is intentionally out of scope — its
  * numbering/boundary math lives in the window operators (q15) where it is
  * oracle-tested.
  *
  * Pure sink: rendering runs per row inside foreachPartition, nothing is
  * collected; structure (not bytes) is the asserted contract (SURVEY
  * §5.2.4).
  */
object PdfSink {

  /** An image embeddable without any codec: JPEG bytes pass through as a
    * DCTDecode stream; an 8-bit non-interlaced gray/RGB PNG's concatenated
    * IDAT zlib stream decodes directly under FlateDecode with the PDF PNG
    * predictor (/Predictor 15) handling the per-scanline filter bytes.
    */
  sealed trait PdfImage { def w: Int; def h: Int }
  final case class JpegImage(bytes: Array[Byte], w: Int, h: Int,
      components: Int = 3) extends PdfImage
  final case class PngImage(idat: Array[Byte], w: Int, h: Int, colors: Int)
      extends PdfImage

  /** Parse a PNG into its FlateDecode-embeddable form: (idat, w, h,
    * colors). None unless bit depth 8, color type 0 (gray) or 2 (RGB), and
    * non-interlaced — the shapes PDF predictors decode verbatim.
    */
  def pngStream(b: Array[Byte]): Option[PngImage] = {
    def u8(i: Int) = b(i) & 0xFF
    def be32(i: Int) =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    val sigOk = b.length > 45 &&
      u8(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'
    if (!sigOk) return None
    val w = be32(16).toInt
    val h = be32(20).toInt
    val bitDepth = u8(24)
    val colorType = u8(25)
    val interlace = u8(28)
    if (bitDepth != 8 || (colorType != 0 && colorType != 2) || interlace != 0)
      return None
    val idat = new ByteArrayOutputStream()
    var pos = 8
    while (pos + 8 <= b.length) {
      val len = be32(pos).toInt
      val ctype = new String(b, pos + 4, 4, StandardCharsets.US_ASCII)
      if (len < 0 || pos + 8 + len > b.length) return None
      if (ctype == "IDAT") idat.write(b, pos + 8, len)
      if (ctype == "IEND") pos = b.length
      else pos += 12 + len // len + type + data + crc
    }
    if (idat.size() == 0) None
    else Some(PngImage(idat.toByteArray, w, h, if (colorType == 2) 3 else 1))
  }

  private def utf16Hex(s: String): String =
    s.getBytes(StandardCharsets.UTF_16BE).map("%02X".format(_)).mkString

  /** P11 scale-to-fit placement inside the A4 text box (reference
    * render_pdf.py:106-110): `q dw 0 0 dh 50 ty cm /ImN Do Q`, plus the
    * caption line under the image (add_image appends a JP_Caption
    * paragraph, render_pdf.py:101-113). Locale.ROOT formatting: the f
    * interpolator follows the JVM default locale, and a comma-decimal
    * locale would emit `495,00` — an invalid content-stream number
    * (ADVICE r3).
    */
  private def imagePlacement(w: Int, h: Int, imName: String,
      caption: String = ""): String = {
    val ratio = math.min(495.0 / w, 670.0 / h)
    val dw = w * ratio
    val dh = h * ratio
    val ty = 780.0 - dh
    val place = String.format(java.util.Locale.ROOT,
      "q %.2f 0 0 %.2f 50 %.2f cm /%s Do Q", dw, dh, ty, imName)
    if (caption.isEmpty) place
    else place + String.format(java.util.Locale.ROOT,
      "\nBT /F1 9 Tf 50 %.2f Td <%s> Tj ET",
      math.max(ty - 16.0, 20.0), utf16Hex(caption))
  }

  /** Render one case document to PDF bytes. `sections` are
    * (label, multi-line text) in display order; empty-valued sections are
    * skipped (the reference's emit-if-non-empty predicates,
    * render_pdf.py:362-465). Each [[PdfImage]] becomes a page with the
    * image bytes embedded VERBATIM (JPEG → DCTDecode, PNG IDAT →
    * FlateDecode + PNG predictor — no codec either way) scaled to fit the
    * text box via the P11 ratio, the reference's representative-image page
    * (render_pdf.py:100-118).
    */
  def pdfBytes(title: String, sections: Seq[(String, String)],
      extraPages: Seq[String] = Nil,
      images: Seq[PdfImage] = Nil,
      imageCaptions: Seq[String] = Nil): Array[Byte] = {
    val lines: Seq[(String, Boolean)] =
      (title, true) +: ("", false) +: sections.filter(_._2.nonEmpty).flatMap {
        case (label, value) =>
          (s"$label", true) +:
            value.split("\n").toSeq.map(l => (l, false)) :+ ("", false)
      }
    val perPage = 40
    val pages = {
      val gs = lines.grouped(perPage).toSeq
      if (gs.isEmpty) Seq(Seq(("", false))) else gs
    }
    val nImg = images.size
    val n = pages.size + extraPages.size + nImg
    val pageNums = (0 until n).map(3 + _)
    val contentNums = (0 until n).map(3 + n + _)
    val (f0, f1, f2) = (3 + 2 * n, 4 + 2 * n, 5 + 2 * n)
    val imgNums = (0 until nImg).map(6 + 2 * n + _)

    def contentStream(pg: Seq[(String, Boolean)]): String = {
      val sb = new StringBuilder("BT\n/F1 10 Tf\n14 TL\n50 780 Td\n")
      pg.foreach { case (txt, head) =>
        if (head) sb.append("/F1 13 Tf\n")
        sb.append(s"<${utf16Hex(txt)}> Tj T*\n")
        if (head) sb.append("/F1 10 Tf\n")
      }
      sb.append("ET").toString
    }

    val imgStreams = images.zipWithIndex.map { case (im, i) =>
      imagePlacement(im.w, im.h, s"Im$i",
        if (i < imageCaptions.size) imageCaptions(i) else "")
    }
    val allStreams: Seq[String] =
      pages.map(contentStream) ++ extraPages ++ imgStreams
    val ascii = StandardCharsets.US_ASCII
    val bodies = scala.collection.mutable.LinkedHashMap[Int, Array[Byte]]()
    def put(num: Int, body: String): Unit = bodies(num) = body.getBytes(ascii)
    put(1, "<< /Type /Catalog /Pages 2 0 R >>")
    put(2, s"<< /Type /Pages /Count $n /Kids [${pageNums.map(p => s"$p 0 R").mkString(" ")}] >>")
    val nTextPages = pages.size + extraPages.size
    allStreams.indices.foreach { i =>
      val xobj =
        if (i < nTextPages) ""
        else s" /XObject << /Im${i - nTextPages} ${imgNums(i - nTextPages)} 0 R >>"
      put(pageNums(i),
        s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] " +
          s"/Resources << /Font << /F1 $f0 0 R >>$xobj >> /Contents ${contentNums(i)} 0 R >>")
      val cs = allStreams(i)
      put(contentNums(i),
        s"<< /Length ${cs.getBytes(ascii).length} >>\nstream\n$cs\nendstream")
    }
    put(f0, s"<< /Type /Font /Subtype /Type0 /BaseFont /HeiseiMin-W3-UniJIS-UCS2-H " +
      s"/Encoding /UniJIS-UCS2-H /DescendantFonts [$f1 0 R] >>")
    put(f1, s"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /HeiseiMin-W3 " +
      s"/CIDSystemInfo << /Registry (Adobe) /Ordering (Japan1) /Supplement 2 >> " +
      s"/FontDescriptor $f2 0 R /DW 1000 >>")
    put(f2, "<< /Type /FontDescriptor /FontName /HeiseiMin-W3 /Flags 6 " +
      "/FontBBox [-123 -257 1001 910] /ItalicAngle 0 /Ascent 859 /Descent -141 " +
      "/CapHeight 769 /StemV 69 >>")
    images.zipWithIndex.foreach { case (im, i) =>
      val (data, filter) = im match {
        case JpegImage(bytes, _, _, comps) =>
          // colorspace must match the SOF component count: a grayscale
          // scan embedded as DeviceRGB is a corrupt page
          val cs = comps match {
            case 1 => "/DeviceGray"
            case 4 => "/DeviceCMYK"
            case _ => "/DeviceRGB"
          }
          (bytes, s"/ColorSpace $cs /Filter /DCTDecode")
        case PngImage(idat, w, _, colors) =>
          val cs = if (colors == 3) "/DeviceRGB" else "/DeviceGray"
          (idat, s"/ColorSpace $cs /Filter /FlateDecode " +
            s"/DecodeParms << /Predictor 15 /Colors $colors " +
            s"/BitsPerComponent 8 /Columns $w >>")
      }
      val head =
        (s"<< /Type /XObject /Subtype /Image /Width ${im.w} /Height ${im.h} " +
          s"/BitsPerComponent 8 $filter " +
          s"/Length ${data.length} >>\nstream\n").getBytes(ascii)
      val tail = "\nendstream".getBytes(ascii)
      val buf = new Array[Byte](head.length + data.length + tail.length)
      System.arraycopy(head, 0, buf, 0, head.length)
      System.arraycopy(data, 0, buf, head.length, data.length)
      System.arraycopy(tail, 0, buf, head.length + data.length, tail.length)
      bodies(imgNums(i)) = buf
    }

    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ascii))
    w("%PDF-1.4\n")
    val offsets = scala.collection.mutable.Map[Int, Int]()
    bodies.toSeq.sortBy(_._1).foreach { case (num, body) =>
      offsets(num) = out.size()
      w(s"$num 0 obj\n")
      out.write(body)
      w("\nendobj\n")
    }
    val xrefPos = out.size()
    val maxObj = bodies.keys.max
    w(s"xref\n0 ${maxObj + 1}\n")
    w("0000000000 65535 f \n")
    (1 to maxObj).foreach { i =>
      w(f"${offsets.getOrElse(i, 0)}%010d 00000 n \n")
    }
    w(s"trailer\n<< /Size ${maxObj + 1} /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  /** The reference's section order (render_pdf.py:354-460), emit-if-non-
    * empty, pulled from a routed case Row.
    */
  def sectionsOf(r: Row): Seq[(String, String)] = {
    def s(name: String) = r.getAs[String](name)
    val casualties = r.getAs[Row]("casualties")
    val knowledge = r.getAs[scala.collection.Seq[String]]("knowledge")
    val sources = r.getAs[scala.collection.Seq[String]]("sources")
    val authors = r.getAs[scala.collection.Seq[String]]("authors")
    Seq(
      "事例発生日付" -> s("date"),
      "事例発生地" -> s("location"),
      "事例発生場所" -> s("facility"),
      "事例概要" -> s("summary"),
      "事象" -> s("phenomenon"),
      "経過" -> s("process"),
      "原因" -> s("cause"),
      "対処" -> s("response"),
      "対策" -> s("countermeasure"),
      "知識化" -> knowledge.map("・" + _).mkString("\n"),
      "背景" -> s("background"),
      "情報源" -> sources.mkString("\n"),
      "死者数" -> casualties.getAs[Int]("deaths").toString,
      "負傷者数" -> casualties.getAs[Int]("injuries").toString,
      "被害金額" -> s("financial_damage"),
      "社会への影響" -> s("social_impact"),
      "備考" -> s("notes"),
      "分野" -> s("field"),
      "データ作成者" -> authors.mkString("\n"))
  }

  /** The scenario diagram page's content stream (heading + diagram),
    * None when the scenario is empty.
    */
  def diagramPage(r: Row): Option[String] = {
    def cat(name: String): Seq[Seq[String]] =
      r.getAs[Row]("scenario")
        .getAs[scala.collection.Seq[scala.collection.Seq[String]]](name)
        .map(_.toSeq).toSeq
    Diagram
      .contentOps(cat("cause"), cat("action"), cat("result"),
        x0 = 50, yTop = 750, maxW = 495, maxH = 670)
      .map { ops =>
        val headingHex = "失敗シナリオ（失敗まんだら）"
          .getBytes(StandardCharsets.UTF_16BE).map("%02X".format(_)).mkString
        s"BT /F1 13 Tf 50 780 Td <$headingHex> Tj ET\n" + ops
      }
  }

  /** Write `{case_id}_{case_name}.pdf` per successful case under `dir`
    * (sections + the scenario diagram page when present). When the frame
    * carries an `image_bytes` array<binary> column (fetched media,
    * Fetch.fetchBinary), each JPEG and embeddable PNG becomes an image
    * page — true header-parsed dimensions, scale-to-fit placement
    * (render_pdf.py:100-118); other content is skipped (no codec: only
    * the DCTDecode / FlateDecode passthroughs embed verbatim).
    *
    * The successful rows are spread round-robin over the session's
    * `defaultParallelism` ([[Fetch.spread]]), so the renders run on
    * every core: AQE would size the partitions by bytes and coalesce a
    * small input into one task.
    */
  def writePdfs(cases: DataFrame, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val hasImgs = cases.columns.contains("image_bytes")
    val hasCaps = cases.columns.contains("image_captions")
    Fetch.spread(cases.filter(col("status") === "success")).foreachPartition {
      (it: Iterator[Row]) =>
        it.foreach { r =>
          val raw =
            if (!hasImgs) Nil
            else Option(r.getAs[scala.collection.Seq[Array[Byte]]]("image_bytes"))
              .getOrElse(scala.collection.Seq.empty).toSeq
          // captions are index-aligned with image_bytes; zip BEFORE the
          // decode filter so a skipped (non-embeddable) image drops its
          // caption with it
          val caps =
            if (!hasCaps) Seq.fill(raw.size)("")
            else Option(r.getAs[scala.collection.Seq[String]]("image_captions"))
              .getOrElse(scala.collection.Seq.empty).toSeq
              .padTo(raw.size, "")
          val images = raw.zip(caps).flatMap { case (b, cap) =>
            val d = graft.expr.ImageDims.compute(b)
            val im = d.getUTF8String(0).toString match {
              case "image/jpeg" if !d.isNullAt(1) && !d.isNullAt(2) =>
                val comps = graft.expr.ImageDims.jpegComponents(b)
                Some(JpegImage(b, d.getInt(1), d.getInt(2),
                  if (comps > 0) comps else 3))
              case "image/png" => pngStream(b)
              case _ => None
            }
            im.map(_ -> cap)
          }
          val bytes = pdfBytes(r.getAs[String]("case_name"), sectionsOf(r),
            diagramPage(r).toSeq, images.map(_._1), images.map(_._2))
          val name =
            s"${r.getAs[String]("case_id")}_${r.getAs[String]("case_name")}.pdf"
          Files.write(Paths.get(dir, name), bytes)
        }
    }
  }
}
