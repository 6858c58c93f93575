package graft.perfbench

import java.io.ByteArrayOutputStream
import java.util.zip.Deflater

import scala.util.Random

/** Seeded NCA release generator: one genuine multi-page PDF per year
  * (classic layout: one Flate content stream per page, shared font, Info
  * dict with /CreationDate), every page repeating the header and
  * carrying `rowsPerPage` single-allocation NCAs, plus the listing page
  * that links them.
  */
object NcaGen {
  val Host = "https://nca.bench"
  val ListingUrl = s"$Host/releases"
  val FirstYear = 2001
  val NowYear = 2026

  private val Phrases = Seq("nca_number", "nca_type", "released_date", "department",
    "agency", "operating_unit", "amount", "purpose")
  val Departments = Seq("DepEd", "DOH", "DPWH", "DOTr", "DA", "DENR", "DND", "DILG")
  private val Purposes = Seq("Books", "Meds", "Roads", "Rails", "Seeds", "Trees",
    "Radios", "Clinics", "Bridges", "Laptops")

  final case class Row(nca: String, tpe: String, date: String, dept: String,
                       agency: String, ou: String, cents: Long, purpose: String) {
    def amount: String = f"${cents / 100}%d.${cents % 100}%02d"
    def cells: Seq[String] = Seq(nca, tpe, date, dept, agency, ou, amount, purpose)
    /** Bytes of the loaded record + allocation row (write-amp base). */
    def loadedBytes: Int = cells.map(_.length).sum + nca.length + 8
  }
  final case class Release(year: Int, revision: Int, pages: Seq[Seq[Row]]) {
    def id: String = s"id_$year"
    def filename: String = s"NCA_$year.pdf"
    def url: String = s"$Host/files/$filename"
    def rows: Seq[Row] = pages.flatten
    lazy val bytes: Array[Byte] =
      classicPdf(pages.map(p => header ++ p.zipWithIndex.flatMap { case (r, i) =>
        r.cells.zipWithIndex.map { case (t, j) => (t, 20 + j * 100, 680 - 13 * i) }
      }), f"D:$year%04d0115${revision % 24}%02d0000Z")
  }

  private val header: Seq[(String, Int, Int)] =
    Phrases.zipWithIndex.flatMap { case (p, i) =>
      p.split("_").zipWithIndex.map { case (t, j) => (t, 20 + i * 100 + j * 45, 700) }
    }

  def release(seed: Long, year: Int, revision: Int, nPages: Int, rowsPerPage: Int): Release = {
    val rnd = new Random(seed * 1000003L + year * 31L + revision)
    val pages = (0 until nPages).map { p =>
      (0 until rowsPerPage).map { r =>
        val n = p * rowsPerPage + r
        Row(f"NCA-$year-$revision%02d$n%05d",
          if (rnd.nextInt(4) == 0) "Special" else "Regular",
          s"${1 + rnd.nextInt(12)}/${1 + rnd.nextInt(28)}/$year",
          Departments(rnd.nextInt(Departments.size)),
          s"Ag${1 + rnd.nextInt(40)}", s"OU${1 + rnd.nextInt(90)}",
          100L + (rnd.nextDouble() * 5e7).toLong,
          Purposes(rnd.nextInt(Purposes.size)))
      }
    }
    Release(year, revision, pages)
  }

  def listing(releases: Seq[Release]): String = {
    val links = releases.map(r => s"""<li><a href="/files/${r.filename}">NCA <b>${r.year}</b></a></li>""")
    // links the scan must skip: not an NCA pdf, and one below the year threshold
    val noise = Seq("""<li><a href="/files/notes.txt">Notes</a></li>""",
      """<li><a href="/files/NCA_1990.pdf">NCA 1990</a></li>""")
    (links ++ noise).mkString("<html><body><ul>\n", "\n", "\n</ul></body></html>")
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Classic PDF: catalog, page tree, one page object + one Flate
    * content stream per page, one font, one Info dict.
    */
  def classicPdf(pages: Seq[Seq[(String, Int, Int)]], created: String): Array[Byte] = {
    val n = pages.length
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w(s"2 0 obj << /Type /Pages /Kids [${(1 to n).map(i => s"${2 + i} 0 R").mkString(" ")}] /Count $n >> endobj\n")
    (0 until n).foreach { i =>
      w(s"${3 + i} 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 850 792] " +
        s"/Resources << /Font << /F1 ${3 + 2 * n} 0 R >> >> /Contents ${3 + n + i} 0 R >> endobj\n")
    }
    pages.zipWithIndex.foreach { case (words, i) =>
      val text = words.map { case (t, x, y) => s"BT /F1 10 Tf $x $y Td ($t) Tj ET" }.mkString(" ")
      val c = deflate(text.getBytes("ISO-8859-1"))
      w(s"${3 + n + i} 0 obj << /Length ${c.length} /Filter /FlateDecode >> stream\n")
      out.write(c)
      w("\nendstream endobj\n")
    }
    w(s"${3 + 2 * n} 0 obj << /Type /Font /Subtype /TrueType /BaseFont /Helvetica >> endobj\n")
    w(s"${4 + 2 * n} 0 obj << /Producer (perfbench) /CreationDate ($created) >> endobj\n")
    w(s"trailer << /Root 1 0 R /Info ${4 + 2 * n} 0 R >>\n%%EOF")
    out.toByteArray
  }
}
