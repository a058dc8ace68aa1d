package graft.extract

import java.util.regex.Pattern
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.TranscriptGen
import graft.model.ExtractedTurn

/** The regex forms the extract kernel replaced: the HTML block cascade
  * (five regexes) and the field banks with their `contains` guards and
  * full-text `find()`. [[ExtractKernelSpec]] holds the kernel to them.
  */
object RegexReference {
  private def p(re: String) = Pattern.compile(re)

  private val tagPattern = p("(?is)<[^>]*>")
  private val anchorPattern = p("(?is)<a\\b[^>]*>(.*?)</a>")
  private val blockSplitters =
    p("(?is)</?(?:div|p|nav|footer|header|ul|ol|li|table|tr|h[1-6]|br|body|html|section|article|aside)[^>]*>")
  private val scriptStyle = p("(?is)<(script|style)\\b[^>]*>.*?</\\1>")
  private val pruneSubtrees = p("(?is)<(head|nav|aside|footer|header)\\b[^>]*>.*?</\\1>")
  private val wsRun = p("\\s+")

  private def stripTags(s: String): String =
    wsRun.matcher(tagPattern.matcher(s).replaceAll(" ")).replaceAll(" ").trim

  def textBlocks(html: String): Vector[Extract.TextBlock] = {
    val noScript = scriptStyle.matcher(html).replaceAll(" ")
    val noChrome = pruneSubtrees.matcher(noScript).replaceAll(" ")
    blockSplitters.split(noChrome).toVector.flatMap { raw =>
      val m = anchorPattern.matcher(raw)
      var linkChars = 0
      while (m.find()) linkChars += stripTags(m.group(1)).length
      val txt = stripTags(raw)
      if (txt.isEmpty) None
      else Some(Extract.TextBlock(txt, wsRun.split(txt).count(_.nonEmpty),
        linkChars.toDouble / txt.length))
    }
  }

  def isHtml(text: String): Boolean =
    text.contains("<html") || text.contains("<body") || text.contains("<div") ||
      text.contains("<p>") || text.contains("</a>")

  def extractText(text: String): String =
    if (isHtml(text)) textBlocks(text).collect {
      case b if b.linkDensity < 0.35 && b.words >= 5 => b.text
    }.mkString("\n")
    else text

  private val patientName = p(Extract.PatientNameRe)
  private val patientDob = p(Extract.PatientDobRe)
  private val patientPhone = p(Extract.PatientPhoneRe)
  private val dateTimeFull = p(Extract.DateTimeFullRe)
  private val dateAnchored = p(Extract.DateAnchoredRe)
  private val dateBare = p(Extract.DateBareRe)
  private val signedBy = p(Extract.SignedByRe)
  private val icdBullet = p(Extract.IcdBulletRe)
  private val icdPlain = p(Extract.IcdPlainRe)
  private val icdGeneric = p(Extract.IcdGenericRe)
  private val necessitySection =
    p("(?is)Section\\s+II\\.?\\s*Medical Necessity(.*?)(?:Section\\s+III|$)")
  private val checkboxItem = p("(?m)^\\s*[X\\u2713]\\s*(\\d+)\\.\\s*([^\\n]+)")
  private val qtyTriGroup = p("QTY\\s*(\\d+)\\s*([^C\\n]+?)\\s*Code\\s*(\\w+)")
  private val lengthOfNeed = p("(?i)Length of Need\\s*:?\\s*(\\d+)")
  private val pumpPatterns = Vector(
    "(?i)double\\s+electric\\s+breast\\s+pump",
    "(?i)breast\\s+pump.{0,40}?double\\s+electric",
    "(?i)E0603",
    "(?i)pump\\s+depot").map(p)
  private val pumpGuards = Vector("double", "breast", "e0603", "pump")
  private val physicianNpi =
    p("(?i)Physicians?\\s*Name\\s*:\\s*([^\\n-]+?)\\s*(?:,\\s*MD)?\\s*-\\s*(\\d{6,10})")
  private val memberNameId =
    p("(?i)Member\\s*Name\\s+([A-Za-z .'-]+?)\\s+([A-Z]\\d{6,12})\\b")

  import Extract.{firstMatch, splitName, validName, lastLines}

  def facesheetBank(text: String): Map[String, String] = {
    val low = text.toLowerCase
    val b = Map.newBuilder[String, String]
    if (low.contains("name")) firstMatch(patientName, text).foreach { v =>
      b += "patient_name" -> v
      val (f, l) = splitName(v)
      b += "patient_first_name" -> f
      b += "patient_last_name" -> l
    }
    if (low.contains("dob") || low.contains("date of birth"))
      firstMatch(patientDob, text).foreach(b += "patient_dob" -> _)
    if (low.contains("phone"))
      firstMatch(patientPhone, text).foreach(b += "patient_phone" -> _)
    b.result()
  }

  def prescriptionBank(text: String): Map[String, String] = {
    val low = text.toLowerCase
    val b = Map.newBuilder[String, String]
    if (low.contains("name"))
      firstMatch(patientName, text).foreach(b += "patient_name" -> _)
    if (low.contains("dob") || low.contains("date of birth"))
      firstMatch(patientDob, text).foreach(b += "patient_dob" -> _)
    val icd =
      (if (low.contains("icd-10"))
        firstMatch(icdBullet, text).orElse(firstMatch(icdPlain, text))
      else None).orElse(firstMatch(icdGeneric, text))
    icd.foreach(b += "icd10" -> _)
    if (low.contains("medical necessity")) {
      val items = checkboxItems(text)
      if (items.nonEmpty) b += "necessity_items" -> items.mkString("; ")
    }
    if (text.contains("QTY")) {
      val tri = qtyTriGroup.matcher(text)
      if (tri.find()) {
        b += "qty" -> tri.group(1).trim
        b += "item_description" -> tri.group(2).trim
        b += "item_code" -> tri.group(3).trim
      }
    }
    if (low.contains("length of need"))
      firstMatch(lengthOfNeed, text).foreach(b += "length_of_need" -> _)
    if (pumpPatterns.zip(pumpGuards).exists { case (pt, g) =>
        low.contains(g) && pt.matcher(text).find() })
      b += "pump_type" -> "Double Electric Breast Pump"
    if (low.contains("physician")) {
      val phys = physicianNpi.matcher(text)
      if (phys.find()) {
        b += "physician_name" -> phys.group(1).trim
        b += "physician_npi" -> phys.group(2).trim
      }
    }
    b.result()
  }

  def agreementBank(text: String): Map[String, String] = {
    val tail = lastLines(text, 15)
    val tailLow = tail.toLowerCase
    val b = Map.newBuilder[String, String]
    if (tailLow.contains("signed by customer") ||
        tailLow.contains("firmado por el cliente"))
      firstMatch(signedBy, tail).filter(validName).foreach { v =>
        b += "signed_by" -> v
      }
    val anchoredDate =
      if (tailLow.contains("date") || tailLow.contains("fecha"))
        firstMatch(dateTimeFull, tail).orElse(firstMatch(dateAnchored, tail))
      else None
    anchoredDate.orElse(firstMatch(dateBare, tail))
      .foreach(b += "signed_date" -> _)
    b.result()
  }

  def insuranceBank(text: String): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    if (text.toLowerCase.contains("member")) {
      val m = memberNameId.matcher(text)
      if (m.find()) {
        b += "member_name" -> m.group(1).trim
        b += "member_id" -> m.group(2).trim
      }
    }
    b.result()
  }

  def checkboxItems(text: String): Vector[String] =
    firstMatch(necessitySection, text).map { sec =>
      val m = checkboxItem.matcher(sec)
      val items = Vector.newBuilder[String]
      while (m.find()) items += m.group(2).trim
      items.result()
    }.getOrElse(Vector.empty)

  /** `Extract.extractTurn` with the reference text strip and banks. */
  def extractTurn(convId: String, turnIdx: Int, text: String): ExtractedTurn = {
    if (text == null || text.isEmpty)
      return ExtractedTurn(convId, turnIdx, "UNKNOWN", "", Vector.empty,
        Map.empty, Map.empty, signature_present = false, 0.0, "failed:empty")
    val stripped = extractText(text)
    val sections = Extract.segment(stripped)
    val low = stripped.toLowerCase
    val docType = Extract.classifyLow(low)
    val anchors = Extract.kvAnchors(stripped).toMap
    val bank =
      if (docType == "FACESHEET") facesheetBank(stripped)
      else if (docType.contains("PRESCRIPTION")) prescriptionBank(stripped)
      else if (docType.contains("AGREEMENT")) agreementBank(stripped)
      else if (docType == "INSURANCE") insuranceBank(stripped)
      else Map.empty[String, String]
    val fields = anchors ++ bank
    val fieldSrc = fields.map { case (k, _) =>
      k -> (if (bank.contains(k)) "pattern" else "anchor")
    }
    val sig = Extract.detectSignatureLow(low)
    val conf =
      if (docType.contains("AGREEMENT")) Extract.confidenceA2(bank, sig)
      else Extract.confidenceA1(fields)
    ExtractedTurn(convId, turnIdx, docType, stripped, sections, fields,
      fieldSrc, sig, conf, "ok")
  }
}

/** Differential test of the extract kernel (leading-literal bank search,
  * linear HTML block pass) against [[RegexReference]]: equal output on the
  * generator corpus, on generated markup and key-value text, and on text
  * whose lowercasing changes its length or folds case unusually.
  */
class ExtractKernelSpec extends AnyFunSuite {
  import RegexReference._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def assertSameKernel(t: String): Unit = {
    assert(Extract.textBlocks(t) == textBlocks(t), s"textBlocks differ on ${show(t)}")
    assert(Extract.isHtml(t) == isHtml(t), s"isHtml differs on ${show(t)}")
    assert(Extract.extractText(t) == extractText(t), s"extractText differs on ${show(t)}")
    assert(Extract.facesheetBank(t) == facesheetBank(t), s"facesheetBank differs on ${show(t)}")
    assert(Extract.prescriptionBank(t) == prescriptionBank(t), s"prescriptionBank differs on ${show(t)}")
    assert(Extract.agreementBank(t) == agreementBank(t), s"agreementBank differs on ${show(t)}")
    assert(Extract.insuranceBank(t) == insuranceBank(t), s"insuranceBank differs on ${show(t)}")
    assert(Extract.checkboxItems(t) == checkboxItems(t), s"checkboxItems differ on ${show(t)}")
    assert(Extract.extractTurn("c", 0, t) == RegexReference.extractTurn("c", 0, t),
      s"extractTurn differs on ${show(t)}")
  }

  private def show(t: String): String =
    t.flatMap(c => if (c >= ' ' && c < 0x7f) c.toString else f"\\u${c.toInt}%04x")

  /** A fragment as written, upper-cased, lower-cased, or with random case. */
  private def anyCase(s: String): Gen[String] = Gen.oneOf(
    Gen.const(s), Gen.const(s.toUpperCase), Gen.const(s.toLowerCase),
    Gen.listOfN(s.length, Gen.prob(0.5)).map(flips =>
      s.zip(flips).map { case (c, up) => if (up) c.toUpper else c.toLower }.mkString))

  // characters whose lowercasing is longer (U+0130), lands in ASCII (Kelvin
  // sign), has no ASCII fold (long s), or is not regex whitespace
  private val oddChars = Gen.oneOf("\u0130", "\u212A", "\u017F", "\u00A0", "\u00DF", "\u03A3")
  private val lineEnds = Gen.oneOf("\n", "\n", "\n", "\r\n", "\r", "\u0085", "\u2028", "\u00A0")

  test("corpus: kernel equals the regex forms on every generator turn") {
    for (c <- 0 until 300; t <- 0 until TranscriptGen.convSize(c, 32))
      assertSameKernel(TranscriptGen.turn(c, t).text)
  }

  private val markupText: Gen[String] = {
    val names = Gen.oneOf("script", "style", "head", "header", "nav", "aside", "footer",
      "a", "abbr", "div", "p", "pre", "br", "body", "html", "h1", "h6", "h7", "hr", "ul",
      "ol", "li", "table", "tr", "td", "span", "section", "article", "b")
    val afterName = Gen.oneOf(">", ">", " href=x>", " class='y'\n>", "", "_x>", "1>",
      "\u00E9>", "\u0301>", "\uD83D\uDE00>", "\u0130>", "/>", " <b>")
    val tag = for {
      close <- Gen.prob(0.35)
      n <- names.flatMap(anyCase)
      rest <- afterName
    } yield (if (close) "</" else "<") + n + rest
    val text = Gen.oneOf(
      Gen.alphaStr.map(_.take(9)), Gen.const("word"), Gen.const("two words"),
      Gen.const(" "), Gen.const("  "), Gen.const("\n"), Gen.const("\t"), Gen.const("\r\n"),
      Gen.const("\u000B"), Gen.const("\f"), Gen.const("\u0001"), Gen.const("\u001F"),
      Gen.const("<"), Gen.const(">"), Gen.const("</"), Gen.const("<<"), Gen.const("</a"),
      Gen.const("</a >"), Gen.const("</A>"), Gen.const("</a>"), Gen.const("</nav>"),
      Gen.const("</SCRIPT>"), Gen.const("</Style>"), Gen.const("</footer>"), oddChars,
      lineEnds)
    for {
      lead <- Gen.oneOf("", "<html><body>", "<div>", "<p>")
      parts <- Gen.listOf(Gen.frequency(3 -> tag, 5 -> text))
    } yield lead + parts.mkString
  }

  test("generated markup: textBlocks and extractText equal the regex cascade") {
    for (t <- samples(markupText, 3000)) {
      assert(Extract.textBlocks(t) == textBlocks(t), s"textBlocks differ on ${show(t)}")
      assert(Extract.extractText(t) == extractText(t), s"extractText differs on ${show(t)}")
    }
  }

  private val kvText: Gen[String] = {
    val fragment = Gen.oneOf(
      "Patient Name: Ana Kim", "Mother Name: Jane Gomez    DOB: 12/16/2003",
      "patient name", "Patient Name:", "DOB: 1/2/2003", "Date of Birth 01/07/2014",
      "Phone Number: (469) 847-2005", "phone 469.847.2005", "Date: 09/04/2000",
      "Date : 9/4/2000 10:30 PM", "Fecha: 09/04/2000", "fecha", "date", "12/31/1999",
      "Signed by customer: John Gomez", "Signed by customer: n/a",
      "Firmado por el cliente: Ana", "signed by customer", "ICD-10 Code(s): Z39.2",
      "ICD-10 Code \u2022 Z39.1", "ICD-10 Code(s)\n\u25CF O09.90", "\u2022 O09.90", "Z39.2",
      "Section II. Medical Necessity", "Section II Medical Necessity", "Section III",
      "Section \n III", "X 1. Mother expects", "\u2713 2. juliet echo", " X 3. x", "X 4.",
      "QTY 2 Double Electric Breast Pump Code E0603", "QTY 3 foo code E1",
      "Length of Need: 3", "Item Description Code Length of Need",
      "double electric breast pump", "Breast Pump with double   electric", "E0603",
      "pump depot", "Physicians Name: S. Li, MD - 1373459918",
      "Physician Name: Bob - 123456", "Member Name JOHN KIM W773300127", "member name x",
      "prescription", "rx", "npi", "agreement", "customer", "consent", "hereby",
      "member id", "copay", "payer", "facesheet", "mrn", "guarantor",
      "patient information", "signature", "Signature: /s/")
    // every bullet of IcdBulletRe
    val icdBullet = Gen.oneOf("\u2022", "\u2756", "\u2605", "\u2726", "\u25CF", "\u25A0", "\u25AA")
      .map(b => s"ICD-10 Code(s) $b O09.90")
    val piece = Gen.frequency(
      6 -> fragment.flatMap(f => Gen.frequency(3 -> Gen.const(f), 1 -> anyCase(f))),
      1 -> icdBullet,
      2 -> Gen.alphaStr.map(_.take(8)), 2 -> oddChars, 1 -> Gen.const("  "))
    val line = Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString(" "))
    for {
      lines <- Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, line))
      seps <- Gen.listOfN(lines.length, lineEnds)
      end <- Gen.oneOf("", "", "\n", "\r\n", "\r", "\u0085", "\u2028", "\u00A0", "  ")
    } yield lines.zip(seps).map { case (l, s) => l + s }.mkString + end
  }

  test("generated key-value text: banks, checkbox items and extractTurn equal the regex forms") {
    for (t <- samples(kvText, 3000)) assertSameKernel(t)
  }

  test("odd case folding: U+0130 lengthens the lowercase copy, Kelvin/long s do not fold") {
    val texts = Seq(
      "\u0130 PRESCRIPTION rx physician\nPatient Name: Ana Kim\nICD-10 Code: Z39.2",
      "PRESCRIPTION rx npi \u0130\u0130\u0130 Physicians Name: S. Li, MD - 1373459918",
      "agreement customer consent\n\u0130Signed by customer: John Gomez\nDate: 09/04/2000",
      "\u212AEY prescription rx npi Patient Name: Ana\u212A\nQTY 2 pump Code E0603",
      "Signed by cu\u017Ftomer: Ann\nagreement customer consent hereby\n\u017Fection",
      "prescription rx npi Section II. Medical Necessity\nX 1. a\r\nSection III\r\n",
      "prescription rx npi \u0130 Section II. Medical Necessity\nX 1. item\r\n",
      "prescription rx npi Section II. Medical Necessity\n\u2713 7. last\u00A0",
      "prescription rx npi Section II. Medical Necessity\nX 1. tail\u2028",
      "<html><body><p>\u0130 one two three four five</p><nav>x</NAV>\u212A</body>",
      "<div><scr\u0130pt>a</script><\u00E1>b</a><a \u0130>six words in this anchor text</a>")
    texts.foreach(assertSameKernel)
  }
}
