package graft.extract

import java.util.regex.{Matcher, Pattern}
import graft.model.{ExtractedTurn, Section}

/** Pure extraction core — zero Spark dependencies.
  *
  * This object is BOTH the single-threaded golden oracle and the code the
  * Spark engine runs inside `mapPartitions`; determinism and
  * parallelism-independence follow from purity (every function is total and
  * depends only on its arguments).
  *
  * Semantics re-expressed from the reference (kjustin2016/Valere-OCR, under
  * `/root/reference/Intelligent Document Design/`), NOT ported:
  *  - tokenizer: `extract_words`, SearchingS3Buckets/S3searchFileContentByString.py:29-37
  *  - segmenter: `structure_text`, MiscTestingScripts/Ethan_PDFandJPG3.py:125-156
  *  - classifier: keyword-density scorer, Ethan_PDFandJPG3.py:584-619
  *  - field banks: Ethan_PDFandJPG3.py:242-269, finalcodes/SignedAgreement.py:86-102,
  *    Lauren_RX__JPG_Reader.py:254-316, MiscTestingScripts/insuranceID:201-213
  *  - signature: `detect_signature`, Ethan_PDFandJPG3.py:487-523
  *  - confidence: finalcodes/Facesheet.py:177-184 (A1) and
  *    SignedAgreementFinalDB:180-206 (A2)
  *  - merge precedence (pattern beats anchor): SignedAgreementFinalDB:237-261
  *
  * Per-turn cost is linear in the text. Two invariants keep it so without
  * changing any output:
  *  - leading literals: every field-bank pattern is declared with the
  *    lowercase literal(s) each of its matches must begin with, and its
  *    search starts at the earliest occurrence of one in the turn's
  *    lowercase copy (see "Regex field banks");
  *  - the HTML block decomposition ([[textBlocks]]) is a set of forward
  *    scans with the exact semantics of the regex cascade it replaced.
  */
object Extract {

  /** Max accepted payload size — reference caps input at 10 MiB
    * (`Facesheet.py:24,94-95`); we use a character-count analog.
    */
  val MaxTextChars: Int = 10 * 1024 * 1024

  // -------------------------------------------------------------------------
  // Tokenizer (P4): lower-case word stream, drop tokens < 3 chars,
  // dedupe, sort. Reference: S3searchFileContentByString.py:29-37.
  // -------------------------------------------------------------------------
  private val tokenSplit = Pattern.compile("[^a-z0-9]+")

  def tokenize(text: String): Vector[String] =
    if (text == null || text.isEmpty) Vector.empty
    else
      tokenSplit
        .split(text.toLowerCase)
        .iterator
        .filter(_.length > 2)
        .toVector
        .distinct
        .sorted

  // -------------------------------------------------------------------------
  // Boilerplate strip for HTML payloads — Boilerpipe/Trafilatura-style
  // text-density / link-density block classifier (north rule). For
  // non-HTML text this is the identity.
  //
  // The block decomposition is a set of left-to-right scans that reproduce
  // the regex forms below exactly (Java regex semantics, ASCII case folding,
  // `\b` included). Run as regexes, the lazy forms rescan to the end of the
  // payload from every unclosed opener, quadratic in a page of unclosed
  // `<nav>`s; the scans only search forward, so they stay linear.
  //   script/style:  (?is)<(script|style)\b[^>]*>.*?</\1>              -> " "
  //   chrome:        (?is)<(head|nav|aside|footer|header)\b[^>]*>.*?</\1> -> " "
  //   block split:   (?is)</?(?:div|p|nav|footer|header|ul|ol|li|table|tr|
  //                  h[1-6]|br|body|html|section|article|aside)[^>]*>
  //   link text:     (?is)<a\b[^>]*>(.*?)</a>
  //   tag strip:     (?is)<[^>]*> -> " ", then \s+ -> " ", then trim
  // -------------------------------------------------------------------------
  /** The text contains "<html", "<body", "<div", "<p>" or "</a>". */
  def isHtml(text: String): Boolean = {
    var i = text.indexOf('<')
    while (i >= 0) {
      if (text.startsWith("html", i + 1) || text.startsWith("body", i + 1) ||
          text.startsWith("div", i + 1) || text.startsWith("p>", i + 1) ||
          text.startsWith("/a>", i + 1)) return true
      i = text.indexOf('<', i + 1)
    }
    false
  }

  /** One flat-text block of an HTML page with its shallow text features
    * (Kohlschütter et al., WSDM 2010: word count + link density are the
    * two features that carry nearly all the signal).
    */
  final case class TextBlock(text: String, words: Int, linkDensity: Double)

  private val EmptyBlock = TextBlock("", 0, 0.0)

  /** Decompose an HTML payload into text blocks: drop script/style
    * content, prune structural-chrome subtrees, split at block-level
    * tags, strip remaining inline tags, collapse whitespace; per block
    * compute word count and link density (chars inside <a> / total text
    * chars of the block).
    *
    * Structural chrome pruning (Trafilatura-style): whole <nav>/<aside>/
    * <footer>/<header>/<head> subtrees are boilerplate by POSITION, not by
    * their text features — a nav bar of plain words passes any density
    * test yet is never main content. A subtree ends at the first closer of
    * its tag, so a same-tag nested subtree degrades to partial pruning
    * (heuristic, documented); an unclosed tag leaves the subtree to the
    * density classifier.
    */
  def textBlocks(html: String): Vector[TextBlock] = {
    val s = pruneSubtrees(pruneSubtrees(html.toCharArray, ScriptStyle), ChromeTags)
    val buf = new Array[Char](s.length) // tag-strip output, reused per block
    val out = Vector.newBuilder[TextBlock]
    var from = 0 // start of the current block
    var i = indexOf(s, '<', 0)
    while (i >= 0) {
      if (blockTagAt(s, i + 1)) {
        val gt = indexOf(s, '>', i + 1)
        if (gt < 0) i = -1 // no '>' left: no later block tag can close
        else {
          addBlock(s, from, i, buf, out)
          from = gt + 1
          i = indexOf(s, '<', from)
        }
      } else i = indexOf(s, '<', i + 1)
    }
    addBlock(s, from, s.length, buf, out)
    out.result()
  }

  private val ScriptStyle = Array("script", "style")
  // the regexes' alternation order; with the \b after a name, at most one
  // name fits at a '<' ("head" fails its \b in "<header")
  private val ChromeTags = Array("head", "nav", "aside", "footer", "header")

  private def indexOf(s: Array[Char], c: Char, from: Int): Int = {
    var i = from
    while (i < s.length) {
      if (s(i) == c) return i
      i += 1
    }
    -1
  }

  /** Java's CASE_INSENSITIVE folding without UNICODE_CASE: ASCII only. */
  private def lower(c: Char): Char = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** `s` holds the lowercase ASCII literal `lit` at `at`, ASCII case folded. */
  private def ciAt(s: Array[Char], at: Int, lit: String): Boolean = {
    if (at < 0 || at + lit.length > s.length) return false
    var k = 0
    while (k < lit.length) {
      if (lower(s(at + k)) != lit.charAt(k)) return false
      k += 1
    }
    true
  }

  private val wordBoundary = Pattern.compile("\\b")

  /** Java's `\b` at `i` of `s` right after a tag name's last letter, with
    * the input ending at `end`. ASCII is decided here; any other character
    * goes to the regex engine, whose notion of a word character (letters
    * and digits, non-spacing marks) differs across JDK versions.
    */
  private def boundaryAfterName(s: Array[Char], i: Int, end: Int): Boolean =
    if (i >= end) true
    else {
      val c = s(i)
      if (c < 0x80) !(c == '_' || (c >= '0' && c <= '9') || (lower(c) >= 'a' && lower(c) <= 'z'))
      else wordBoundary.matcher(java.nio.CharBuffer.wrap(s)).region(i, end)
        .useTransparentBounds(true).lookingAt()
    }

  /** `s` with every `<name\b[^>]*>.*?</name>` subtree (names tried in
    * order, ASCII case folded) replaced by one space, scanning left to right
    * like `replaceAll`. Linear: the next '>' and each name's next closer are
    * searched forward only, and a name with no closer left is never searched
    * again.
    */
  private def pruneSubtrees(s: Array[Char], names: Array[String]): Array[Char] = {
    val closer = Array.fill(names.length)(-2) // next "</name>" found; -1 none left, -2 unsearched
    def closerFrom(k: Int, from: Int): Int = {
      if (closer(k) != -1 && closer(k) < from) {
        val name = names(k)
        var c = indexOf(s, '<', from)
        while (c >= 0 && !(c + 3 + name.length <= s.length && s(c + 1) == '/' &&
            ciAt(s, c + 2, name) && s(c + 2 + name.length) == '>'))
          c = indexOf(s, '<', c + 1)
        closer(k) = c
      }
      closer(k)
    }
    var out: Array[Char] = null
    var n = 0 // chars in out
    var copied = 0 // s(copied until the scan position) is not yet in out
    var gt = -1 // the last '>' found
    var i = indexOf(s, '<', 0)
    while (i >= 0) {
      val c1 = if (i + 1 < s.length) lower(s(i + 1)) else '<'
      var k = 0
      while (k < names.length && !(names(k).charAt(0) == c1 && ciAt(s, i + 1, names(k)) &&
          boundaryAfterName(s, i + 1 + names(k).length, s.length)))
        k += 1
      var next = i + 1
      if (k < names.length) {
        val nameEnd = i + 1 + names(k).length
        if (gt < nameEnd) gt = indexOf(s, '>', nameEnd)
        if (gt < 0) next = -1 // no '>' left: no later opener can close
        else {
          val c = closerFrom(k, gt + 1)
          if (c >= 0) {
            if (out == null) out = new Array[Char](s.length)
            System.arraycopy(s, copied, out, n, i - copied)
            n += i - copied
            out(n) = ' '
            n += 1
            copied = c + names(k).length + 3
            next = copied
          }
        }
      }
      i = if (next < 0) -1 else indexOf(s, '<', next)
    }
    if (out == null) s
    else {
      System.arraycopy(s, copied, out, n, s.length - copied)
      java.util.Arrays.copyOf(out, n + s.length - copied)
    }
  }

  /** A block-level tag name begins at `at` (after an optional '/'). The
    * regex has no `\b` here, so any name with such a prefix counts
    * (`<pre>` splits as `p`).
    */
  private def blockTagAt(s: Array[Char], at: Int): Boolean = {
    val j = if (at < s.length && s(at) == '/') at + 1 else at
    if (j >= s.length) false
    else (lower(s(j)): @annotation.switch) match {
      case 'd' => ciAt(s, j + 1, "iv")
      case 'p' => true
      case 'n' => ciAt(s, j + 1, "av")
      case 'f' => ciAt(s, j + 1, "ooter")
      case 'h' =>
        (j + 1 < s.length && s(j + 1) >= '1' && s(j + 1) <= '6') ||
          ciAt(s, j + 1, "eader") || ciAt(s, j + 1, "tml")
      case 'u' | 'o' => ciAt(s, j + 1, "l")
      case 'l' => ciAt(s, j + 1, "i")
      case 't' => ciAt(s, j + 1, "able") || ciAt(s, j + 1, "r")
      case 'b' => ciAt(s, j + 1, "r") || ciAt(s, j + 1, "ody")
      case 's' => ciAt(s, j + 1, "ection")
      case 'a' => ciAt(s, j + 1, "rticle") || ciAt(s, j + 1, "side")
      case _ => false
    }
  }

  /** The block s(from until to), if any text is left after the tag strip. */
  private def addBlock(s: Array[Char], from: Int, to: Int, buf: Array[Char],
      out: scala.collection.mutable.Growable[TextBlock]): Unit = {
    val n = stripTags(s, from, to, buf)
    var a = 0 // String.trim: drop every char <= ' ' at both ends
    var b = n
    while (a < b && buf(a) <= ' ') a += 1
    while (b > a && buf(b - 1) <= ' ') b -= 1
    if (b > a) {
      // \s runs are single spaces and the ends are trimmed: words = spaces + 1
      var words = 1
      var k = a
      while (k < b) { if (buf(k) == ' ') words += 1; k += 1 }
      out += TextBlock(new String(buf, a, b - a), words,
        linkChars(s, from, to, buf).toDouble / (b - a))
    }
  }

  /** Tag strip of s(from until to) into buf, before the trim: each
    * `<[^>]*>` becomes a space and `\s+` runs collapse to one space; returns
    * the length written. A '>' search never passes the '>' of the block tag
    * that follows the block.
    */
  private def stripTags(s: Array[Char], from: Int, to: Int, buf: Array[Char]): Int = {
    var n = 0
    var tags = true // a '>' may still follow in the range
    var space = false // inside a whitespace run
    var i = from
    while (i < to) {
      val c = s(i)
      if (c == '<' && tags) {
        val gt = indexOf(s, '>', i + 1)
        if (gt >= 0 && gt < to) { space = true; i = gt + 1 }
        else tags = false // this '<' and every later one is text
      } else if (isSpace(c)) { space = true; i += 1 }
      else {
        if (space) { buf(n) = ' '; n += 1; space = false }
        buf(n) = c; n += 1; i += 1
      }
    }
    n
  }

  /** Java regex `\s` without UNICODE_CHARACTER_CLASS: [ \t\n\x0B\f\r]. */
  private def isSpace(c: Char): Boolean =
    c <= ' ' && (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r')

  /** Stripped, trimmed text length of every `<a\b[^>]*>(.*?)</a>` in the
    * block s(from until to); `to` is the end of `s` or a '<', which bounds
    * every '<' search.
    */
  private def linkChars(s: Array[Char], from: Int, to: Int, buf: Array[Char]): Int = {
    var total = 0
    var i = indexOf(s, '<', from)
    while (i >= 0 && i < to) {
      var next = i + 1
      if (i + 1 < to && lower(s(i + 1)) == 'a' && boundaryAfterName(s, i + 2, to)) {
        val gt = indexOf(s, '>', i + 2)
        var c = if (gt < 0 || gt >= to) -1 else indexOf(s, '<', gt + 1)
        while (c >= 0 && c < to && !(c + 4 <= to && s(c + 1) == '/' &&
            lower(s(c + 2)) == 'a' && s(c + 3) == '>'))
          c = indexOf(s, '<', c + 1)
        // no '>' or no closer left: no later anchor of the block can match
        if (c < 0 || c >= to) return total
        val n = stripTags(s, gt + 1, c, buf)
        var a = 0
        var b = n
        while (a < b && buf(a) <= ' ') a += 1
        while (b > a && buf(b - 1) <= ' ') b -= 1
        total += b - a
        next = c + 4
      }
      i = indexOf(s, '<', next)
    }
    total
  }

  /** Keep blocks whose link density < 0.35 and word count >= 5; join kept
    * block texts with '\n'. Context-free density rule — the default arm,
    * robust on fragmentary payloads where neighbor context is noise.
    */
  def stripBoilerplate(html: String): String =
    textBlocks(html).collect {
      case b if b.linkDensity < 0.35 && b.words >= 5 => b.text
    }.mkString("\n")

  /** Boilerpipe's NumWordsRulesClassifier decision stump (Kohlschütter,
    * Fankhauser, Nejdl — "Boilerplate Detection using Shallow Text
    * Features", WSDM 2010; thresholds from the published open-source
    * classifier): a block's verdict depends on its NEIGHBORS — a short
    * block before a long paragraph is its intro (content), the same
    * block after a link farm is a caption/related-links header
    * (boilerplate). First/last blocks see an empty neighbor.
    */
  private def stumpIsContent(prev: TextBlock, curr: TextBlock,
      next: TextBlock): Boolean =
    if (curr.linkDensity > 0.333333) false
    else if (prev.linkDensity <= 0.555556) {
      if (curr.words <= 16) {
        if (next.words <= 15) prev.words > 4 else true
      } else true
    } else {
      if (curr.words <= 40) next.words > 17 else true
    }

  /** Main-content extraction via the Boilerpipe stump over [[textBlocks]];
    * kept block texts joined with '\n'. The context-sensitive arm for
    * full-page payloads.
    */
  def mainContentBoilerpipe(html: String): String = {
    val bs = textBlocks(html)
    bs.indices.iterator.filter { i =>
      val prev = if (i == 0) EmptyBlock else bs(i - 1)
      val next = if (i == bs.length - 1) EmptyBlock else bs(i + 1)
      stumpIsContent(prev, bs(i), next)
    }.map(bs(_).text).mkString("\n")
  }

  def extractText(text: String): String =
    if (isHtml(text)) stripBoilerplate(text) else text

  // -------------------------------------------------------------------------
  // Section segmenter (P3 + C3). ALL-CAPS line (has a letter, equals its
  // own upper-casing, <= 60 chars) opens a new section; blank line closes
  // the current one; text before any header lands in "PARAGRAPH".
  // -------------------------------------------------------------------------
  def isAllCapsHeader(line: String): Boolean = {
    val t = line.trim
    t.nonEmpty && t.length <= 60 && t.exists(_.isLetter) &&
    t == t.toUpperCase && !t.contains(":")
  }

  /** Sections are emitted as spans into the input text (start/len of the
    * trimmed body region) — identical semantics to body-copying (the body
    * lines of a section are always contiguous in the input), without
    * tripling the bytes carried per row.
    */
  def segment(text: String): Vector[Section] = {
    val out = Vector.newBuilder[Section]
    var header = "PARAGRAPH"
    var bodyStart = -1
    var bodyEnd = -1
    def flush(): Unit = {
      if (bodyStart >= 0) {
        // trim the span
        var s = bodyStart; var e = bodyEnd
        while (s < e && Character.isWhitespace(text.charAt(s))) s += 1
        while (e > s && Character.isWhitespace(text.charAt(e - 1))) e -= 1
        if (e > s) out += Section(header, s, e - s)
      }
      bodyStart = -1; bodyEnd = -1
    }
    var off = 0
    for (line <- text.split("\n", -1)) {
      if (isAllCapsHeader(line)) {
        flush()
        header = line.trim
      } else if (line.trim.isEmpty) {
        flush()
        header = "PARAGRAPH"
      } else {
        if (bodyStart < 0) bodyStart = off
        bodyEnd = off + line.length
      }
      off += line.length + 1
    }
    flush()
    out.result()
  }

  // -------------------------------------------------------------------------
  // Classifier (C1/C2): keyword-density scores with the reference's full
  // precedence ladder (Ethan_PDFandJPG3.py:605-619): insurance>=2 wins;
  // prescription>=3 and > agreement; agreement>=3 and >= prescription;
  // then the POSSIBLE_* tiers at >=2; else UNKNOWN. We add a FACESHEET
  // class for the facesheet form shape, and (like the reference's
  // substring routing, Ethan_PDFandJPG3.py:655,679: `"PRESCRIPTION" in
  // doc_type`) the POSSIBLE_* tiers still run the corresponding bank.
  // -------------------------------------------------------------------------
  val insuranceKeywords: Vector[String] = Vector(
    "member name", "member id", "bin", "rx pcn", "group no", "copay",
    "insurance provider", "subscriber", "payer", "plan type", "rxgrp",
    "effective date")
  val prescriptionKeywords: Vector[String] = Vector(
    "prescription", "breast pump", "icd-10", "qty", "refills", "physician",
    "npi", "medical necessity", "length of need", "item description",
    "diagnosis", "rx", "dispense")
  val agreementKeywords: Vector[String] = Vector(
    "agreement", "signed by customer", "signature", "terms and conditions",
    "customer", "fecha", "firmado", "hereby", "consent")
  val facesheetKeywords: Vector[String] = Vector(
    "patient name", "mrn", "facesheet", "patient information", "guarantor",
    "patient date of birth", "patient phone", "admit date")

  def keywordScore(lowText: String, kws: Vector[String]): Int =
    kws.count(lowText.contains)

  /** C1 — filename fast-path classifier (check_document_content's
    * filename ladder, Ethan_PDFandJPG3.py:540-560), with the reference's
    * exact substring arms and precedence, mapped onto this engine's
    * canonical class names. None -> fall through to the content
    * classifier.
    */
  def classifyFilename(key: String): Option[String] = {
    val k = key.toLowerCase
    if (k.contains("insurancecard")) Some("INSURANCE")
    else if (k.contains("facesheet")) Some("FACESHEET")
    else if (k.contains("signed_agreement") ||
      (k.contains("agreement") && !k.contains("prescription"))) Some("AGREEMENT")
    else if (k.contains("prescription") && !k.contains("agreement")) Some("PRESCRIPTION")
    else if (k.contains("id") && k.contains("card")) Some("ID_DOCUMENT")
    else None
  }

  def classifyWithFilename(key: String, text: String): String =
    classifyFilename(key).getOrElse(classify(text))

  def classify(text: String): String = classifyLow(text.toLowerCase)

  /** classify() body over an already-lowercased text: the fused extractor
    * lowercases each turn once and shares the copy across the classifier,
    * the signature detector, and the bank guards.
    */
  def classifyLow(low: String): String = {
    val fs = keywordScore(low, facesheetKeywords)
    val ins = keywordScore(low, insuranceKeywords)
    val rx = keywordScore(low, prescriptionKeywords)
    val ag = keywordScore(low, agreementKeywords)
    if (fs >= 3 && fs >= ins) "FACESHEET"
    else if (ins >= 2) "INSURANCE"
    else if (rx >= 3 && rx > ag) "PRESCRIPTION"
    else if (ag >= 3 && ag >= rx) "AGREEMENT"
    else if (rx >= 2) "POSSIBLE_PRESCRIPTION"
    else if (ag >= 2) "POSSIBLE_AGREEMENT"
    else "UNKNOWN"
  }

  // -------------------------------------------------------------------------
  // Reference-parity classifier arm: the reference's EXACT keyword lists
  // and class names (Ethan_PDFandJPG3.py:585-599 lists, :605-619 ladder —
  // INSURANCE_CARD / SIGNED_AGREEMENT, no facesheet tier). The engine's
  // canonical classify() above keeps its own richer lists and the added
  // FACESHEET tier (golden-stable); this arm exists for users who need
  // byte-level class agreement with the reference.
  // -------------------------------------------------------------------------
  val refPrescriptionKeywords: Vector[String] = Vector(
    "prescription", "rx", "physician", "doctor", "diagnosis",
    "patient name", "mother name", "mother's name", "breast pump",
    "icd-10", "medical necessity", "dob", "date of birth")
  val refAgreementKeywords: Vector[String] = Vector(
    "agreement", "signature", "signed", "consent", "terms",
    "conditions", "i agree", "customer", "acknowledge")
  val refInsuranceKeywords: Vector[String] = Vector(
    "insurance", "member", "policy", "group", "copay", "deductible",
    "plan", "coverage", "id#", "id #", "insured", "subscriber")

  /** check_document_content parity: (class, winning keyword count) —
    * insurance >= 2 takes precedence; rx >= 3 must strictly beat ag;
    * ag >= 3 wins ties; POSSIBLE_* at >= 2; UNKNOWN carries count 0.
    */
  def classifyReference(text: String): (String, Int) = {
    val low = text.toLowerCase
    val rx = keywordScore(low, refPrescriptionKeywords)
    val ag = keywordScore(low, refAgreementKeywords)
    val ins = keywordScore(low, refInsuranceKeywords)
    if (ins >= 2) ("INSURANCE_CARD", ins)
    else if (rx >= 3 && rx > ag) ("PRESCRIPTION", rx)
    else if (ag >= 3 && ag >= rx) ("SIGNED_AGREEMENT", ag)
    else if (rx >= 2) ("POSSIBLE_PRESCRIPTION", rx)
    else if (ag >= 2) ("POSSIBLE_AGREEMENT", ag)
    else ("UNKNOWN", 0)
  }

  // -------------------------------------------------------------------------
  // KV anchor extractor (KV1-KV3 semantics over text): `Key: Value` lines.
  // Key normalized (P1): trim, drop leading "the ", drop trailing "?".
  // First occurrence of a key wins (reference dict insert order).
  // -------------------------------------------------------------------------
  private val kvLine =
    Pattern.compile("^([A-Za-z][A-Za-z0-9 .#/()'?-]{0,48}?)\\s*:\\s*(.*)$")

  def normalizeKey(k: String): String = {
    var s = k.trim
    if (s.toLowerCase.startsWith("the ")) s = s.substring(4)
    if (s.endsWith("?")) s = s.dropRight(1)
    s.trim
  }

  def kvAnchors(text: String): Vector[(String, String)] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (line <- text.split("\n", -1)) {
      // necessary conditions of kvLine, checked without the regex engine:
      // the key starts with an ASCII letter ("^([A-Za-z]...") and a colon
      // must appear within the first 50 key chars plus whitespace — most
      // non-KV lines exit here (measured 11.9 us/turn -> the regex now
      // runs only on candidate lines)
      val c0 = if (line.isEmpty) ' ' else line.charAt(0)
      val isLetter = (c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z')
      if (isLetter && line.indexOf(':') > 0) {
        val m = kvLine.matcher(line)
        if (m.matches()) {
          val k = normalizeKey(m.group(1))
          if (k.nonEmpty && !seen.contains(k)) seen += k -> m.group(2).trim
        }
      }
    }
    seen.toVector
  }

  // -------------------------------------------------------------------------
  // Regex field banks (R1-R11). Compiled once (object init); first match
  // wins; ordered fallback via chains. Pattern result beats KV anchor for
  // the same canonical field (merge precedence, SignedAgreementFinalDB:237-261).
  //
  // Leading literals: every bank pattern is declared with the literal(s)
  // each of its matches must BEGIN with, lowercased. The search for a match
  // starts at the earliest occurrence of a leading literal in the turn's
  // lowercase copy (`Matcher.find(from)`), and a pattern whose literals are
  // all absent is not run. No match can start before the first occurrence
  // of its leading literal, so the first match found is the one `find()`
  // from index 0 would find: the literals are a necessary-condition filter,
  // the regex the exact verification.
  // -------------------------------------------------------------------------
  private def p(re: String) = Pattern.compile(re)

  /** A bank pattern and the literals its every match begins with. For a
    * case-insensitive pattern the literals are lowercase and are looked up
    * in `low == text.toLowerCase`; `(?i)` folds ASCII only, so a match
    * beginning at i puts the literal at i of `low` whenever `low` is as long
    * as `text` (lowercasing changes the length only for U+0130 `İ`, in the
    * default locales this code assumes; with a different length the search
    * starts at `from`). A case-sensitive pattern's literals are looked up in
    * `text` itself.
    */
  private final class Anchored(re: String, leads: Array[String], cased: Boolean) {
    val pattern: Pattern = Pattern.compile(re)

    /** Where the search for a match at or after `from` starts; -1 when no
      * match can exist.
      */
    def start(text: String, low: String, from: Int): Int = {
      if (!cased && low.length != text.length) return from
      val hay = if (cased) text else low
      var best = -1
      var k = 0
      while (k < leads.length) {
        val j = hay.indexOf(leads(k), from)
        if (j >= 0 && (best < 0 || j < best)) best = j
        k += 1
      }
      best
    }

    /** A matcher on the first match starting at or after `from`, or null. */
    def find(text: String, low: String, from: Int = 0): Matcher = {
      val at = start(text, low, from)
      if (at < 0) null
      else {
        val m = pattern.matcher(text)
        if (m.find(at)) m else null
      }
    }

    /** Group 1 of that match, as [[firstMatch]] gives it. */
    def first(text: String, low: String, from: Int = 0): Option[String] = {
      val m = find(text, low, from)
      if (m == null) None else trimmedGroup(m, 1)
    }
  }

  private def anchored(re: String, leads: String*) = new Anchored(re, leads.toArray, cased = false)

  // Pattern SOURCE STRINGS are public: the oracle-gated column queries
  // (graft.queries.DocQueries) reuse the exact same regex text, so an
  // extractor pattern change cannot silently diverge from its gate.
  // R1 patient bank (Ethan_PDFandJPG3.py:242-256)
  val PatientNameRe =
    "(?i)(?:Mother|Patient)\\s*Name\\s*[:\\s]\\s*([^:\\n]+?)(?=\\s{2,}|\\n|$)"
  val PatientDobRe =
    "(?i)(?:DOB|Date of Birth)\\s*[:\\s]\\s*(\\d{1,2}/\\d{1,2}/\\d{4})"
  val PatientPhoneRe =
    "(?i)Phone(?:\\s*Number)?\\s*[:\\s]\\s*(\\(?\\d{3}\\)?[-.\\s]?\\d{3}[-.\\s]?\\d{4})"
  // R2 date banks — ordered fallback (priority then backup)
  val DateTimeFullRe =
    "(?i)Date\\s*:\\s*(\\d{1,2}/\\d{1,2}/\\d{4}\\s+\\d{1,2}:\\d{2}\\s*(?:AM|PM|CMT)?)"
  val DateAnchoredRe = "(?i)(?:Date|Fecha)\\s*:\\s*(\\d{1,2}/\\d{1,2}/\\d{4})"
  val DateBareRe = "(\\d{2}/\\d{2}/\\d{4})"
  // R3 signed-by bank + negative validation
  val SignedByRe =
    "(?i)(?:Signed by customer|Firmado por el cliente)\\s*:\\s*([^\\n]+)"
  // R4 ICD-10 — bullet-aware then plain then generic
  val IcdBulletRe =
    "(?is)ICD-10\\s*Code\\(?s?\\)?.{0,40}?[\\u2022\\u2756\\u2605\\u2726\\u25CF\\u25A0\\u25AA]\\s*([A-Z]\\d+\\.\\d+)"
  val IcdPlainRe = "(?i)ICD-10\\s*Code\\(?s?\\)?\\s*:?\\s*([A-Z]\\d+\\.\\d+)"
  val IcdGenericRe = "([A-Z]\\d+\\.\\d+)"

  private val patientName = anchored(PatientNameRe, "mother", "patient")
  private val patientDob = anchored(PatientDobRe, "dob", "date of birth")
  private val patientPhone = anchored(PatientPhoneRe, "phone")
  private val dateTimeFull = anchored(DateTimeFullRe, "date")
  private val dateAnchored = anchored(DateAnchoredRe, "date", "fecha")
  private val dateBare = p(DateBareRe)
  private val signedBy = anchored(SignedByRe, "signed by customer", "firmado por el cliente")
  val excludedSignerPhrases: Vector[String] = Vector(
    "date", "signature", "customer", "n/a", "none", "x")
  private val icdBullet = anchored(IcdBulletRe, "icd-10")
  private val icdPlain = anchored(IcdPlainRe, "icd-10")
  private val icdGeneric = p(IcdGenericRe)
  // R5 section-bounded checkbox items: the section is the text after
  // (?is)Section\s+II\.?\s*Medical Necessity up to the first
  // `Section\s+III` or the end (Java's non-MULTILINE `$`), i.e. the group
  // of `...Medical Necessity(.*?)(?:Section\s+III|$)`
  private val necessityHeader = anchored("(?i)Section\\s+II\\.?\\s*Medical Necessity", "section")
  private val nextSection = anchored("(?i)Section\\s+III", "section")
  private val checkboxItem = p("(?m)^\\s*[X\\u2713]\\s*(\\d+)\\.\\s*([^\\n]+)")
  // R6 tabular tri-group — deliberately case-SENSITIVE: with (?i) the
  // negated class [^C] would also exclude lowercase 'c' ("Electric").
  private val qtyTriGroup = new Anchored(
    "QTY\\s*(\\d+)\\s*([^C\\n]+?)\\s*Code\\s*(\\w+)", Array("QTY"), cased = true)
  private val lengthOfNeed = anchored("(?i)Length of Need\\s*:?\\s*(\\d+)", "length of need")
  // R9 unanchored entity sweep (phone) — note Java handles the reference's
  // lazy `??` quantifier (data_extract_kailey.py:43) identically here.
  private val phoneSweep =
    p("(?:\\(\\d{3}\\)\\s*|\\b\\d{3}[-.\\s]?)\\d{3}[-.\\s]??\\d{4}\\b")
  // R10 keyword presence → canonical value (Ethan_PDFandJPG3.py:258-269)
  private val pumpPatterns = Vector(
    anchored("(?i)double\\s+electric\\s+breast\\s+pump", "double"),
    anchored("(?i)breast\\s+pump.{0,40}?double\\s+electric", "breast"),
    anchored("(?i)E0603", "e0603"),
    anchored("(?i)pump\\s+depot", "pump"))
  // P9/P10 name helpers
  private val physicianNpi = anchored(
    "(?i)Physicians?\\s*Name\\s*:\\s*([^\\n-]+?)\\s*(?:,\\s*MD)?\\s*-\\s*(\\d{6,10})", "physician")
  private val memberNameId =
    anchored("(?i)Member\\s*Name\\s+([A-Za-z .'-]+?)\\s+([A-Z]\\d{6,12})\\b", "member")

  def firstMatch(pat: Pattern, text: String, group: Int = 1): Option[String] = {
    val m = pat.matcher(text)
    if (m.find()) trimmedGroup(m, group) else None
  }

  private def trimmedGroup(m: Matcher, group: Int): Option[String] =
    Option(m.group(group)).map(_.trim).filter(_.nonEmpty)

  def allMatches(pat: Pattern, text: String): Vector[String] = {
    val m = pat.matcher(text)
    val b = Vector.newBuilder[String]
    while (m.find()) b += m.group(0)
    b.result()
  }

  /** Name validation (R3): reject excluded phrases and lengths outside
    * (2, 50). Reference: SignedAgreementFinalDB:151-163,238-243.
    */
  def validName(n: String): Boolean = {
    val t = n.trim
    t.length > 2 && t.length < 50 &&
    !excludedSignerPhrases.contains(t.toLowerCase)
  }

  /** P9: split "Last, First" vs "First Last" into (first, last). */
  def splitName(full: String): (String, String) = {
    val t = full.trim
    if (t.contains(",")) {
      val parts = t.split(",", 2)
      (parts(1).trim, parts(0).trim)
    } else {
      val parts = t.split("\\s+")
      if (parts.length >= 2) (parts.dropRight(1).mkString(" "), parts.last)
      else (t, "")
    }
  }

  /** Tail window (P6/O2): last n lines of the text. Reverse scan for the
    * nth newline from the end — identical to
    * `split("\n", -1).takeRight(n).mkString("\n")` without materializing
    * every line (split(-1) keeps trailing empties, so the joined tail is
    * always a contiguous suffix of the input).
    */
  def lastLines(text: String, n: Int): String = text.substring(lastLinesStart(text, n))

  /** Start offset of [[lastLines]]`(text, n)` in `text`. */
  private def lastLinesStart(text: String, n: Int): Int = {
    if (n <= 0) return text.length
    var count = 0
    var i = text.length - 1
    while (i >= 0) {
      if (text.charAt(i) == '\n') {
        count += 1
        if (count == n) return i + 1
      }
      i -= 1
    }
    0
  }

  // -------------------------------------------------------------------------
  // Per-type field banks. Each returns fields in canonical-name space. The
  // private (text, low) forms are the fused extractor's: `low` MUST be
  // `text.toLowerCase`, the copy extractTurn already made for the
  // classifier.
  // -------------------------------------------------------------------------
  def facesheetBank(text: String): Map[String, String] =
    facesheetBank(text, text.toLowerCase)

  private def facesheetBank(text: String, low: String): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    patientName.first(text, low).foreach { v =>
      b += "patient_name" -> v
      val (f, l) = splitName(v)
      b += "patient_first_name" -> f
      b += "patient_last_name" -> l
    }
    patientDob.first(text, low).foreach(b += "patient_dob" -> _)
    patientPhone.first(text, low).foreach(b += "patient_phone" -> _)
    b.result()
  }

  def prescriptionBank(text: String): Map[String, String] =
    prescriptionBank(text, text.toLowerCase)

  private def prescriptionBank(text: String, low: String): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    patientName.first(text, low).foreach(b += "patient_name" -> _)
    patientDob.first(text, low).foreach(b += "patient_dob" -> _)
    // icdBullet and icdPlain share the leading literal; the bullet regex
    // also needs one of its bullet characters after it
    val icdAt = icdPlain.start(text, low, 0)
    val icd =
      (if (icdAt < 0) None
      else (if (hasBullet(text, icdAt)) icdBullet.first(text, low, icdAt) else None)
        .orElse(icdPlain.first(text, low, icdAt)))
        .orElse(firstMatch(icdGeneric, text))
    icd.foreach(b += "icd10" -> _)
    val items = checkboxItems(text, low)
    if (items.nonEmpty) b += "necessity_items" -> items.mkString("; ")
    val tri = qtyTriGroup.find(text, low)
    if (tri != null) {
      b += "qty" -> tri.group(1).trim
      b += "item_description" -> tri.group(2).trim
      b += "item_code" -> tri.group(3).trim
    }
    lengthOfNeed.first(text, low).foreach(b += "length_of_need" -> _)
    if (pumpPatterns.exists(_.find(text, low) != null))
      b += "pump_type" -> "Double Electric Breast Pump"
    val phys = physicianNpi.find(text, low)
    if (phys != null) {
      b += "physician_name" -> phys.group(1).trim
      b += "physician_npi" -> phys.group(2).trim
    }
    b.result()
  }

  /** One of IcdBulletRe's bullet characters occurs in text(from ...). */
  private def hasBullet(text: String, from: Int): Boolean = {
    var i = from
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= '\u2022' && isBullet(c)) return true
      i += 1
    }
    false
  }

  private def isBullet(c: Char): Boolean = (c: @annotation.switch) match {
    case '\u2022' | '\u2756' | '\u2605' | '\u2726' | '\u25CF' | '\u25A0' | '\u25AA' => true
    case _ => false
  }

  def agreementBank(text: String): Map[String, String] = {
    val tail = lastLines(text, 15)
    agreementBank(tail, tail.toLowerCase)
  }

  /** Reference applies the agreement bank to the last-15-lines window
    * (SignedAgreementFinalDB:146-148). No agreement pattern looks behind
    * its start or has an anchor, so the first match in the window is the
    * first match in `text` starting at the window's offset.
    */
  private def agreementBank(text: String, low: String): Map[String, String] = {
    val from = lastLinesStart(text, 15)
    val b = Map.newBuilder[String, String]
    signedBy.first(text, low, from).filter(validName).foreach { v =>
      b += "signed_by" -> v
    }
    dateTimeFull.first(text, low, from)
      .orElse(dateAnchored.first(text, low, from))
      .orElse { val m = dateBare.matcher(text); if (m.find(from)) trimmedGroup(m, 1) else None }
      .foreach(b += "signed_date" -> _)
    b.result()
  }

  def insuranceBank(text: String): Map[String, String] =
    insuranceBank(text, text.toLowerCase)

  private def insuranceBank(text: String, low: String): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    val m = memberNameId.find(text, low)
    if (m != null) {
      b += "member_name" -> m.group(1).trim
      b += "member_id" -> m.group(2).trim
    }
    b.result()
  }

  /** R9 entity sweep — all phone numbers anywhere in the text. */
  def phoneNumbers(text: String): Vector[String] = allMatches(phoneSweep, text)

  /** R5 section-bounded checkbox items, exposed for direct gating: the
    * checked item texts inside the Medical Necessity section only.
    */
  def checkboxItems(text: String): Vector[String] =
    checkboxItems(text, text.toLowerCase)

  private def checkboxItems(text: String, low: String): Vector[String] = {
    val head = necessityHeader.find(text, low)
    if (head == null) return Vector.empty
    val body = head.end
    val next = nextSection.find(text, low, body)
    val end = math.min(if (next == null) text.length else next.start, dollarFrom(text, body))
    val sec = text.substring(body, end).trim
    // checkboxItem's matches start at a line start (its MULTILINE `^`), so
    // only line starts are tried, in order, as `find()` would
    val m = checkboxItem.matcher(sec)
    val items = Vector.newBuilder[String]
    var i = lineStart(sec, 0)
    while (i >= 0) {
      if (m.region(i, sec.length).lookingAt()) {
        items += m.group(2).trim
        i = lineStart(sec, m.end)
      } else i = lineStart(sec, i + 1)
    }
    items.result()
  }

  /** The first index at or after `from` where Java's MULTILINE `^`
    * matches: the start, or after a line terminator other than the '\r' of
    * a "\r\n", but never at the end.
    */
  private def lineStart(s: String, from: Int): Int = {
    var i = from
    while (i < s.length) {
      if (i == 0) return 0
      val c = s.charAt(i - 1)
      if ((c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029') &&
          !(c == '\r' && s.charAt(i) == '\n')) return i
      i += 1
    }
    -1
  }

  /** The first index at or after `from` where Java's non-MULTILINE `$`
    * matches: before a final "\r\n", before a final line terminator other
    * than the '\n' of a "\r\n", or at the end.
    */
  private def dollarFrom(s: String, from: Int): Int = {
    val n = s.length
    def terminator(i: Int): Boolean = s.charAt(i) match {
      case '\n' => i == 0 || s.charAt(i - 1) != '\r'
      case '\r' | '\u0085' | '\u2028' | '\u2029' => true
      case _ => false
    }
    if (from <= n - 2 && s.charAt(n - 2) == '\r' && s.charAt(n - 1) == '\n') n - 2
    else if (from <= n - 1 && terminator(n - 1)) n - 1
    else n
  }

  // -------------------------------------------------------------------------
  // Query-driven dynamic extraction — the reference's primary mechanism:
  // a bank of natural-language queries whose normalized text becomes the
  // field key at runtime (finalcodes/Facesheet.py:104-143 query banks,
  // :157-175 key derivation + document_data map). Key derivation is the
  // reference's exact rule: text after the FIRST "the " (case-sensitive),
  // cut at the first "?". Unanswered queries stay in the map with "" (the
  // reference counts them as emptyCount for A1 confidence).
  // -------------------------------------------------------------------------
  def queryKey(q: String): String = {
    val i = q.indexOf("the ")
    val afterThe = if (i >= 0) q.substring(i + 4) else q
    val j = afterThe.indexOf('?')
    if (j >= 0) afterThe.substring(0, j) else afterThe
  }

  /** Case-insensitive anchor lookup shared by the query-bank arms:
    * first-wins also across CASE-variant keys ("MRN:" vs "Mrn:"),
    * consistent with kvAnchors' first-occurrence rule per exact key.
    */
  private def anchorLookup(text: String): Map[String, String] =
    kvAnchors(text).foldLeft(Map.empty[String, String]) {
      case (m, (k, v)) =>
        val kl = k.toLowerCase
        if (m.contains(kl)) m else m + (kl -> v)
    }

  /** Answer a query bank from the document's KV anchors: a query is
    * answered by the first anchor whose normalized key equals the query
    * key case-insensitively. Duplicate query keys overwrite (Python dict
    * assignment order, Facesheet.py:168/175).
    */
  def queryBank(queries: Seq[String], text: String): Map[String, String] = {
    val byKey = anchorLookup(text)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (q <- queries) {
      val key = queryKey(q)
      out(key) = byKey.getOrElse(normalizeKey(key).toLowerCase, "")
    }
    out.toMap
  }

  /** The reference's MERGED-LIST bank form (queryCodes/
    * AttemptedMergeQueryCodes:88-112): queries carry an (text, alias)
    * pair, batches of `batchSize` run in order, every batch's
    * (query text, alias, answer) triples are concatenated and
    * deduplicated on the EXACT triple (:95-100 — a repeated query with
    * the same alias and same answer is kept once; a differing answer
    * would keep both), then the kept triples are sorted by
    * `query_order` — a dict comprehension over the bank where a
    * duplicate alias takes the index of its LAST occurrence (:110-112),
    * so duplicate-alias triples sort at that later position (stable
    * sort preserves their relative order). Unanswered queries carry ""
    * (the engine's uniform convention, same as [[queryBank]]).
    */
  def queryBankMerged(queries: Seq[(String, String)], text: String,
      batchSize: Int = 15): Vector[(String, String, String)] = {
    val byKey = anchorLookup(text)
    val processed = scala.collection.mutable.HashSet.empty[(String, String, String)]
    val out = Vector.newBuilder[(String, String, String)]
    for (batch <- queries.grouped(batchSize); (q, alias) <- batch) {
      val key = queryKey(q)
      val triple = (q, alias, byKey.getOrElse(normalizeKey(key).toLowerCase, ""))
      if (processed.add(triple)) out += triple
    }
    // Python `{alias: i for i, q in enumerate(...)}`: later index wins —
    // Scala toMap has the same last-wins semantics; sortBy is stable.
    val order = queries.zipWithIndex.map { case ((_, a), i) => a -> i }.toMap
    out.result().sortBy(t => order.getOrElse(t._2, Int.MaxValue))
  }

  /** B1 batching for banks past the per-call cap: the reference's API
    * rejects >15 queries per request, so banks are split into batches of
    * `batchSize` (queryCodes/AttemptedMergeQueryCodes:49-52) and each
    * batch's answers land in the shared document_data dict. Merge order:
    * later batches overwrite earlier ones per derived key — Python dict
    * assignment (finalcodes/Facesheet.py:168,175); the reference's
    * triple-dedup variant (AttemptedMergeQueryCodes:95-100) differs only
    * when two identical query TEXTS answer differently, which cannot
    * happen against one document.
    */
  def queryBankBatched(queries: Seq[String], text: String,
      batchSize: Int = 15): Map[String, String] =
    queries.grouped(batchSize)
      .map(batch => queryBank(batch, text))
      .foldLeft(Map.empty[String, String])(_ ++ _)

  // -------------------------------------------------------------------------
  // R8 field bank with "<Field> not found" defaults — the Lauren-style
  // fixed bank (MiscTestingScripts/Lauren_RX_JPG_Reader.py:47-63): every
  // field is always present, either with its first regex match or the
  // literal default. Age/DOB captures group 2 (group 1 is the label
  // alternation), everything else group 1.
  // -------------------------------------------------------------------------
  val DefaultBankPatterns: Vector[(String, String, Int)] = Vector(
    ("Name", "(?i)\\bname\\b[:\\s]*([^\\n]+)", 1),
    ("Age/DOB", "(?i)\\b(dob|date of birth|age)\\b[:\\s]*([^\\n]+)", 2),
    ("Address", "(?i)\\baddress\\b[:\\s]*([^\\n]+)", 1),
    ("Date", "(?i)\\bdate\\b[:\\s]*([^\\n]+)", 1),
    ("Rx", "(?i)\\brx\\b[:\\s]*([^\\n]+)", 1),
    ("Refills", "(?i)\\brefills?\\b[:\\s]*([^\\n]+)", 1),
    ("Signature", "(?i)\\bsignature\\b[:\\s]*([^\\n]+)", 1))

  private val defaultBankCompiled =
    DefaultBankPatterns.map { case (f, re, g) => (f, p(re), g) }

  def defaultsBank(text: String): Map[String, String] =
    defaultBankCompiled.map { case (field, pat, grp) =>
      field -> firstMatch(pat, text, grp).getOrElse(s"$field not found")
    }.toMap

  // -------------------------------------------------------------------------
  // KV4 — keyword routing into a nested patient/doctor/prescription
  // record, with the reference's 13-rule cleanup battery
  // (MiscTestingScripts/Ethan_PDFandJPG3.py:228-238 routing, :276-411
  // cleanup, :414-418 nested record). Re-expressed as one pure function
  // over the anchor list + text; output is canonical nested JSON.
  // -------------------------------------------------------------------------
  private val routeSkipTerms = Vector("icd", "z39", "lactating")
  private val routePatientTerms = Vector(
    "mother", "infant", "patient", "name", "dob", "date of birth", "phone")
  private val routeDoctorTerms = Vector("physician", "doctor", "md", "prescribing")

  /** Patient pattern bank applied to the full text after anchor routing
    * (Ethan_PDFandJPG3.py:243-251); pattern result overwrites the anchor.
    */
  private val routePatientPatterns = Vector(
    ("(?i)(?:Mother|Patient)\\s*Name[:\\s]+([^:\\n]+)", "Patient Name"),
    ("(?i)(?:Mother|Patient)?\\s*Date of [Bb]irth[:\\s]+([^:\\n]+)", "Date of Birth"),
    ("(?i)(?:Mother|Patient)?\\s*DOB[:\\s]+([^:\\n]+)", "DOB"),
    ("(?i)(?:Mother|Patient)?\\s*Phone\\s*(?:Number)?[:\\s]+([^:\\n]+)", "Phone Number"),
    ("(?i)(?:Infant|Baby)\\s*Name[:\\s]+([^:\\n]+)", "Infant Name"),
    ("(?i)(?:Infant|Baby)\\s*Date of [Bb]irth[:\\s]+([^:\\n]+)", "Infant Date of Birth"),
    ("(?i)EDD[:\\s]+([^:\\n]+)", "EDD")).map { case (re, f) => (p(re), f) }

  private val routePumpPatterns = Vector(
    "(?i)breast pump", "(?i)double electric", "(?i)double-electric",
    "(?i)electric breast pump").map(p)

  private val doctorNpiKeyRe = p("(.+?),?\\s+MD\\s+-\\s+(\\d+)")

  private val routeUnwantedFields = Vector(
    "Mother expects regular separation from infant",
    "Mother expects regular", "Care of the lactating mother", "Z39.1", "ICD-10")

  type FieldsMap = scala.collection.mutable.LinkedHashMap[String, String]

  /** Route anchors + pattern hits into (patient, doctor, prescription)
    * and apply the 13-rule cleanup battery. Returned maps preserve
    * insertion order (the reference's dict semantics, which the battery's
    * first-wins rules depend on).
    */
  def routeAndClean(text: String): (FieldsMap, FieldsMap, FieldsMap) = {
    val patient = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val doctor = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rx = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // keyword routing over the KV anchors (skip terms first, elif order)
    for ((k, v) <- kvAnchors(text)) {
      val kl = k.toLowerCase
      if (!routeSkipTerms.exists(kl.contains)) {
        if (routePatientTerms.exists(kl.contains)) patient(k) = v
        else if (routeDoctorTerms.exists(kl.contains)) doctor(k) = v
      }
    }
    // pattern bank overwrites anchors for its canonical field names
    for ((pat, field) <- routePatientPatterns)
      firstMatch(pat, text).foreach(v => patient(field) = v)
    // pump mention -> canonical prescription value
    if (routePumpPatterns.exists(_.matcher(text).find()))
      rx("Prescription") = "Double Electric Breast Pump"

    // pre-cleanup: strip ':' from keys, drop empty values (:272-274)
    def precleaned(m: FieldsMap): FieldsMap = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
      for ((k, v) <- m; if v != null && v.trim.nonEmpty)
        out(k.replace(":", "").trim) = v
      out
    }
    val pa = precleaned(patient); val dr = precleaned(doctor)
    val pr = precleaned(rx)

    // 1. remove unwanted fields
    for (f <- routeUnwantedFields; k <- pa.keys.toVector; if k.contains(f))
      pa.remove(k)
    // 2. physician/doctor keys move from patient to doctor (first wins)
    for (k <- pa.keys.toVector;
         if k.toLowerCase.contains("physician") || k.toLowerCase.contains("doctor")) {
      val v = pa.remove(k).get
      if (!dr.contains("Doctor Name")) dr("Doctor Name") = v
    }
    // 3. infant fields re-labeled "Infant <field>"
    val infant = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (k <- pa.keys.toVector;
         if k.toLowerCase.contains("infant") || k.toLowerCase.contains("baby")) {
      infant(k.replace("Infant ", "").replace("Baby ", "")) = pa.remove(k).get
    }
    for ((k, v) <- infant) pa(s"Infant $k") = v
    // 4. standard field names beat their aliases
    for ((standard, aliases) <- Vector(
        "Patient Name" -> Vector("Name"), "DOB" -> Vector("Date of Birth"),
        "Phone Number" -> Vector("Phone"));
        if pa.contains(standard); a <- aliases) pa.remove(a)
    // 5. doctor 'X' checkbox values read as Selected
    for (k <- dr.keys.toVector; if dr(k) == "X") dr(k) = "Selected"
    // 6. single-char MD signature is a misread -> Present
    if (dr.get("MD Signature").exists(_.length <= 1)) dr("MD Signature") = "Present"
    // 7. MD Signature redundant with Physician Signature
    if (dr.contains("MD Signature") && dr.contains("Physician Signature"))
      dr.remove("MD Signature")
    // 8. "<Doctor Name>, MD - <NPI>" combined KEYS split into fields
    for (k <- dr.keys.toVector) {
      val m = doctorNpiKeyRe.matcher(k)
      if (m.find()) {
        val v = dr.remove(k).get
        dr("Doctor Name") = m.group(1).trim
        dr("NPI") = m.group(2).trim
        if (v == "Selected") dr("Selected") = "Yes"
      }
    }
    // 9. split Patient Name into First/Last ("Last, First" aware)
    pa.remove("Patient Name").foreach { full =>
      val t = full.trim
      if (t.contains(",")) {
        val parts = t.split(",", 2)
        pa("First Name") = parts(1).trim
        pa("Last Name") = parts(0).trim
      } else {
        val parts = t.split("\\s+").toVector
        if (parts.length >= 2) {
          pa("First Name") = parts.head
          pa("Last Name") = parts.tail.mkString(" ")
        } else {
          pa("First Name") = t
          pa("Last Name") = ""
        }
      }
    }
    // 10. First-ends-with-comma means the halves were swapped
    (pa.get("First Name"), pa.get("Last Name")) match {
      case (Some(f), Some(l)) if f.endsWith(",") =>
        pa("First Name") = l
        pa("Last Name") = f.stripSuffix(",")
      case _ => ()
    }
    // 11. Selected flag gets a descriptive name
    dr.remove("Selected").foreach(v => dr("Is Prescribing Physician") = v)
    // 12. OCR-interpreted signature text -> Present
    if (dr.contains("Physician Signature")) dr("Physician Signature") = "Present"
    // 13. Infant Name that captured the next label is absent
    if (pa.get("Infant Name").contains("Infant Date of Birth"))
      pa("Infant Name") = "Not present"

    (pa, dr, pr)
  }

  /** Canonical nested output record (§1.1):
    * `{"doctor":{...},"patient":{...},"prescription":{...}}` with keys
    * sorted inside each section for determinism.
    */
  def routedRecordJson(text: String): String = {
    val (pa, dr, pr) = routeAndClean(text)
    val sb = new StringBuilder(128)
    sb.append("{\"doctor\":").append(fieldsToJson(dr.toMap))
      .append(",\"patient\":").append(fieldsToJson(pa.toMap))
      .append(",\"prescription\":").append(fieldsToJson(pr.toMap))
      .append('}')
    sb.result()
  }

  // -------------------------------------------------------------------------
  // Signature detection (C4, text-indicator arm): reference
  // `detect_signature` methods 3 ("signature"/"signed"//s/) and the
  // "Signed by customer:" implication.
  // -------------------------------------------------------------------------
  def detectSignature(text: String): Boolean =
    detectSignatureLow(text.toLowerCase)

  /** detectSignature() over an already-lowercased text (see classifyLow). */
  def detectSignatureLow(low: String): Boolean = {
    low.contains("/s/") || low.contains("signed by customer") ||
    low.contains("firmado por el cliente") || low.contains("signature:") ||
    (low.contains("signature") && low.contains("signed"))
  }

  /** Layout span: page-normalized bounding box of a text-less line block
    * (the OCR geometry the reference's Method 2 inspects). Transcripts
    * carry no geometry, so this arm only activates when a caller supplies
    * spans from a layout-parsing source.
    */
  final case class LayoutSpan(width: Double, height: Double, hasText: Boolean)

  /** C4 geometry arm (detect_signature Method 2,
    * Ethan_PDFandJPG3.py:498-508): a wide, short, TEXT-LESS line block
    * reads as a handwritten signature stroke.
    */
  def detectSignatureGeometry(spans: Seq[LayoutSpan]): Boolean =
    spans.exists(s => s.width > 0.2 && s.height < 0.05 && !s.hasText)

  /** Full C4 ladder in the reference's arm order: geometry (Method 2)
    * before text indicators (Method 3). Method 1 (native SIGNATURE
    * blocks) has no analog without an OCR backend.
    */
  def detectSignatureFull(text: String, spans: Seq[LayoutSpan]): Boolean =
    detectSignatureGeometry(spans) || detectSignature(text)

  /** Positioned layout span: page-normalized top-left corner of a text
    * block from a layout-parsing source (the geometry the reference's
    * Textract TABLE/CELL blocks carry — `EthansCode/Ethan_PDFandJPG3.py`
    * consumes Textract's pre-aligned CELL rows/columns; with a raw layout
    * source the alignment itself is ours to compute).
    */
  final case class PosSpan(x: Double, y: Double, text: String)

  /** Table-cell alignment from positioned layout spans: reconstruct the
    * (row, column) grid that a set of positioned text blocks visually
    * forms — the Textract-TABLE analog over raw layout geometry.
    *
    * Row assignment: spans sorted by (y, x, text); a new row starts when
    * the y-gap to the previous span exceeds `rowGap` (1-D single-linkage
    * clustering on sorted coordinates — deterministic, no iteration).
    * Column assignment: the distinct x positions of the whole table are
    * clustered the same way with `colGap`; a span's column is its
    * x-cluster's rank. Ragged tables (missing cells) keep their column
    * identity because columns are derived from the table-wide x profile,
    * not per-row order. Returns (row, col, text) sorted by (row, col,
    * text).
    *
    * Row-local per document (one conversation/page's spans fit in memory
    * by construction), so the operator is embarrassingly parallel — the
    * 100 TB shape is a flatMap, no shuffle.
    */
  def tableCells(spans: Seq[PosSpan], rowGap: Double = 0.02,
      colGap: Double = 0.05): Seq[(Int, Int, String)] = {
    if (spans.isEmpty) return Seq.empty
    val byY = spans.sortBy(s => (s.y, s.x, s.text))
    val rowIds = new Array[Int](byY.length)
    var r = 0
    var i = 1
    while (i < byY.length) {
      if (byY(i).y - byY(i - 1).y > rowGap) r += 1
      rowIds(i) = r
      i += 1
    }
    val xs = spans.map(_.x).distinct.sorted
    val colOf = scala.collection.mutable.HashMap.empty[Double, Int]
    var c = 0
    var j = 0
    while (j < xs.length) {
      if (j > 0 && xs(j) - xs(j - 1) > colGap) c += 1
      colOf(xs(j)) = c
      j += 1
    }
    byY.indices.map(i => (rowIds(i), colOf(byY(i).x), byY(i).text))
      .sortBy(t => (t._1, t._2, t._3))
  }

  /** Anchored field-value SPANS: for every `Key: value` line, the
    * ABSOLUTE character span (0-based start, length) of the space-trimmed
    * value in the input text, plus the key and the covered text. This is
    * the span-native form of the KV anchor pass (KV1-3): downstream
    * consumers that must point back INTO the turn text (highlighting,
    * redaction, provenance audits — the north rule's "extracted
    * text/spans match per turn") get offsets instead of copies, and
    * `text.substring(start, start+len)` recovers the value exactly.
    * Space-only trimming on both ends of the value (matching SQL trim
    * semantics); lines without a colon, with an empty key, or with an
    * empty trimmed value emit nothing. Row-local — the 100 TB shape is a
    * flatMap, no shuffle.
    */
  def anchorSpans(text: String): Seq[(String, Int, Int, String)] = {
    val out = Seq.newBuilder[(String, Int, Int, String)]
    var off = 0
    for (line <- text.split("\n", -1)) {
      val c = line.indexOf(':')
      if (c > 0) {
        val key = line.substring(0, c).trim
        var s = c + 1
        var e = line.length
        while (s < e && line.charAt(s) == ' ') s += 1
        while (e > s && line.charAt(e - 1) == ' ') e -= 1
        if (key.nonEmpty && e > s)
          out += ((key, off + s, e - s, line.substring(s, e)))
      }
      off += line.length + 1
    }
    out.result()
  }

  /** Merge overlapping-or-touching [start, end) spans into disjoint
    * intervals — the overlap-resolution step downstream of every
    * span producer ([[anchorSpans]], [[segment]], layout boxes, PII
    * match ranges): independent extractors emit ranges over the same
    * text, and consumers (redaction splicing, highlight rendering,
    * coverage accounting) need them disjoint. Classic sweep: sort by
    * (start, end), fold with a running max-end; a span starting
    * strictly after the running end opens a new interval (touching
    * spans merge — redacting [5,10) and [10,15) is one cut). Returns
    * (start, end, count-of-source-spans) per merged interval.
    * Row-local per document — the 100 TB shape is a flatMap, no
    * shuffle; cost O(k log k) in the per-doc span count.
    */
  def mergeSpans(spans: Seq[(Int, Int)]): Seq[(Int, Int, Int)] = {
    if (spans.isEmpty) return Seq.empty
    val sorted = spans.sortBy(identity)
    val out = Seq.newBuilder[(Int, Int, Int)]
    var (cs, ce) = sorted.head
    var n = 1
    for ((s, e) <- sorted.tail) {
      if (s <= ce) { if (e > ce) ce = e; n += 1 }
      else { out += ((cs, ce, n)); cs = s; ce = e; n = 1 }
    }
    out += ((cs, ce, n))
    out.result()
  }

  // Offset-emitting PII detectors — the span-producing counterpart of
  // TextFunctions.redactPii (which rewrites in place and so can't feed
  // downstream span consumers). Four INDEPENDENT detectors whose matches
  // legitimately overlap (the generic digit-run fires inside a phone or
  // SSN match), which is exactly why mergeSpans sits between detection
  // and splicing.
  private val piiEmailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[a-z]{2,}".r
  private val piiPhoneRe = "\\(\\d{3}\\) \\d{3}-\\d{4}".r
  private val piiSsnRe = "\\d{3}-\\d{2}-\\d{4}".r
  private val piiDigitRunRe = "\\d{4,}".r

  /** All PII match ranges [start, end) over `text`, one entry per raw
    * detector hit (unmerged — feed through [[mergeSpans]]). Row-local;
    * the 100 TB shape is a map inside the extract stage, no shuffle.
    */
  def piiSpans(text: String): Seq[(Int, Int)] =
    Seq(piiEmailRe, piiPhoneRe, piiSsnRe, piiDigitRunRe).flatMap(
      _.findAllMatchIn(text).map(m => (m.start, m.end)).toList)

  /** Splice merged spans OUT of `text`: keep everything outside the
    * disjoint [start, end) intervals, writing `marker(count)` in place
    * of each — the redaction step downstream of [[piiSpans]] +
    * [[mergeSpans]]. Requires the intervals disjoint and sorted (what
    * mergeSpans emits); a marker carrying the source-hit count keeps
    * the cut auditable without retaining the cut text.
    */
  def spliceSpans(text: String, merged: Seq[(Int, Int, Int)],
      marker: Int => String): String = {
    // java.lang.StringBuilder for the (CharSequence, from, to) append —
    // scala's StringBuilder would auto-tuple the 3-arg call into append(Any)
    val sb = new java.lang.StringBuilder(text.length)
    var pos = 0
    for ((s, e, n) <- merged) {
      sb.append(text, pos, s).append(marker(n))
      pos = e
    }
    sb.append(text, pos, text.length).toString
  }

  /** Multi-column READING ORDER from positioned spans — the layout-parse
    * step between raw geometry and linear text (a PDF two-column page
    * must be read left column top-to-bottom, THEN right column; naive
    * y-order interleaves the columns). Columns come from 1-D gap
    * clustering over the page-wide x profile (same primitive as
    * [[tableCells]], wider gap: column gutters are an order of magnitude
    * larger than intra-column jitter), order within a column is (y, x,
    * text). Returns spans tagged 0..n-1 in reading order.
    *
    * Row-local per document/page — the 100 TB shape is a flatMap, no
    * shuffle (reference analog: the linearization the reference gets for
    * free from Textract's LINE ordering, e.g.
    * EthansCode/Ethan_PDFandJPG3.py's line loop).
    */
  def readingOrder(spans: Seq[PosSpan], colGap: Double = 0.3): Seq[(Int, String)] = {
    if (spans.isEmpty) return Seq.empty
    val xs = spans.map(_.x).distinct.sorted
    val colOf = scala.collection.mutable.HashMap.empty[Double, Int]
    var c = 0
    var j = 0
    while (j < xs.length) {
      if (j > 0 && xs(j) - xs(j - 1) > colGap) c += 1
      colOf(xs(j)) = c
      j += 1
    }
    spans.sortBy(s => (colOf(s.x), s.y, s.x, s.text))
      .zipWithIndex.map { case (s, i) => (i, s.text) }
  }

  // -------------------------------------------------------------------------
  // Confidence (A1/A2).
  // -------------------------------------------------------------------------
  /** A1: (keyCount - emptyCount) / keyCount, 0.0 when empty map. */
  def confidenceA1(fields: Map[String, String]): Double =
    if (fields.isEmpty) 0.0
    else {
      val keyCount = fields.size
      val emptyCount = fields.valuesIterator.count(_.isEmpty)
      (keyCount - emptyCount).toDouble / keyCount
    }

  /** A2: 3-point — +1 per non-empty of {signed_by, signed_date, signature},
    * /3, rounded to 2 decimals (half-up, matching Python round for these
    * values: 0.0, 0.33, 0.67, 1.0).
    */
  def confidenceA2(fields: Map[String, String], sig: Boolean): Double = {
    var pts = 0
    if (fields.get("signed_by").exists(_.nonEmpty)) pts += 1
    if (fields.get("signed_date").exists(_.nonEmpty)) pts += 1
    if (sig) pts += 1
    math.round(pts / 3.0 * 100.0) / 100.0
  }

  // -------------------------------------------------------------------------
  // Canonical JSON forms for the sink boundary. The reference emits JSON
  // text into its sinks (`json.dump`, Postgres json columns —
  // finalcodes/Facesheet.py:157-196); we do the same: nested parquet
  // writes of array<struct>/map cost ~20x a string column, so the results
  // table stores these as canonical JSON strings and `from_json` recovers
  // the typed form when needed. Keys sorted for determinism.
  // -------------------------------------------------------------------------
  private def jsonEscape(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  def fieldsToJson(fields: Map[String, String]): String = {
    val sb = new StringBuilder(64)
    sb.append('{')
    var first = true
    for ((k, v) <- fields.toSeq.sortBy(_._1)) {
      if (!first) sb.append(',')
      first = false
      jsonEscape(sb, k); sb.append(':'); jsonEscape(sb, v)
    }
    sb.append('}')
    sb.result()
  }

  def sectionsToJson(sections: Seq[Section]): String = {
    val sb = new StringBuilder(64)
    sb.append('[')
    var first = true
    for (s <- sections) {
      if (!first) sb.append(',')
      first = false
      sb.append("{\"header\":"); jsonEscape(sb, s.header)
      sb.append(",\"start\":").append(s.start)
      sb.append(",\"len\":").append(s.len).append('}')
    }
    sb.append(']')
    sb.result()
  }

  // -------------------------------------------------------------------------
  // Fused per-turn extractor — the mapPartitions body and the oracle.
  // -------------------------------------------------------------------------
  def extractTurn(convId: String, turnIdx: Int, text: String): ExtractedTurn = {
    if (text == null || text.isEmpty)
      return ExtractedTurn(convId, turnIdx, "UNKNOWN", "", Vector.empty,
        Map.empty, Map.empty, signature_present = false, 0.0, "failed:empty")
    if (text.length > MaxTextChars)
      return ExtractedTurn(convId, turnIdx, "UNKNOWN", "", Vector.empty,
        Map.empty, Map.empty, signature_present = false, 0.0, "failed:oversize")
    try {
      val stripped = extractText(text)
      val sections = segment(stripped)
      // one lowercase copy per turn, shared by the classifier, the
      // signature detector, and the banks' leading-literal search
      val low = stripped.toLowerCase
      val docType = classifyLow(low)
      val anchors = kvAnchors(stripped).toMap
      // Substring routing like the reference's `"PRESCRIPTION" in
      // doc_type` / `"AGREEMENT" in doc_type` dispatch: POSSIBLE_* tiers
      // run the same bank as their confident counterparts.
      val bank =
        if (docType == "FACESHEET") facesheetBank(stripped, low)
        else if (docType.contains("PRESCRIPTION")) prescriptionBank(stripped, low)
        else if (docType.contains("AGREEMENT")) agreementBank(stripped, low)
        else if (docType == "INSURANCE") insuranceBank(stripped, low)
        else Map.empty[String, String]
      // Merge precedence: pattern-bank result beats KV anchor (§3.3).
      val fields = anchors ++ bank
      // provenance mirrors the merge exactly: a key in `bank` was
      // produced (or overridden) by the pattern arm, anything else by
      // its KV anchor
      val fieldSrc = fields.map { case (k, _) =>
        k -> (if (bank.contains(k)) "pattern" else "anchor")
      }
      val sig = detectSignatureLow(low)
      val conf =
        if (docType.contains("AGREEMENT")) confidenceA2(bank, sig)
        else confidenceA1(fields)
      ExtractedTurn(convId, turnIdx, docType, stripped, sections, fields,
        fieldSrc, sig, conf, "ok")
    } catch {
      case e: Exception =>
        // E1 quarantine: never abort the job on one bad row.
        ExtractedTurn(convId, turnIdx, "UNKNOWN", "", Vector.empty,
          Map.empty, Map.empty, signature_present = false, 0.0,
          s"failed:${e.getClass.getSimpleName}")
    }
  }
}
