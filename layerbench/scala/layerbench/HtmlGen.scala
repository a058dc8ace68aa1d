package layerbench

import graft.gen.Rng
import graft.model.Turn

/** Seeded generator of long HTML pages for the `html_long` workload.
  *
  * Each page is tens of KB of nav, div, anchor and script markup around a
  * few paragraphs of content. A quarter of the pages are malformed:
  * they carry a handful of `<nav>`, `<a>` and `<script>` openers that are
  * never closed. The opener counts stay small so that every page still
  * extracts well under a second; the point is to make the HTML strip of
  * `Extract.extractText` the dominant cost, not to time it out.
  *
  * A page is a pure function of (seed, index), so any task can generate
  * any page, and the oracle check can regenerate the same pages outside Spark.
  */
object HtmlGen {

  val PagesPerConv = 4

  private val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango",
    "patient", "insurance", "member", "provider", "claim", "record")

  private def rngFor(seed: Long, i: Int): Rng =
    new Rng((seed * 0x9e3779b97f4a7c15L) ^ ((i.toLong + 1) * 0xc2b2ae3d27d4eb4fL))

  private def text(r: Rng, n: Int): String =
    Iterator.fill(n)(r.pick(words)).mkString(" ")

  /** Exactly every fourth page, from a seeded start, so that every seed
    * gives the same share of malformed pages. */
  def isMalformed(seed: Long, i: Int): Boolean =
    java.lang.Math.floorMod(i + new Rng(seed).nextInt(4), 4) == 0

  def page(seed: Long, i: Int): String = {
    val r = rngFor(seed, i)
    val malformed = isMalformed(seed, i)
    val blocks = Vector.newBuilder[String]
    def links(n: Int): String =
      (0 until n).map(k => s"""<a href="/p/${r.nextInt(100000)}/$k">${text(r, 2)}</a>""")
        .mkString(" ")
    blocks += s"<nav class=\"top\"><ul>${(0 until 30 + r.nextInt(30))
      .map(_ => s"<li>${links(1)}</li>").mkString}</ul></nav>"
    for (_ <- 0 until 2 + r.nextInt(3))
      blocks += s"<script>var cfg${r.nextInt(1000)} = {${(0 until 40)
        .map(k => s"k$k: '${text(r, 3)}'").mkString(", ")}};</script>"
    for (s <- 0 until 14 + r.nextInt(14)) {
      blocks += s"<div class=\"sec$s\"><h2>${text(r, 3)}</h2><p>${text(r, 60 + r.nextInt(60))}" +
        s" ${links(r.nextInt(3))} ${text(r, 20)}.</p></div>"
      if (r.nextInt(3) == 0)
        blocks += s"<div class=\"menu\">${links(10 + r.nextInt(20))}</div>"
    }
    blocks += s"<footer>${links(12)}</footer>"
    val body = blocks.result().toBuffer
    if (malformed)
      for (_ <- 0 until 2 + r.nextInt(5)) {
        val opener = r.pick(Vector("<nav class=\"side\">", "<a href=\"/broken\">", "<script>"))
        body.insert(r.nextInt(body.length + 1), s"$opener${text(r, 4)}")
      }
    s"<html><head><title>${text(r, 4)}</title></head><body>\n" +
      body.mkString("\n") + "\n</body></html>"
  }

  def convId(seed: Long, i: Int): String = f"html-$seed%d-${i / PagesPerConv}%06d"

  def turn(seed: Long, i: Int): Turn =
    Turn(convId(seed, i), i % PagesPerConv, "tool", page(seed, i), "html",
      new java.sql.Timestamp(graft.gen.TranscriptGen.Epoch + i * 60000L))
}
