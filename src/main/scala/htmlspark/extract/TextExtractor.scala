package htmlspark.extract

import htmlspark.tokenizer.TagNames
import htmlspark.tree.{Dom, DomNode}

/** The frozen extraction rule (FIXTURES.md §3) — the per-row invariant the
  * north rule grades byte-identically:
  *
  *   In-order DOM walk; emit text-node contents; skip `script`, `style`,
  *   `template` subtrees (incl. template content fragments); emit "\n" at
  *   the close of each block-level element (set below); collapse runs of
  *   >2 "\n" to exactly 2; strip leading/trailing "\n"; UTF-8 encode.
  *
  * The behaviors this is sensitive to live in the parser (text placement
  * under foster parenting / AFE reconstruction / adoption agency, CRLF and
  * NUL normalization, entity expansion, needToDropLF, RCDATA capture) —
  * SURVEY.md §2.6 maps each to the reference.
  */
object TextExtractor {

  /** Block-level close → newline. Frozen; do not extend without regenerating
    * every golden. */
  val BlockClose: Set[String] = Set(
    "address", "article", "aside", "blockquote", "body", "caption",
    "center", "dd", "details", "dialog", "dir", "div", "dl", "dt",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2",
    "h3", "h4", "h5", "h6", "header", "hgroup", "hr", "li", "listing",
    "main", "menu", "nav", "ol", "p", "pre", "search", "section",
    "summary", "table", "tbody", "td", "tfoot", "th", "thead", "tr", "ul")

  private val Skip: Set[String] = Set("script", "style", "template")

  /** Per-name flags indexed by TagNames id, so each element costs one
    * table probe (an identity hit for the tokenizer's canonical names)
    * instead of a set lookup at open and another at close. */
  private final val SKIP = 1
  private final val BLOCK = 2
  private val Flags: Array[Byte] = {
    val f = new Array[Byte](TagNames.count)
    def mark(names: Set[String], bit: Int): Unit = names.foreach { n =>
      val id = TagNames.id(n)
      require(id >= 0, s"$n is not a canonical tag name")
      f(id) = (f(id) | bit).toByte
    }
    mark(Skip, SKIP); mark(BlockClose, BLOCK)
    f
  }
  private def flagsOf(n: DomNode): Int =
    if (n.ns != Dom.NS_HTML) 0
    else { val id = TagNames.id(n.name); if (id < 0) 0 else Flags(id) }

  def extract(doc: DomNode): String = {
    val out = new Writer(Scratch.get)
    walkW(doc, out)
    val text = out.result()
    if (out.buffer.length <= MaxScratch) Scratch.set(out.buffer)
    text
  }

  /** Per-thread output buffer, reused across documents so a big page does
    * not regrow it from scratch; buffers past MaxScratch chars are
    * dropped instead of kept. */
  private val MaxScratch = 1 << 18
  private val Scratch = ThreadLocal.withInitial[Array[Char]](() => new Array[Char](4096))

  /** Stack-entry arrays grow geometrically; 64 covers non-adversarial docs
    * without growth. */
  private val InitialStack = 64

  /** Streaming writer that applies the normalization rule inline — no
    * intermediate buffer, no second pass. */
  private final class Writer(private var a: Array[Char]) {
    def buffer: Array[Char] = a
    private var w = 0
    private var nlRun = 0
    private def ensure(k: Int): Unit =
      if (w + k > a.length) {
        var cap = a.length * 2
        while (cap < w + k) cap *= 2
        a = java.util.Arrays.copyOf(a, cap)
      }
    def newline(): Unit = {
      nlRun += 1
      if (nlRun <= 2 && w > 0) { ensure(1); a(w) = '\n'; w += 1 }
    }
    /** Bulk-copies the runs between newlines (indexOf and getChars are
      * vectorized) and applies the newline rule at each '\n'. */
    def text(sb: java.lang.StringBuilder): Unit = {
      val n = sb.length
      if (n == 0) return
      ensure(n)
      var i = 0
      while (i < n) {
        var j = sb.indexOf("\n", i)
        if (j < 0) j = n
        if (j > i) { sb.getChars(i, j, a, w); w += j - i; nlRun = 0 }
        if (j < n) newline()
        i = j + 1
      }
    }
    def result(): String = {
      while (w > 0 && a(w - 1) == '\n') w -= 1
      new String(a, 0, w)
    }
  }

  /** In-order walk via an explicit resume-index stack, NOT recursion: a
    * crawled page can nest elements arbitrarily deep (adversarially or by
    * accident), and a recursive walk overflows the executor task thread's
    * ~1 MB stack around ~2k nesting. Text/comment leaves are handled inline
    * at child-visit time; only container nodes are pushed. */
  private def walkW(root: DomNode, out: Writer): Unit = {
    var rootFlags = 0
    root.kind match {
      case Dom.TEXT => out.text(root.text); return
      case Dom.ELEMENT =>
        rootFlags = flagsOf(root)
        if ((rootFlags & SKIP) != 0) return
      case Dom.DOCUMENT => // fall through to the loop
      case _ => return
    }
    var cap = InitialStack
    var nodes = new Array[DomNode](cap)
    var idx = new Array[Int](cap)
    var block = new Array[Boolean](cap)
    var top = 0
    nodes(0) = root; idx(0) = 0; block(0) = (rootFlags & BLOCK) != 0
    while (top >= 0) {
      val n = nodes(top)
      val i = idx(top)
      val ch = n.children
      if (ch != null && i < ch.length) {
        idx(top) = i + 1
        val c = ch(i)
        c.kind match {
          case Dom.TEXT => out.text(c.text)
          case Dom.ELEMENT =>
            val f = flagsOf(c)
            if ((f & SKIP) == 0) {
              top += 1
              if (top == cap) {
                cap *= 2
                nodes = java.util.Arrays.copyOf(nodes, cap)
                idx = java.util.Arrays.copyOf(idx, cap)
                block = java.util.Arrays.copyOf(block, cap)
              }
              nodes(top) = c; idx(top) = 0; block(top) = (f & BLOCK) != 0
            }
          case _ => // comment / doctype: no text contribution
        }
      } else {
        if (block(top)) out.newline()
        top -= 1
      }
    }
  }

}
