package htmlspark.tokenizer

/** Canonical tag-name instances: the role of the reference's interned
  * ElementName tables (reference: Core/ElementName.cs:40-84). The tokenizer
  * emits each known name as the one static (interned) String below instead
  * of a fresh `toString` per tag, so every name comparison downstream —
  * the tree builder's category sets and `match` arms, the extractor's
  * per-element test — hits String.equals' identity fast path with a cached
  * hash. Unknown and custom names stay fresh Strings and are never
  * interned (a crawled page can mint any number of them).
  *
  * The table holds every HTML element name the tree builder or the
  * extractor names (TagNamesSpec pins ElemInfo's and TextExtractor's lists
  * as subsets), plus the rest of the spec's element index, the legacy
  * names the parser still special-cases, and the MathML/SVG names the
  * dispatcher tests in their tokenizer (lowercase) form.
  */
object TagNames {

  private val Names: Array[String] = Array(
    // WHATWG element index
    "a", "abbr", "address", "area", "article", "aside", "audio", "b",
    "base", "bdi", "bdo", "blockquote", "body", "br", "button", "canvas",
    "caption", "cite", "code", "col", "colgroup", "data", "datalist", "dd",
    "del", "details", "dfn", "dialog", "div", "dl", "dt", "em", "embed",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2", "h3",
    "h4", "h5", "h6", "head", "header", "hgroup", "hr", "html", "i",
    "iframe", "img", "input", "ins", "kbd", "label", "legend", "li", "link",
    "main", "map", "mark", "menu", "meta", "meter", "nav", "noscript",
    "object", "ol", "optgroup", "option", "output", "p", "picture", "pre",
    "progress", "q", "rp", "rt", "ruby", "s", "samp", "script", "search",
    "section", "select", "slot", "small", "source", "span", "strong",
    "style", "sub", "summary", "sup", "table", "tbody", "td", "template",
    "textarea", "tfoot", "th", "thead", "time", "title", "tr", "track", "u",
    "ul", "var", "video", "wbr",
    // legacy names with parser behaviour of their own
    "acronym", "applet", "basefont", "bgsound", "big", "center", "dir",
    "font", "frame", "frameset", "image", "keygen", "listing", "marquee",
    "nobr", "noembed", "noframes", "param", "plaintext", "rb", "rtc",
    "strike", "tt", "xmp",
    // foreign roots and the names the foreign-content dispatcher tests
    "svg", "math", "mi", "mo", "mn", "ms", "mtext", "mglyph", "malignmark",
    "annotation-xml", "desc", "foreignobject"
  ).map(_.intern())

  /** Number of canonical names; ids run over [0, count). */
  def count: Int = Names.length

  // Open addressing, linear probing, load factor below 1/4.
  private val Mask = Integer.highestOneBit(Names.length * 4) * 2 - 1
  private val keys = new Array[String](Mask + 1)
  private val ids = new Array[Int](Mask + 1)
  Names.indices.foreach { id =>
    val name = Names(id)
    var slot = spread(name.hashCode) & Mask
    while (keys(slot) != null) {
      require(keys(slot) != name, s"duplicate tag name $name")
      slot = (slot + 1) & Mask
    }
    keys(slot) = name; ids(slot) = id
  }

  private def spread(h: Int): Int = h ^ (h >>> 16)

  /** The canonical instance for the name in `chars[0, n)`, or a fresh
    * String when it is not a known name. One hash over the chars, one
    * probe. */
  def canonical(chars: Array[Char], n: Int): String = {
    var h = 0
    var i = 0
    while (i < n) { h = 31 * h + chars(i); i += 1 }
    var slot = spread(h) & Mask
    while (true) {
      val k = keys(slot)
      if (k == null) return new String(chars, 0, n)
      if (k.hashCode == h && sameChars(k, chars, n)) return k
      slot = (slot + 1) & Mask
    }
    null // unreachable: the table always has empty slots
  }

  /** `s` equals the chars `chars[0, n)`. */
  def sameChars(s: String, chars: Array[Char], n: Int): Boolean = {
    if (s.length != n) return false
    var i = 0
    while (i < n) { if (s.charAt(i) != chars(i)) return false; i += 1 }
    true
  }

  /** Id of a known name in [0, count), or -1. Identity hit first; an equal
    * but non-canonical String still resolves. */
  def id(name: String): Int = {
    val h = name.hashCode
    var slot = spread(h) & Mask
    while (true) {
      val k = keys(slot)
      if (k eq name) return ids(slot)
      if (k == null) return -1
      if (k.equals(name)) return ids(slot)
      slot = (slot + 1) & Mask
    }
    -1
  }
}
