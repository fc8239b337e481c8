package htmlspark.tokenizer

/** Attribute list of one start tag: append-only parallel arrays, duplicate
  * names dropped (first wins), names already ASCII-lowercased by the
  * tokenizer. Mirrors the role of the reference's HtmlAttributes
  * (reference: Core/HtmlAttributes.cs:39-640) with a plain Scala shape.
  * The arrays are allocated on the first add: the tokenizer makes one
  * list per tag, and most tags (every end tag) carry no attribute.
  */
final class AttrList {
  private var names: Array[String] = null
  private var values: Array[String] = null
  private var n = 0

  /** Returns false (and drops) when the name already exists. */
  def add(name: String, value: String): Boolean = {
    if (indexOf(name) >= 0) return false
    if (names == null) {
      names = new Array[String](4); values = new Array[String](4)
    } else if (n == names.length) {
      names = java.util.Arrays.copyOf(names, n * 2)
      values = java.util.Arrays.copyOf(values, n * 2)
    }
    names(n) = name; values(n) = value; n += 1
    true
  }

  private def indexOf(name: String): Int = {
    var i = 0
    while (i < n) {
      if (names(i) == name) return i
      i += 1
    }
    -1
  }

  def get(name: String): String = {
    val i = indexOf(name)
    if (i < 0) null else values(i)
  }

  def contains(name: String): Boolean = get(name) != null
  def size: Int = n
  def nameAt(i: Int): String = names(i)
  def valueAt(i: Int): String = values(i)
  def isEmpty: Boolean = n == 0

  /** Structural equality for the Noah's-Ark clause (same name set with same
    * values; order-insensitive, like the reference's HtmlAttributes.Equals
    * at Core/HtmlAttributes.cs:561-594). */
  def sameAs(other: AttrList): Boolean = {
    if (other.size != size) return false
    var i = 0
    while (i < n) {
      val v = other.get(names(i))
      if (v == null || v != values(i)) return false
      i += 1
    }
    true
  }

  def cloneAttrs(): AttrList = {
    val c = new AttrList
    if (n > 0) {
      c.names = java.util.Arrays.copyOf(names, names.length)
      c.values = java.util.Arrays.copyOf(values, values.length)
      c.n = n
    }
    c
  }

  /** In-place rename for foreign-content attribute adjustment. */
  def rename(i: Int, newName: String): Unit = names(i) = newName
}

object AttrList { val Empty = new AttrList }

/** Push-based token consumer (the reference's ITokenListener shape,
  * Common/ITokenListener.cs:34-123, re-expressed). The tokenizer calls these
  * synchronously; the tree builder may switch the tokenizer's content model
  * from inside a callback (title→RCDATA etc.).
  */
trait TokenSink {
  def doctype(name: String, publicId: String, systemId: String,
              forceQuirks: Boolean): Unit
  def startTag(name: String, attrs: AttrList, selfClosing: Boolean): Unit
  def endTag(name: String): Unit
  def comment(text: String): Unit
  /** A run of character tokens: buf[start until end). */
  def characters(buf: Array[Char], start: Int, end: Int): Unit
  def eof(): Unit
  /** Parse error hook (code only — messages cost allocations). */
  def parseError(code: String): Unit = ()
  /** True when the adjusted current node is in foreign content (CDATA ok). */
  def cdataAllowed: Boolean = false
}
