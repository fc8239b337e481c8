package htmlspark.tree

import htmlspark.tokenizer.AttrList
import scala.collection.mutable.ArrayBuffer

/** Lightweight mutable DOM for one document parse. Row-local (one arena per
  * document inside the Dataset map), frozen after the parse; never surfaced
  * to Catalyst. Plays the role of the reference's generic `T` in
  * TreeBuilder<T> (reference: Core/TreeBuilder.cs:5661-5696 abstract ops).
  */
object Dom {
  final val DOCUMENT = 0
  final val ELEMENT = 1
  final val TEXT = 2
  final val COMMENT = 3
  final val DOCTYPE = 4

  final val NS_HTML = 0
  final val NS_SVG = 1
  final val NS_MATHML = 2
}

final class DomNode(val kind: Int, val name: String, val ns: Int,
                    var attrs: AttrList) {
  var parent: DomNode = null
  var children: ArrayBuffer[DomNode] = _
  var text: java.lang.StringBuilder = _ // TEXT/COMMENT payload
  // doctype payload
  var publicId: String = null
  var systemId: String = null
  /** doctype only: the token's force-quirks flag. Not part of the dump
    * format; recorded so HtmlSerializer.roundTrips can detect doctypes
    * whose serialized form (which has no textual carrier for the flag)
    * would reparse into a different quirks mode (ADVICE r4). */
  var forceQuirks: Boolean = false
  /** template elements: separate content fragment (spec "template contents") */
  var contentFragment: DomNode = null
  /** Set while the element is on the tree builder's stack of open
    * elements, so membership is O(1) instead of a stack scan. */
  var onStack: Boolean = false

  def childList: ArrayBuffer[DomNode] = {
    if (children == null) children = new ArrayBuffer[DomNode](4)
    children
  }
  def hasChildren: Boolean = children != null && children.nonEmpty

  def appendChild(c: DomNode): Unit = {
    if (c.parent != null) c.parent.removeChild(c)
    c.parent = this
    childList += c
  }

  def insertBefore(c: DomNode, ref: DomNode): Unit = {
    if (c.parent != null) c.parent.removeChild(c)
    val idx = childList.indexOf(ref)
    c.parent = this
    if (idx < 0) childList += c else childList.insert(idx, c)
  }

  def removeChild(c: DomNode): Unit = {
    val idx = childList.indexOf(c)
    if (idx >= 0) childList.remove(idx)
    c.parent = null
  }

  /** Append text, merging into a trailing text node if present. */
  def appendText(buf: Array[Char], start: Int, end: Int): Unit = {
    val last = if (hasChildren) children.last else null
    if (last != null && last.kind == Dom.TEXT) last.text.append(buf, start, end - start)
    else {
      val t = DomNode.text(buf, start, end)
      t.parent = this
      childList += t
    }
  }

  /** Insert text just before `ref` (foster parenting), merging into the
    * preceding text node when adjacent. */
  def insertTextBefore(buf: Array[Char], start: Int, end: Int,
                       ref: DomNode): Unit = {
    val idx = childList.indexOf(ref)
    if (idx < 0) { appendText(buf, start, end); return }
    val prev = if (idx > 0) children(idx - 1) else null
    if (prev != null && prev.kind == Dom.TEXT)
      prev.text.append(buf, start, end - start)
    else {
      val t = DomNode.text(buf, start, end)
      t.parent = this
      children.insert(idx, t)
    }
  }

  /** Move all children of this node onto `dest` (adoption agency step 14). */
  def reparentChildrenTo(dest: DomNode): Unit = {
    if (children == null) return
    var i = 0
    while (i < children.length) {
      children(i).parent = dest
      dest.childList += children(i)
      i += 1
    }
    children.clear()
  }
}

object DomNode {
  def document(): DomNode = new DomNode(Dom.DOCUMENT, "#document", Dom.NS_HTML, null)
  def element(name: String, ns: Int, attrs: AttrList): DomNode =
    new DomNode(Dom.ELEMENT, name, ns, if (attrs == null) new AttrList else attrs)
  def text(buf: Array[Char], start: Int, end: Int): DomNode = {
    val n = new DomNode(Dom.TEXT, "#text", Dom.NS_HTML, null)
    n.text = new java.lang.StringBuilder(end - start + 8)
    n.text.append(buf, start, end - start)
    n
  }
  def comment(data: String): DomNode = {
    val n = new DomNode(Dom.COMMENT, "#comment", Dom.NS_HTML, null)
    n.text = new java.lang.StringBuilder(data)
    n
  }
  def doctype(name: String, publicId: String, systemId: String): DomNode = {
    val n = new DomNode(Dom.DOCTYPE, if (name == null) "" else name, Dom.NS_HTML, null)
    n.publicId = publicId
    n.systemId = systemId
    n
  }

  /** Element-node count of a (sub)tree, template content fragments
    * included — the `n_nodes` structural metric (SURVEY §1.2). Iterative:
    * survives the adversarially-deep pathological class. */
  def countElements(root: DomNode): Int = {
    var n = 0
    var stack = new Array[DomNode](64)
    var top = 0
    stack(0) = root
    while (top >= 0) {
      val node = stack(top); top -= 1
      val frag = if (node.kind == Dom.ELEMENT) node.contentFragment else null
      val ch = node.children
      val k = (if (frag != null) 1 else 0) + (if (ch != null) ch.length else 0)
      if (top + k >= stack.length)
        stack = java.util.Arrays.copyOf(stack, math.max(stack.length * 2, top + k + 1))
      if (node.kind == Dom.ELEMENT) n += 1
      if (frag != null) { top += 1; stack(top) = frag }
      if (ch != null) {
        var i = ch.length - 1
        while (i >= 0) { top += 1; stack(top) = ch(i); i -= 1 }
      }
    }
    n
  }

  /** html5lib tree-construction dump format ("| "-indented), used by the
    * conformance specs. Template contents get the "content" pseudo-node. */
  def dump(root: DomNode): String = dumpSubtree(root, 0)

  def dumpSubtree(root: DomNode, startDepth: Int): String = {
    val sb = new StringBuilder
    def nsPrefix(n: DomNode): String = n.ns match {
      case Dom.NS_SVG => "svg "
      case Dom.NS_MATHML => "math "
      case _ => ""
    }
    // Emits a node's own line(s); returns true if its children should be
    // descended into (container kinds).
    def emit(n: DomNode, depth: Int): Boolean = {
      val pad = "| " + ("  " * depth)
      n.kind match {
        case Dom.DOCUMENT => true
        case Dom.ELEMENT =>
          sb.append(pad).append('<').append(nsPrefix(n)).append(n.name).append(">\n")
          if (n.attrs != null && n.attrs.size > 0) {
            val pairs = (0 until n.attrs.size)
              .map(i => n.attrs.nameAt(i) -> n.attrs.valueAt(i)).sortBy(_._1)
            pairs.foreach { case (k, v) =>
              sb.append(pad).append("  ").append(k).append("=\"").append(v).append("\"\n")
            }
          }
          if (n.contentFragment != null) sb.append(pad).append("  content\n")
          true
        case Dom.TEXT =>
          sb.append(pad).append('"').append(n.text).append("\"\n"); false
        case Dom.COMMENT =>
          sb.append(pad).append("<!-- ").append(n.text).append(" -->\n"); false
        case Dom.DOCTYPE =>
          sb.append(pad).append("<!DOCTYPE ").append(n.name)
          if ((n.publicId != null && n.publicId.nonEmpty) ||
              (n.systemId != null && n.systemId.nonEmpty)) {
            sb.append(" \"").append(Option(n.publicId).getOrElse(""))
              .append("\" \"").append(Option(n.systemId).getOrElse("")).append('"')
          }
          sb.append(">\n"); false
      }
    }
    // Explicit resume-index stack instead of recursion: dump must survive
    // the same adversarially-deep trees the extractor does (a recursive
    // walk overflows the JVM stack around ~2k nesting). A template's
    // content-fragment children are visited before its regular children,
    // two indent levels deeper (one extra for the "content" pseudo-node).
    val nodes = new scala.collection.mutable.ArrayBuffer[DomNode](64)
    val depths = new scala.collection.mutable.ArrayBuffer[Int](64)
    val idxs = new scala.collection.mutable.ArrayBuffer[Int](64)
    def push(n: DomNode, depth: Int): Unit =
      if (emit(n, depth)) { nodes += n; depths += depth; idxs += 0 }
    push(root, startDepth)
    while (nodes.nonEmpty) {
      val li = nodes.length - 1
      val n = nodes(li); val depth = depths(li); val i = idxs(li)
      val frag =
        if (n.kind == Dom.ELEMENT && n.contentFragment != null)
          n.contentFragment.children
        else null
      val fragLen = if (frag == null) 0 else frag.length
      val chLen = if (n.children == null) 0 else n.children.length
      if (i < fragLen) {
        idxs(li) = i + 1
        push(frag(i), depth + 2)
      } else if (i < fragLen + chLen) {
        idxs(li) = i + 1
        // document children print at the document's own depth
        val childDepth = if (n.kind == Dom.DOCUMENT) depth else depth + 1
        push(n.children(i - fragLen), childDepth)
      } else {
        nodes.remove(li); depths.remove(li); idxs.remove(li)
      }
    }
    sb.toString
  }
}
