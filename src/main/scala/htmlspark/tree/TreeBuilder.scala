package htmlspark.tree

import htmlspark.tokenizer.{AttrList, HtmlTokenizer, TokenSink}
import scala.collection.mutable.ArrayBuffer

/** WHATWG HTML5 tree construction, implemented from the public spec.
  *
  * Functional counterpart of the reference's TreeBuilder<T>
  * (reference: Core/TreeBuilder.cs:49-5880 — 22 insertion modes, open-element
  * stack, active-formatting list + adoption agency, foster parenting, quirks
  * detection, foreign content) re-expressed as one serializable Scala class
  * building the compact DomNode arena directly (no abstract-ops indirection:
  * we have exactly one DOM). Scripting is disabled, matching the reference
  * default (Core/TreeBuilder.cs:134), so document.write snapshots are
  * unnecessary.
  */
final class TreeBuilder extends TokenSink {
  import Dom._

  // insertion modes
  final val INITIAL = 0; final val BEFORE_HTML = 1; final val BEFORE_HEAD = 2
  final val IN_HEAD = 3; final val IN_HEAD_NOSCRIPT = 4; final val AFTER_HEAD = 5
  final val IN_BODY = 6; final val TEXT_MODE = 7; final val IN_TABLE = 8
  final val IN_TABLE_TEXT = 9; final val IN_CAPTION = 10; final val IN_COLUMN_GROUP = 11
  final val IN_TABLE_BODY = 12; final val IN_ROW = 13; final val IN_CELL = 14
  final val IN_SELECT = 15; final val IN_SELECT_IN_TABLE = 16; final val IN_TEMPLATE = 17
  final val AFTER_BODY = 18; final val IN_FRAMESET = 19; final val AFTER_FRAMESET = 20
  final val AFTER_AFTER_BODY = 21; final val AFTER_AFTER_FRAMESET = 22

  final val NO_QUIRKS = 0; final val LIMITED_QUIRKS = 1; final val QUIRKS = 2

  var tokenizer: HtmlTokenizer = _

  val doc: DomNode = DomNode.document()
  private val stack = new ArrayBuffer[DomNode](32)
  /** active formatting entries; null = marker */
  private val afe = new ArrayBuffer[DomNode](8)
  private val templateModes = new ArrayBuffer[Int](4)
  private var mode = INITIAL
  private var originalMode = INITIAL
  private var headElem: DomNode = null
  private var formElem: DomNode = null
  private var framesetOk = true
  private var ignoreLF = false
  private var fosterParenting = false
  var quirksMode: Int = NO_QUIRKS
  var nErrors: Int = 0
  val errorCodes = new ArrayBuffer[String](4)
  private var fragmentContext: DomNode = null
  private var stopped = false

  /** Count of open html-ns <p> elements — O(1) fast path for the
    * hasInButtonScope("p") check every block start tag performs. Without
    * it a depth-d document of unclosed <div>s costs O(d²) stack walks
    * (the pathological-deep skew class made this the whole job's bottleneck:
    * 2000-deep docs ≈ 4M walk steps each). Drift-safe: only pop()/
    * removeFromStack decrement; a stale positive just falls back to the
    * exact walk. */
  private var openPCount = 0

  // pending table character tokens (IN_TABLE_TEXT)
  private val pendingTableText = new java.lang.StringBuilder(16)
  private var pendingTableHasNonWs = false

  override def parseError(code: String): Unit = {
    nErrors += 1
    if (errorCodes.length < 64) errorCodes += code
  }
  private def err(code: String): Unit = parseError(code)

  // ------------------------------------------------------------------
  // Basic stack / scope machinery
  // ------------------------------------------------------------------
  private def current: DomNode = stack(stack.length - 1)
  private def adjustedCurrent: DomNode =
    if (fragmentContext != null && stack.length == 1) fragmentContext else current

  private def isHtml(n: DomNode, name: String): Boolean =
    n.ns == NS_HTML && n.name == name
  private def isOneOf(n: DomNode, names: Set[String]): Boolean =
    n.ns == NS_HTML && names.contains(n.name)

  private def stackContains(name: String): Boolean = {
    var i = stack.length - 1
    while (i >= 0) { if (isHtml(stack(i), name)) return true; i -= 1 }
    false
  }
  /** Every stack mutation goes through push/pop/stackRemoveAt/stackSet/
    * stackInsert, which keep DomNode.onStack in step with membership. */
  private def push(e: DomNode): Unit = { stack += e; e.onStack = true }
  private def stackRemoveAt(i: Int): DomNode = {
    val n = stack.remove(i)
    n.onStack = false
    n
  }
  private def stackSet(i: Int, e: DomNode): Unit = {
    stack(i).onStack = false
    stack(i) = e; e.onStack = true
  }
  private def stackInsert(i: Int, e: DomNode): Unit = {
    stack.insert(i, e); e.onStack = true
  }

  // Scope kinds for hasInScopeGeneric: an Int selector instead of a
  // (Int, String) => Boolean argument, whose calls box `ns` per element.
  private final val DEFAULT_SCOPE = 0; private final val BUTTON_SCOPE = 1
  private final val LIST_SCOPE = 2; private final val TABLE_SCOPE = 3

  private def hasInScopeGeneric(name: String, scope: Int): Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      val n = stack(i)
      if (isHtml(n, name)) return true
      val barrier = scope match {
        case DEFAULT_SCOPE => ElemInfo.inDefaultScopeBarrier(n.ns, n.name)
        case BUTTON_SCOPE => ElemInfo.inButtonScopeBarrier(n.ns, n.name)
        case LIST_SCOPE => ElemInfo.inListScopeBarrier(n.ns, n.name)
        case _ => ElemInfo.inTableScopeBarrier(n.ns, n.name)
      }
      if (barrier) return false
      i -= 1
    }
    false
  }
  private def hasInScope(name: String): Boolean =
    hasInScopeGeneric(name, DEFAULT_SCOPE)
  private def hasInScopeAny(names: Set[String]): Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      val n = stack(i)
      if (n.ns == NS_HTML && names.contains(n.name)) return true
      if (ElemInfo.inDefaultScopeBarrier(n.ns, n.name)) return false
      i -= 1
    }
    false
  }
  private def hasNodeInScope(node: DomNode): Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      val n = stack(i)
      if (n eq node) return true
      if (ElemInfo.inDefaultScopeBarrier(n.ns, n.name)) return false
      i -= 1
    }
    false
  }
  private def hasInButtonScope(name: String): Boolean = {
    if (name == "p" && openPCount <= 0) return false
    hasInScopeGeneric(name, BUTTON_SCOPE)
  }
  private def hasInListScope(name: String): Boolean =
    hasInScopeGeneric(name, LIST_SCOPE)
  private def hasInTableScope(name: String): Boolean =
    hasInScopeGeneric(name, TABLE_SCOPE)
  private def hasInTableScopeAny(names: Set[String]): Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      val n = stack(i)
      if (n.ns == NS_HTML && names.contains(n.name)) return true
      if (ElemInfo.inTableScopeBarrier(n.ns, n.name)) return false
      i -= 1
    }
    false
  }
  private def hasInSelectScope(name: String): Boolean = {
    // select scope: everything EXCEPT optgroup and option is a barrier
    var i = stack.length - 1
    while (i >= 0) {
      val n = stack(i)
      if (isHtml(n, name)) return true
      if (!(n.ns == NS_HTML && (n.name == "optgroup" || n.name == "option")))
        return false
      i -= 1
    }
    false
  }

  private def pop(): DomNode = {
    val n = stackRemoveAt(stack.length - 1)
    if (n.ns == NS_HTML && n.name == "p") openPCount -= 1
    n
  }
  private def popUntilPopped(name: String): Unit = {
    while (stack.nonEmpty && !isHtml(pop(), name)) ()
  }
  private def popUntilPoppedAny(names: Set[String]): Unit = {
    while (stack.nonEmpty && !isOneOf(pop(), names)) ()
  }
  private def popUntilNodePopped(node: DomNode): Unit = {
    while (stack.nonEmpty && (pop() ne node)) ()
  }
  private def removeFromStack(node: DomNode): Unit = {
    val i = if (node.onStack) stack.lastIndexOf(node) else -1
    if (i >= 0) {
      stackRemoveAt(i)
      if (node.ns == NS_HTML && node.name == "p") openPCount -= 1
    }
  }

  private def generateImpliedEnd(except: String = null): Unit = {
    while (stack.nonEmpty && current.ns == NS_HTML &&
      ElemInfo.ImpliedEnd.contains(current.name) && current.name != except)
      pop()
  }
  private def generateImpliedEndThoroughly(): Unit = {
    while (stack.nonEmpty && current.ns == NS_HTML &&
      ElemInfo.ImpliedEndThorough.contains(current.name))
      pop()
  }

  private def closePElement(): Unit = {
    generateImpliedEnd(except = "p")
    if (!isHtml(current, "p")) err("unexpected-open-element-closing-p")
    popUntilPopped("p")
  }

  private def clearStackToTableContext(): Unit =
    while (!(current.ns == NS_HTML &&
      (current.name == "table" || current.name == "template" || current.name == "html")))
      pop()
  private def clearStackToTableBodyContext(): Unit =
    while (!(current.ns == NS_HTML && (current.name == "tbody" ||
      current.name == "tfoot" || current.name == "thead" ||
      current.name == "template" || current.name == "html")))
      pop()
  private def clearStackToTableRowContext(): Unit =
    while (!(current.ns == NS_HTML && (current.name == "tr" ||
      current.name == "template" || current.name == "html")))
      pop()

  // ------------------------------------------------------------------
  // Insertion
  // ------------------------------------------------------------------
  /** Appropriate place for inserting a node: (parent, refChild or null). */
  private def insertionLocation(overrideTarget: DomNode = null): (DomNode, DomNode) = {
    val target = if (overrideTarget != null) overrideTarget else current
    var parent: DomNode = null
    var before: DomNode = null
    if (fosterParenting && target.ns == NS_HTML &&
        (target.name == "table" || target.name == "tbody" ||
         target.name == "tfoot" || target.name == "thead" || target.name == "tr")) {
      // foster parenting (reference: Core/TreeBuilder.cs:5083-5094)
      var lastTemplate = -1
      var lastTable = -1
      var i = stack.length - 1
      while (i >= 0 && (lastTemplate < 0 || lastTable < 0)) {
        if (lastTemplate < 0 && isHtml(stack(i), "template")) lastTemplate = i
        if (lastTable < 0 && isHtml(stack(i), "table")) lastTable = i
        i -= 1
      }
      if (lastTemplate >= 0 && (lastTable < 0 || lastTemplate > lastTable)) {
        parent = templateContents(stack(lastTemplate))
      } else if (lastTable < 0) {
        parent = stack(0)
      } else {
        val table = stack(lastTable)
        if (table.parent != null) { parent = table.parent; before = table }
        else parent = stack(lastTable - 1)
      }
    } else {
      parent = if (isHtml(target, "template")) templateContents(target) else target
    }
    (parent, before)
  }

  private def templateContents(t: DomNode): DomNode = {
    if (t.contentFragment == null) {
      t.contentFragment = new DomNode(DOCUMENT, "#document-fragment", NS_HTML, null)
    }
    t.contentFragment
  }

  private def insertNode(n: DomNode, overrideTarget: DomNode = null): Unit = {
    val (parent, before) = insertionLocation(overrideTarget)
    if (before == null) parent.appendChild(n) else parent.insertBefore(n, before)
  }

  private def insertHtmlElement(name: String, attrs: AttrList): DomNode = {
    val e = DomNode.element(name, NS_HTML, attrs)
    insertNode(e)
    push(e)
    if (name == "p") openPCount += 1
    e
  }
  private def insertForeignElement(name: String, ns: Int, attrs: AttrList): DomNode = {
    val e = DomNode.element(name, ns, attrs)
    insertNode(e)
    push(e)
    e
  }
  private def insertVoid(name: String, attrs: AttrList): Unit = {
    val e = DomNode.element(name, NS_HTML, attrs)
    insertNode(e)
  }

  private def insertCharsAt(buf: Array[Char], start: Int, end: Int): Unit = {
    val (parent, before) = insertionLocation()
    if (parent.kind == DOCUMENT && parent.name == "#document") return // never into Document
    if (before == null) parent.appendText(buf, start, end)
    else parent.insertTextBefore(buf, start, end, before)
  }
  private def insertString(s: String): Unit = {
    val a = s.toCharArray
    insertCharsAt(a, 0, a.length)
  }

  private def insertComment(data: String, target: DomNode = null): Unit = {
    val c = DomNode.comment(data)
    if (target != null) target.appendChild(c)
    else insertNode(c)
  }

  // ------------------------------------------------------------------
  // Active formatting elements
  // ------------------------------------------------------------------
  private def afeInsertMarker(): Unit = afe += null
  private def afeClearToMarker(): Unit = {
    while (afe.nonEmpty) {
      val e = afe.remove(afe.length - 1)
      if (e == null) return
    }
  }
  private def afeIndexOf(n: DomNode): Int = afe.lastIndexOf(n)

  /** Noah's Ark push (reference: Core/TreeBuilder.cs:4933-4954). */
  private def afePush(e: DomNode): Unit = {
    var count = 0
    var i = afe.length - 1
    var earliest = -1
    while (i >= 0 && afe(i) != null) {
      val f = afe(i)
      if (f.name == e.name && f.ns == e.ns && f.attrs.sameAs(e.attrs)) {
        count += 1; earliest = i
      }
      i -= 1
    }
    if (count >= 3) afe.remove(earliest)
    afe += e
  }

  private def reconstructAfe(): Unit = {
    if (afe.isEmpty) return
    var i = afe.length - 1
    val last = afe(i)
    if (last == null || last.onStack) return
    while (i > 0 && afe(i - 1) != null && !afe(i - 1).onStack)
      i -= 1
    while (i < afe.length) {
      val entry = afe(i)
      val e = insertHtmlElement(entry.name, entry.attrs.cloneAttrs())
      afe(i) = e
      i += 1
    }
  }

  // ------------------------------------------------------------------
  // Adoption agency (spec steps; reference: Core/TreeBuilder.cs:4685-4869)
  // ------------------------------------------------------------------
  private def adoptionAgency(subject: String): Unit = {
    if (isHtml(current, subject) && afeIndexOf(current) < 0) {
      pop(); return
    }
    var outer = 0
    while (outer < 8) {
      outer += 1
      // find formatting element
      var feIdx = afe.length - 1
      var fe: DomNode = null
      while (feIdx >= 0 && afe(feIdx) != null && fe == null) {
        if (afe(feIdx).name == subject && afe(feIdx).ns == NS_HTML) fe = afe(feIdx)
        else feIdx -= 1
      }
      if (fe == null) { anyOtherEndTagInBody(subject); return }
      val feStackIdx = if (fe.onStack) stack.lastIndexOf(fe) else -1
      if (feStackIdx < 0) { err("adoption-agency-fe-not-open"); afe.remove(feIdx); return }
      if (!hasNodeInScope(fe)) { err("adoption-agency-fe-not-in-scope"); return }
      if (fe ne current) err("adoption-agency-fe-not-current")
      // furthest block: lowest special above fe
      var fbIdx = -1
      var i = feStackIdx + 1
      while (i < stack.length && fbIdx < 0) {
        if (ElemInfo.isSpecial(stack(i).ns, stack(i).name)) fbIdx = i
        i += 1
      }
      if (fbIdx < 0) {
        while (stack.length > feStackIdx) pop()
        afe.remove(feIdx)
        return
      }
      val furthestBlock = stack(fbIdx)
      val commonAncestor = stack(feStackIdx - 1)
      var bookmark = feIdx
      var node = furthestBlock
      var nodeStackIdx = fbIdx
      var lastNode = furthestBlock
      var inner = 0
      var done = false
      while (!done) {
        inner += 1
        nodeStackIdx -= 1
        node = stack(nodeStackIdx)
        if (node eq fe) done = true
        else {
          var nodeAfeIdx = afeIndexOf(node)
          if (inner > 3 && nodeAfeIdx >= 0) {
            afe.remove(nodeAfeIdx)
            if (nodeAfeIdx < bookmark) bookmark -= 1
            nodeAfeIdx = -1
          }
          if (nodeAfeIdx < 0) {
            stackRemoveAt(nodeStackIdx)
            // nodeStackIdx now points at the element that was above node
          } else {
            val clone = DomNode.element(node.name, node.ns, node.attrs.cloneAttrs())
            afe(nodeAfeIdx) = clone
            stackSet(nodeStackIdx, clone)
            node = clone
            if (lastNode eq furthestBlock) bookmark = nodeAfeIdx + 1
            node.appendChild(lastNode)
            lastNode = node
          }
        }
      }
      // insert lastNode at appropriate place relative to commonAncestor —
      // foster-aware even outside table text (spec AA step 14: a table-ish
      // common ancestor foster-parents the node)
      val (p, before) = {
        val ca = commonAncestor
        val tableish = ca.ns == NS_HTML && (ca.name == "table" ||
          ca.name == "tbody" || ca.name == "tfoot" || ca.name == "thead" ||
          ca.name == "tr")
        if (tableish && !fosterParenting) {
          fosterParenting = true
          val r = insertionLocation(ca)
          fosterParenting = false
          r
        } else insertionLocation(ca)
      }
      if (before == null) p.appendChild(lastNode) else p.insertBefore(lastNode, before)
      val clone = DomNode.element(fe.name, fe.ns, fe.attrs.cloneAttrs())
      furthestBlock.reparentChildrenTo(clone)
      furthestBlock.appendChild(clone)
      val feAfeIdx2 = afeIndexOf(fe)
      if (feAfeIdx2 >= 0) {
        afe.remove(feAfeIdx2)
        if (feAfeIdx2 < bookmark) bookmark -= 1
      }
      afe.insert(math.min(bookmark, afe.length), clone)
      removeFromStack(fe)
      val fbIdx2 = stack.lastIndexOf(furthestBlock)
      stackInsert(fbIdx2 + 1, clone)
    }
  }

  /** in-body "any other end tag". */
  private def anyOtherEndTagInBody(name: String): Unit = {
    var i = stack.length - 1
    while (i >= 0) {
      val node = stack(i)
      if (isHtml(node, name)) {
        generateImpliedEnd(except = name)
        if (!(current eq node)) err("unexpected-end-tag")
        popUntilNodePopped(node)
        return
      } else if (ElemInfo.isSpecial(node.ns, node.name)) {
        err("unexpected-end-tag"); return
      }
      i -= 1
    }
  }

  // ------------------------------------------------------------------
  // Mode reset
  // ------------------------------------------------------------------
  private def resetInsertionMode(): Unit = {
    var i = stack.length - 1
    while (i >= 0) {
      var node = stack(i)
      val last = i == 0
      if (last && fragmentContext != null) node = fragmentContext
      if (node.ns == NS_HTML) node.name match {
        case "select" =>
          var j = i
          var m = IN_SELECT
          var stop = false
          while (j > 0 && !stop) {
            j -= 1
            val anc = stack(j)
            if (isHtml(anc, "template")) stop = true
            else if (isHtml(anc, "table")) { m = IN_SELECT_IN_TABLE; stop = true }
          }
          mode = m; return
        case "td" | "th" if !last => mode = IN_CELL; return
        case "tr" => mode = IN_ROW; return
        case "tbody" | "thead" | "tfoot" => mode = IN_TABLE_BODY; return
        case "caption" => mode = IN_CAPTION; return
        case "colgroup" => mode = IN_COLUMN_GROUP; return
        case "table" => mode = IN_TABLE; return
        case "template" =>
          mode = if (templateModes.nonEmpty) templateModes.last else IN_BODY; return
        case "head" if !last => mode = IN_HEAD; return
        case "body" => mode = IN_BODY; return
        case "frameset" => mode = IN_FRAMESET; return
        case "html" =>
          mode = if (headElem == null) BEFORE_HEAD else AFTER_HEAD; return
        case _ =>
      }
      if (last) { mode = IN_BODY; return }
      i -= 1
    }
  }

  // ------------------------------------------------------------------
  // Fragment + lifecycle
  // ------------------------------------------------------------------
  def setFragmentContext(contextName: String, ns: Int = NS_HTML): Unit = {
    fragmentContext = DomNode.element(contextName, ns, new AttrList)
    val root = DomNode.element("html", NS_HTML, new AttrList)
    doc.appendChild(root)
    push(root)
    if (ns == NS_HTML) contextName match {
      case "title" | "textarea" => tokenizer.setRcdata()
      // noscript is RAWTEXT only when scripting is enabled (reference:
      // Core/TreeBuilder.cs:372 gates it on IsScriptingEnabled, default
      // false); this engine never enables scripting → markup inside a
      // noscript fragment context parses normally.
      case "style" | "xmp" | "iframe" | "noembed" | "noframes" =>
        tokenizer.setRawtext()
      case "script" => tokenizer.setScriptData()
      case "plaintext" => tokenizer.setPlaintext()
      case _ =>
    }
    tokenizer.setLastStartTag(contextName)
    if (ns == NS_HTML && contextName == "template") {
      templateModes += IN_TEMPLATE
    }
    // Spec fragment step: the form element pointer is the nearest form
    // ancestor of the context, including the context itself — so a nested
    // <form> start tag inside a form fragment is ignored.
    if (ns == NS_HTML && contextName == "form") formElem = fragmentContext
    resetInsertionMode()
  }

  /** Fragment dump root is the synthetic html element. */
  def fragmentRoot: DomNode = stack.headOption.getOrElse(doc)

  override def cdataAllowed: Boolean = {
    if (stack.isEmpty) return false
    val n = adjustedCurrent
    n.ns != NS_HTML && !isMathMlTextIp(n) && !isHtmlIp(n)
  }

  private def isMathMlTextIp(n: DomNode): Boolean =
    n.ns == NS_MATHML && (n.name == "mi" || n.name == "mo" || n.name == "mn" ||
      n.name == "ms" || n.name == "mtext")
  private def isHtmlIp(n: DomNode): Boolean =
    (n.ns == NS_SVG && (n.name == "foreignObject" || n.name == "desc" ||
      n.name == "title")) ||
    (n.ns == NS_MATHML && n.name == "annotation-xml" && {
      val enc = if (n.attrs == null) null else n.attrs.get("encoding")
      enc != null && {
        val e = enc.toLowerCase(java.util.Locale.ROOT)
        e == "text/html" || e == "application/xhtml+xml"
      }
    })

  /** Foreign-vs-HTML dispatcher (spec "tree construction" intro). */
  private def useHtmlRules(isStartTag: Boolean, tagName: String,
                           isText: Boolean, isEof: Boolean): Boolean = {
    if (stack.isEmpty) return true
    val acn = adjustedCurrent
    if (acn.ns == NS_HTML) return true
    if (isMathMlTextIp(acn)) {
      if (isStartTag && tagName != "mglyph" && tagName != "malignmark") return true
      if (isText) return true
    }
    if (acn.ns == NS_MATHML && acn.name == "annotation-xml" &&
        isStartTag && tagName == "svg") return true
    if (isHtmlIp(acn) && (isStartTag || isText)) return true
    isEof
  }

  // ==================================================================
  // TokenSink implementation
  // ==================================================================
  override def doctype(name: String, publicId: String, systemId: String,
                       forceQuirks: Boolean): Unit = {
    if (stopped) return
    ignoreLF = false // see startTag: only the NEXT token's LF is skipped
    if (mode == INITIAL) {
      // spec (initial insertion mode): any doctype other than
      // `<!doctype html>` — optionally with system id
      // "about:legacy-compat", a CASE-SENSITIVE match per the spec's
      // default string-comparison rule — is a parse error (reference
      // counterpart: the TreeBuilder error event channel,
      // Core/TreeBuilder.cs:397-646)
      // The spec's stated trigger is name/public-id/system-id only — the
      // force-quirks flag is NOT part of the condition (it only feeds
      // quirks detection). Including it double-counted an EOF-truncated
      // `<!DOCTYPE html` on top of the tokenizer's eof-in-doctype
      // (ADVICE r4).
      if (name != "html" || publicId != null ||
          (systemId != null && systemId != "about:legacy-compat"))
        err("obsolete-doctype")
      val dt = DomNode.doctype(name, publicId, systemId)
      dt.forceQuirks = forceQuirks
      doc.appendChild(dt)
      quirksMode = TreeBuilder.decideQuirks(name, publicId, systemId, forceQuirks)
      mode = BEFORE_HTML
    } else err("unexpected-doctype")
  }

  override def comment(text: String): Unit = {
    if (stopped) return
    ignoreLF = false // see startTag: only the NEXT token's LF is skipped
    if (mode == IN_TABLE_TEXT) flushTableText()
    mode match {
      case INITIAL | BEFORE_HTML => insertComment(text, doc)
      case AFTER_BODY => insertComment(text, stack(0))
      case AFTER_AFTER_BODY | AFTER_AFTER_FRAMESET => insertComment(text, doc)
      case _ => insertComment(text)
    }
  }

  override def eof(): Unit = {
    if (stopped) return
    if (mode == IN_TABLE_TEXT) { flushTableText(); mode = originalMode }
    var again = true
    while (again) {
      again = false
      mode match {
        case INITIAL =>
          quirksMode = QUIRKS; mode = BEFORE_HTML; again = true
        case BEFORE_HTML =>
          val root = DomNode.element("html", NS_HTML, new AttrList)
          doc.appendChild(root); push(root)
          mode = BEFORE_HEAD; again = true
        case BEFORE_HEAD =>
          headElem = insertHtmlElement("head", new AttrList)
          mode = IN_HEAD; again = true
        case IN_HEAD =>
          pop(); mode = AFTER_HEAD; again = true
        case IN_HEAD_NOSCRIPT =>
          err("eof-in-head-noscript"); pop(); mode = IN_HEAD; again = true
        case AFTER_HEAD =>
          insertHtmlElement("body", new AttrList)
          mode = IN_BODY; again = true
        case TEXT_MODE =>
          err("eof-in-text-mode"); pop(); mode = originalMode; again = true
        case IN_TEMPLATE =>
          if (!stackContains("template")) stopped = true
          else {
            err("eof-in-template")
            popUntilPopped("template")
            afeClearToMarker()
            if (templateModes.nonEmpty) templateModes.remove(templateModes.length - 1)
            resetInsertionMode()
            again = true
          }
        case IN_BODY | IN_TABLE | IN_CAPTION | IN_COLUMN_GROUP | IN_TABLE_BODY |
             IN_ROW | IN_CELL | IN_SELECT | IN_SELECT_IN_TABLE =>
          if (templateModes.nonEmpty) { mode = IN_TEMPLATE; again = true }
          else stopped = true
        case IN_FRAMESET =>
          // spec: EOF in frameset with the current node not the root html
          // element is a parse error (an open <frameset> — the root-html
          // case is fragment-only)
          if (stack.length > 1) err("eof-in-frameset")
          stopped = true
        case _ => stopped = true
      }
    }
  }

  // ------------------------------------------------------------------
  // Characters
  // ------------------------------------------------------------------
  override def characters(buf: Array[Char], start: Int, end: Int): Unit = {
    if (stopped) return
    var s = start
    if (ignoreLF) {
      ignoreLF = false
      if (s < end && buf(s) == '\n') s += 1
    }
    if (s >= end) return
    // Fast path for the two hottest text destinations: a run with no NUL is
    // processed whole (one reconstruct + one insert) instead of per-word —
    // spec-equivalent for these modes, ~3× fewer calls on prose documents.
    if (mode == TEXT_MODE) {
      var k = s
      while (k < end && buf(k) != '\u0000') k += 1
      if (k == end) { insertCharsAt(buf, s, end); return }
    } else if ((mode == IN_BODY || mode == IN_CAPTION || mode == IN_CELL) &&
               useHtmlRules(isStartTag = false, null, isText = true, isEof = false)) {
      // Whitespace matters here only for clearing framesetOk: skip the
      // classification once it is false, and stop it at the first
      // non-whitespace char. The NUL scan covers the whole run.
      var k = s
      if (framesetOk) {
        while (k < end && { val c = buf(k)
          c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r' }) k += 1
      }
      val hasNonWs = framesetOk && k < end && buf(k) != '\u0000'
      while (k < end && buf(k) != '\u0000') k += 1
      if (k == end) {
        reconstructAfe()
        insertCharsAt(buf, s, end)
        if (hasNonWs) framesetOk = false
        return
      }
    }
    var i = s
    while (i < end) {
      // split run into segments: whitespace / NUL / other
      val c = buf(i)
      val isW = c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
      if (c == '\u0000') { handleNul(); i += 1 }
      else {
        var j = i + 1
        while (j < end && {
          val d = buf(j)
          d != '\u0000' &&
            ((d == ' ' || d == '\t' || d == '\n' || d == '\f' || d == '\r') == isW)
        }) j += 1
        handleCharSegment(buf, i, j, isW)
        i = j
      }
    }
  }

  private def handleNul(): Unit = {
    // dispatcher: foreign content turns NUL into U+FFFD text
    if (!useHtmlRules(isStartTag = false, null, isText = true, isEof = false)) {
      err("unexpected-null-character")
      reconstructAfe()
      insertString("�")
      framesetOk = false
      return
    }
    mode match {
      case TEXT_MODE => insertString("�") // tokenizer already replaced in RCDATA et al; raw NUL here is script data
      case IN_TABLE | IN_TABLE_TEXT | IN_TABLE_BODY | IN_ROW => err("unexpected-null")
      case _ => err("unexpected-null") // in body: ignore
    }
  }

  private def handleCharSegment(buf: Array[Char], start: Int, end: Int,
                                ws: Boolean): Unit = {
    mode match {
      case INITIAL =>
        if (ws) () else { quirksMode = QUIRKS; mode = BEFORE_HTML; handleCharSegment(buf, start, end, ws) }
      case BEFORE_HTML =>
        if (ws) () else {
          val root = DomNode.element("html", NS_HTML, new AttrList)
          doc.appendChild(root); push(root)
          mode = BEFORE_HEAD; handleCharSegment(buf, start, end, ws)
        }
      case BEFORE_HEAD =>
        if (ws) () else {
          headElem = insertHtmlElement("head", new AttrList)
          mode = IN_HEAD; handleCharSegment(buf, start, end, ws)
        }
      case IN_HEAD =>
        if (ws) insertCharsAt(buf, start, end)
        else { pop(); mode = AFTER_HEAD; handleCharSegment(buf, start, end, ws) }
      case IN_HEAD_NOSCRIPT =>
        if (ws) insertCharsAt(buf, start, end)
        else { err("chars-in-noscript"); pop(); mode = IN_HEAD; handleCharSegment(buf, start, end, ws) }
      case AFTER_HEAD =>
        if (ws) insertCharsAt(buf, start, end)
        else {
          insertHtmlElement("body", new AttrList); mode = IN_BODY
          handleCharSegment(buf, start, end, ws)
        }
      case IN_BODY | IN_CAPTION | IN_CELL | IN_TEMPLATE =>
        if (!useHtmlRules(isStartTag = false, null, isText = true, isEof = false)) {
          foreignChars(buf, start, end, ws)
        } else {
          reconstructAfe()
          insertCharsAt(buf, start, end)
          if (!ws) framesetOk = false
        }
      case TEXT_MODE =>
        insertCharsAt(buf, start, end)
      case IN_TABLE | IN_TABLE_BODY | IN_ROW =>
        if (current.ns == NS_HTML && (current.name == "table" ||
            current.name == "tbody" || current.name == "tfoot" ||
            current.name == "thead" || current.name == "tr")) {
          if (mode != IN_TABLE_TEXT) {
            pendingTableText.setLength(0); pendingTableHasNonWs = false
            originalMode = mode; mode = IN_TABLE_TEXT
          }
          pendingTableText.append(buf, start, end - start)
          if (!ws) pendingTableHasNonWs = true
        } else {
          // anything else: foster-parented in-body processing
          err("unexpected-chars-in-table")
          fosterParenting = true
          reconstructAfe()
          insertCharsAt(buf, start, end)
          if (!ws) framesetOk = false
          fosterParenting = false
        }
      case IN_TABLE_TEXT =>
        pendingTableText.append(buf, start, end - start)
        if (!ws) pendingTableHasNonWs = true
      case IN_COLUMN_GROUP =>
        if (ws) insertCharsAt(buf, start, end)
        else {
          if (isHtml(current, "colgroup")) {
            pop(); mode = IN_TABLE; handleCharSegment(buf, start, end, ws)
          } else err("chars-in-colgroup")
        }
      case IN_SELECT | IN_SELECT_IN_TABLE =>
        insertCharsAt(buf, start, end)
      case AFTER_BODY | AFTER_AFTER_BODY =>
        if (ws) {
          // process per in-body rules
          reconstructAfe(); insertCharsAt(buf, start, end)
        } else {
          err("chars-after-body"); mode = IN_BODY
          handleCharSegment(buf, start, end, ws)
        }
      case IN_FRAMESET | AFTER_FRAMESET | AFTER_AFTER_FRAMESET =>
        if (ws) insertCharsAt(buf, start, end)
        else err("chars-in-frameset") // non-ws dropped
      case _ =>
        insertCharsAt(buf, start, end)
    }
  }

  private def foreignChars(buf: Array[Char], start: Int, end: Int, ws: Boolean): Unit = {
    insertCharsAt(buf, start, end)
    if (!ws) framesetOk = false
  }

  private def flushTableText(): Unit = {
    if (mode != IN_TABLE_TEXT) return
    mode = originalMode
    if (pendingTableText.length() == 0) return
    val chars = new Array[Char](pendingTableText.length())
    pendingTableText.getChars(0, chars.length, chars, 0)
    if (pendingTableHasNonWs) {
      err("non-ws-chars-in-table")
      fosterParenting = true
      reconstructAfe()
      insertCharsAt(chars, 0, chars.length)
      framesetOk = false
      fosterParenting = false
    } else {
      insertCharsAt(chars, 0, chars.length)
    }
    pendingTableText.setLength(0)
    pendingTableHasNonWs = false
  }

  // ------------------------------------------------------------------
  // Start tags
  // ------------------------------------------------------------------
  override def startTag(name: String, attrs: AttrList, selfClosing: Boolean): Unit = {
    if (stopped) return
    // The LF-after-<pre>/<listing>/<textarea> skip applies only when the LF
    // is the IMMEDIATELY next token; any intervening tag/comment/doctype
    // cancels it (reference needToDropLF resets: Core/TreeBuilder.cs:328,
    // 399,672,1422). The pre/listing/textarea arms below re-set it.
    ignoreLF = false
    if (mode == IN_TABLE_TEXT) flushTableText()
    if (!useHtmlRules(isStartTag = true, name, isText = false, isEof = false)) {
      foreignStartTag(name, attrs, selfClosing)
      return
    }
    startTagHtml(name, attrs, selfClosing)
  }

  private def startTagHtml(name: String, attrs: AttrList, selfClosing: Boolean): Unit = {
    mode match {
      case INITIAL =>
        quirksMode = QUIRKS; mode = BEFORE_HTML; startTagHtml(name, attrs, selfClosing)
      case BEFORE_HTML =>
        if (name == "html") {
          val root = DomNode.element("html", NS_HTML, attrs)
          doc.appendChild(root); push(root)
          mode = BEFORE_HEAD
        } else {
          val root = DomNode.element("html", NS_HTML, new AttrList)
          doc.appendChild(root); push(root)
          mode = BEFORE_HEAD; startTagHtml(name, attrs, selfClosing)
        }
      case BEFORE_HEAD => name match {
        case "html" => inBodyStartHtml(attrs)
        case "head" =>
          headElem = insertHtmlElement("head", attrs); mode = IN_HEAD
        case _ =>
          headElem = insertHtmlElement("head", new AttrList)
          mode = IN_HEAD; startTagHtml(name, attrs, selfClosing)
      }
      case IN_HEAD => name match {
        case "html" => inBodyStartHtml(attrs)
        case "noscript" => // scripting disabled
          insertHtmlElement(name, attrs); mode = IN_HEAD_NOSCRIPT
        case "head" => err("nested-head")
        case _ =>
          if (!inHeadDelegate(name, attrs, selfClosing)) {
            pop(); mode = AFTER_HEAD; startTagHtml(name, attrs, selfClosing)
          }
      }
      case IN_HEAD_NOSCRIPT => name match {
        case "html" => inBodyStartHtml(attrs)
        case "basefont" | "bgsound" | "link" | "meta" | "noframes" | "style" =>
          inHeadDelegate(name, attrs, selfClosing)
        case "head" | "noscript" => err("unexpected-start-in-noscript")
        case _ =>
          err("unexpected-start-in-noscript")
          pop(); mode = IN_HEAD; startTagHtml(name, attrs, selfClosing)
      }
      case AFTER_HEAD => name match {
        case "html" => inBodyStartHtml(attrs)
        case "body" =>
          insertHtmlElement(name, attrs); framesetOk = false; mode = IN_BODY
        case "frameset" =>
          insertHtmlElement(name, attrs); mode = IN_FRAMESET
        case "base" | "basefont" | "bgsound" | "link" | "meta" | "noframes" |
             "script" | "style" | "template" | "title" =>
          err("element-after-head")
          push(headElem)
          inHeadDelegate(name, attrs, selfClosing)
          removeFromStack(headElem)
        case "head" => err("nested-head")
        case _ =>
          insertHtmlElement("body", new AttrList)
          mode = IN_BODY; startTagHtml(name, attrs, selfClosing)
      }
      case IN_BODY => inBodyStartTag(name, attrs, selfClosing)
      case TEXT_MODE => // cannot happen
        err("start-tag-in-text-mode")
      case IN_TABLE => inTableStartTag(name, attrs, selfClosing)
      case IN_TABLE_TEXT => // flushed above
        inTableStartTag(name, attrs, selfClosing)
      case IN_CAPTION => name match {
        case "caption" | "col" | "colgroup" | "tbody" | "td" | "tfoot" |
             "th" | "thead" | "tr" =>
          err("unexpected-table-tag-in-caption")
          if (hasInTableScope("caption")) {
            generateImpliedEnd()
            popUntilPopped("caption")
            afeClearToMarker()
            mode = IN_TABLE
            startTagHtml(name, attrs, selfClosing)
          }
        case _ => inBodyStartTag(name, attrs, selfClosing)
      }
      case IN_COLUMN_GROUP => name match {
        case "html" => inBodyStartHtml(attrs)
        case "col" => insertVoid(name, attrs)
        case "template" => inHeadDelegate(name, attrs, selfClosing)
        case _ =>
          if (isHtml(current, "colgroup")) {
            pop(); mode = IN_TABLE; startTagHtml(name, attrs, selfClosing)
          } else err("unexpected-start-in-colgroup")
      }
      case IN_TABLE_BODY => name match {
        case "tr" =>
          clearStackToTableBodyContext()
          insertHtmlElement(name, attrs); mode = IN_ROW
        case "th" | "td" =>
          err("cell-without-tr")
          clearStackToTableBodyContext()
          insertHtmlElement("tr", new AttrList); mode = IN_ROW
          startTagHtml(name, attrs, selfClosing)
        case "caption" | "col" | "colgroup" | "tbody" | "tfoot" | "thead" =>
          if (hasInTableScopeAny(Set("tbody", "thead", "tfoot"))) {
            clearStackToTableBodyContext()
            pop(); mode = IN_TABLE
            startTagHtml(name, attrs, selfClosing)
          } else err("unexpected-table-section")
        case _ => inTableStartTag(name, attrs, selfClosing)
      }
      case IN_ROW => name match {
        case "th" | "td" =>
          clearStackToTableRowContext()
          insertHtmlElement(name, attrs); mode = IN_CELL
          afeInsertMarker()
        case "caption" | "col" | "colgroup" | "tbody" | "tfoot" | "thead" | "tr" =>
          if (hasInTableScope("tr")) {
            clearStackToTableRowContext()
            pop(); mode = IN_TABLE_BODY
            startTagHtml(name, attrs, selfClosing)
          } else err("unexpected-in-row")
        case _ => inTableStartTag(name, attrs, selfClosing)
      }
      case IN_CELL => name match {
        case "caption" | "col" | "colgroup" | "tbody" | "td" | "tfoot" |
             "th" | "thead" | "tr" =>
          if (hasInTableScopeAny(Set("td", "th"))) {
            closeCell()
            startTagHtml(name, attrs, selfClosing)
          } else err("unexpected-table-tag-in-cell")
        case _ => inBodyStartTag(name, attrs, selfClosing)
      }
      case IN_SELECT => inSelectStartTag(name, attrs, selfClosing)
      case IN_SELECT_IN_TABLE => name match {
        case "caption" | "table" | "tbody" | "tfoot" | "thead" | "tr" | "td" | "th" =>
          err("table-tag-in-select")
          popUntilPopped("select")
          resetInsertionMode()
          startTagHtml(name, attrs, selfClosing)
        case _ => inSelectStartTag(name, attrs, selfClosing)
      }
      case IN_TEMPLATE => name match {
        case "base" | "basefont" | "bgsound" | "link" | "meta" | "noframes" |
             "script" | "style" | "template" | "title" =>
          inHeadDelegate(name, attrs, selfClosing)
        case "caption" | "colgroup" | "tbody" | "tfoot" | "thead" =>
          templateModes.remove(templateModes.length - 1)
          templateModes += IN_TABLE
          mode = IN_TABLE; startTagHtml(name, attrs, selfClosing)
        case "col" =>
          templateModes.remove(templateModes.length - 1)
          templateModes += IN_COLUMN_GROUP
          mode = IN_COLUMN_GROUP; startTagHtml(name, attrs, selfClosing)
        case "tr" =>
          templateModes.remove(templateModes.length - 1)
          templateModes += IN_TABLE_BODY
          mode = IN_TABLE_BODY; startTagHtml(name, attrs, selfClosing)
        case "td" | "th" =>
          templateModes.remove(templateModes.length - 1)
          templateModes += IN_ROW
          mode = IN_ROW; startTagHtml(name, attrs, selfClosing)
        case _ =>
          templateModes.remove(templateModes.length - 1)
          templateModes += IN_BODY
          mode = IN_BODY; startTagHtml(name, attrs, selfClosing)
      }
      case AFTER_BODY => name match {
        case "html" => inBodyStartHtml(attrs)
        case _ =>
          err("start-after-body"); mode = IN_BODY
          startTagHtml(name, attrs, selfClosing)
      }
      case IN_FRAMESET => name match {
        case "html" => inBodyStartHtml(attrs)
        case "frameset" => insertHtmlElement(name, attrs)
        case "frame" => insertVoid(name, attrs)
        case "noframes" => inHeadDelegate(name, attrs, selfClosing)
        case _ => err("unexpected-start-in-frameset")
      }
      case AFTER_FRAMESET => name match {
        case "html" => inBodyStartHtml(attrs)
        case "noframes" => inHeadDelegate(name, attrs, selfClosing)
        case _ => err("unexpected-start-after-frameset")
      }
      case AFTER_AFTER_BODY => name match {
        case "html" => inBodyStartHtml(attrs)
        case _ =>
          err("start-after-after-body"); mode = IN_BODY
          startTagHtml(name, attrs, selfClosing)
      }
      case AFTER_AFTER_FRAMESET => name match {
        case "html" => inBodyStartHtml(attrs)
        case "noframes" => inHeadDelegate(name, attrs, selfClosing)
        case _ => err("unexpected-start-after-after-frameset")
      }
      case _ => err("unhandled-mode")
    }
  }

  /** The IN_HEAD tag behaviors other modes delegate to ("using the rules
    * for in head"). Mode-sensitive pieces (originalMode for TEXT) use the
    * caller mode, so script-in-table returns to IN_TABLE afterwards.
    * Returns true when the tag was one of the delegated ones. */
  private def inHeadDelegate(name: String, attrs: AttrList,
                             selfClosing: Boolean): Boolean = name match {
    case "base" | "basefont" | "bgsound" | "link" | "meta" =>
      insertVoid(name, attrs); true
    case "title" => genericRcdata(name, attrs); true
    case "noframes" | "style" => genericRawtext(name, attrs); true
    case "script" =>
      insertHtmlElement(name, attrs)
      tokenizer.setScriptData()
      originalMode = mode; mode = TEXT_MODE
      true
    case "template" =>
      insertHtmlElement(name, attrs)
      // spec: a template ELEMENT always has its template-contents
      // DocumentFragment from creation — an empty <template></template>
      // still dumps a "content" node (html5lib tree format)
      templateContents(current)
      afeInsertMarker(); framesetOk = false
      mode = IN_TEMPLATE; templateModes += IN_TEMPLATE
      true
    case _ => false
  }

  private def inBodyStartHtml(attrs: AttrList): Unit = {
    err("unexpected-html-start-tag")
    if (stackContains("template")) return
    val html = stack(0)
    var i = 0
    while (i < attrs.size) {
      if (html.attrs.get(attrs.nameAt(i)) == null)
        html.attrs.add(attrs.nameAt(i), attrs.valueAt(i))
      i += 1
    }
  }

  private def genericRcdata(name: String, attrs: AttrList): Unit = {
    insertHtmlElement(name, attrs)
    tokenizer.setRcdata()
    originalMode = mode
    mode = TEXT_MODE
    if (name == "textarea") ignoreLF = true
  }
  private def genericRawtext(name: String, attrs: AttrList): Unit = {
    insertHtmlElement(name, attrs)
    tokenizer.setRawtext()
    originalMode = mode
    mode = TEXT_MODE
  }

  private def closeCell(): Unit = {
    generateImpliedEnd()
    if (!(isHtml(current, "td") || isHtml(current, "th"))) err("unexpected-cell-close")
    popUntilPoppedAny(Set("td", "th"))
    afeClearToMarker()
    mode = IN_ROW
  }

  // the big one
  private def inBodyStartTag(name: String, attrs: AttrList, selfClosing: Boolean): Unit = {
    name match {
      case "html" => inBodyStartHtml(attrs)
      case "base" | "basefont" | "bgsound" | "link" | "meta" | "noframes" |
           "script" | "style" | "template" | "title" =>
        inHeadDelegate(name, attrs, selfClosing)
      case "body" =>
        err("unexpected-body-start-tag")
        if (stack.length > 1 && isHtml(stack(1), "body") && !stackContains("template")) {
          framesetOk = false
          val body = stack(1)
          var i = 0
          while (i < attrs.size) {
            if (body.attrs.get(attrs.nameAt(i)) == null)
              body.attrs.add(attrs.nameAt(i), attrs.valueAt(i))
            i += 1
          }
        }
      case "frameset" =>
        err("unexpected-frameset-start-tag")
        if (stack.length > 1 && isHtml(stack(1), "body") && framesetOk) {
          val body = stack(1)
          if (body.parent != null) body.parent.removeChild(body)
          while (stack.length > 1) pop()
          insertHtmlElement(name, attrs)
          mode = IN_FRAMESET
        }
      case "address" | "article" | "aside" | "blockquote" | "center" |
           "details" | "dialog" | "dir" | "div" | "dl" | "fieldset" |
           "figcaption" | "figure" | "footer" | "header" | "hgroup" |
           "main" | "menu" | "nav" | "ol" | "p" | "search" | "section" |
           "summary" | "ul" =>
        if (hasInButtonScope("p")) closePElement()
        insertHtmlElement(name, attrs)
      case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
        if (hasInButtonScope("p")) closePElement()
        if (current.ns == NS_HTML && Set("h1","h2","h3","h4","h5","h6").contains(current.name)) {
          err("nested-heading"); pop()
        }
        insertHtmlElement(name, attrs)
      case "pre" | "listing" =>
        if (hasInButtonScope("p")) closePElement()
        insertHtmlElement(name, attrs)
        ignoreLF = true
        framesetOk = false
      case "form" =>
        if (formElem != null && !stackContains("template")) err("nested-form")
        else {
          if (hasInButtonScope("p")) closePElement()
          val e = insertHtmlElement(name, attrs)
          if (!stackContains("template")) formElem = e
        }
      case "li" =>
        framesetOk = false
        var i = stack.length - 1
        var done = false
        while (!done) {
          val node = stack(i)
          if (isHtml(node, "li")) {
            generateImpliedEnd(except = "li")
            if (!isHtml(current, "li")) err("unexpected-li")
            popUntilPopped("li")
            done = true
          } else if (ElemInfo.isSpecial(node.ns, node.name) &&
                     !(node.ns == NS_HTML &&
                       (node.name == "address" || node.name == "div" || node.name == "p"))) {
            done = true
          } else i -= 1
        }
        if (hasInButtonScope("p")) closePElement()
        insertHtmlElement(name, attrs)
      case "dd" | "dt" =>
        framesetOk = false
        var i = stack.length - 1
        var done = false
        while (!done) {
          val node = stack(i)
          if (isHtml(node, "dd") || isHtml(node, "dt")) {
            generateImpliedEnd(except = node.name)
            if (!isHtml(current, node.name)) err("unexpected-dd-dt")
            popUntilPopped(node.name)
            done = true
          } else if (ElemInfo.isSpecial(node.ns, node.name) &&
                     !(node.ns == NS_HTML &&
                       (node.name == "address" || node.name == "div" || node.name == "p"))) {
            done = true
          } else i -= 1
        }
        if (hasInButtonScope("p")) closePElement()
        insertHtmlElement(name, attrs)
      case "plaintext" =>
        if (hasInButtonScope("p")) closePElement()
        insertHtmlElement(name, attrs)
        tokenizer.setPlaintext()
      case "button" =>
        if (hasInScope("button")) {
          err("nested-button")
          generateImpliedEnd()
          popUntilPopped("button")
        }
        reconstructAfe()
        insertHtmlElement(name, attrs)
        framesetOk = false
      case "a" =>
        var i = afe.length - 1
        var existing: DomNode = null
        while (i >= 0 && afe(i) != null && existing == null) {
          if (afe(i).name == "a") existing = afe(i)
          i -= 1
        }
        if (existing != null) {
          err("nested-a")
          adoptionAgency("a")
          val ai = afeIndexOf(existing)
          if (ai >= 0) afe.remove(ai)
          removeFromStack(existing)
        }
        reconstructAfe()
        afePush(insertHtmlElement(name, attrs))
      case "b" | "big" | "code" | "em" | "font" | "i" | "s" | "small" |
           "strike" | "strong" | "tt" | "u" =>
        reconstructAfe()
        afePush(insertHtmlElement(name, attrs))
      case "nobr" =>
        reconstructAfe()
        if (hasInScope("nobr")) {
          err("nested-nobr")
          adoptionAgency("nobr")
          reconstructAfe()
        }
        afePush(insertHtmlElement(name, attrs))
      case "applet" | "marquee" | "object" =>
        reconstructAfe()
        insertHtmlElement(name, attrs)
        afeInsertMarker()
        framesetOk = false
      case "table" =>
        if (quirksMode != QUIRKS && hasInButtonScope("p")) closePElement()
        insertHtmlElement(name, attrs)
        framesetOk = false
        mode = IN_TABLE
      case "area" | "br" | "embed" | "img" | "keygen" | "wbr" =>
        reconstructAfe()
        insertVoid(name, attrs)
        framesetOk = false
      case "input" =>
        reconstructAfe()
        insertVoid(name, attrs)
        val t = attrs.get("type")
        if (t == null || !t.equalsIgnoreCase("hidden")) framesetOk = false
      case "param" | "source" | "track" =>
        insertVoid(name, attrs)
      case "hr" =>
        if (hasInButtonScope("p")) closePElement()
        insertVoid(name, attrs)
        framesetOk = false
      case "image" =>
        err("image-not-img")
        inBodyStartTag("img", attrs, selfClosing)
      case "textarea" =>
        insertHtmlElement(name, attrs)
        ignoreLF = true
        tokenizer.setRcdata()
        originalMode = mode
        framesetOk = false
        mode = TEXT_MODE
      case "xmp" =>
        if (hasInButtonScope("p")) closePElement()
        reconstructAfe()
        framesetOk = false
        genericRawtext(name, attrs)
      case "iframe" =>
        framesetOk = false
        genericRawtext(name, attrs)
      case "noembed" =>
        genericRawtext(name, attrs)
      case "noscript" => // scripting disabled → ordinary element
        reconstructAfe()
        insertHtmlElement(name, attrs)
      case "select" =>
        reconstructAfe()
        insertHtmlElement(name, attrs)
        framesetOk = false
        mode =
          if (mode == IN_TABLE || mode == IN_CAPTION || mode == IN_TABLE_BODY ||
              mode == IN_ROW || mode == IN_CELL) IN_SELECT_IN_TABLE
          else IN_SELECT
      case "optgroup" | "option" =>
        if (isHtml(current, "option")) pop()
        reconstructAfe()
        insertHtmlElement(name, attrs)
      case "rb" | "rtc" =>
        if (hasInScope("ruby")) {
          generateImpliedEnd()
          if (!isHtml(current, "ruby")) err("unexpected-ruby")
        }
        insertHtmlElement(name, attrs)
      case "rp" | "rt" =>
        if (hasInScope("ruby")) {
          generateImpliedEnd(except = "rtc")
          if (!(isHtml(current, "ruby") || isHtml(current, "rtc"))) err("unexpected-ruby")
        }
        insertHtmlElement(name, attrs)
      case "math" =>
        reconstructAfe()
        ElemInfo.adjustMathMLAttributes(attrs)
        ElemInfo.adjustForeignAttributes(attrs)
        insertForeignElement(name, NS_MATHML, attrs)
        if (selfClosing) pop()
      case "svg" =>
        reconstructAfe()
        ElemInfo.adjustSvgAttributes(attrs)
        ElemInfo.adjustForeignAttributes(attrs)
        insertForeignElement(name, NS_SVG, attrs)
        if (selfClosing) pop()
      case "caption" | "col" | "colgroup" | "frame" | "head" | "tbody" |
           "td" | "tfoot" | "th" | "thead" | "tr" =>
        err("unexpected-table-tag-in-body")
      case _ =>
        reconstructAfe()
        insertHtmlElement(name, attrs)
    }
  }

  private def inTableStartTag(name: String, attrs: AttrList, selfClosing: Boolean): Unit = {
    name match {
      case "caption" =>
        clearStackToTableContext()
        afeInsertMarker()
        insertHtmlElement(name, attrs)
        mode = IN_CAPTION
      case "colgroup" =>
        clearStackToTableContext()
        insertHtmlElement(name, attrs)
        mode = IN_COLUMN_GROUP
      case "col" =>
        clearStackToTableContext()
        insertHtmlElement("colgroup", new AttrList)
        mode = IN_COLUMN_GROUP
        startTagHtml(name, attrs, selfClosing)
      case "tbody" | "tfoot" | "thead" =>
        clearStackToTableContext()
        insertHtmlElement(name, attrs)
        mode = IN_TABLE_BODY
      case "td" | "th" | "tr" =>
        clearStackToTableContext()
        insertHtmlElement("tbody", new AttrList)
        mode = IN_TABLE_BODY
        startTagHtml(name, attrs, selfClosing)
      case "table" =>
        err("nested-table")
        if (hasInTableScope("table")) {
          popUntilPopped("table")
          resetInsertionMode()
          startTagHtml(name, attrs, selfClosing)
        }
      case "style" | "script" | "template" =>
        inHeadDelegate(name, attrs, selfClosing)
      case "input" =>
        val t = attrs.get("type")
        if (t != null && t.equalsIgnoreCase("hidden")) {
          err("hidden-input-in-table")
          insertVoid(name, attrs)
        } else inTableAnythingElse(name, attrs, selfClosing)
      case "form" =>
        err("form-in-table")
        if (!stackContains("template") && formElem == null) {
          val e = insertHtmlElement(name, attrs)
          formElem = e
          pop()
        }
      case _ => inTableAnythingElse(name, attrs, selfClosing)
    }
  }

  private def inTableAnythingElse(name: String, attrs: AttrList,
                                  selfClosing: Boolean): Unit = {
    err("unexpected-start-tag-in-table")
    fosterParenting = true
    inBodyStartTag(name, attrs, selfClosing)
    fosterParenting = false
  }

  private def inSelectStartTag(name: String, attrs: AttrList,
                               selfClosing: Boolean): Unit = name match {
    case "html" => inBodyStartHtml(attrs)
    case "option" =>
      if (isHtml(current, "option")) pop()
      insertHtmlElement(name, attrs)
    case "optgroup" =>
      if (isHtml(current, "option")) pop()
      if (isHtml(current, "optgroup")) pop()
      insertHtmlElement(name, attrs)
    case "hr" =>
      if (isHtml(current, "option")) pop()
      if (isHtml(current, "optgroup")) pop()
      insertVoid(name, attrs)
    case "select" =>
      err("nested-select")
      if (hasInSelectScope("select")) {
        popUntilPopped("select")
        resetInsertionMode()
      }
    case "input" | "keygen" | "textarea" =>
      err("input-in-select")
      if (hasInSelectScope("select")) {
        popUntilPopped("select")
        resetInsertionMode()
        startTagHtml(name, attrs, selfClosing)
      }
    case "script" | "template" =>
      inHeadDelegate(name, attrs, selfClosing)
    case _ => err("unexpected-start-in-select")
  }

  private def foreignStartTag(name: String, attrs: AttrList, selfClosing: Boolean): Unit = {
    val isBreakout = ElemInfo.ForeignBreakout.contains(name) ||
      (name == "font" && (attrs.contains("color") || attrs.contains("face") ||
        attrs.contains("size")))
    // Fragment case: never break out (reference semantics,
    // Core/TreeBuilder.cs:1429-1521 — the pop loop cannot pass the synthetic
    // root, so breaking out would re-dispatch forever against the foreign
    // context element).
    if (isBreakout && fragmentContext == null) {
      err("foreign-breakout")
      while (!(current.ns == NS_HTML || isMathMlTextIp(current) || isHtmlIp(current)))
        pop()
      startTag(name, attrs, selfClosing)
    } else {
      val acnNs = adjustedCurrent.ns
      var adjName = name
      if (acnNs == NS_SVG) {
        adjName = ElemInfo.SvgTagAdjust.getOrElse(name, name)
        ElemInfo.adjustSvgAttributes(attrs)
      } else if (acnNs == NS_MATHML) {
        ElemInfo.adjustMathMLAttributes(attrs)
      }
      ElemInfo.adjustForeignAttributes(attrs)
      insertForeignElement(adjName, acnNs, attrs)
      if (selfClosing) pop()
    }
  }

  // ------------------------------------------------------------------
  // End tags
  // ------------------------------------------------------------------
  override def endTag(name: String): Unit = {
    if (stopped) return
    ignoreLF = false // see startTag: only the NEXT token's LF is skipped
    if (mode == IN_TABLE_TEXT) flushTableText()
    if (!useHtmlRules(isStartTag = false, name, isText = false, isEof = false)) {
      foreignEndTag(name)
      return
    }
    endTagHtml(name)
  }

  private def foreignEndTag(name: String): Unit = {
    // (script-in-svg execution skipped: scripting disabled)
    var i = stack.length - 1
    var node = stack(i)
    if (node.name.toLowerCase(java.util.Locale.ROOT) != name) err("foreign-end-tag-case-mismatch")
    var done = false
    while (!done) {
      if (i == 0) { done = true } // fragment case
      else if (node.name.toLowerCase(java.util.Locale.ROOT) == name) {
        while (current ne node) pop()
        pop()
        done = true
      } else {
        i -= 1
        node = stack(i)
        if (node.ns == NS_HTML) { endTagHtml(name); done = true }
      }
    }
  }

  private def endTagHtml(name: String): Unit = {
    mode match {
      case INITIAL =>
        quirksMode = QUIRKS; mode = BEFORE_HTML; endTagHtml(name)
      case BEFORE_HTML =>
        if (name == "head" || name == "body" || name == "html" || name == "br") {
          val root = DomNode.element("html", NS_HTML, new AttrList)
          doc.appendChild(root); push(root)
          mode = BEFORE_HEAD; endTagHtml(name)
        } else err("end-tag-before-html")
      case BEFORE_HEAD =>
        if (name == "head" || name == "body" || name == "html" || name == "br") {
          headElem = insertHtmlElement("head", new AttrList)
          mode = IN_HEAD; endTagHtml(name)
        } else err("end-tag-before-head")
      case IN_HEAD => name match {
        case "head" => pop(); mode = AFTER_HEAD
        case "body" | "html" | "br" =>
          pop(); mode = AFTER_HEAD; endTagHtml(name)
        case "template" => endTemplate()
        case _ => err("unexpected-end-in-head")
      }
      case IN_HEAD_NOSCRIPT => name match {
        case "noscript" => pop(); mode = IN_HEAD
        case "br" =>
          err("unexpected-end-in-noscript")
          pop(); mode = IN_HEAD; endTagHtml(name)
        case _ => err("unexpected-end-in-noscript")
      }
      case AFTER_HEAD => name match {
        case "body" | "html" | "br" =>
          insertHtmlElement("body", new AttrList)
          mode = IN_BODY; endTagHtml(name)
        case "template" => endTemplate()
        case _ => err("unexpected-end-after-head")
      }
      case IN_BODY => inBodyEndTag(name)
      case TEXT_MODE =>
        pop()
        mode = originalMode
      case IN_TABLE => inTableEndTag(name)
      case IN_TABLE_TEXT => inTableEndTag(name)
      case IN_CAPTION => name match {
        case "caption" =>
          if (hasInTableScope("caption")) {
            generateImpliedEnd()
            if (!isHtml(current, "caption")) err("unexpected-end-caption")
            popUntilPopped("caption")
            afeClearToMarker()
            mode = IN_TABLE
          } else err("caption-not-in-scope")
        case "table" =>
          err("unexpected-table-end-in-caption")
          if (hasInTableScope("caption")) {
            generateImpliedEnd()
            popUntilPopped("caption")
            afeClearToMarker()
            mode = IN_TABLE
            endTagHtml(name)
          }
        case "body" | "col" | "colgroup" | "html" | "tbody" | "td" |
             "tfoot" | "th" | "thead" | "tr" =>
          err("unexpected-end-in-caption")
        case _ => inBodyEndTag(name)
      }
      case IN_COLUMN_GROUP => name match {
        case "colgroup" =>
          if (isHtml(current, "colgroup")) { pop(); mode = IN_TABLE }
          else err("colgroup-end-mismatch")
        case "col" => err("unexpected-col-end")
        case "template" => endTemplate()
        case _ =>
          if (isHtml(current, "colgroup")) {
            pop(); mode = IN_TABLE; endTagHtml(name)
          } else err("unexpected-end-in-colgroup")
      }
      case IN_TABLE_BODY => name match {
        case "tbody" | "tfoot" | "thead" =>
          if (hasInTableScope(name)) {
            clearStackToTableBodyContext()
            pop(); mode = IN_TABLE
          } else err("section-not-in-scope")
        case "table" =>
          if (hasInTableScopeAny(Set("tbody", "thead", "tfoot"))) {
            clearStackToTableBodyContext()
            pop(); mode = IN_TABLE
            endTagHtml(name)
          } else err("table-end-not-in-scope")
        case "body" | "caption" | "col" | "colgroup" | "html" | "td" | "th" | "tr" =>
          err("unexpected-end-in-table-body")
        case _ => inTableEndTag(name)
      }
      case IN_ROW => name match {
        case "tr" =>
          if (hasInTableScope("tr")) {
            clearStackToTableRowContext()
            pop(); mode = IN_TABLE_BODY
          } else err("tr-not-in-scope")
        case "table" =>
          if (hasInTableScope("tr")) {
            clearStackToTableRowContext()
            pop(); mode = IN_TABLE_BODY
            endTagHtml(name)
          } else err("table-end-in-row")
        case "tbody" | "tfoot" | "thead" =>
          if (hasInTableScope(name)) {
            if (hasInTableScope("tr")) {
              clearStackToTableRowContext()
              pop(); mode = IN_TABLE_BODY
              endTagHtml(name)
            }
          } else err("section-end-in-row")
        case "body" | "caption" | "col" | "colgroup" | "html" | "td" | "th" =>
          err("unexpected-end-in-row")
        case _ => inTableEndTag(name)
      }
      case IN_CELL => name match {
        case "td" | "th" =>
          if (hasInTableScope(name)) {
            generateImpliedEnd()
            if (!isHtml(current, name)) err("cell-end-mismatch")
            popUntilPopped(name)
            afeClearToMarker()
            mode = IN_ROW
          } else err("cell-not-in-scope")
        case "body" | "caption" | "col" | "colgroup" | "html" =>
          err("unexpected-end-in-cell")
        case "table" | "tbody" | "tfoot" | "thead" | "tr" =>
          if (hasInTableScope(name)) {
            closeCell()
            endTagHtml(name)
          } else err("table-end-in-cell")
        case _ => inBodyEndTag(name)
      }
      case IN_SELECT => inSelectEndTag(name)
      case IN_SELECT_IN_TABLE => name match {
        case "caption" | "table" | "tbody" | "tfoot" | "thead" | "tr" | "td" | "th" =>
          err("table-end-in-select")
          if (hasInTableScope(name)) {
            popUntilPopped("select")
            resetInsertionMode()
            endTagHtml(name)
          }
        case _ => inSelectEndTag(name)
      }
      case IN_TEMPLATE => name match {
        case "template" => endTemplate()
        case _ => err("unexpected-end-in-template")
      }
      case AFTER_BODY => name match {
        case "html" =>
          if (fragmentContext != null) err("html-end-in-fragment")
          else mode = AFTER_AFTER_BODY
        case _ =>
          err("unexpected-end-after-body"); mode = IN_BODY; endTagHtml(name)
      }
      case IN_FRAMESET => name match {
        case "frameset" =>
          if (isHtml(current, "html")) err("frameset-end-at-root")
          else {
            pop()
            if (fragmentContext == null && !isHtml(current, "frameset"))
              mode = AFTER_FRAMESET
          }
        case _ => err("unexpected-end-in-frameset")
      }
      case AFTER_FRAMESET => name match {
        case "html" => mode = AFTER_AFTER_FRAMESET
        case _ => err("unexpected-end-after-frameset")
      }
      case AFTER_AFTER_BODY =>
        err("end-after-after-body"); mode = IN_BODY; endTagHtml(name)
      case AFTER_AFTER_FRAMESET =>
        err("end-after-after-frameset")
      case _ => err("unhandled-mode-end")
    }
  }

  private def endTemplate(): Unit = {
    if (!stackContains("template")) err("template-end-without-template")
    else {
      generateImpliedEndThoroughly()
      if (!isHtml(current, "template")) err("template-end-mismatch")
      popUntilPopped("template")
      afeClearToMarker()
      if (templateModes.nonEmpty) templateModes.remove(templateModes.length - 1)
      resetInsertionMode()
    }
  }

  private def inBodyEndTag(name: String): Unit = name match {
    case "template" => endTemplate()
    case "body" =>
      if (!hasInScope("body")) err("body-end-not-in-scope")
      else mode = AFTER_BODY
    case "html" =>
      if (!hasInScope("body")) err("html-end-not-in-scope")
      else { mode = AFTER_BODY; endTagHtml(name) }
    case "address" | "article" | "aside" | "blockquote" | "button" |
         "center" | "details" | "dialog" | "dir" | "div" | "dl" |
         "fieldset" | "figcaption" | "figure" | "footer" | "header" |
         "hgroup" | "listing" | "main" | "menu" | "nav" | "ol" | "pre" |
         "search" | "section" | "summary" | "ul" =>
      if (!hasInScope(name)) err("end-tag-not-in-scope")
      else {
        generateImpliedEnd()
        if (!isHtml(current, name)) err("end-tag-mismatch")
        popUntilPopped(name)
      }
    case "form" =>
      if (!stackContains("template")) {
        val node = formElem
        formElem = null
        if (node == null || !hasNodeInScope(node)) { err("form-end-not-in-scope"); return }
        generateImpliedEnd()
        if (!(current eq node)) err("form-end-mismatch")
        removeFromStack(node)
      } else {
        if (!hasInScope("form")) { err("form-end-not-in-scope"); return }
        generateImpliedEnd()
        if (!isHtml(current, "form")) err("form-end-mismatch")
        popUntilPopped("form")
      }
    case "p" =>
      if (!hasInButtonScope("p")) {
        err("p-end-not-in-scope")
        insertHtmlElement("p", new AttrList)
      }
      closePElement()
    case "li" =>
      if (!hasInListScope("li")) err("li-end-not-in-scope")
      else {
        generateImpliedEnd(except = "li")
        if (!isHtml(current, "li")) err("li-end-mismatch")
        popUntilPopped("li")
      }
    case "dd" | "dt" =>
      if (!hasInScope(name)) err("dd-dt-end-not-in-scope")
      else {
        generateImpliedEnd(except = name)
        if (!isHtml(current, name)) err("dd-dt-end-mismatch")
        popUntilPopped(name)
      }
    case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
      val hs = Set("h1", "h2", "h3", "h4", "h5", "h6")
      if (!hasInScopeAny(hs)) err("heading-end-not-in-scope")
      else {
        generateImpliedEnd()
        if (!isHtml(current, name)) err("heading-end-mismatch")
        popUntilPoppedAny(hs)
      }
    case "a" | "b" | "big" | "code" | "em" | "font" | "i" | "nobr" | "s" |
         "small" | "strike" | "strong" | "tt" | "u" =>
      adoptionAgency(name)
    case "applet" | "marquee" | "object" =>
      if (!hasInScope(name)) err("end-tag-not-in-scope")
      else {
        generateImpliedEnd()
        if (!isHtml(current, name)) err("end-tag-mismatch")
        popUntilPopped(name)
        afeClearToMarker()
      }
    case "br" =>
      err("br-end-tag")
      reconstructAfe()
      insertVoid("br", new AttrList)
      framesetOk = false
    case _ => anyOtherEndTagInBody(name)
  }

  private def inTableEndTag(name: String): Unit = name match {
    case "table" =>
      if (hasInTableScope("table")) {
        popUntilPopped("table")
        resetInsertionMode()
      } else err("table-end-not-in-scope")
    case "body" | "caption" | "col" | "colgroup" | "html" | "tbody" |
         "td" | "tfoot" | "th" | "thead" | "tr" =>
      err("unexpected-end-in-table")
    case "template" => endTemplate()
    case _ =>
      err("unexpected-end-tag-in-table")
      fosterParenting = true
      inBodyEndTag(name)
      fosterParenting = false
  }

  private def inSelectEndTag(name: String): Unit = name match {
    case "optgroup" =>
      if (isHtml(current, "option") && stack.length >= 2 &&
          isHtml(stack(stack.length - 2), "optgroup")) pop()
      if (isHtml(current, "optgroup")) pop()
      else err("optgroup-end-mismatch")
    case "option" =>
      if (isHtml(current, "option")) pop()
      else err("option-end-mismatch")
    case "select" =>
      if (hasInSelectScope("select")) {
        popUntilPopped("select")
        resetInsertionMode()
      } else err("select-end-not-in-scope")
    case "template" => endTemplate()
    case _ => err("unexpected-end-in-select")
  }
}

object TreeBuilder {
  final val NO_QUIRKS = 0; final val LIMITED_QUIRKS = 1; final val QUIRKS = 2

  /** Quirks-mode detection from a doctype token's fields (spec "the
    * initial insertion mode" quirks tables; public data in ElemInfo).
    * Static so HtmlSerializer.roundTrips can re-derive the mode a
    * serialized doctype would produce on reparse. */
  def decideQuirks(name: String, publicId: String, systemId: String,
                   forceQuirks: Boolean): Int = {
    val pub = if (publicId == null) null else publicId.toLowerCase(java.util.Locale.ROOT)
    val sys = if (systemId == null) null else systemId.toLowerCase(java.util.Locale.ROOT)
    if (forceQuirks || name != "html" ||
        (pub != null && (ElemInfo.QuirkyPublicIdsExact.contains(pub) ||
          ElemInfo.QuirkyPublicIdPrefixes.exists(pub.startsWith))) ||
        (sys != null && sys == "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd") ||
        (sys == null && pub != null &&
          ElemInfo.LimitedQuirksWithSystemPrefixes.exists(pub.startsWith)))
      QUIRKS
    else if (pub != null && (ElemInfo.AlmostStandardsPrefixes.exists(pub.startsWith) ||
        (sys != null && ElemInfo.LimitedQuirksWithSystemPrefixes.exists(pub.startsWith))))
      LIMITED_QUIRKS
    else NO_QUIRKS
  }
}
