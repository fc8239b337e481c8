package htmlspark.tokenizer

import htmlspark.text.Entities

/** Growable char accumulator (cheaper than StringBuilder for slice appends). */
final class CharAcc(initial: Int = 64) {
  var a: Array[Char] = new Array[Char](initial)
  var n: Int = 0
  def clear(): Unit = n = 0
  def ensure(extra: Int): Unit =
    if (n + extra > a.length) {
      var cap = a.length * 2
      while (cap < n + extra) cap *= 2
      a = java.util.Arrays.copyOf(a, cap)
    }
  def +=(c: Char): Unit = { ensure(1); a(n) = c; n += 1 }
  def appendSlice(src: Array[Char], from: Int, until: Int): Unit = {
    val k = until - from
    if (k > 0) { ensure(k); System.arraycopy(src, from, a, n, k); n += k }
  }
  def appendStr(s: String): Unit = {
    ensure(s.length); s.getChars(0, s.length, a, n); n += s.length
  }
  def appendCodePoint(cp: Int): Unit =
    if (cp < 0x10000) this += cp.toChar
    else { this += Character.highSurrogate(cp); this += Character.lowSurrogate(cp) }
  def isEmpty: Boolean = n == 0
  override def toString: String = new String(a, 0, n)
}

/** WHATWG HTML5 tokenizer (tokenization section of the living standard),
  * implemented from the public spec over a whole in-memory document.
  *
  * Behavioral counterpart of the reference's 158-arm state loop
  * (reference: Core/Tokenizer.StateLoop3.cs:57, state enum Core/Tokenizer.cs:56-232)
  * but structured differently: because each Spark row carries the complete
  * document, chunk-boundary bookkeeping (UTF16Buffer, cstart resumption,
  * suspend/resume) disappears; character references are a direct subroutine
  * instead of re-entrant states; CR/LF normalization is a single pre-pass.
  *
  * Deviation from the (older-spec) reference, deliberate: NUL in DATA is
  * emitted as-is and dropped by the tree builder per the current spec,
  * rather than tokenizer-side U+FFFD.
  */
final class HtmlTokenizer(private var sink: TokenSink) {

  /** Re-target token delivery (engine reuse: fresh tree builder per doc
    * over reused tokenizer buffers). */
  def setSink(s: TokenSink): Unit = sink = s

  // ---- states ----
  final val DATA = 0; final val RCDATA = 1; final val RAWTEXT = 2
  final val SCRIPT_DATA = 3; final val PLAINTEXT = 4
  final val TAG_OPEN = 5; final val END_TAG_OPEN = 6; final val TAG_NAME = 7
  final val RCDATA_LT = 8; final val RCDATA_END_TAG_OPEN = 9; final val RCDATA_END_TAG_NAME = 10
  final val RAWTEXT_LT = 11; final val RAWTEXT_END_TAG_OPEN = 12; final val RAWTEXT_END_TAG_NAME = 13
  final val SCRIPT_LT = 14; final val SCRIPT_END_TAG_OPEN = 15; final val SCRIPT_END_TAG_NAME = 16
  final val SCRIPT_ESCAPE_START = 17; final val SCRIPT_ESCAPE_START_DASH = 18
  final val SCRIPT_ESCAPED = 19; final val SCRIPT_ESCAPED_DASH = 20; final val SCRIPT_ESCAPED_DASH_DASH = 21
  final val SCRIPT_ESCAPED_LT = 22; final val SCRIPT_ESCAPED_END_TAG_OPEN = 23; final val SCRIPT_ESCAPED_END_TAG_NAME = 24
  final val SCRIPT_DOUBLE_ESCAPE_START = 25; final val SCRIPT_DOUBLE_ESCAPED = 26
  final val SCRIPT_DOUBLE_ESCAPED_DASH = 27; final val SCRIPT_DOUBLE_ESCAPED_DASH_DASH = 28
  final val SCRIPT_DOUBLE_ESCAPED_LT = 29; final val SCRIPT_DOUBLE_ESCAPE_END = 30
  final val BEFORE_ATTR_NAME = 31; final val ATTR_NAME = 32; final val AFTER_ATTR_NAME = 33
  final val BEFORE_ATTR_VALUE = 34; final val ATTR_VALUE_DQ = 35; final val ATTR_VALUE_SQ = 36
  final val ATTR_VALUE_UNQ = 37; final val AFTER_ATTR_VALUE_Q = 38
  final val SELF_CLOSING = 39; final val BOGUS_COMMENT = 40; final val MARKUP_DECL_OPEN = 41
  final val COMMENT_START = 42; final val COMMENT_START_DASH = 43; final val COMMENT = 44
  final val COMMENT_LT = 45; final val COMMENT_LT_BANG = 46; final val COMMENT_LT_BANG_DASH = 47
  final val COMMENT_LT_BANG_DASH_DASH = 48; final val COMMENT_END_DASH = 49
  final val COMMENT_END = 50; final val COMMENT_END_BANG = 51
  final val DOCTYPE_S = 52; final val BEFORE_DOCTYPE_NAME = 53; final val DOCTYPE_NAME = 54
  final val AFTER_DOCTYPE_NAME = 55; final val AFTER_DOCTYPE_PUBLIC_KW = 56
  final val BEFORE_DOCTYPE_PUBLIC_ID = 57; final val DOCTYPE_PUBLIC_ID_DQ = 58
  final val DOCTYPE_PUBLIC_ID_SQ = 59; final val AFTER_DOCTYPE_PUBLIC_ID = 60
  final val BETWEEN_DOCTYPE_PUB_SYS = 61; final val AFTER_DOCTYPE_SYSTEM_KW = 62
  final val BEFORE_DOCTYPE_SYSTEM_ID = 63; final val DOCTYPE_SYSTEM_ID_DQ = 64
  final val DOCTYPE_SYSTEM_ID_SQ = 65; final val AFTER_DOCTYPE_SYSTEM_ID = 66
  final val BOGUS_DOCTYPE = 67; final val CDATA_SECTION = 68
  final val CDATA_BRACKET = 69; final val CDATA_END = 70

  private val EOF = -1
  private val REPL = '�'

  private var buf: Array[Char] = _
  private var len = 0
  private var pos = 0
  private var state = DATA

  private val pend = new CharAcc(256)          // pending character tokens
  private val tagName = new CharAcc(16)
  private var endTag = false
  private var attrs: AttrList = new AttrList
  private val attrName = new java.lang.StringBuilder(16)
  private val attrValue = new java.lang.StringBuilder(32)
  private var hasAttrValue = false
  private var selfClosing = false
  private var lastStartTag: String = ""
  private val tempBuf = new java.lang.StringBuilder(16)
  private val comment = new java.lang.StringBuilder(32)
  private val dtName = new java.lang.StringBuilder(16)
  private val dtPublic = new java.lang.StringBuilder(16)
  private val dtSystem = new java.lang.StringBuilder(16)
  private var dtHasName, dtHasPublic, dtHasSystem, dtForceQuirks = false

  /** Tree builder hook: switch content model after a start tag. */
  def setRcdata(): Unit = state = RCDATA
  def setRawtext(): Unit = state = RAWTEXT
  def setScriptData(): Unit = state = SCRIPT_DATA
  def setPlaintext(): Unit = state = PLAINTEXT
  /** For fragment parsing: pretend a start tag was seen. */
  def setLastStartTag(n: String): Unit = lastStartTag = n

  private def err(code: String): Unit = sink.parseError(code)

  private def flushText(): Unit =
    if (pend.n > 0) { sink.characters(pend.a, 0, pend.n); pend.clear() }

  /** Reusable input buffer: with per-partition engine reuse (the reference
    * reuses per-parser buffers the same way — Core/Tokenizer.cs:462,
    * Core/HtmlAttributes.cs:474-492) this grows to the largest document
    * seen and then every subsequent doc decodes with zero buffer allocs.
    * Safe because nothing downstream retains `buf`: text nodes, attr
    * values and comments all copy out. */
  private var work: Array[Char] = new Array[Char](256)

  /** Input preprocessing (spec "preprocessing the input stream"):
    * CRLF → LF, CR → LF. One pass into the reused buffer; returns the
    * logical length. */
  private def preprocessInto(s: String): Int = {
    val n = s.length
    if (work.length < n) work = new Array[Char](math.max(n, work.length * 2))
    s.getChars(0, n, work, 0)
    var i = s.indexOf('\r')
    if (i < 0) return n
    var w = i
    while (i < n) {
      val c = work(i)
      if (c == '\r') {
        work(w) = '\n'; w += 1
        if (i + 1 < n && work(i + 1) == '\n') i += 1
      } else { work(w) = c; w += 1 }
      i += 1
    }
    w
  }

  /** Re-arm for another document (per-partition engine reuse). Buffers
    * keep their grown capacity; all parse state returns to initial. */
  def reset(): Unit = {
    state = DATA
    pend.clear(); tagName.clear(); endTag = false
    attrs = new AttrList
    attrName.setLength(0); attrValue.setLength(0)
    hasAttrValue = false; selfClosing = false; lastStartTag = ""
    tempBuf.setLength(0); comment.setLength(0)
    dtName.setLength(0); dtPublic.setLength(0); dtSystem.setLength(0)
    dtHasName = false; dtHasPublic = false; dtHasSystem = false
    dtForceQuirks = false
  }

  private def cur(): Int = if (pos < len) buf(pos).toInt else EOF
  private def lowerIfAlpha(c: Int): Char =
    if (c >= 'A' && c <= 'Z') (c + 0x20).toChar else c.toChar
  private def isAsciiAlpha(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isAsciiAlnum(c: Int): Boolean =
    isAsciiAlpha(c) || (c >= '0' && c <= '9')
  private def isWs(c: Int): Boolean =
    c == '\t' || c == '\n' || c == '\f' || c == ' '

  private def newStartTag(): Unit = {
    tagName.clear(); endTag = false; attrs = new AttrList
    selfClosing = false
  }
  private def newEndTag(): Unit = {
    tagName.clear(); endTag = true; attrs = new AttrList
    selfClosing = false
  }

  private def finishAttr(): Unit = {
    if (attrName.length > 0) {
      val ok = attrs.add(attrName.toString,
        if (hasAttrValue) attrValue.toString else "")
      if (!ok) err("duplicate-attribute")
    }
    attrName.setLength(0); attrValue.setLength(0); hasAttrValue = false
  }

  private def emitTag(): Unit = {
    finishAttr()
    flushText()
    val name = TagNames.canonical(tagName.a, tagName.n)
    state = DATA // sink callbacks may override (content-model switch)
    if (endTag) {
      if (attrs.size > 0) err("end-tag-with-attributes")
      if (selfClosing) err("end-tag-with-trailing-solidus")
      sink.endTag(name)
    } else {
      lastStartTag = name
      sink.startTag(name, attrs, selfClosing)
    }
  }

  private def emitComment(): Unit = {
    flushText()
    sink.comment(comment.toString)
    comment.setLength(0)
  }

  private def emitDoctype(): Unit = {
    flushText()
    sink.doctype(
      if (dtHasName) dtName.toString else null,
      if (dtHasPublic) dtPublic.toString else null,
      if (dtHasSystem) dtSystem.toString else null,
      dtForceQuirks)
  }

  private def appropriateEndTag: Boolean =
    lastStartTag.nonEmpty && TagNames.sameChars(lastStartTag, tagName.a, tagName.n)

  /** Case-insensitive lookahead match (consumes on success). */
  private def lookaheadIgnoreCase(word: String): Boolean = {
    if (pos + word.length > len) return false
    var i = 0
    while (i < word.length) {
      val c = buf(pos + i)
      val w = word.charAt(i)
      if (c != w && (c | 0x20) != (w | 0x20)) return false
      i += 1
    }
    pos += word.length
    true
  }
  private def lookaheadExact(word: String): Boolean = {
    if (pos + word.length > len) return false
    var i = 0
    while (i < word.length) {
      if (buf(pos + i) != word.charAt(i)) return false
      i += 1
    }
    pos += word.length
    true
  }

  // -------------------------------------------------------------------
  // Character reference subroutine (spec §13.2.5.72-80 re-expressed as a
  // direct function — whole input is in memory so no re-entrancy needed).
  // Appends the result to `out`; `pos` is just past '&' on entry.
  // -------------------------------------------------------------------
  private def charRef(out: CharAcc, attrSb: java.lang.StringBuilder,
                      inAttribute: Boolean): Unit = {
    def put(s: String): Unit =
      if (attrSb != null) attrSb.append(s) else out.appendStr(s)
    def putCp(cp: Int): Unit =
      if (attrSb != null) attrSb.appendCodePoint(cp) else out.appendCodePoint(cp)

    val c = cur()
    if (c == '#') {
      pos += 1
      var hex = false
      val c2 = cur()
      if (c2 == 'x' || c2 == 'X') { hex = true; pos += 1 }
      val digitsStart = pos
      var value = 0L
      var overflow = false
      while (pos < len && {
        val d = buf(pos)
        val v =
          if (d >= '0' && d <= '9') d - '0'
          else if (hex && d >= 'a' && d <= 'f') d - 'a' + 10
          else if (hex && d >= 'A' && d <= 'F') d - 'A' + 10
          else -1
        if (v >= 0) {
          value = value * (if (hex) 16 else 10) + v
          if (value > 0x110000L) { value = 0x110000L; overflow = true }
          true
        } else false
      }) pos += 1
      if (pos == digitsStart) {
        err("absence-of-digits-in-numeric-character-reference")
        put(if (hex) "&#" + buf(digitsStart - 1) else "&#")
        return
      }
      if (cur() == ';') pos += 1
      else err("missing-semicolon-after-character-reference")
      var cp = value.toInt
      if (overflow || cp == 0 || cp > 0x10FFFF ||
          (cp >= 0xD800 && cp <= 0xDFFF)) {
        err("numeric-charref-out-of-range"); cp = 0xFFFD
      } else if (cp >= 0x80 && cp <= 0x9F) {
        err("control-character-reference")
        cp = Entities.Windows1252(cp - 0x80).toInt
      } else if (cp == 0x0D || (cp < 0x20 && cp != 0x09 && cp != 0x0A && cp != 0x0C) ||
                 cp == 0x7F) {
        err("control-character-reference")
      }
      putCp(cp)
    } else if (isAsciiAlnum(c)) {
      val runStart = pos
      var j = pos
      while (j < len && j - runStart < Entities.MaxLen && isAsciiAlnum(buf(j)))
        j += 1
      var matched: String = null
      var consumed = 0
      if (j < len && buf(j) == ';') {
        // the name with its ';' is exactly buf[runStart, j]
        matched = Entities.byName.get(new String(buf, runStart, j + 1 - runStart))
        if (matched != null) consumed = j + 1 - runStart
      }
      // only the no-semicolon lookups and the literal fallbacks need it
      val run = if (matched == null) new String(buf, runStart, j - runStart) else null
      if (matched == null) {
        var L = math.min(run.length, Entities.MaxLenNoSemi)
        while (L >= 1 && matched == null) {
          val v = Entities.byName.get(run.substring(0, L))
          if (v != null) { matched = v; consumed = L }
          L -= 1
        }
      }
      if (matched != null) {
        val endedWithSemi = buf(runStart + consumed - 1) == ';'
        if (inAttribute && !endedWithSemi && runStart + consumed < len && {
          val nc = buf(runStart + consumed)
          nc == '=' || isAsciiAlnum(nc)
        }) {
          // historical: leave as literal in attributes
          put("&" + run.substring(0, consumed))
          pos = runStart + consumed
        } else {
          if (!endedWithSemi) err("missing-semicolon-after-character-reference")
          put(matched)
          pos = runStart + consumed
        }
      } else {
        // no match: flush '&' + the alnum run as-is; ';' (if any) flows on
        if (j < len && buf(j) == ';') err("unknown-named-character-reference")
        put("&" + run)
        pos = j
      }
    } else {
      put("&")
    }
  }

  // -------------------------------------------------------------------
  // Main loop
  // -------------------------------------------------------------------
  /** initialState = -1 keeps any state pre-set via setRcdata()/etc.
    * (fragment parsing sets the content model before tokenizing). */
  def tokenize(input: String, initialState: Int = -1): Unit = {
    len = preprocessInto(input)
    buf = work
    pos = 0
    // text output can never exceed input length: pre-size once, no growth
    pend.ensure(len + 16)
    if (initialState >= 0) state = initialState
    run()
  }

  /** Dispatch loop. Each state's logic lives in its own small method:
    * a single giant method exceeds HotSpot's HugeMethodLimit (8000
    * bytecodes) and would run interpreted forever (~3 MB/s); split,
    * every arm JIT-compiles. (The reference hit the same wall and
    * split its loop into StateLoop3_* partial classes.)
    * Arm methods return true when tokenization ended (EOF emitted). */
  private def run(): Unit = {
    while (true) {
      (state: @annotation.switch) match {
        case DATA => if (st_DATA()) return
        case RCDATA => if (st_RCDATA()) return
        case RAWTEXT => if (st_RAWTEXT()) return
        case SCRIPT_DATA => if (st_SCRIPT_DATA()) return
        case PLAINTEXT => if (st_PLAINTEXT()) return
        case TAG_OPEN => if (st_TAG_OPEN()) return
        case END_TAG_OPEN => if (st_END_TAG_OPEN()) return
        case TAG_NAME => if (st_TAG_NAME()) return
        case RCDATA_LT => if (st_RCDATA_LT()) return
        case RCDATA_END_TAG_OPEN => if (st_RCDATA_END_TAG_OPEN()) return
        case RCDATA_END_TAG_NAME => if (st_RCDATA_END_TAG_NAME()) return
        case RAWTEXT_LT => if (st_RAWTEXT_LT()) return
        case RAWTEXT_END_TAG_OPEN => if (st_RAWTEXT_END_TAG_OPEN()) return
        case RAWTEXT_END_TAG_NAME => if (st_RAWTEXT_END_TAG_NAME()) return
        case SCRIPT_LT => if (st_SCRIPT_LT()) return
        case SCRIPT_END_TAG_OPEN => if (st_SCRIPT_END_TAG_OPEN()) return
        case SCRIPT_END_TAG_NAME => if (st_SCRIPT_END_TAG_NAME()) return
        case SCRIPT_ESCAPE_START => if (st_SCRIPT_ESCAPE_START()) return
        case SCRIPT_ESCAPE_START_DASH => if (st_SCRIPT_ESCAPE_START_DASH()) return
        case SCRIPT_ESCAPED => if (st_SCRIPT_ESCAPED()) return
        case SCRIPT_ESCAPED_DASH => if (st_SCRIPT_ESCAPED_DASH()) return
        case SCRIPT_ESCAPED_DASH_DASH => if (st_SCRIPT_ESCAPED_DASH_DASH()) return
        case SCRIPT_ESCAPED_LT => if (st_SCRIPT_ESCAPED_LT()) return
        case SCRIPT_ESCAPED_END_TAG_OPEN => if (st_SCRIPT_ESCAPED_END_TAG_OPEN()) return
        case SCRIPT_ESCAPED_END_TAG_NAME => if (st_SCRIPT_ESCAPED_END_TAG_NAME()) return
        case SCRIPT_DOUBLE_ESCAPE_START => if (st_SCRIPT_DOUBLE_ESCAPE_START()) return
        case SCRIPT_DOUBLE_ESCAPED => if (st_SCRIPT_DOUBLE_ESCAPED()) return
        case SCRIPT_DOUBLE_ESCAPED_DASH => if (st_SCRIPT_DOUBLE_ESCAPED_DASH()) return
        case SCRIPT_DOUBLE_ESCAPED_DASH_DASH => if (st_SCRIPT_DOUBLE_ESCAPED_DASH_DASH()) return
        case SCRIPT_DOUBLE_ESCAPED_LT => if (st_SCRIPT_DOUBLE_ESCAPED_LT()) return
        case SCRIPT_DOUBLE_ESCAPE_END => if (st_SCRIPT_DOUBLE_ESCAPE_END()) return
        case BEFORE_ATTR_NAME => if (st_BEFORE_ATTR_NAME()) return
        case ATTR_NAME => if (st_ATTR_NAME()) return
        case AFTER_ATTR_NAME => if (st_AFTER_ATTR_NAME()) return
        case BEFORE_ATTR_VALUE => if (st_BEFORE_ATTR_VALUE()) return
        case ATTR_VALUE_DQ => if (st_ATTR_VALUE_DQ()) return
        case ATTR_VALUE_SQ => if (st_ATTR_VALUE_SQ()) return
        case ATTR_VALUE_UNQ => if (st_ATTR_VALUE_UNQ()) return
        case AFTER_ATTR_VALUE_Q => if (st_AFTER_ATTR_VALUE_Q()) return
        case SELF_CLOSING => if (st_SELF_CLOSING()) return
        case BOGUS_COMMENT => if (st_BOGUS_COMMENT()) return
        case MARKUP_DECL_OPEN => if (st_MARKUP_DECL_OPEN()) return
        case COMMENT_START => if (st_COMMENT_START()) return
        case COMMENT_START_DASH => if (st_COMMENT_START_DASH()) return
        case COMMENT => if (st_COMMENT()) return
        case COMMENT_LT => if (st_COMMENT_LT()) return
        case COMMENT_LT_BANG => if (st_COMMENT_LT_BANG()) return
        case COMMENT_LT_BANG_DASH => if (st_COMMENT_LT_BANG_DASH()) return
        case COMMENT_LT_BANG_DASH_DASH => if (st_COMMENT_LT_BANG_DASH_DASH()) return
        case COMMENT_END_DASH => if (st_COMMENT_END_DASH()) return
        case COMMENT_END => if (st_COMMENT_END()) return
        case COMMENT_END_BANG => if (st_COMMENT_END_BANG()) return
        case DOCTYPE_S => if (st_DOCTYPE_S()) return
        case BEFORE_DOCTYPE_NAME => if (st_BEFORE_DOCTYPE_NAME()) return
        case DOCTYPE_NAME => if (st_DOCTYPE_NAME()) return
        case AFTER_DOCTYPE_NAME => if (st_AFTER_DOCTYPE_NAME()) return
        case AFTER_DOCTYPE_PUBLIC_KW => if (st_AFTER_DOCTYPE_PUBLIC_KW()) return
        case BEFORE_DOCTYPE_PUBLIC_ID => if (st_BEFORE_DOCTYPE_PUBLIC_ID()) return
        case DOCTYPE_PUBLIC_ID_DQ => if (st_DOCTYPE_PUBLIC_ID_DQ()) return
        case DOCTYPE_PUBLIC_ID_SQ => if (st_DOCTYPE_PUBLIC_ID_SQ()) return
        case AFTER_DOCTYPE_PUBLIC_ID => if (st_AFTER_DOCTYPE_PUBLIC_ID()) return
        case BETWEEN_DOCTYPE_PUB_SYS => if (st_BETWEEN_DOCTYPE_PUB_SYS()) return
        case AFTER_DOCTYPE_SYSTEM_KW => if (st_AFTER_DOCTYPE_SYSTEM_KW()) return
        case BEFORE_DOCTYPE_SYSTEM_ID => if (st_BEFORE_DOCTYPE_SYSTEM_ID()) return
        case DOCTYPE_SYSTEM_ID_DQ => if (st_DOCTYPE_SYSTEM_ID_DQ()) return
        case DOCTYPE_SYSTEM_ID_SQ => if (st_DOCTYPE_SYSTEM_ID_SQ()) return
        case AFTER_DOCTYPE_SYSTEM_ID => if (st_AFTER_DOCTYPE_SYSTEM_ID()) return
        case BOGUS_DOCTYPE => if (st_BOGUS_DOCTYPE()) return
        case CDATA_SECTION => if (st_CDATA_SECTION()) return
        case CDATA_BRACKET => if (st_CDATA_BRACKET()) return
        case CDATA_END => if (st_CDATA_END()) return
      }
    }
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_DATA(): Boolean = {
    val start = pos
    while (pos < len && { val c = buf(pos); c != '<' && c != '&' }) pos += 1
    pend.appendSlice(buf, start, pos)
    if (pos >= len) { flushText(); sink.eof(); return true }
    else if (buf(pos) == '&') { pos += 1; charRef(pend, null, inAttribute = false) }
    else { pos += 1; state = TAG_OPEN }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_RCDATA(): Boolean = {
    val start = pos
    while (pos < len && { val c = buf(pos); c != '<' && c != '&' && c != '\u0000' }) pos += 1
    pend.appendSlice(buf, start, pos)
    if (pos >= len) { flushText(); sink.eof(); return true }
    else buf(pos) match {
      case '&' => pos += 1; charRef(pend, null, inAttribute = false)
      case '<' => pos += 1; state = RCDATA_LT
      case _   => err("unexpected-null-character"); pend += REPL; pos += 1
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_RAWTEXT(): Boolean = {
    val start = pos
    while (pos < len && { val c = buf(pos); c != '<' && c != '\u0000' }) pos += 1
    pend.appendSlice(buf, start, pos)
    if (pos >= len) { flushText(); sink.eof(); return true }
    else if (buf(pos) == '<') { pos += 1; state = RAWTEXT_LT }
    else { err("unexpected-null-character"); pend += REPL; pos += 1 }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_DATA(): Boolean = {
    val start = pos
    while (pos < len && { val c = buf(pos); c != '<' && c != '\u0000' }) pos += 1
    pend.appendSlice(buf, start, pos)
    if (pos >= len) { flushText(); sink.eof(); return true }
    else if (buf(pos) == '<') { pos += 1; state = SCRIPT_LT }
    else { err("unexpected-null-character"); pend += REPL; pos += 1 }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_PLAINTEXT(): Boolean = {
    val start = pos
    while (pos < len && buf(pos) != '\u0000') pos += 1
    pend.appendSlice(buf, start, pos)
    if (pos >= len) { flushText(); sink.eof(); return true }
    else { err("unexpected-null-character"); pend += REPL; pos += 1 }

    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_TAG_OPEN(): Boolean = {
    val c = cur()
    if (c == '!') { pos += 1; state = MARKUP_DECL_OPEN }
    else if (c == '/') { pos += 1; state = END_TAG_OPEN }
    else if (isAsciiAlpha(c)) { newStartTag(); state = TAG_NAME }
    else if (c == '?') {
      err("unexpected-question-mark-instead-of-tag-name")
      comment.setLength(0); state = BOGUS_COMMENT
    } else if (c == EOF) {
      err("eof-before-tag-name"); pend += '<'
      flushText(); sink.eof(); return true
    } else {
      err("invalid-first-character-of-tag-name")
      pend += '<'; state = DATA
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_END_TAG_OPEN(): Boolean = {
    val c = cur()
    if (isAsciiAlpha(c)) { newEndTag(); state = TAG_NAME }
    else if (c == '>') {
      err("missing-end-tag-name"); pos += 1; state = DATA
    } else if (c == EOF) {
      err("eof-before-tag-name"); pend += '<'; pend += '/'
      flushText(); sink.eof(); return true
    } else {
      err("invalid-first-character-of-tag-name")
      comment.setLength(0); state = BOGUS_COMMENT
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_TAG_NAME(): Boolean = {
    val c = cur()
    if (isWs(c)) { pos += 1; state = BEFORE_ATTR_NAME }
    else if (c == '/') { pos += 1; state = SELF_CLOSING }
    else if (c == '>') { pos += 1; emitTag() }
    else if (c == EOF) { err("eof-in-tag"); sink.eof(); return true }
    else if (c == '\u0000') {
      err("unexpected-null-character"); tagName += REPL; pos += 1
    } else { tagName += lowerIfAlpha(c); pos += 1 }

    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_RCDATA_LT(): Boolean = {
    if (cur() == '/') { tempBuf.setLength(0); pos += 1; state = RCDATA_END_TAG_OPEN }
    else { pend += '<'; state = RCDATA }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_RCDATA_END_TAG_OPEN(): Boolean = {
    if (isAsciiAlpha(cur())) { newEndTag(); state = RCDATA_END_TAG_NAME }
    else { pend += '<'; pend += '/'; state = RCDATA }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_RCDATA_END_TAG_NAME(): Boolean = {
    nonDataEndTagName(RCDATA)
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_RAWTEXT_LT(): Boolean = {
    if (cur() == '/') { tempBuf.setLength(0); pos += 1; state = RAWTEXT_END_TAG_OPEN }
    else { pend += '<'; state = RAWTEXT }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_RAWTEXT_END_TAG_OPEN(): Boolean = {
    if (isAsciiAlpha(cur())) { newEndTag(); state = RAWTEXT_END_TAG_NAME }
    else { pend += '<'; pend += '/'; state = RAWTEXT }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_RAWTEXT_END_TAG_NAME(): Boolean = {
    nonDataEndTagName(RAWTEXT)
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_LT(): Boolean = {
    val c = cur()
    if (c == '/') { tempBuf.setLength(0); pos += 1; state = SCRIPT_END_TAG_OPEN }
    else if (c == '!') {
      pos += 1; pend += '<'; pend += '!'; state = SCRIPT_ESCAPE_START
    } else { pend += '<'; state = SCRIPT_DATA }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_END_TAG_OPEN(): Boolean = {
    if (isAsciiAlpha(cur())) { newEndTag(); state = SCRIPT_END_TAG_NAME }
    else { pend += '<'; pend += '/'; state = SCRIPT_DATA }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_END_TAG_NAME(): Boolean = {
    nonDataEndTagName(SCRIPT_DATA)
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_ESCAPE_START(): Boolean = {
    if (cur() == '-') { pos += 1; pend += '-'; state = SCRIPT_ESCAPE_START_DASH }
    else state = SCRIPT_DATA
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_ESCAPE_START_DASH(): Boolean = {
    if (cur() == '-') { pos += 1; pend += '-'; state = SCRIPT_ESCAPED_DASH_DASH }
    else state = SCRIPT_DATA
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_ESCAPED(): Boolean = {
    val c = cur()
    if (c == '-') { pos += 1; pend += '-'; state = SCRIPT_ESCAPED_DASH }
    else if (c == '<') { pos += 1; state = SCRIPT_ESCAPED_LT }
    else if (c == '\u0000') { err("unexpected-null-character"); pend += REPL; pos += 1 }
    else if (c == EOF) { err("eof-in-script-html-comment-like-text"); flushText(); sink.eof(); return true }
    else { pend += c.toChar; pos += 1 }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_ESCAPED_DASH(): Boolean = {
    val c = cur()
    if (c == '-') { pos += 1; pend += '-'; state = SCRIPT_ESCAPED_DASH_DASH }
    else if (c == '<') { pos += 1; state = SCRIPT_ESCAPED_LT }
    else if (c == '\u0000') { err("unexpected-null-character"); pend += REPL; pos += 1; state = SCRIPT_ESCAPED }
    else if (c == EOF) { err("eof-in-script-html-comment-like-text"); flushText(); sink.eof(); return true }
    else { pend += c.toChar; pos += 1; state = SCRIPT_ESCAPED }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_ESCAPED_DASH_DASH(): Boolean = {
    val c = cur()
    if (c == '-') { pos += 1; pend += '-' }
    else if (c == '<') { pos += 1; state = SCRIPT_ESCAPED_LT }
    else if (c == '>') { pos += 1; pend += '>'; state = SCRIPT_DATA }
    else if (c == '\u0000') { err("unexpected-null-character"); pend += REPL; pos += 1; state = SCRIPT_ESCAPED }
    else if (c == EOF) { err("eof-in-script-html-comment-like-text"); flushText(); sink.eof(); return true }
    else { pend += c.toChar; pos += 1; state = SCRIPT_ESCAPED }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_ESCAPED_LT(): Boolean = {
    val c = cur()
    if (c == '/') { tempBuf.setLength(0); pos += 1; state = SCRIPT_ESCAPED_END_TAG_OPEN }
    else if (isAsciiAlpha(c)) {
      tempBuf.setLength(0); pend += '<'; state = SCRIPT_DOUBLE_ESCAPE_START
    } else { pend += '<'; state = SCRIPT_ESCAPED }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_ESCAPED_END_TAG_OPEN(): Boolean = {
    if (isAsciiAlpha(cur())) { newEndTag(); state = SCRIPT_ESCAPED_END_TAG_NAME }
    else { pend += '<'; pend += '/'; state = SCRIPT_ESCAPED }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_ESCAPED_END_TAG_NAME(): Boolean = {
    nonDataEndTagName(SCRIPT_ESCAPED)
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_DOUBLE_ESCAPE_START(): Boolean = {
    val c = cur()
    if (isWs(c) || c == '/' || c == '>') {
      state = if (tempBuf.toString == "script") SCRIPT_DOUBLE_ESCAPED else SCRIPT_ESCAPED
      pend += c.toChar; pos += 1
    } else if (isAsciiAlpha(c)) {
      tempBuf.append(lowerIfAlpha(c)); pend += c.toChar; pos += 1
    } else state = SCRIPT_ESCAPED
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_DOUBLE_ESCAPED(): Boolean = {
    val c = cur()
    if (c == '-') { pos += 1; pend += '-'; state = SCRIPT_DOUBLE_ESCAPED_DASH }
    else if (c == '<') { pos += 1; pend += '<'; state = SCRIPT_DOUBLE_ESCAPED_LT }
    else if (c == '\u0000') { err("unexpected-null-character"); pend += REPL; pos += 1 }
    else if (c == EOF) { err("eof-in-script-html-comment-like-text"); flushText(); sink.eof(); return true }
    else { pend += c.toChar; pos += 1 }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_DOUBLE_ESCAPED_DASH(): Boolean = {
    val c = cur()
    if (c == '-') { pos += 1; pend += '-'; state = SCRIPT_DOUBLE_ESCAPED_DASH_DASH }
    else if (c == '<') { pos += 1; pend += '<'; state = SCRIPT_DOUBLE_ESCAPED_LT }
    else if (c == '\u0000') { err("unexpected-null-character"); pend += REPL; pos += 1; state = SCRIPT_DOUBLE_ESCAPED }
    else if (c == EOF) { err("eof-in-script-html-comment-like-text"); flushText(); sink.eof(); return true }
    else { pend += c.toChar; pos += 1; state = SCRIPT_DOUBLE_ESCAPED }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_DOUBLE_ESCAPED_DASH_DASH(): Boolean = {
    val c = cur()
    if (c == '-') { pos += 1; pend += '-' }
    else if (c == '<') { pos += 1; pend += '<'; state = SCRIPT_DOUBLE_ESCAPED_LT }
    else if (c == '>') { pos += 1; pend += '>'; state = SCRIPT_DATA }
    else if (c == '\u0000') { err("unexpected-null-character"); pend += REPL; pos += 1; state = SCRIPT_DOUBLE_ESCAPED }
    else if (c == EOF) { err("eof-in-script-html-comment-like-text"); flushText(); sink.eof(); return true }
    else { pend += c.toChar; pos += 1; state = SCRIPT_DOUBLE_ESCAPED }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_DOUBLE_ESCAPED_LT(): Boolean = {
    if (cur() == '/') { tempBuf.setLength(0); pos += 1; pend += '/'; state = SCRIPT_DOUBLE_ESCAPE_END }
    else state = SCRIPT_DOUBLE_ESCAPED
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SCRIPT_DOUBLE_ESCAPE_END(): Boolean = {
    val c = cur()
    if (isWs(c) || c == '/' || c == '>') {
      state = if (tempBuf.toString == "script") SCRIPT_ESCAPED else SCRIPT_DOUBLE_ESCAPED
      pend += c.toChar; pos += 1
    } else if (isAsciiAlpha(c)) {
      tempBuf.append(lowerIfAlpha(c)); pend += c.toChar; pos += 1
    } else state = SCRIPT_DOUBLE_ESCAPED

    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_BEFORE_ATTR_NAME(): Boolean = {
    val c = cur()
    if (isWs(c)) pos += 1
    else if (c == '/' || c == '>' || c == EOF) state = AFTER_ATTR_NAME
    else if (c == '=') {
      err("unexpected-equals-sign-before-attribute-name")
      finishAttr(); attrName.append('='); pos += 1; state = ATTR_NAME
    } else { finishAttr(); state = ATTR_NAME }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_ATTR_NAME(): Boolean = {
    val c = cur()
    if (isWs(c) || c == '/' || c == '>' || c == EOF) state = AFTER_ATTR_NAME
    else if (c == '=') { pos += 1; state = BEFORE_ATTR_VALUE }
    else if (c == '\u0000') { err("unexpected-null-character"); attrName.append(REPL); pos += 1 }
    else {
      if (c == '"' || c == '\'' || c == '<') err("unexpected-character-in-attribute-name")
      attrName.append(lowerIfAlpha(c)); pos += 1
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_AFTER_ATTR_NAME(): Boolean = {
    val c = cur()
    if (isWs(c)) pos += 1
    else if (c == '/') { pos += 1; state = SELF_CLOSING }
    else if (c == '=') { pos += 1; state = BEFORE_ATTR_VALUE }
    else if (c == '>') { pos += 1; emitTag() }
    else if (c == EOF) { err("eof-in-tag"); sink.eof(); return true }
    else { finishAttr(); state = ATTR_NAME }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_BEFORE_ATTR_VALUE(): Boolean = {
    val c = cur()
    if (isWs(c)) pos += 1
    else if (c == '"') { hasAttrValue = true; pos += 1; state = ATTR_VALUE_DQ }
    else if (c == '\'') { hasAttrValue = true; pos += 1; state = ATTR_VALUE_SQ }
    else if (c == '>') {
      err("missing-attribute-value"); hasAttrValue = true; pos += 1; emitTag()
    } else { hasAttrValue = true; state = ATTR_VALUE_UNQ }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_ATTR_VALUE_DQ(): Boolean = {
    val c = cur()
    if (c == '"') { pos += 1; state = AFTER_ATTR_VALUE_Q }
    else if (c == '&') { pos += 1; charRef(null, attrValue, inAttribute = true) }
    else if (c == '\u0000') { err("unexpected-null-character"); attrValue.append(REPL); pos += 1 }
    else if (c == EOF) { err("eof-in-tag"); sink.eof(); return true }
    else {
      val start = pos
      while (pos < len && { val x = buf(pos); x != '"' && x != '&' && x != '\u0000' }) pos += 1
      attrValue.append(buf, start, pos - start)
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_ATTR_VALUE_SQ(): Boolean = {
    val c = cur()
    if (c == '\'') { pos += 1; state = AFTER_ATTR_VALUE_Q }
    else if (c == '&') { pos += 1; charRef(null, attrValue, inAttribute = true) }
    else if (c == '\u0000') { err("unexpected-null-character"); attrValue.append(REPL); pos += 1 }
    else if (c == EOF) { err("eof-in-tag"); sink.eof(); return true }
    else {
      val start = pos
      while (pos < len && { val x = buf(pos); x != '\'' && x != '&' && x != '\u0000' }) pos += 1
      attrValue.append(buf, start, pos - start)
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_ATTR_VALUE_UNQ(): Boolean = {
    val c = cur()
    if (isWs(c)) { pos += 1; state = BEFORE_ATTR_NAME }
    else if (c == '&') { pos += 1; charRef(null, attrValue, inAttribute = true) }
    else if (c == '>') { pos += 1; emitTag() }
    else if (c == '\u0000') { err("unexpected-null-character"); attrValue.append(REPL); pos += 1 }
    else if (c == EOF) { err("eof-in-tag"); sink.eof(); return true }
    else {
      if (c == '"' || c == '\'' || c == '<' || c == '=' || c == '`')
        err("unexpected-character-in-unquoted-attribute-value")
      attrValue.append(c.toChar); pos += 1
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_AFTER_ATTR_VALUE_Q(): Boolean = {
    val c = cur()
    if (isWs(c)) { pos += 1; state = BEFORE_ATTR_NAME }
    else if (c == '/') { pos += 1; state = SELF_CLOSING }
    else if (c == '>') { pos += 1; emitTag() }
    else if (c == EOF) { err("eof-in-tag"); sink.eof(); return true }
    else { err("missing-whitespace-between-attributes"); state = BEFORE_ATTR_NAME }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_SELF_CLOSING(): Boolean = {
    val c = cur()
    if (c == '>') { selfClosing = true; pos += 1; emitTag() }
    else if (c == EOF) { err("eof-in-tag"); sink.eof(); return true }
    else { err("unexpected-solidus-in-tag"); state = BEFORE_ATTR_NAME }

    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_BOGUS_COMMENT(): Boolean = {
    val c = cur()
    if (c == '>') { pos += 1; emitComment(); state = DATA }
    else if (c == EOF) { emitComment(); sink.eof(); return true }
    else if (c == '\u0000') { err("unexpected-null-character"); comment.append(REPL); pos += 1 }
    else { comment.append(c.toChar); pos += 1 }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_MARKUP_DECL_OPEN(): Boolean = {
    if (lookaheadExact("--")) { comment.setLength(0); state = COMMENT_START }
    else if (lookaheadIgnoreCase("DOCTYPE")) state = DOCTYPE_S
    else if (lookaheadExact("[CDATA[")) {
      if (sink.cdataAllowed) state = CDATA_SECTION
      else {
        err("cdata-in-html-content")
        comment.setLength(0); comment.append("[CDATA[")
        state = BOGUS_COMMENT
      }
    } else {
      err("incorrectly-opened-comment")
      comment.setLength(0); state = BOGUS_COMMENT
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_COMMENT_START(): Boolean = {
    val c = cur()
    if (c == '-') { pos += 1; state = COMMENT_START_DASH }
    else if (c == '>') { err("abrupt-closing-of-empty-comment"); pos += 1; emitComment(); state = DATA }
    else state = COMMENT
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_COMMENT_START_DASH(): Boolean = {
    val c = cur()
    if (c == '-') { pos += 1; state = COMMENT_END }
    else if (c == '>') { err("abrupt-closing-of-empty-comment"); pos += 1; emitComment(); state = DATA }
    else if (c == EOF) { err("eof-in-comment"); emitComment(); sink.eof(); return true }
    else { comment.append('-'); state = COMMENT }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_COMMENT(): Boolean = {
    val c = cur()
    if (c == '<') { comment.append('<'); pos += 1; state = COMMENT_LT }
    else if (c == '-') { pos += 1; state = COMMENT_END_DASH }
    else if (c == '\u0000') { err("unexpected-null-character"); comment.append(REPL); pos += 1 }
    else if (c == EOF) { err("eof-in-comment"); emitComment(); sink.eof(); return true }
    else {
      val start = pos
      while (pos < len && { val x = buf(pos); x != '<' && x != '-' && x != '\u0000' }) pos += 1
      comment.append(buf, start, pos - start)
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_COMMENT_LT(): Boolean = {
    val c = cur()
    if (c == '!') { comment.append('!'); pos += 1; state = COMMENT_LT_BANG }
    else if (c == '<') { comment.append('<'); pos += 1 }
    else state = COMMENT
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_COMMENT_LT_BANG(): Boolean = {
    if (cur() == '-') { pos += 1; state = COMMENT_LT_BANG_DASH }
    else state = COMMENT
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_COMMENT_LT_BANG_DASH(): Boolean = {
    if (cur() == '-') { pos += 1; state = COMMENT_LT_BANG_DASH_DASH }
    else state = COMMENT_END_DASH // reconsume
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_COMMENT_LT_BANG_DASH_DASH(): Boolean = {
    val c = cur()
    if (c == '>' || c == EOF) state = COMMENT_END
    else { err("nested-comment"); state = COMMENT_END }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_COMMENT_END_DASH(): Boolean = {
    val c = cur()
    if (c == '-') { pos += 1; state = COMMENT_END }
    else if (c == EOF) { err("eof-in-comment"); emitComment(); sink.eof(); return true }
    else { comment.append('-'); state = COMMENT }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_COMMENT_END(): Boolean = {
    val c = cur()
    if (c == '>') { pos += 1; emitComment(); state = DATA }
    else if (c == '!') { pos += 1; state = COMMENT_END_BANG }
    else if (c == '-') { comment.append('-'); pos += 1 }
    else if (c == EOF) { err("eof-in-comment"); emitComment(); sink.eof(); return true }
    else { comment.append("--"); state = COMMENT }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_COMMENT_END_BANG(): Boolean = {
    val c = cur()
    if (c == '-') { comment.append("--!"); pos += 1; state = COMMENT_END_DASH }
    else if (c == '>') { err("incorrectly-closed-comment"); pos += 1; emitComment(); state = DATA }
    else if (c == EOF) { err("eof-in-comment"); emitComment(); sink.eof(); return true }
    else { comment.append("--!"); state = COMMENT }

    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_DOCTYPE_S(): Boolean = {
    val c = cur()
    dtName.setLength(0); dtPublic.setLength(0); dtSystem.setLength(0)
    dtHasName = false; dtHasPublic = false; dtHasSystem = false; dtForceQuirks = false
    if (isWs(c)) { pos += 1; state = BEFORE_DOCTYPE_NAME }
    else if (c == '>') state = BEFORE_DOCTYPE_NAME
    else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof(); return true
    } else {
      err("missing-whitespace-before-doctype-name"); state = BEFORE_DOCTYPE_NAME
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_BEFORE_DOCTYPE_NAME(): Boolean = {
    val c = cur()
    if (isWs(c)) pos += 1
    else if (c == '>') {
      err("missing-doctype-name"); dtForceQuirks = true; pos += 1
      emitDoctype(); state = DATA
    } else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof(); return true
    } else if (c == '\u0000') {
      err("unexpected-null-character"); dtHasName = true; dtName.append(REPL)
      pos += 1; state = DOCTYPE_NAME
    } else {
      dtHasName = true; dtName.append(lowerIfAlpha(c)); pos += 1
      state = DOCTYPE_NAME
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_DOCTYPE_NAME(): Boolean = {
    val c = cur()
    if (isWs(c)) { pos += 1; state = AFTER_DOCTYPE_NAME }
    else if (c == '>') { pos += 1; emitDoctype(); state = DATA }
    else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof(); return true
    } else if (c == '\u0000') {
      err("unexpected-null-character"); dtName.append(REPL); pos += 1
    } else { dtName.append(lowerIfAlpha(c)); pos += 1 }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_AFTER_DOCTYPE_NAME(): Boolean = {
    val c = cur()
    if (isWs(c)) pos += 1
    else if (c == '>') { pos += 1; emitDoctype(); state = DATA }
    else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof(); return true
    } else if (lookaheadIgnoreCase("PUBLIC")) state = AFTER_DOCTYPE_PUBLIC_KW
    else if (lookaheadIgnoreCase("SYSTEM")) state = AFTER_DOCTYPE_SYSTEM_KW
    else {
      err("invalid-character-sequence-after-doctype-name")
      dtForceQuirks = true; state = BOGUS_DOCTYPE
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_AFTER_DOCTYPE_PUBLIC_KW(): Boolean = {
    val c = cur()
    if (isWs(c)) { pos += 1; state = BEFORE_DOCTYPE_PUBLIC_ID }
    else if (c == '"') {
      err("missing-whitespace-after-doctype-public-keyword")
      dtHasPublic = true; pos += 1; state = DOCTYPE_PUBLIC_ID_DQ
    } else if (c == '\'') {
      err("missing-whitespace-after-doctype-public-keyword")
      dtHasPublic = true; pos += 1; state = DOCTYPE_PUBLIC_ID_SQ
    } else if (c == '>') {
      err("missing-doctype-public-identifier"); dtForceQuirks = true
      pos += 1; emitDoctype(); state = DATA
    } else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof(); return true
    } else {
      err("missing-quote-before-doctype-public-identifier")
      dtForceQuirks = true; state = BOGUS_DOCTYPE
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_BEFORE_DOCTYPE_PUBLIC_ID(): Boolean = {
    val c = cur()
    if (isWs(c)) pos += 1
    else if (c == '"') { dtHasPublic = true; pos += 1; state = DOCTYPE_PUBLIC_ID_DQ }
    else if (c == '\'') { dtHasPublic = true; pos += 1; state = DOCTYPE_PUBLIC_ID_SQ }
    else if (c == '>') {
      err("missing-doctype-public-identifier"); dtForceQuirks = true
      pos += 1; emitDoctype(); state = DATA
    } else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof(); return true
    } else {
      err("missing-quote-before-doctype-public-identifier")
      dtForceQuirks = true; state = BOGUS_DOCTYPE
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_DOCTYPE_PUBLIC_ID_DQ(): Boolean = {
    if (doctypeId(dtPublic, '"', AFTER_DOCTYPE_PUBLIC_ID)) return true
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_DOCTYPE_PUBLIC_ID_SQ(): Boolean = {
    if (doctypeId(dtPublic, '\'', AFTER_DOCTYPE_PUBLIC_ID)) return true
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_AFTER_DOCTYPE_PUBLIC_ID(): Boolean = {
    val c = cur()
    if (isWs(c)) { pos += 1; state = BETWEEN_DOCTYPE_PUB_SYS }
    else if (c == '>') { pos += 1; emitDoctype(); state = DATA }
    else if (c == '"') {
      err("missing-whitespace-between-doctype-public-and-system-identifiers")
      dtHasSystem = true; pos += 1; state = DOCTYPE_SYSTEM_ID_DQ
    } else if (c == '\'') {
      err("missing-whitespace-between-doctype-public-and-system-identifiers")
      dtHasSystem = true; pos += 1; state = DOCTYPE_SYSTEM_ID_SQ
    } else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof(); return true
    } else {
      err("missing-quote-before-doctype-system-identifier")
      dtForceQuirks = true; state = BOGUS_DOCTYPE
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_BETWEEN_DOCTYPE_PUB_SYS(): Boolean = {
    val c = cur()
    if (isWs(c)) pos += 1
    else if (c == '>') { pos += 1; emitDoctype(); state = DATA }
    else if (c == '"') { dtHasSystem = true; pos += 1; state = DOCTYPE_SYSTEM_ID_DQ }
    else if (c == '\'') { dtHasSystem = true; pos += 1; state = DOCTYPE_SYSTEM_ID_SQ }
    else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof(); return true
    } else {
      err("missing-quote-before-doctype-system-identifier")
      dtForceQuirks = true; state = BOGUS_DOCTYPE
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_AFTER_DOCTYPE_SYSTEM_KW(): Boolean = {
    val c = cur()
    if (isWs(c)) { pos += 1; state = BEFORE_DOCTYPE_SYSTEM_ID }
    else if (c == '"') {
      err("missing-whitespace-after-doctype-system-keyword")
      dtHasSystem = true; pos += 1; state = DOCTYPE_SYSTEM_ID_DQ
    } else if (c == '\'') {
      err("missing-whitespace-after-doctype-system-keyword")
      dtHasSystem = true; pos += 1; state = DOCTYPE_SYSTEM_ID_SQ
    } else if (c == '>') {
      err("missing-doctype-system-identifier"); dtForceQuirks = true
      pos += 1; emitDoctype(); state = DATA
    } else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof(); return true
    } else {
      err("missing-quote-before-doctype-system-identifier")
      dtForceQuirks = true; state = BOGUS_DOCTYPE
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_BEFORE_DOCTYPE_SYSTEM_ID(): Boolean = {
    val c = cur()
    if (isWs(c)) pos += 1
    else if (c == '"') { dtHasSystem = true; pos += 1; state = DOCTYPE_SYSTEM_ID_DQ }
    else if (c == '\'') { dtHasSystem = true; pos += 1; state = DOCTYPE_SYSTEM_ID_SQ }
    else if (c == '>') {
      err("missing-doctype-system-identifier"); dtForceQuirks = true
      pos += 1; emitDoctype(); state = DATA
    } else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof(); return true
    } else {
      err("missing-quote-before-doctype-system-identifier")
      dtForceQuirks = true; state = BOGUS_DOCTYPE
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_DOCTYPE_SYSTEM_ID_DQ(): Boolean = {
    if (doctypeId(dtSystem, '"', AFTER_DOCTYPE_SYSTEM_ID)) return true
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_DOCTYPE_SYSTEM_ID_SQ(): Boolean = {
    if (doctypeId(dtSystem, '\'', AFTER_DOCTYPE_SYSTEM_ID)) return true
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_AFTER_DOCTYPE_SYSTEM_ID(): Boolean = {
    val c = cur()
    if (isWs(c)) pos += 1
    else if (c == '>') { pos += 1; emitDoctype(); state = DATA }
    else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof(); return true
    } else {
      err("unexpected-character-after-doctype-system-identifier")
      state = BOGUS_DOCTYPE // no force-quirks here per spec
    }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_BOGUS_DOCTYPE(): Boolean = {
    val c = cur()
    if (c == '>') { pos += 1; emitDoctype(); state = DATA }
    else if (c == EOF) { emitDoctype(); sink.eof(); return true }
    else pos += 1

    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_CDATA_SECTION(): Boolean = {
    val start = pos
    while (pos < len && buf(pos) != ']') pos += 1
    pend.appendSlice(buf, start, pos)
    if (pos >= len) { err("eof-in-cdata"); flushText(); sink.eof(); return true }
    else { pos += 1; state = CDATA_BRACKET }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_CDATA_BRACKET(): Boolean = {
    if (cur() == ']') { pos += 1; state = CDATA_END }
    else { pend += ']'; state = CDATA_SECTION }
    false
  }

  /** one state arm — small enough for C2 (HugeMethodLimit) */
  private def st_CDATA_END(): Boolean = {
    val c = cur()
    if (c == '>') { pos += 1; state = DATA }
    else if (c == ']') { pend += ']'; pos += 1 }
    else { pend += ']'; pend += ']'; state = CDATA_SECTION }
    false
  }

  /** Shared RCDATA/RAWTEXT/script-data "end tag name" state:
    * only the appropriate end tag closes the content model. */
  private def nonDataEndTagName(fallback: Int): Unit = {
    val c = cur()
    if (isWs(c) && appropriateEndTag) { pos += 1; state = BEFORE_ATTR_NAME }
    else if (c == '/' && appropriateEndTag) { pos += 1; state = SELF_CLOSING }
    else if (c == '>' && appropriateEndTag) { pos += 1; emitTag() }
    else if (isAsciiAlpha(c)) {
      tagName += lowerIfAlpha(c); tempBuf.append(c.toChar); pos += 1
    } else {
      pend += '<'; pend += '/'
      pend.appendStr(tempBuf.toString)
      // tagName chars were lowercased; tempBuf holds originals
      state = fallback
      tempBuf.setLength(0)
    }
  }

  /** Returns true when EOF terminated tokenization. */
  private def doctypeId(sb: java.lang.StringBuilder, quote: Char,
                        next: Int): Boolean = {
    val c = cur()
    if (c == quote) { pos += 1; state = next }
    else if (c == '\u0000') { err("unexpected-null-character"); sb.append(REPL); pos += 1 }
    else if (c == '>') {
      err("abrupt-doctype-identifier"); dtForceQuirks = true
      pos += 1; emitDoctype(); state = DATA
    } else if (c == EOF) {
      err("eof-in-doctype"); dtForceQuirks = true; emitDoctype(); sink.eof()
      return true
    } else { sb.append(c.toChar); pos += 1 }
    false
  }
}
