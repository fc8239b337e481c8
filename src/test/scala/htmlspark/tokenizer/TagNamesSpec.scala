package htmlspark.tokenizer

import htmlspark.extract.TextExtractor
import htmlspark.tree.{Dom, DomNode, ElemInfo, HtmlParser}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** Known tag names reach the DOM as the canonical (interned) String
  * instances, so downstream name tests are identity hits; everything else
  * is left exactly as before. String literals are interned by the JVM, so
  * `eq` against a literal is the canonical-instance check. */
class TagNamesSpec extends AnyFunSuite {

  private def elements(root: DomNode): Seq[DomNode] = {
    val out = ArrayBuffer[DomNode]()
    def walk(n: DomNode): Unit = {
      if (n.kind == Dom.ELEMENT) out += n
      if (n.contentFragment != null) walk(n.contentFragment)
      if (n.children != null) n.children.foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  private val Known = Seq("html", "head", "title", "meta", "body", "div",
    "p", "a", "b", "span", "ul", "li", "h1", "table", "tbody", "tr", "td",
    "script", "style", "template", "pre", "img", "br", "form", "input",
    "select", "option", "textarea", "section", "nav", "em", "strong")

  test("known HTML element names in the DOM are the canonical instances") {
    val html = "<!DOCTYPE html><HTML><Head><TITLE>t</TITLE><meta charset=utf-8>" +
      "<style>s</style></head><body><DIV><p><a href=x><b>bold</b></a>" +
      "<span>s</span></p><ul><li>one<LI>two</ul><h1>h</h1>" +
      "<table><tr><td>c</td></tr></table><script>x</script>" +
      "<template><em>t</em></template><pre>\npre</pre><img><br>" +
      "<form><input><select><option>o</select><textarea>x</textarea></form>" +
      "<section><nav><strong>n</strong></nav></section></DIV>"
    val els = elements(HtmlParser.parse(html).doc)
    val seen = els.map(_.name).toSet
    assert(Known.forall(seen.contains), s"missing: ${Known.filterNot(seen.contains)}")
    els.filter(e => Known.contains(e.name)).foreach { e =>
      val literal = Known.find(_ == e.name).get
      assert(e.name eq literal, s"<${e.name}> is not the canonical instance")
    }
  }

  test("start and end tags both carry the canonical name") {
    val names = ArrayBuffer[(String, String)]()
    val sink = new TokenSink {
      def doctype(n: String, p: String, s: String, q: Boolean): Unit = ()
      def startTag(n: String, a: AttrList, sc: Boolean): Unit = names += "start" -> n
      def endTag(n: String): Unit = names += "end" -> n
      def comment(t: String): Unit = ()
      def characters(b: Array[Char], s: Int, e: Int): Unit = ()
      def eof(): Unit = ()
    }
    new HtmlTokenizer(sink).tokenize("<DiV class=a>x</dIv><p/></P><td></td>")
    assert(names.map(_._2) == Seq("div", "div", "p", "p", "td", "td"))
    names.foreach { case (kind, n) =>
      assert(n eq Known.find(_ == n).get, s"$kind tag $n is not canonical")
    }
  }

  test("unknown, custom and case-adjusted foreign names are unaffected") {
    val html = "<!DOCTYPE html><body><custom-el><x-foo>a</x-foo></custom-el>" +
      "<blink>b</blink><d\u0000iv>c</d\u0000iv>" +
      "<svg><clipPath/><foreignObject><div>d</div></foreignObject>" +
      "<linearGradient/><circle/></svg>" +
      "<math><mi>e</mi><annotation-xml encoding=text/html><p>f</p>" +
      "</annotation-xml></math>"
    val els = elements(HtmlParser.parse(html).doc)
      .filterNot(e => Set("html", "head", "body").contains(e.name))
    def ns(e: DomNode) = e.ns match {
      case Dom.NS_SVG => "svg "; case Dom.NS_MATHML => "math "; case _ => ""
    }
    assert(els.map(e => ns(e) + e.name) == Seq(
      "custom-el", "x-foo", "blink", "d�iv",
      "svg svg", "svg clipPath", "svg foreignObject", "div",
      "svg linearGradient", "svg circle",
      "math math", "math mi", "math annotation-xml", "p"))
    // names outside the table stay fresh Strings: never interned
    Seq("custom-el" -> els(0), "x-foo" -> els(1), "blink" -> els(2),
        "circle" -> els(9)).foreach { case (lit, e) =>
      assert(e.name == lit && !(e.name eq lit), s"$lit was interned")
    }
  }

  test("every name ElemInfo and TextExtractor list is in the canonical table") {
    val lists = Seq(ElemInfo.Special, ElemInfo.Formatting,
      ElemInfo.ImpliedEndThorough, ElemInfo.ForeignBreakout,
      TextExtractor.BlockClose, Set("script", "style", "template"))
    lists.flatten.foreach { n =>
      assert(TagNames.id(n) >= 0, s"$n missing from TagNames")
      assert(TagNames.canonical(n.toCharArray, n.length) eq n)
    }
    val fresh = new String("div".toCharArray)
    assert(TagNames.id(fresh) == TagNames.id("div"))
    assert(TagNames.id("custom-el") == -1)
    assert(TagNames.canonical("custom-el".toCharArray, 9) == "custom-el")
  }
}
