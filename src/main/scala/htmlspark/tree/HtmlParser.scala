package htmlspark.tree

import htmlspark.tokenizer.HtmlTokenizer

/** Facade: one full-document or fragment parse (reference lifecycle:
  * Core/Tokenizer.cs:1133-1208 Start/TokenizeBuffer/Eof/End — collapsed to a
  * single call because each Spark row carries the whole document). */
object HtmlParser {

  final class Result(val builder: TreeBuilder) {
    def doc: DomNode = builder.doc
    def quirksMode: Int = builder.quirksMode
    def nErrors: Int = builder.nErrors
    /** One array copy and no cons cells; Nil when no code was recorded. */
    def errorCodes: Seq[String] = {
      val b = builder.errorCodes
      if (b.isEmpty) Nil
      else {
        val a = new Array[String](b.length)
        b.copyToArray(a)
        scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
      }
    }
  }

  def parse(html: String): Result = {
    val tb = new TreeBuilder
    val tok = new HtmlTokenizer(tb)
    tb.tokenizer = tok
    tok.tokenize(html)
    new Result(tb)
  }

  /** Reusable parser instance for per-partition engine reuse: one Engine
    * per Spark partition amortizes tokenizer buffers (input work buffer,
    * pending-text accumulator — both sized to the largest doc seen) and
    * the builder's stack/AFE backing arrays across every row in the
    * partition (reference counterpart: per-parser-instance reuse,
    * Core/Tokenizer.cs:462, Core/HtmlAttributes.cs:474-492).
    *
    * NOT thread-safe, and each parse's Result/DOM must be consumed before
    * the next parse call (exactly the per-row shape of the Dataset map). */
  final class Engine {
    private val tok = new HtmlTokenizer(null)
    def parse(html: String): Result = {
      // Fresh builder per doc, reused tokenizer: the tokenizer holds the
      // doc-sized buffers (input work buffer, pending-text accumulator)
      // that dominate per-parse allocation; the builder is a handful of
      // small objects whose reuse measured SLOWER (old-gen stack/AFE
      // arrays holding young DomNodes force card scanning every minor GC
      // — see BENCH.md §reuse A/B).
      val tb = new TreeBuilder
      tb.tokenizer = tok
      tok.setSink(tb)
      tok.reset()
      tok.tokenize(html)
      new Result(tb)
    }
  }

  /** Fragment parse per the spec's "parsing HTML fragments" algorithm.
    * `context` may be "svg x" / "math x" for foreign contexts. */
  def parseFragment(html: String, context: String): Result = {
    val tb = new TreeBuilder
    val tok = new HtmlTokenizer(tb)
    tb.tokenizer = tok
    val (ns, name) =
      if (context.startsWith("svg ")) (Dom.NS_SVG, context.substring(4))
      else if (context.startsWith("math ")) (Dom.NS_MATHML, context.substring(5))
      else (Dom.NS_HTML, context)
    tb.setFragmentContext(name, ns)
    tok.tokenize(html)
    new Result(tb)
  }
}
