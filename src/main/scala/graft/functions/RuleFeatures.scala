package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The nine per-document counts of the Gopher/C4 rule table
  * ([[graft.llm.TextOps.ruleVerdictsOf]]) as one Catalyst expression over
  * (doc_id, text), computed in one pass over the document's bytes.
  *
  * The rule corpus decorates each document deterministically from its own
  * doc_id (the oracle SQL builds the same string): its words, split on
  * single spaces, reflow into 10-word lines; a doc_id ≡ 0 mod 11 prefixes
  * every line with `- `, ≡ 0 mod 13 suffixes every line with ` ...`; then
  * ≡ 0 mod 7 appends a line of max(1, n/8) `#` words, ≡ 0 mod 17 a line of
  * max(1, n/3) 45-letter words and ≡ 0 mod 19 a line of max(1, n/3)
  * `12345` words, n the document's word count: one deterministic violator
  * population per rule, so every rule verdict has both outcomes. The lines
  * join with `\n` into the decorated text, over which the counts are:
  *  - n_words  words split on ` ` and `\n`
  *  - n_lines  lines
  *  - n_ns     characters other than ` ` and `\n`
  *  - n_hash   `#` characters
  *  - n_dots   non-overlapping `...` runs, left to right
  *  - n_bullet lines starting with `- `
  *  - n_eline  lines ending with `...`
  *  - n_alpha  words holding a letter a–z
  *  - n_stopd  distinct stop words (the, a, of, and, to)
  *
  * The SQL form of the same decoration built six arrays and ran six
  * lambda functions per document, which Spark evaluates outside
  * whole-stage codegen; this streams the decorated text through a byte
  * scanner without building it, and its `doGenCode` keeps the projection
  * in the codegen'd stage. Null text gives a null struct (the SQL form's
  * counts are all null then); a null doc_id decorates nothing. */
case class RuleFeatures(docId: Expression, text: Expression) extends BinaryExpression {

  override def left: Expression = docId
  override def right: Expression = text
  override def dataType: DataType = RuleFeatures.schema
  override def nullable: Boolean = true
  override def prettyName: String = "rule_features"

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) null
    else {
      val id = docId.eval(input)
      RuleFeatures.of(id != null, if (id == null) 0L else id.asInstanceOf[Number].longValue,
        t.asInstanceOf[UTF8String])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val id = docId.genCode(ctx)
    val t = text.genCode(ctx)
    ev.copy(code = code"""
      |${id.code}
      |${t.code}
      |boolean ${ev.isNull} = ${t.isNull};
      |InternalRow ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = ${RuleFeatures.getClass.getName}.MODULE$$.of(
      |    !${id.isNull}, (long) ${id.value}, ${t.value});
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RuleFeatures =
    copy(docId = newLeft, text = newRight)
}

object RuleFeatures {

  val fields: Seq[String] = Seq("n_words", "n_lines", "n_ns", "n_hash", "n_dots",
    "n_bullet", "n_eline", "n_alpha", "n_stopd")

  val schema: StructType = StructType(fields.map(StructField(_, LongType, nullable = false)))

  def apply(docId: Column, text: Column): Column =
    ColumnBridge.column(RuleFeatures(ColumnBridge.expression(docId), ColumnBridge.expression(text)))

  private val Space = ' '.toByte
  private val Newline = '\n'.toByte
  private val LongWord = "pneumonoultramicroscopicsilicovolcanoconiosis".getBytes("UTF-8")
  private val Hash = "#".getBytes("UTF-8")
  private val Digits = "12345".getBytes("UTF-8")
  // the stop words' bytes packed big-endian into an Int
  private val Of = ('o' << 8) | 'f'
  private val To = ('t' << 8) | 'o'
  private val The = ('t' << 16) | ('h' << 8) | 'e'
  private val And = ('a' << 16) | ('n' << 8) | 'd'

  /** The counts of one document's decorated text (see the class doc). */
  def of(hasId: Boolean, id: Long, text: UTF8String): InternalRow = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val s = new Scan
    val bullet = hasId && id % 11 == 0
    val ellipsis = hasId && id % 13 == 0
    // one decorated line per 10 words: a line ends at every 10th space
    var spaces = 0
    var i = 0
    s.openLine(bullet)
    while (i < text.numBytes) {
      val b = Platform.getByte(base, off + i)
      if (b == Space) spaces += 1
      if (b == Space && spaces % 10 == 0) { s.closeLine(ellipsis); s.openLine(bullet) }
      else s.byte(b)
      i += 1
    }
    s.closeLine(ellipsis)
    val n = spaces + 1
    if (hasId && id % 7 == 0) s.wordLine(Hash, math.max(1, n / 8))
    if (hasId && id % 17 == 0) s.wordLine(LongWord, math.max(1, n / 3))
    if (hasId && id % 19 == 0) s.wordLine(Digits, math.max(1, n / 3))
    s.result()
  }

  /** Running counts over the decorated text, fed a byte at a time; lines
    * are opened and closed around their bytes, and the `\n` between two
    * lines is counted by [[openLine]]. */
  private final class Scan {
    private var words, lines, ns, hash, dotRuns, bullets, elines, alpha = 0L
    private var stops = 0      // bit set of the stop words seen
    private var dots = 0       // length of the current '.' run, mod 3
    private var lineLen = 0    // bytes of the current line
    private var lineHead = 0   // its first two bytes
    private var lineTail = 0   // its last three bytes
    private var wordLen = 0    // bytes of the current word
    private var wordHead = 0   // its first three bytes
    private var wordAlpha = false

    /** Opens a line, with the `- ` prefix when `bullet`. */
    def openLine(bullet: Boolean): Unit = {
      if (lines > 0) boundary()
      lines += 1; lineLen = 0; lineHead = 0; lineTail = 0
      if (bullet) { byte('-'); byte(' ') }
    }

    /** Closes a line, after the ` ...` suffix when `ellipsis`. */
    def closeLine(ellipsis: Boolean): Unit = {
      if (ellipsis) { byte(' '); byte('.'); byte('.'); byte('.') }
      if (lineLen >= 2 && lineHead == (('-' << 8) | ' ')) bullets += 1
      if (lineLen >= 3 && lineTail == (('.' << 16) | ('.' << 8) | '.')) elines += 1
    }

    /** A line of `k` copies of `word`, separated by single spaces. */
    def wordLine(word: Array[Byte], k: Int): Unit = {
      openLine(bullet = false)
      var c = 0
      while (c < k) {
        if (c > 0) byte(' ')
        var j = 0
        while (j < word.length) { byte(word(j)); j += 1 }
        c += 1
      }
      closeLine(ellipsis = false)
    }

    def byte(b0: Int): Unit = {
      val b = b0 & 0xff
      if (lineLen < 2) lineHead = (lineHead << 8) | b
      lineTail = ((lineTail << 8) | b) & 0xffffff
      lineLen += 1
      if (b == Space || b == Newline) boundary()
      else {
        // UTF-8 continuation bytes are not characters of their own
        if ((b & 0xc0) != 0x80) ns += 1
        if (b == '#') hash += 1
        if (b == '.') { dots += 1; if (dots == 3) { dotRuns += 1; dots = 0 } }
        else dots = 0
        if (wordLen < 3) wordHead = (wordHead << 8) | b
        wordLen += 1
        if (b >= 'a' && b <= 'z') wordAlpha = true
      }
    }

    /** A word boundary: ` ` or `\n`, in the text or between lines. */
    private def boundary(): Unit = { endWord(); words += 1; dots = 0 }

    private def endWord(): Unit = {
      if (wordAlpha) alpha += 1
      if (wordLen <= 3) stops |= stopBit(wordLen, wordHead)
      wordLen = 0; wordHead = 0; wordAlpha = false
    }

    private def stopBit(len: Int, head: Int): Int =
      if (len == 1) { if (head == 'a') 1 else 0 }
      else if (len == 2) { if (head == Of) 2 else if (head == To) 4 else 0 }
      else if (len == 3) { if (head == The) 8 else if (head == And) 16 else 0 }
      else 0

    def result(): InternalRow = {
      endWord()
      new GenericInternalRow(Array[Any](words + 1, lines, ns, hash, dotRuns, bullets, elines,
        alpha, Integer.bitCount(stops).toLong))
    }
  }
}
