package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document token statistics as ONE native single-pass kernel.
  *
  * `q_text_token_stats` previously paid four independent passes per
  * document, each allocating intermediates sized by the text:
  * `split(\s+)` + array_remove + size (a token ARRAY built to read its
  * length), `regexp_extract_all` + size (a MATCH array built to read
  * its length), `regexp_replace` + length (a scrubbed STRING built to
  * read its length), and `split([^a-z0-9]+)` + concat_ws + size (array
  * AND string rebuilt for a sum of lengths). All four are character
  * classifications over the same bytes; this kernel computes the six
  * underlying counters in one walk with zero allocation on the ASCII
  * fast path (the non-ASCII path mirrors `lower()`'s String-based
  * case mapping exactly, including its length quirks).
  *
  * Value contract (pinned by TokenStatsSpec against the replaced
  * column forms):
  *   n_chars     = length(text)                   (codepoints, ORIGINAL)
  *   ws_tokens   = size(array_remove(split(text, "\\s+"), ""))
  *   bpe_tokens  = size(regexp_extract_all(lower(text),
  *                   "[a-z]+|[0-9]+|[^a-z0-9\\s]"))
  *   punct       = length(regexp_replace(lower(text), "[a-z0-9\\s]", ""))
  *   alnum_chars = length(concat_ws("", tokens))  over
  *   alnum_runs  = size(tokens), tokens = array_remove(
  *                   split(lower(text), "[^a-z0-9]+"), "")
  * Java regex \s is ASCII-only ([ \t\n\x0B\f\r]) — the kernel uses the
  * same set, so whitespace classification matches split() exactly.
  */
object TokenStatsExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("ws_tokens", IntegerType, nullable = false),
    StructField("bpe_tokens", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false),
    StructField("alnum_chars", IntegerType, nullable = false),
    StructField("alnum_runs", IntegerType, nullable = false)))

  def tokenStats(text: Column): Column =
    column(StaticInvoke(TokenStatsKernel.getClass, schema, "tokenStats",
      Seq(expression(text)), Seq(StringType), returnNullable = false))
}

object TokenStatsKernel {

  // Java-regex \s (no UNICODE_CHARACTER_CLASS): space, \t, \n, \x0B
  // (vertical tab), \f, \r — ASCII only.
  @inline private def isWs(c: Int): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  def tokenStats(s: UTF8String): InternalRow = {
    val n = s.numBytes()
    val ascii = {
      var i = 0
      var a = true
      while (a && i < n) { if ((s.getByte(i) & 0x80) != 0) a = false; i += 1 }
      a
    }
    if (ascii) {
      var wsTok = 0; var bpe = 0; var punct = 0
      var alChars = 0; var alRuns = 0
      // previous-char classes: 0 = start/none, 1 = ws, 2 = letter,
      // 3 = digit, 4 = other-non-ws
      var prev = 1 // "start" behaves like whitespace for run starts
      var prevAl = false
      var i = 0
      while (i < n) {
        var c: Int = s.getByte(i)
        if (c >= 'A' && c <= 'Z') c += 32 // lower(); ws/alnum unaffected
        val ws = isWs(c)
        val letter = c >= 'a' && c <= 'z'
        val digit = c >= '0' && c <= '9'
        if (!ws && prev == 1) wsTok += 1
        val cls = if (ws) 1 else if (letter) 2 else if (digit) 3 else 4
        if (letter && prev != 2) bpe += 1
        else if (digit && prev != 3) bpe += 1
        else if (cls == 4) { bpe += 1; punct += 1 }
        if (letter || digit) {
          alChars += 1
          if (!prevAl) alRuns += 1
          prevAl = true
        } else prevAl = false
        prev = cls
        i += 1
      }
      new GenericInternalRow(
        Array[Any](n, wsTok, bpe, punct, alChars, alRuns))
    } else {
      // Mirror the replaced expressions exactly: length() counts
      // codepoints of the ORIGINAL text; the lowered stats walk the
      // same String-based case mapping lower() applies.
      val orig = s.toString
      val nChars = orig.codePointCount(0, orig.length)
      var wsTok = 0
      var prevWs = true
      var i = 0
      while (i < orig.length) {
        val c = orig.charAt(i).toInt
        val ws = isWs(c)
        if (!ws && prevWs) wsTok += 1
        prevWs = ws
        i += 1
      }
      val low = orig.toLowerCase
      var bpe = 0; var punct = 0; var alChars = 0; var alRuns = 0
      var prev = 1
      var prevAl = false
      i = 0
      while (i < low.length) {
        val cp = low.codePointAt(i)
        val ws = isWs(cp)
        val letter = cp >= 'a' && cp <= 'z'
        val digit = cp >= '0' && cp <= '9'
        val cls = if (ws) 1 else if (letter) 2 else if (digit) 3 else 4
        if (letter && prev != 2) bpe += 1
        else if (digit && prev != 3) bpe += 1
        else if (cls == 4) { bpe += 1; punct += 1 }
        if (letter || digit) {
          alChars += 1
          if (!prevAl) alRuns += 1
          prevAl = true
        } else prevAl = false
        prev = cls
        i += Character.charCount(cp)
      }
      new GenericInternalRow(
        Array[Any](nChars, wsTok, bpe, punct, alChars, alRuns))
    }
  }
}
