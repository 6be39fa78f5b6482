package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Sliding-window minimum over an `array<long>` as a NATIVE kernel
  * call — the winnowing sketch kernel (MOSS fingerprint
  * selection).
  *
  * The declarative form
  * (`transform(sequence(...), j -> array_min(slice(hs, j, W)))`) is a
  * higher-order function: CodegenFallback, interpreted per row, and
  * O(n·W) because every window re-scans its W elements. This is
  * one static call into [[SketchKernels]] — a
  * monotonic-deque pass, O(n) total regardless of W, inside the
  * surrounding WholeStageCodegen span. At a 100 TB corpus the window
  * min runs once per character of every document; the asymptotic drop
  * is the difference between the sketch being scan-bound or
  * compute-bound.
  *
  * Value contract: identical to the declarative form on every input
  * whose windows hold ≥1 non-null element (minimum per window,
  * windows 1..n-W+1 in order; null elements ignored). An all-null
  * window yields a null element, like `array_min`. Inputs shorter
  * than the window produce an EMPTY array — the declarative original
  * relied on its caller's length pre-filter there (its
  * `sequence(1, k<1)` shape would walk descending indices), so the
  * kernel's guard is strictly saner for library callers.
  */
object RollingMinExpr {
  /** Column-API lift: per-window minima of `hs` over window `w`. */
  def rollingMin(hs: Column, w: Int): Column = {
    require(w >= 1, s"window must be >= 1, got $w")
    column(StaticInvoke(SketchKernels.getClass,
      ArrayType(LongType, containsNull = true), "rollingMin",
      Seq(expression(hs), Literal(w)), Seq(ArrayType(LongType), IntegerType),
      returnNullable = false))
  }
}

/** Static kernels called from generated code. */
object SketchKernels {

  /** Monotonic-deque sliding minimum: one O(n) pass, emitting the
    * window min for each of the n-W+1 positions. Nulls never enter
    * the deque; an all-null window emits null.
    */
  def rollingMin(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    if (n < w) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](n - w + 1)
    val dq = new Array[Int](n) // indices with increasing values
    var head = 0
    var tail = 0 // live deque slice is [head, tail)
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val v = hs.getLong(i)
        while (tail > head && hs.getLong(dq(tail - 1)) >= v) tail -= 1
        dq(tail) = i
        tail += 1
      }
      while (tail > head && dq(head) <= i - w) head += 1
      if (i >= w - 1)
        out(i - w + 1) =
          if (tail > head) java.lang.Long.valueOf(hs.getLong(dq(head)))
          else null
      i += 1
    }
    new GenericArrayData(out)
  }

  private val md5TL: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val seedPrefixes =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Byte]]()

  private def seedPrefix(j: Int): Array[Byte] =
    seedPrefixes.computeIfAbsent(j,
      jj => s"$jj:".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** `hash64` of raw md5 input bytes: first 15 hex chars of the digest
    * parsed base-16 = big-endian first-8-bytes >>> 4.
    */
  private def hash64Bytes(md: java.security.MessageDigest): Long = {
    val d = md.digest()
    val be =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    be >>> 4
  }

  /** One-pass MinHash signature (see [[MinHashSigExpr]] for the value
    * contract).
    */
  def minhashSig(sh: ArrayData, k: Int): ArrayData = {
    val md = md5TL.get()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      if (!sh.isNullAt(i)) {
        any = true
        val bytes = sh.getUTF8String(i).getBytes
        var j = 0
        while (j < k) {
          md.reset()
          md.update(seedPrefix(j))
          md.update(bytes)
          val v = hash64Bytes(md)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](k)
    if (any) {
      var j = 0
      while (j < k) { out(j) = java.lang.Long.valueOf(mins(j)); j += 1 }
    }
    new GenericArrayData(out)
  }

  /** Rolling K-code-point-gram md5 hashes (see [[GramHashExpr]] for
    * the value contract). One byte-array walk for the code-point
    * offsets, then one digest per gram over the byte RANGE — no
    * substring copies.
    */
  def gramHashes(text: org.apache.spark.unsafe.types.UTF8String,
      k: Int): ArrayData = {
    val bytes = text.getBytes
    // code-point start offsets (ASCII fast path falls out naturally)
    val offs = new Array[Int](bytes.length + 1)
    var nChars = 0
    var off = 0
    while (off < bytes.length) {
      offs(nChars) = off
      off += org.apache.spark.unsafe.types.UTF8String
        .numBytesForFirstByte(bytes(off))
      nChars += 1
    }
    offs(nChars) = bytes.length
    if (nChars < k) return new GenericArrayData(Array.empty[Long])
    val md = md5TL.get()
    val out = new Array[Long](nChars - k + 1)
    var i = 0
    while (i <= nChars - k) {
      md.reset()
      md.update(bytes, offs(i), offs(i + k) - offs(i))
      val d = md.digest()
      out(i) =
        ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass vocabulary-hit count (see [[VocabHitsExpr]]). */
  def vocabHits(toks: ArrayData,
      vocab: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String])
      : Int = {
    val n = toks.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i) && vocab.contains(toks.getUTF8String(i)))
        hits += 1
      i += 1
    }
    hits
  }

  private val SpaceSep =
    org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** One-pass word-n-gram windows (see [[ShinglesExpr]] for the value
    * contract).
    */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    val sz = toks.numElements()
    if (sz < n) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](sz - n + 1)
    var i = 0
    while (i <= sz - n) {
      val parts =
        new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) =
          if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) =
        org.apache.spark.unsafe.types.UTF8String.concatWs(SpaceSep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass 32-bit SimHash majority vote (see [[SimHash32Expr]] for
    * the value contract; null elements count as hash 0).
    */
  def simhash32(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val votes = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = if (hashes.isNullAt(i)) 0L else hashes.getLong(i)
      var b = 0
      while (b < 32) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) r |= 1L << b
      b += 1
    }
    r
  }
}
