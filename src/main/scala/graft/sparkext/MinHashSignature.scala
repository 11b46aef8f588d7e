package graft.sparkext

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-row MinHash signature of a token array: element i is the MIN over
  * the row's word k-shingles of `md5(i || '|' || shingle)`, as lowercase
  * hex — the per-row core of [[graft.operators.Dedup.minHashSignatures]].
  *
  * The shingle set is [[graft.operators.Dedup.shingles]]' exactly: each
  * window of k consecutive tokens joined by one space (null tokens skipped,
  * as `array_join` skips them), or the whole array joined when it holds
  * fewer than k tokens. Duplicate shingles cannot change a minimum, so no
  * distinct is needed.
  *
  * One walk of the token array per row: each shingle's UTF-8 bytes are
  * built in a reused buffer and hashed with a reused digest, and the N
  * running minima are kept over the raw 16-byte digests compared as
  * unsigned bytes. Only the N minima get hex-encoded. The values equal the
  * exploded form's `min(md5(concat(...)))`: two equal-length lowercase hex
  * strings order exactly as their unsigned bytes do.
  *
  * A null array yields null (every `getItem(i)` of it is null, as the
  * exploded form's null shingle gives N null minima).
  *
  * The digest and buffers are per-thread state behind a transient
  * ThreadLocal: a task deserializes its own copy of the expression, and no
  * two threads ever share a digest.
  *
  * CodegenFallback: the surrounding projection stays in whole-stage codegen
  * and calls this node as a black box (the [[HashedCharNgramCounts]]
  * pattern).
  */
case class MinHashSignature(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  require(shingleK >= 1, s"shingleK must be >= 1, got $shingleK")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"MinHashSignature needs array<string>, got ${other.simpleString(5)}")
  }

  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(numHashes)(i => s"$i|".getBytes(UTF_8))

  @transient private lazy val scratch: ThreadLocal[MinHashSignature.Scratch] =
    ThreadLocal.withInitial(() => new MinHashSignature.Scratch(numHashes))

  override def eval(input: InternalRow): Any = {
    val toks = child.eval(input).asInstanceOf[ArrayData]
    if (toks == null) return null
    val st = scratch.get()
    java.util.Arrays.fill(st.mins, 0xff.toByte)
    val n = toks.numElements()
    if (n < shingleK) offer(st, toks, 0, n)
    else {
      var g = 0
      while (g <= n - shingleK) {
        offer(st, toks, g, g + shingleK)
        g += 1
      }
    }
    val out = new Array[Any](numHashes)
    var i = 0
    while (i < numHashes) {
      out(i) = MinHashSignature.hex(st.mins, i * 16)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Hash the shingle of tokens [from, until) under every index and fold
    * each digest into its running minimum. */
  private def offer(st: MinHashSignature.Scratch, toks: ArrayData, from: Int, until: Int): Unit = {
    var len = 0
    var first = true
    var j = from
    while (j < until) {
      if (!toks.isNullAt(j)) {
        val t = toks.getUTF8String(j)
        st.ensure(len + 1 + t.numBytes())
        if (!first) {
          st.buf(len) = ' '.toByte
          len += 1
        }
        t.writeToMemory(st.buf, Platform.BYTE_ARRAY_OFFSET + len)
        len += t.numBytes()
        first = false
      }
      j += 1
    }
    var i = 0
    while (i < numHashes) {
      st.md.update(prefixes(i))
      st.md.update(st.buf, 0, len)
      st.md.digest(st.digest, 0, 16)
      if (MinHashSignature.lessUnsigned(st.digest, st.mins, i * 16))
        System.arraycopy(st.digest, 0, st.mins, i * 16, 16)
      i += 1
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  def apply(tokens: Column, shingleK: Int, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashSignature(ColumnBridge.expression(tokens), shingleK, numHashes))

  private[sparkext] final class Scratch(numHashes: Int) {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    val mins = new Array[Byte](16 * numHashes)
    var buf = new Array[Byte](256)
    def ensure(n: Int): Unit =
      if (n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(n, buf.length * 2))
  }

  /** `d` < the 16 bytes of `mins` at `off`, as unsigned bytes. */
  private def lessUnsigned(d: Array[Byte], mins: Array[Byte], off: Int): Boolean = {
    var b = 0
    while (b < 16) {
      val c = (d(b) & 0xff) - (mins(off + b) & 0xff)
      if (c != 0) return c < 0
      b += 1
    }
    false
  }

  private val HexDigits = "0123456789abcdef".getBytes(UTF_8)

  private def hex(bytes: Array[Byte], off: Int): UTF8String = {
    val out = new Array[Byte](32)
    var b = 0
    while (b < 16) {
      val v = bytes(off + b) & 0xff
      out(2 * b) = HexDigits(v >>> 4)
      out(2 * b + 1) = HexDigits(v & 0x0f)
      b += 1
    }
    UTF8String.fromBytes(out)
  }
}
