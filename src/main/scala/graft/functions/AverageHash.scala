package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The average-hash (aHash) of one payload — mm_phash's signature —
  * in a single kernel. With n = the character length and total = the
  * sum of the UTF-8 bytes, slice j covers characters
  * [⌊j·n/bits⌋, ⌊(j+1)·n/bits⌋) and bit j is set iff
  * sliceSum·n > total·sliceLen, in long arithmetic. A null payload
  * hashes to 0.
  *
  * It replaces `bits` unrolled `substr` + `byte_sum` + cast terms:
  * mm_phash's signature stage generated 546 KB of Java with the
  * 60-bit tree and 9 KB with this kernel, and its janino compile took
  * 224 ms against 9 ms (sf0.01, one test JVM). The slice walk steps
  * characters with [[UTF8String.numBytesForFirstByte]], the walk
  * `length()` and `substr()` make, so the bits equal the substr form
  * on any valid UTF-8 input. Codegen calls the static [[AverageHash.hash]] (the
  * [[AdcSum]] pattern: one JIT-compiled loop, no janino method-size
  * risk). The DuckDB twin stays Multimodal's SQL CTE stack.
  */
case class AverageHash(child: Expression, bits: Int) extends UnaryExpression {
  require(bits > 0 && bits < 64, s"average_hash needs 1..63 bits, got $bits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "average_hash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"average_hash needs a string argument, got $t")
  }

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => 0L
    case u => AverageHash.hash(u.asInstanceOf[UTF8String], bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |long ${ev.value} = ${c.isNull} ? 0L
      |  : graft.functions.AverageHash.hash(${c.value}, $bits);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AverageHash {
  import org.apache.spark.sql.GraftShim

  def hash(u: UTF8String, bits: Int): Long = {
    val b = u.getBytes
    val n = u.numChars().toLong
    var total = 0L
    var i = 0
    while (i < b.length) { total += b(i) & 0xFF; i += 1 }
    var h = 0L
    var c = 0L // characters consumed
    i = 0
    var j = 0
    while (j < bits) {
      val st = j * n / bits
      val en = (j + 1) * n / bits
      var s = 0L
      while (c < en) {
        val e = math.min(i + UTF8String.numBytesForFirstByte(b(i)), b.length)
        while (i < e) { s += b(i) & 0xFF; i += 1 }
        c += 1
      }
      if (s * n > total * (en - st)) h |= 1L << j
      j += 1
    }
    h
  }

  /** Driver-side twin (for spec expectations), written from the
    * definition over code points.
    */
  def hashOf(s: String, bits: Int): Long = {
    val cps = s.codePoints.toArray
    val n = cps.length.toLong
    val total = ByteSum.sum(s)
    (0 until bits).foldLeft(0L) { (h, j) =>
      val st = j * n / bits
      val en = (j + 1) * n / bits
      val slice = new String(cps, st.toInt, (en - st).toInt)
      if (ByteSum.sum(slice) * n > total * (en - st)) h | (1L << j) else h
    }
  }

  /** Column API: average_hash(text, bits). */
  def average_hash(c: Column, bits: Int): Column =
    GraftShim.column(AverageHash(GraftShim.expression(c), bits))
}
