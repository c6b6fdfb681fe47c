package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sum of a string's byte values — the brightness primitive of the
  * multimodal features (mm_video_scene frames, mm_audio_window DC
  * offsets), in exact integer arithmetic so the DuckDB oracle
  * reproduces it bit-for-bit (no float means, no rounding).
  *
  * Like [[RollingHash]] it is a native Catalyst `Expression` with
  * `doGenCode`: the byte loop fuses into whole-stage codegen with
  * zero boxing — the property a per-payload feature extractor needs
  * when the payload column is the bulk of a 100 TB scan.
  */
case class ByteSum(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"byte_sum needs a string argument, got $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var s = 0L
    var i = 0
    while (i < bytes.length) {
      s += bytes(i) & 0xFF
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $s = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $s += ($bytes[$i] & 0xFF);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sum of squared deviations from the unsigned-PCM midpoint (128):
  * the window ENERGY of stub-decoded 8-bit audio samples, in exact
  * integer arithmetic (no float RMS, so the DuckDB oracle reproduces
  * it bit-for-bit). Same native-`doGenCode` design as [[ByteSum]]:
  * the per-window loop fuses into whole-stage codegen, which is what
  * a framing feature extractor needs when windows × corpus is the
  * dominant term of a 100 TB audio scan.
  */
case class ByteEnergy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"byte_energy needs a string argument, got $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var s = 0L
    var i = 0
    while (i < bytes.length) {
      val d = (bytes(i) & 0xFF) - 128L
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $s = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  long $d = ($bytes[$i] & 0xFF) - 128L;
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ByteEnergy {
  import org.apache.spark.sql.GraftShim

  /** Driver-side twin (for spec expectations). */
  def energy(s: String): Long = s.getBytes("UTF-8")
    .foldLeft(0L)((a, b) => { val d = (b & 0xFF) - 128L; a + d * d })

  /** Column API: byte_energy(text). */
  def byte_energy(c: Column): Column =
    GraftShim.column(ByteEnergy(GraftShim.expression(c)))

  /** DuckDB twin.
    *
    * PRECONDITION — ASCII input only: the Spark side sums UTF-8
    * BYTES while this twin sums per-CHARACTER via ascii(ch); they
    * agree iff every char is one byte (true of the testdata corpus,
    * asserted nowhere else). The empty string needs the explicit
    * CASE: DuckDB's string_split('', '') yields [''] with
    * ascii('') = 0, so the fold would produce (0-128)² = 16384
    * where Spark's byte loop over zero bytes returns 0.
    */
  def sql(e: String): String =
    s"CASE WHEN length($e) = 0 THEN CAST(0 AS BIGINT) ELSE " +
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), [(CAST(ascii(ch) AS BIGINT) - 128) * (CAST(ascii(ch) AS BIGINT) - 128) for ch in string_split($e, '')]), (acc, x) -> acc + x) END"
}

object ByteSum {
  import org.apache.spark.sql.GraftShim

  /** Driver-side twin (for spec expectations). */
  def sum(s: String): Long = s.getBytes("UTF-8").foldLeft(0L)((a, b) => a + (b & 0xFF))

  /** Column API: byte_sum(text). */
  def byte_sum(c: Column): Column =
    GraftShim.column(ByteSum(GraftShim.expression(c)))

  /** DuckDB twin.
    *
    * PRECONDITION — ASCII input only (UTF-8 bytes vs ascii(ch), see
    * [[ByteEnergy.sql]]). Empty input is safe here without a guard:
    * string_split('','') yields [''] and ascii('') = 0, so the fold
    * returns 0, matching Spark's empty byte loop.
    */
  def sql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(ch) AS BIGINT) for ch in string_split($e, '')]), (acc, x) -> acc + x)"
}
