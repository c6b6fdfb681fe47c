package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text/URL canonicalization kernels.
  *
  * dedup_canonical, llm_split and dedup_url previously canonicalized
  * through CHAINS of `regexp_replace` (2 passes for text, 8 for
  * URLs): each link pays a regex matcher walk plus a full
  * UTF8String→String→UTF8String round trip per document — measured
  * as the dominant cost of both queries at sf1 (dedup_canonical
  * 6.2 s vs DuckDB's fused-RE2 0.74 s). These kernels compute the
  * IDENTICAL value in one fused scan over the bytes (PropertySpec
  * pins equality against the regex forms, which remain the DuckDB
  * oracle SQL), and participate in whole-stage codegen like the
  * other graft kernels (RollingHash pattern; fallback-disabled
  * compile spec).
  *
  * Both kernels lowercase via [[UTF8String.toLowerCase]]. Spark's
  * `lower()` on the default UTF8_BINARY collation runs that method
  * (CollationSupport.Lower.execBinary) only with
  * `spark.sql.icu.caseMappings.enabled=false`, which
  * [[graft.GraftSession]] pins; Spark 4.1's default runs
  * `execBinaryICU` instead, which lowercases a few code points the
  * JDK keeps (U+A7C0, U+1C89). On a session with the pin the
  * composition matches the regex form on any input, not just ASCII.
  */
object Canonicalize extends Serializable {

  /** `trim(regexp_replace(regexp_replace(lower(s), "[^a-z0-9 ]", ""), " +", " "))`
    * in one pass: lowercase, keep only [a-z0-9 ], collapse space runs,
    * trim. ASCII inputs run a fused byte loop with no intermediate
    * allocation; non-ASCII falls back to toLowerCase + a char walk
    * (identical result — stripping a supplementary character's two
    * surrogate units individually equals stripping the code point).
    */
  def canonicalText(u: UTF8String): UTF8String = {
    if (u.isFullAscii) {
      val b = u.getBytes
      val out = new Array[Byte](b.length)
      var n = 0
      var pend = false
      var i = 0
      while (i < b.length) {
        var c = b(i)
        if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
          if (pend && n > 0) { out(n) = ' '; n += 1 }
          pend = false
          out(n) = c
          n += 1
        } else if (c == ' ') pend = true
        i += 1
      }
      UTF8String.fromBytes(out, 0, n)
    } else {
      val lowered = u.toLowerCase.toString
      val sb = new java.lang.StringBuilder(lowered.length)
      var pend = false
      var j = 0
      while (j < lowered.length) {
        val ch = lowered.charAt(j)
        if ((ch >= 'a' && ch <= 'z') || (ch >= '0' && ch <= '9')) {
          if (pend && sb.length > 0) sb.append(' ')
          pend = false
          sb.append(ch)
        } else if (ch == ' ') pend = true
        j += 1
      }
      UTF8String.fromString(sb.toString)
    }
  }

  // ---- URL canonicalization ----
  // One method per regex link, hand-rolled with Java-regexp-replaceAll
  // semantics (left-to-right scan, resume AFTER the replaced span, no
  // rescan of emitted text), applied in the exact order of
  // Dedup.canonicalUrl. The tracking-param alternation is
  // (utm_[a-z0-9_]+|session|ref) — [[trackingLen]] is its single
  // source of truth here.

  /** Length of the tracking-param name starting at `i` if
    * `(utm_[a-z0-9_]+|session|ref)=` matches there (length EXCLUDES
    * the '='), else -1. Alternation semantics: each branch must be
    * followed by '=' — regex backtracking across branches reduces to
    * exactly this check because no branch is a prefix of another's
    * viable match. utm_'s greedy [a-z0-9_]+ always ends where the
    * run of name chars ends; '=' is not a name char, so greedy needs
    * no backtrack.
    */
  private def trackingLen(s: String, i: Int): Int = {
    val n = s.length
    @inline def at(j: Int, c: Char) = j < n && s.charAt(j) == c
    if (s.regionMatches(i, "utm_", 0, 4)) {
      var j = i + 4
      while (j < n && { val c = s.charAt(j)
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_' }) j += 1
      if (j > i + 4 && at(j, '=')) j - i else -1
    } else if (s.regionMatches(i, "session", 0, 7) && at(i + 7, '=')) 7
    else if (s.regionMatches(i, "ref", 0, 3) && at(i + 3, '=')) 3
    else -1
  }

  /** The end of a `[^&]*` run starting at `i`. */
  private def valueEnd(s: String, i: Int): Int = {
    var j = i
    while (j < s.length && s.charAt(j) != '&') j += 1
    j
  }

  /** `lower` → strip `^https?://` → strip `^(www\.)+` →
    * drop `&tp=[^&]*` (global) → `\?tp=[^&]*&` → `?` (global) →
    * drop `\?tp=[^&]*$` → `/\?` → `?` (global) → strip `/$`,
    * where tp = (utm_[a-z0-9_]+|session|ref). Identical to
    * Dedup.canonicalUrl's regexp_replace chain (PropertySpec-pinned).
    */
  def canonicalUrl(u: UTF8String): UTF8String = {
    var s = u.toLowerCase.toString
    // ^https?://  (anchored: at most one strip)
    if (s.startsWith("https://")) s = s.substring(8)
    else if (s.startsWith("http://")) s = s.substring(7)
    // ^(www\.)+  (greedy: every leading repetition)
    while (s.startsWith("www.")) s = s.substring(4)
    // &tp=[^&]*  (global)
    if (s.indexOf('&') >= 0) {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '&') {
          val tl = trackingLen(s, i + 1)
          if (tl > 0) i = valueEnd(s, i + 1 + tl + 1) // skip &name=value
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      s = sb.toString
    }
    // \?tp=[^&]*&  ->  ?  (global, resume after the consumed '&')
    if (s.indexOf('?') >= 0) {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '?') {
          val tl = trackingLen(s, i + 1)
          val ve = if (tl > 0) valueEnd(s, i + 1 + tl + 1) else -1
          if (tl > 0 && ve < s.length && s.charAt(ve) == '&') {
            sb.append('?')
            i = ve + 1 // the matched span includes the trailing '&'
          } else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      s = sb.toString
    }
    // \?tp=[^&]*$  (value must reach end-of-string: at most one match)
    var i = 0
    var done = false
    while (!done && i < s.length) {
      if (s.charAt(i) == '?') {
        val tl = trackingLen(s, i + 1)
        if (tl > 0 && valueEnd(s, i + 1 + tl + 1) == s.length) {
          s = s.substring(0, i)
          done = true
        }
      }
      i += 1
    }
    // /\?  ->  ?  (global)
    if (s.indexOf("/?") >= 0) {
      val sb = new java.lang.StringBuilder(s.length)
      var j = 0
      while (j < s.length) {
        if (s.charAt(j) == '/' && j + 1 < s.length && s.charAt(j + 1) == '?') {
          sb.append('?'); j += 2
        } else { sb.append(s.charAt(j)); j += 1 }
      }
      s = sb.toString
    }
    // /$  (one trailing slash)
    if (s.nonEmpty && s.charAt(s.length - 1) == '/') s = s.substring(0, s.length - 1)
    UTF8String.fromString(s)
  }
}

/** `canonical_text(s)`: the normalize-then-hash canonical form —
  * one fused scan (see [[Canonicalize.canonicalText]]).
  */
case class CanonicalText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() = child.dataType match {
    case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"canonical_text needs a string argument, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    Canonicalize.canonicalText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // one static-object call per row, fused into the generated
      // stage — the loop itself is JIT-compiled Scala, same shape as
      // inlining it in generated Java without the Janino size cost
      val kernel = ctx.addReferenceObj("canonKernel", Canonicalize,
        "graft.functions.Canonicalize$")
      s"${ev.value} = $kernel.canonicalText($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `canonical_url(s)`: the crawl-URL canonical form — the 8-link
  * regex chain as one fused kernel (see [[Canonicalize.canonicalUrl]]).
  */
case class CanonicalUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() = child.dataType match {
    case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"canonical_url needs a string argument, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    Canonicalize.canonicalUrl(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val kernel = ctx.addReferenceObj("canonKernel", Canonicalize,
        "graft.functions.Canonicalize$")
      s"${ev.value} = $kernel.canonicalUrl($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CanonicalText {
  import org.apache.spark.sql.GraftShim
  def canonical_text(c: Column): Column =
    GraftShim.column(CanonicalText(GraftShim.expression(c)))
}

object CanonicalUrl {
  import org.apache.spark.sql.GraftShim
  def canonical_url(c: Column): Column =
    GraftShim.column(CanonicalUrl(GraftShim.expression(c)))
}
