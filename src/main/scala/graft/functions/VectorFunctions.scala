package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Embedding math over `array<float>` columns via codegen'd
  * higher-order functions — no UDFs in the hot path.
  *
  * Determinism: per-element products are computed in double (IEEE —
  * identical on any engine), then accumulated with a *sequential
  * left fold* (`aggregate`). The DuckDB oracle mirrors the same fold
  * (`list_reduce` over a 0.0-prepended list), so the element order —
  * and therefore every intermediate rounding — is identical, making
  * dot products, norms, and cosines bit-identical across engines.
  */
object VectorFunctions {
  import org.apache.spark.sql.GraftShim.{column, expression}

  private def toD(a: Column): Column = a.cast("array<double>")

  /** Dot product (native codegen kernel, left-fold order). */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(toD(a)), expression(toD(b))))

  /** L2 norm (native codegen kernel). */
  def norm(a: Column): Column =
    sqrt(column(SumSquares(expression(toD(a)))))

  /** Cosine similarity of two float vectors (assumes non-zero). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** DuckDB twins (1-indexed lists), for oracle SQL construction. */
  def dotSql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(0.0, [CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, ${dim + 1})]), (acc, x) -> acc + x)"
  def normSql(a: String): String =
    s"SQRT(list_reduce(list_prepend(0.0, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in $a]), (acc, x) -> acc + x))"

  // ---- random-hyperplane LSH signatures (shared by ann_lsh and
  // dedup_embedding candidate blocking) ----

  /** Embedding dimensionality of the testdata corpus. */
  val lshDim = 64

  /** Signature width ceiling: bucket ids are packed into one long
    * (bit-or of per-plane bits), so at most 62 planes.
    */
  val lshMaxPlanes = 62

  /** splitmix64 finalizer (Steele/Lea/Flood, public-domain constants):
    * the build-time PRNG behind the hyperplane sign matrix.
    *
    * NOT the rolling hash: base 31 and the modulus are both odd and a
    * short seed string never wraps the modulus, so the rolling hash's
    * low bit is literally the XOR of its input bytes' low bits — every
    * "h|plane|dim" row came out as ONE alternating pattern or its
    * complement, a rank-1 sign matrix where all planes encoded the
    * same single hyperplane (measured: 2 occupied buckets at any
    * width). The signs only need build-time determinism — both the
    * Spark plan and the DuckDB oracle embed the resulting literal
    * matrix — so a real bit mixer costs nothing cross-engine.
    */
  private def mix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Rows in the tabulated sign pool: single signatures use the first
    * `planes` ≤ lshMaxPlanes rows; BANDED blocking (OR-amplified
    * candidate recall, à la minhash bands) consumes `bands × planes`
    * distinct rows, so the pool is deeper than one signature's cap.
    */
  val lshSignRows = 256

  /** Deterministic ±1 hyperplane components, tabulated once to the
    * pool depth; a signature of p planes uses rows [off, off+p), so
    * widening a signature never changes the existing bits.
    */
  private lazy val lshSigns: Array[Array[Int]] =
    Array.tabulate(lshSignRows, lshDim)((j, i) =>
      if ((mix64(j.toLong * lshDim + i) & 1L) == 1L) 1 else -1)

  /** The signature-width dial, mechanized: the number of hyperplanes
    * that keeps the EXPECTED bucket population near `targetBucket`
    * as the corpus grows — ceil(log2(n / targetBucket)), clamped to
    * [1, lshMaxPlanes]. Each doubling of the corpus adds one plane
    * (halving every bucket), so expected bucket size stays in
    * (targetBucket/2, targetBucket] at any scale: candidate-pair work
    * per bucket is O(targetBucket²) — a build-time constant — instead
    * of O((n/2^fixedBits)²), which grows quadratically at 100×.
    */
  def lshPlanesFor(n: Long, targetBucket: Long = 8L): Int = {
    require(n > 0 && targetBucket > 0, s"need n, targetBucket > 0")
    // integer ceil-log2 of ceil(n/target): smallest p with 2^p·t ≥ n.
    // (floating log2 overshoots at exact powers of two — log(2^29)/
    // log(2) = 29.000000000000004 — which would add a spurious plane
    // and break the one-plane-per-doubling law right at the ratios
    // the law pivots on)
    val buckets = (n + targetBucket - 1) / targetBucket // ceil(n/t) ≥ 1
    val p =
      if (buckets <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.min(lshMaxPlanes, math.max(1, p))
  }

  /** p-bit signature from sign-pool rows [off, off+p): bit j = sign
    * of Σ_i e[i]·pm(off+j,i) — one band of the [[LshBandSigs]] kernel,
    * whose strict left-to-right dot matches [[lshSigAtSql]]'s
    * unrolled sum bit for bit.
    */
  def lshSigAt(e: Column, planes: Int, off: Int): Column = {
    require(off + planes <= lshSignRows, s"sign pool exhausted: $off+$planes")
    element_at(column(LshBandSigs(expression(toD(e)),
      lshSigns.slice(off, off + planes), planes, 1)), 1)
  }

  def lshSig(e: Column, planes: Int): Column = lshSigAt(e, planes, 0)

  /** Banded signatures with a FIXED per-band sign-row stride: band b
    * uses pool rows [b·stride, b·stride+planes). With the stride
    * pinned at build time, growing `planes` with the corpus never
    * moves a band onto different sign rows — every narrower
    * signature is a bit-prefix of the wider one, which is what lets
    * the DuckDB twin compute the max-width signature once and mask
    * (`sig % (1 << p)`) with a COUNT(*)-derived width instead of
    * re-deriving plane literals per scale factor.
    */
  def lshBandSigsStrided(e: Column, planes: Int, bands: Int, stride: Int): Column = {
    require(planes <= stride, s"planes $planes exceed the band stride $stride")
    require(bands * stride <= lshSignRows, s"sign pool exhausted: $bands×$stride")
    val rows = Array.tabulate(bands * planes) { k =>
      lshSigns((k / planes) * stride + (k % planes))
    }
    column(LshBandSigs(expression(toD(e)), rows, planes, bands))
  }

  /** The adaptive signature width as a SCALE-FACTOR-AGNOSTIC SQL
    * scalar: min(maxPlanes, max(1, ceil_log2(ceil(n/target)))) as an
    * exact integer CASE ladder over `nExpr` (no float log2, so the
    * power-of-two boundaries land exactly where [[lshPlanesFor]]
    * puts them — PropertySpec pins the two forms equal). The oracle
    * string stays static; the WIDTH it selects follows the data.
    */
  def widthLadderSql(nExpr: String, target: Long, maxPlanes: Int): String = {
    require(maxPlanes >= 1 && target >= 1)
    val arms = (1 until maxPlanes)
      .map(p => s"WHEN $nExpr <= ${target * (1L << p)} THEN $p")
      .mkString(" ")
    s"(CASE $arms ELSE $maxPlanes END)"
  }

  /** Scala twin of [[widthLadderSql]]: the width dial clamped to the
    * band lane, exactly the value the ladder's CASE selects (incl.
    * n=0, where the ladder's first arm and the max(1,·) clamp both
    * give 1 — an empty corpus must plan, not throw).
    */
  def widthFor(n: Long, target: Long, maxPlanes: Int): Int =
    math.min(maxPlanes, lshPlanesFor(math.max(1L, n), target))

  /** DuckDB twin of lshSigAt over a list column expression. */
  def lshSigAtSql(e: String, planes: Int, off: Int): String = {
    require(off + planes <= lshSignRows, s"sign pool exhausted: $off+$planes")
    (0 until planes).map { j =>
      val dot = (0 until lshDim).map { i =>
        val sgn = if (lshSigns(off + j)(i) > 0) "" else "-"
        s"${sgn}CAST($e[${i + 1}] AS DOUBLE)"
      }.mkString(" + ")
      s"(CASE WHEN $dot >= 0.0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  def lshSigSql(e: String, planes: Int): String = lshSigAtSql(e, planes, 0)
}
