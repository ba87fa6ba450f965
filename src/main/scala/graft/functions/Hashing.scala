package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing.
  *
  * Spark's builtin hash()/xxhash64 have no DuckDB twin, so every operator
  * that needs pseudo-randomness (MinHash perms, SimHash bits, LSH planes,
  * fingerprints) derives it from md5 — identical in Spark, DuckDB and the
  * JVM. h60 = first 15 hex chars (60 bits) as a non-negative long, which
  * fits both engines' signed 64-bit ints.
  *
  * DuckDB equivalent: ('0x' || substr(md5(x), 1, 15))::UBIGINT
  */
object Hashing {

  /** 60-bit md5-derived hash of a string column (codegen'd builtins only). */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** h60 reduced mod m (m > 0, result in [0, m)). */
  def h60mod(c: Column, m: Long): Column = h60(c) % m

  /** Engine-portable fixed-point rounding: floor(x*10^d + 0.5)/10^d.
    * Spark's round() (BigDecimal HALF_UP on the exact binary expansion)
    * and DuckDB's round() (scale-multiply + nearbyint) can disagree by one
    * step when the scaled product lands exactly on .5 — this formula is
    * plain IEEE arithmetic, so when both engines hold bit-identical inputs
    * the outputs are bit-identical too. Use it for ratio/score columns
    * derived deterministically; keep round() for decimal-grid money sums.
    * DuckDB twin: floor(x * 1e4 + 0.5) / 1e4
    */
  def rd4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0

  /** 2-decimal variant of rd4 (DuckDB twin: floor(x * 100.0 + 0.5) / 100.0). */
  def rd2(c: Column): Column = floor(c * 100.0 + 0.5) / 100.0

  /** 6-decimal variant, for rounding PER-TERM transcendental values (ln,
    * exp — where JVM and C libm may differ by 1 ulp) BEFORE they enter a
    * sum, so both engines accumulate identical addends.
    * DuckDB twin: floor(x * 1e6 + 0.5) / 1e6
    */
  def rd6(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** This thread's md5 digest, for [[h60]]; a kernel fetches it once per row. */
  private[functions] def md5Digest(): MessageDigest = digests.get()

  /** h60 of `len` bytes from `start`: the first 15 hex digits of their
    * md5 are digest bytes 0..6 plus the high nibble of byte 7. The
    * driver-side [[h60jvm]] and the text kernels both hash through here.
    */
  private[functions] def h60(digest: MessageDigest, bytes: Array[Byte], start: Int,
      len: Int): Long = {
    digest.reset()
    digest.update(bytes, start, len)
    val d = digest.digest()
    var h = 0L
    var k = 0
    while (k < 7) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
    (h << 4) | ((d(7) >> 4) & 0xFL)
  }

  /** Same hash computed driver-side (for deriving small constant tables
    * like LSH hyperplanes that are then broadcast as literals).
    */
  def h60jvm(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    h60(md5Digest(), b, 0, b.length)
  }
}
