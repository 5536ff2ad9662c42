package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-stable deterministic hashing.
  *
  * fuel requires seeded, reproducible randomness everywhere (reference:
  * fuel/schemes.py:216-221, fuel/config_parser.py:206 — default_seed=1).
  * Spark's `rand(seed)` is reproducible only within Spark and is
  * partitioning-sensitive, so the engine instead derives all randomness from
  * md5 of the row's key — a pure projection, deterministic under retries,
  * speculation and repartitioning, and computable identically by external
  * engines (the DuckDB oracle uses the same construction:
  * `CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)`).
  *
  * All functions are Catalyst built-ins (md5/conv/substring) — codegen'd,
  * no UDFs, fully parallel, no shuffle.
  */
object Stable {

  /** 60-bit non-negative hash of a string column: first 15 hex digits of md5.
    * DuckDB equivalent: `CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)`.
    * Runs as the native codegen expression [[Hash64Expr]] (digest bytes →
    * long, no hex-string round trip); the tests'
    * `ReferenceForms.hash64Composed` keeps the built-in-composed form the
    * DuckDB contract is defined by. */
  def hash64(c: Column): Column = Hash64Expr.hash64(c.cast("string"))

  /** Seeded hash of one or more key columns. Separator \u0001 cannot occur
    * in the numeric/key columns this is used on, so the combination is
    * injective. DuckDB: `md5(concat_ws(chr(1), 'seed', cols...))`. */
  def seededHash(seed: Long, cols: Column*): Column =
    hash64(concat_ws("\u0001", (lit(seed.toString) +: cols.map(_.cast("string"))): _*))

  /** Seeded uniform double in [0, 1): hash64 / 2^60. Used by synthetic
    * generators; deterministic per (seed, key). */
  def uniform01(seed: Long, cols: Column*): Column =
    seededHash(seed, cols: _*).cast("double") / lit(1152921504606846976.0) // 2^60

  /** Seeded uniform in [lo, hi). */
  def uniformRange(seed: Long, lo: Double, hi: Double, cols: Column*): Column =
    lit(lo) + uniform01(seed, cols: _*) * lit(hi - lo)

  /** splitmix64 — driver-side constant derivation and per-row JVM-kernel
    * seeds. The single definition the whole engine shares. */
  private[graft] def splitmix(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private[graft] val MersennePrime61 = 2305843009213693951L // 2^61 - 1
  private[graft] val Mod30 = 1073741824L // 2^30

  /** The j-th member of a universal hash family over a 60-bit base hash:
    * `(a_j * lo30(h) + b_j * hi30(h) + c_j) mod (2^61-1)` with 31-bit odd
    * constants derived from splitmix(j). One md5 feeds the whole family —
    * MinHash with k hashes costs k cheap integer ops per element instead of
    * k md5s. All intermediates < 2^63, so the same arithmetic runs
    * overflow-free in external engines ([[duckFamilyHash]]). */
  def familyConstants(j: Int): (Long, Long, Long) = (
    (splitmix(j.toLong * 2654435761L + 1) & 0x7fffffffL) | 1L,
    (splitmix(j.toLong * 2654435761L + 2) & 0x7fffffffL) | 1L,
    splitmix(j.toLong * 2654435761L + 3) & 0x7fffffffL)

  def familyHash(base: Column, j: Int): Column = {
    val (a, b, c) = familyConstants(j)
    pmod(lit(a) * pmod(base, lit(Mod30)) + lit(b) * shiftright(base, 30) + lit(c),
      lit(MersennePrime61))
  }

  /** DuckDB fragment equivalent to [[familyHash]]. */
  def duckFamilyHash(baseSqlExpr: String, j: Int): String = {
    val (a, b, c) = familyConstants(j)
    s"(($a * (($baseSqlExpr) % $Mod30) + $b * (($baseSqlExpr) >> 30) + $c) % $MersennePrime61)"
  }

  /** The DuckDB SQL fragment equivalent to [[hash64]], for oracle authoring. */
  def duckHash64(sqlExpr: String): String =
    s"CAST(('0x' || substr(md5($sqlExpr), 1, 15)) AS BIGINT)"

  /** DuckDB fragment for the SECOND md5 half ([[graft.functions
    * .Hash64Expr.hashHi]] / hashPair element 1 — [[duckDigestHi]]'s
    * window over a direct md5 of the expression). */
  def duckHash64Hi(sqlExpr: String): String = duckDigestHi(s"md5($sqlExpr)")

  /** DuckDB fragment equivalent to [[seededHash]]. */
  def duckSeededHash(seed: Long, sqlExprs: String*): String =
    duckHash64(s"concat_ws(chr(1), '$seed', ${sqlExprs.map(e => s"CAST($e AS VARCHAR)").mkString(", ")})")

  // ------------------------------------------------- paired 60-bit draws
  // One md5 digest is 128 bits; [[hash64]]/[[seededHash]] use only the top
  // 60. When a consumer needs MANY independent draws per row (the Poisson
  // bootstrap runs `replicates` of them), deriving TWO draws from each
  // digest's disjoint hex ranges (chars 1-15 and 17-31 = bits 127-68 and
  // 63-4) halves the dominant md5 cost. Independence argument: the draws
  // rest on the same modeling assumption [[hash64]] already makes — md5
  // behaves as a random oracle, so any fixed disjoint bit ranges of one
  // digest are as independent as two digests.

  /** Both draws of (seed, cols...) as `array<bigint>`: element 0 is
    * bit-equal to [[seededHash]] of the same inputs, element 1 is the
    * disjoint second half. Runs as the native codegen expression
    * [[Hash64PairExpr]] (digest bytes → two longs; the hex-string
    * `conv(substring(md5))` composition was measured 2.4× SLOWER than
    * the plain per-draw [[seededHash]] on the q207 card — string
    * allocation and radix parsing cost more than the saved md5s, so the
    * portable form below exists only as the contract definition). */
  def seededHashPair(seed: Long, cols: Column*): Column =
    Hash64PairExpr.hashPair64(
      concat_ws("\u0001", (lit(seed.toString) +: cols.map(_.cast("string"))): _*))

  /** The shared md5 digest (hex string) of (seed, cols...) — the same
    * serialization convention as [[seededHash]]. With [[digestLo]]/
    * [[digestHi]] this is the PORTABLE contract form of
    * [[seededHashPair]] (the form the DuckDB oracles replay); the hot
    * path uses the native expression. */
  def seededDigest(seed: Long, cols: Column*): Column =
    md5(concat_ws("\u0001", (lit(seed.toString) +: cols.map(_.cast("string"))): _*))

  /** Draw 1 of 2: the digest's top 60 bits — bit-equal to [[seededHash]]
    * of the same inputs (pinned in StableSpec). */
  def digestLo(digest: Column): Column =
    conv(substring(digest, 1, 15), 16, 10).cast("bigint")

  /** Draw 2 of 2: 60 bits from hex chars 17-31, disjoint from
    * [[digestLo]]'s range (char 16 is deliberately skipped so both draws
    * are 15 hex chars = 60 bits on the identical [0, 2^60) grid). */
  def digestHi(digest: Column): Column =
    conv(substring(digest, 17, 15), 16, 10).cast("bigint")

  /** DuckDB fragments equivalent to [[seededDigest]]/[[digestLo]]/[[digestHi]]. */
  def duckSeededDigest(seed: Long, sqlExprs: String*): String =
    s"md5(concat_ws(chr(1), '$seed', ${sqlExprs.map(e => s"CAST($e AS VARCHAR)").mkString(", ")}))"
  def duckDigestLo(digestExpr: String): String =
    s"CAST(('0x' || substr($digestExpr, 1, 15)) AS BIGINT)"
  def duckDigestHi(digestExpr: String): String =
    s"CAST(('0x' || substr($digestExpr, 17, 15)) AS BIGINT)"
}
