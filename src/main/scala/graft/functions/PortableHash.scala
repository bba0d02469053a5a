package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing.
  *
  * Sketch operators (MinHash, SimHash, hyperplane LSH) need hash values
  * that are reproducible OUTSIDE Spark so that external SQL engines can
  * verify results bit-for-bit. `xxhash64`/`hash` are Spark-internal, so
  * the portable family is built from `md5` (identical everywhere):
  *
  *   h60(s)   = first 15 hex digits of md5(s) as a 60-bit non-negative long
  *   base(s)  = h60(s) mod M,            M = 2^31 - 1 (prime)
  *   h_i(x)   = (A_i * x + B_i) mod M    (affine family over [0, M))
  *
  * All arithmetic stays below 2^62, so it is overflow-safe under ANSI
  * semantics in Spark and errors-on-overflow BIGINT semantics elsewhere.
  * Every helper has a SQL-string twin used to generate oracle queries.
  */
object PortableHash {

  /** 2^31 - 1 (prime). Affine products stay < 2^62. */
  val M: Long = 2147483647L

  /** 60-bit hash: value of the first 15 md5 hex digits. */
  def h60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB twin of [[h60]]. */
  def h60Sql(e: String): String = s"('0x'||substring(md5($e),1,15))::BIGINT"

  /** Affine-family constants (A_i, B_i); A_i != 0. */
  def affine(i: Int): (Long, Long) = {
    val a = (2654435761L * (i + 1) + 0x9E3779B9L) % M
    val b = (40503L * (2L * i + 1L)) % M
    (if (a == 0L) 1L else a, b)
  }

  /** h_i over a non-negative base column already reduced mod M. */
  def affineHash(base: Column, i: Int): Column = {
    val (a, b) = affine(i)
    pmod(base * a + b, lit(M))
  }

  /** Order-sensitive fold of hash values (each in [0, M)) into one
    * bucket key: acc = (acc * 31 + x) mod M. Intermediates < 2^36.
    */
  def foldHashes(parts: Seq[Column]): Column =
    parts.foldLeft(lit(0L): Column)((acc, x) => pmod(acc * 31 + x, lit(M)))

  def foldHashesSql(parts: Seq[String]): String =
    parts.foldLeft("0")((acc, x) => s"(($acc) * 31 + ($x)) % $M")
}
