package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dialect-faithful scalar functions (SURVEY.md §2.9), built from
  * codegen'd `org.apache.spark.sql.functions` — no UDFs in any hot
  * path, so every one of these stays inside whole-stage codegen.
  */
object GraftFunctions {

  /** Dialect `week`: yearday/7, integer division
    * (reference selector.go:224-225) — NOT ISO weekofyear. */
  def week(c: Column): Column = floor(dayofyear(c) / lit(7)).cast(LongType)

  /** Dialect `day`/`dayofweek`: Go weekday, 0 = Sunday
    * (reference selector.go:230-231). Spark's dayofweek is 1 = Sunday. */
  def day0(c: Column): Column = (dayofweek(c) - lit(1)).cast(LongType)

  /** English month name (reference selector.go:234-237). */
  def monthname(c: Column): Column = date_format(c, "MMMM")

  /** English weekday name (reference selector.go:234-237). */
  def dayname(c: Column): Column = date_format(c, "EEEE")

  /** Dialect `between`, symmetric + half-open upper bound: works with
    * bounds in either order (reference selector.go:480-495):
    * x >= least(a,b) AND x < greatest(a,b). */
  def betweenSym(x: Column, a: Column, b: Column): Column =
    x >= least(a, b) && x < greatest(a, b)

  /** Dialect `like`: case-insensitive anchored pattern
    * (reference parser.go:672-680). */
  def likeCI(c: Column, pattern: String): Column = c.ilike(pattern)

  /** Dialect `= null` predicate: reference null-equality matches empty
    * cells (reference value.go:282-287, main_test.go:120-125) — maps to
    * isNull, not SQL three-valued logic. */
  def eqNull(c: Column): Column = c.isNull

  // NB: dialect `inc([step])` (reference selector.go:204-207) lives in
  // graft.core.RowNumbers — a global-ORDER-BY window Column would force
  // an Exchange SinglePartition, so numbering is a DataFrame-level
  // two-phase op (per-partition offsets), not a Column function.

  /** AES-256-GCM encrypt, key = SHA-256(password), base64 text out
    * (reference selector.go:163-203: random nonce prepended — Spark's
    * aes_encrypt GCM does exactly that with its 12-byte IV). */
  def encrypt(c: Column, password: String): Column =
    base64(aes_encrypt(c.cast(BinaryType), aesKey(password), lit("GCM")))

  /** Inverse of [[encrypt]]; wrong password / corrupt payload → null
    * (try_ variant — a GCM tag mismatch must not kill a whole scan). */
  def decrypt(c: Column, password: String): Column =
    try_aes_decrypt(unbase64(c), aesKey(password), lit("GCM")).cast(StringType)

  private def aesKey(password: String): Column =
    unhex(sha2(lit(password).cast(BinaryType), 256))
}
