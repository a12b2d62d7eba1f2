package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the LLM-data-pipeline operators: tokenization,
  * shingling, normalization, deterministic hashing. Pure Column algebra;
  * the md5-derived 32-bit hash is the cross-engine determinism anchor
  * (identical in DuckDB: `('0x' || substr(md5(x),1,8))::BIGINT`).
  */
object TextOps {

  /** Whitespace tokens of the lower-cased, trimmed text. */
  def words(text: Column): Column = split(lower(trim(text)), "\\s+")

  val wordsSql = "string_split_regex(lower(trim(text)), '\\s+')"

  /** Word 3-gram shingles (empty when fewer than 3 words). Column name of
    * the input array must be passed for the SQL-expression form.
    */
  def shingles3(wsCol: String): Column =
    expr(s"CASE WHEN size($wsCol) >= 3 THEN transform(sequence(1, size($wsCol) - 2), " +
      s"i -> concat_ws(' ', $wsCol[i-1], $wsCol[i], $wsCol[i+1])) " +
      "ELSE array() END")

  /** DuckDB twin of [[shingles3]] (1-based lists; empty range when <3). */
  def shingles3Sql(ws: String): String =
    s"list_transform(range(1, len($ws) - 1), i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2])"

  /** Word bigrams (empty when fewer than 2 words). */
  def bigrams(wsCol: String): Column =
    expr(s"CASE WHEN size($wsCol) >= 2 THEN transform(sequence(1, size($wsCol) - 1), " +
      s"i -> concat_ws(' ', $wsCol[i-1], $wsCol[i])) " +
      "ELSE array() END")

  /** DuckDB twin of [[bigrams]] (1-based lists; empty range when <2). */
  def bigramsSql(ws: String): String =
    s"list_transform(range(1, len($ws)), i -> $ws[i] || ' ' || $ws[i+1])"

  /** Aggressive normalization for near-dup fingerprinting: lower, strip
    * non-alphanumerics, collapse whitespace. One-pass TextKernel native;
    * [[normalizedRef]] is the original declarative form, kept as the
    * property-test reference.
    */
  def normalized(text: Column): Column = NativeTextOps.normalizedText(text)

  /** Declarative twin of [[normalized]] — reference implementation for
    * TextKernelSpec's equivalence property (two regexp_replace passes).
    */
  def normalizedRef(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  val normalizedSql: String =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** 32-bit hash from md5 prefix — see ScalarOps.md5Hash32. */
  def hash32(c: Column): Column = ScalarOps.md5Hash32(c)

  def hash32Sql(x: String): String = s"('0x' || substr(md5($x), 1, 8))::BIGINT"
}
