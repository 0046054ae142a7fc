package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hash primitives.
  *
  * Beam's sketching/fingerprinting operators (reference:
  * sdks/java/extensions/sketching/, transforms/GroupByEncryptedKey.java:52)
  * rely on well-defined hash functions so results are reproducible across
  * runners. We standardize on MD5 (available and bit-identical in every
  * SQL engine) and derive 60-bit longs from its hex prefix, so every
  * hash-derived result (MinHash, SimHash, fingerprints, salted keys) can
  * be verified by an external SQL oracle.
  *
  * At scale this stays fully codegen'd (md5/conv/substring are native
  * Catalyst expressions) and embarrassingly parallel — no state, no
  * shuffle.
  */
object PortableHash {

  /** 60-bit non-negative hash of a string column (15 hex chars of md5). */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** DuckDB SQL equivalent of [[md5Long]], for oracle construction. */
  def md5LongSql(expr: String): String =
    s"CAST('0x' || substr(md5(CAST($expr AS VARCHAR)), 1, 15) AS BIGINT)"
}
