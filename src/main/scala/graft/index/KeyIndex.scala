package graft.index

import graft.core.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact/prefix key index ("uuid index" in the reference).
  *
  * The reference builds an LCP-compressed binary trie over pre-sorted
  * keys (reference: src/lava/uuid/uuid.rs:16-61, trie.rs:42-128) and
  * walks it at search (uuid.rs:106-162). The trie is an encoding choice;
  * the capability is "point/prefix lookup over sorted keys". The
  * idiomatic Spark equivalent (SURVEY §2.3 #20) is a **range-partitioned,
  * sorted (key, uid) parquet table**: parquet row-group min/max stats on
  * the sorted key column ARE the zone map, so an equality/prefix
  * predicate prunes to the few row groups that can contain the key —
  * same O(log) page-touch profile, native to every parquet reader.
  *
  * Like the trie (which admits false positives refined later,
  * trie.rs:550-556), hits are refined against the lake rows.
  */
object KeyIndex {

  /** A BinaryType key column is indexed in its CANONICAL HEX form
    * (uppercase, Spark's `hex()`), stored under the column name
    * `key_hex` — the key table's own schema carries the encoding, so
    * every search path (standalone, facade, merge) branches on a
    * footer-only check with no lake schema peek (reference indexes
    * both str and binary columns, indices/index_interface.py:12,
    * backends/utils.py:65). Probes supply the hex form; case is
    * normalized at probe time.
    */
  private[graft] val HexKeyCol = "key_hex"

  private[graft] def keyColOf(columns: Seq[String]): String =
    if (columns.contains(HexKeyCol)) HexKeyCol else "key"

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String, parts: Int = 8): Unit = {
    val meta = Layout.buildMeta(spark, files, Some(column)).cache()
    val data = Layout.withUid(spark, files, meta)
    val isBin = data.schema(column).dataType ==
      org.apache.spark.sql.types.BinaryType
    val (keyExpr, keyName) =
      if (isBin) (hex(col(column)), HexKeyCol) else (col(column), "key")
    data.select(keyExpr.as(keyName), col("uid"))
      .repartitionByRange(parts, col(keyName))
      .sortWithinPartitions(col(keyName))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/keys")
    meta.write.mode("overwrite").parquet(s"$path/meta")
    meta.unpersist()
  }

  /** Exact-match lookup in one index → matching lake rows plus `uid`
    * ([[graft.api.KeyKind]]). A `key_hex` index (BinaryType column) is
    * probed with the key's hex form, case-normalized.
    */
  def searchExact(spark: SparkSession, path: String, column: String,
      key: String): DataFrame =
    graft.api.KeyKind.searchExact(spark, path, column, key)

  /** Merge two key indexes: union + global re-sort (the reference
    * merges tries recursively with uid offsets, reference:
    * src/lava/uuid/trie.rs:213-354; a sorted table makes it a
    * range-repartitioned sort).
    */
  def merge(spark: SparkSession, a: String, b: String, out: String,
      parts: Int = 8): Unit = {
    val offset = spark.read.parquet(s"$a/meta")
      .agg(max("uid")).collect()(0).getLong(0)
    val aKeys = spark.read.parquet(s"$a/keys")
    val kc = keyColOf(aKeys.columns.toSeq) // same (kind, column) ⇒ same mode
    aKeys.unionByName(
      spark.read.parquet(s"$b/keys").withColumn("uid", col("uid") + offset))
      .repartitionByRange(parts, col(kc))
      .sortWithinPartitions(col(kc))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$out/keys")
    spark.read.parquet(s"$a/meta").unionByName(
      spark.read.parquet(s"$b/meta").withColumn("uid", col("uid") + offset))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
  }

  /** Tight exclusive upper bound for a prefix range: increment the last
    * code point (UTF-8 byte order follows code-point order, so
    * `init + (c+1)` exceeds every `init + c + suffix`). `prefix+"￿"`
    * would miss keys whose continuation starts with a supplementary
    * character (first UTF-8 byte 0xF0 > 0xEF). None when no valid bound
    * exists (next code point would be a surrogate / overflow).
    */
  private[graft] def prefixUpperBound(prefix: String): Option[String] = {
    if (prefix.isEmpty) return None // "%": unbounded range, refine restores exactness
    val c = prefix.last
    // c+1 must not land in the surrogate block [U+D800, U+DFFF]; both
    // BMP ranges around it are valid bounds (code-point order = UTF-8
    // order for every valid non-surrogate) — refusing the upper range
    // would degrade fullwidth/CJK-compat/private-use prefixes to
    // unbounded scans
    if (c < '퟿' || ('' <= c && c < '￿'))
      Some(prefix.init + (c + 1).toChar)
    else None
  }
}
