package graft.index

import graft.core.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row-group Bloom-filter index for equality probes.
  *
  * The reference prunes equality lookups with sorted key tables (the
  * uuid trie, src/lava/uuid/uuid.rs:16-61) — which presumes the lake is
  * (re)written in key order. At 100 TB a lake cannot be re-clustered
  * for every column a user wants point lookups on, and parquet's own
  * min/max stats are worthless for a high-cardinality column scattered
  * by ingest order. The classic lake answer is a Bloom filter per
  * retrieval unit (parquet's split-block bloom filters, Delta's
  * BLOOMFILTER index): a map-only build — no shuffle of the data, no
  * re-sort — whose tiny bitset table prunes an equality probe to the
  * few row groups that MAY contain the key; the mandatory exact refine
  * (the engine's false-positive discipline, same as the reference's
  * trie false positives, trie.rs:550-556) restores exactness.
  *
  * Layout: `$path/blooms` = one row per uid `(uid, m, words)` where
  * `words: map<int,bigint>` holds only the non-zero 64-bit words of an
  * m-bit filter; `$path/meta` = the shared meta sidecar. Hashing is
  * double hashing `pos_i = (h1 + i·h2) mod m` with h1/h2 drawn from
  * md5 of the value's string form — md5 because the driver (query
  * side) and executors (build side) must agree bit-for-bit, and
  * `java.security.MessageDigest` over UTF-8 bytes is exactly Spark's
  * built-in `md5()`. The build is groupBy(uid, word) bit_or — pure
  * built-ins, map-side partial aggregation, never a per-row UDF.
  */
object BloomIndex {

  /** Filter bits budgeted per indexed row (m = BitsPerRow × rows). */
  val BitsPerRow = 16
  /** Probes per value; with m/n=16 the false-positive rate ≈ 7e-4. */
  val K = 7

  /** (h1, odd h2) for `value`, identical to the Spark-side expressions
    * in [[build]]: md5 hex chars 1-15 and 17-31 (1-based, as Spark's
    * `substring`), 15 hex digits so both fit a positive long.
    */
  def hashPair(value: String): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"$b%02x").mkString
    val h1 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val h2 = java.lang.Long.parseLong(hex.substring(16, 31), 16) | 1L
    (h1, h2)
  }

  /** Bloom probe predicate over index rows `(m, words)` for an exact
    * `value`: every one of the K probed bits must be set. h1/h2 are
    * driver literals; the bit positions depend on each row's own `m`.
    */
  def probe(value: String): org.apache.spark.sql.Column = {
    val (h1, h2) = hashPair(value)
    (0 until K).map { i =>
      val pos = s"pmod(${h1}L + ${i}L * ${h2}L, m)"
      expr(s"(coalesce(element_at(words, cast($pos div 64 as int)), " +
        s"cast(0 as bigint)) & shiftleft(cast(1 as bigint), " +
        s"cast($pos % 64 as int))) != 0")
    }.reduce(_ && _)
  }

  /** Build: one m-bit filter per retrieval unit over `column`'s string
    * form. Map-only over the data (uid tag + hash), then two bounded
    * aggregations: bit_or per (uid, word), word-map assembly per uid.
    */
  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = {
    val meta = Layout.buildMeta(spark, files, Some(column)).cache()
    buildFrame(spark, files, column, meta)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/blooms")
    meta.write.mode("overwrite").parquet(s"$path/meta")
    meta.unpersist()
    ()
  }

  /** The build dataflow (exposed for plan pinning): map-only hash →
    * bit_or per (uid, word) with map-side partial aggregation (the
    * shuffle carries set WORDS, never rows) → per-uid word map.
    */
  private[graft] def buildFrame(spark: SparkSession, files: Seq[String],
      column: String, meta: DataFrame): DataFrame = {
    val mDf = meta.select(col("uid"),
      greatest(lit(64L), (ceil(col("num_rows") * BitsPerRow / 64.0) * 64)
        .cast("long")).as("m"))
    val raw = Layout.withUid(spark, files, meta)
    // a BinaryType column's hashed string form is its CANONICAL HEX
    // (cast-to-string UTF-8-decodes arbitrary bytes — lossy, and the
    // driver-side probe could never reproduce it); the `hex_form`
    // marker column records the choice in the table's own schema so
    // probes and refines branch on a footer-only check
    val isBin = raw.schema(column).dataType ==
      org.apache.spark.sql.types.BinaryType
    val strForm =
      if (isBin) hex(col(column)) else col(column).cast("string")
    val data = raw
      .filter(col(column).isNotNull)
      .select(col("uid"), md5(strForm).as("h"))
      .join(broadcast(mDf), Seq("uid"))
      .withColumn("h1", conv(substring(col("h"), 1, 15), 16, 10).cast("long"))
      .withColumn("h2",
        conv(substring(col("h"), 17, 15), 16, 10).cast("long")
          .bitwiseOR(lit(1L)))
    data
      .select(col("uid"), col("m"), col("h1"), col("h2"),
        explode(sequence(lit(0L), lit((K - 1).toLong))).as("i"))
      .withColumn("pos", pmod(col("h1") + col("i") * col("h2"), col("m")))
      .withColumn("word", (col("pos") / 64).cast("int"))
      .withColumn("bit",
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))"))
      .groupBy(col("uid"), col("m"), col("word"))
      .agg(expr("bit_or(bit)").as("bits"))
      .groupBy(col("uid"), col("m"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("bits"))))
        .as("words"))
      .transform(d =>
        if (isBin) d.withColumn("hex_form", lit(true)) else d)
  }

  /** True when `blooms` was built over a BinaryType column (its values
    * hashed in canonical hex form) — footer-only schema check.
    */
  private[graft] def isHexForm(blooms: DataFrame): Boolean =
    blooms.columns.contains("hex_form")

  /** Merge two bloom indexes: pure uid-offset union — filters are
    * per-unit, so compaction never rehashes data (same uid-offset
    * protocol as every other kind).
    */
  def merge(spark: SparkSession, a: String, b: String, out: String): Unit = {
    val offset = spark.read.parquet(s"$a/meta")
      .agg(max("uid")).collect()(0).getLong(0)
    spark.read.parquet(s"$a/blooms").unionByName(
      spark.read.parquet(s"$b/blooms").withColumn("uid", col("uid") + offset))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/blooms")
    spark.read.parquet(s"$a/meta").unionByName(
      spark.read.parquet(s"$b/meta").withColumn("uid", col("uid") + offset))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
  }

  /** Candidate uids for `value` — exposed for pruning-effect tests. */
  def candidateUids(spark: SparkSession, path: String,
      value: String): Seq[Long] = {
    val blooms = spark.read.parquet(s"$path/blooms")
    val v = if (isHexForm(blooms)) value.toUpperCase else value
    blooms.filter(probe(v))
      .select("uid").collect().map(_.getLong(0)).toSeq
  }
}
