package graft.index

import graft.core.{IndexStore, Layout}
import graft.text.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Substring index: character n-gram posting lists at row-group
  * granularity.
  *
  * Capability-equivalent Spark re-expression of the reference's
  * FM-index/BWT substring index (reference: src/lava/substring/build.rs:
  * 127-547, search.rs:95-204): any row whose value contains the query
  * must sit in a row group whose gram set contains *every* n-gram of the
  * query, so gram-intersection gives a candidate superset and the
  * mandatory brute-force refine removes false positives — the reference
  * has the same FP discipline (never truncate to K before refine,
  * reference: src/lava/substring/search.rs:78-85).
  *
  * Physical layout: `postings/` parquet of (gram, uid) rows partitioned
  * by a gram hash bucket — a query's grams prune to ≤|grams| buckets via
  * partition pruning; posting "lists" stay as rows, never driver-sized
  * arrays, so a 100 TB build is one explode→distinct shuffle.
  *
  * Besides the 3-grams the postings also hold 1- and 2-grams, so
  * queries SHORTER than the gram width still prune via an exact gram
  * lookup instead of falling off a full-lake-scan cliff (the
  * reference's FM backward search handles any query length,
  * reference: src/lava/substring/search.rs:120-149). Distinct
  * (uid, gram) pairs bound the cost: ≤ |alphabet| + |alphabet|² extra
  * rows per row group.
  */
object NgramIndex {

  val N = 3
  val Buckets = Bucketing.Buckets

  private def bucketOf(c: org.apache.spark.sql.Column) =
    Bucketing.bucketCol(c)

  /** Driver-side twin of `bucketOf` (xxhash64 seed 42, same as the
    * `xxhash64` SQL function) so query grams map to partition values
    * without a Spark job.
    */
  def bucketOfString(g: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.unsafe.types.UTF8String
    Math.floorMod(
      XxHash64Function.hash(UTF8String.fromString(g),
        org.apache.spark.sql.types.StringType, 42L), Buckets.toLong).toInt
  }

  /** Build over a file group; writes postings + meta sidecar under
    * `path` and returns (files covered, rows indexed).
    */
  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = {
    val meta = Layout.buildMeta(spark, files, Some(column)).cache()
    val data = Layout.withUid(spark, files, meta)
    // 3-grams for normal queries + 1/2-grams for the short-query path
    // (different lengths never collide, so one flat gram column)
    val grams = concat(
      Text.charNgrams(col(column), N),
      Text.charNgrams(col(column), 2),
      Text.charNgrams(col(column), 1))
    val postings = data
      .select(col("uid"), explode(grams).as("gram"))
      .distinct() // (uid, gram) pairs; array_distinct already dedups per row
      .withColumn("bucket", bucketOf(col("gram")))
    postings.write.mode("overwrite")
      .partitionBy("bucket")
      .option("compression", "zstd")
      .parquet(s"$path/postings")
    meta.write.mode("overwrite").parquet(s"$path/meta")
    meta.unpersist()
  }

  /** The grams a lowercased, non-empty contains query probes: its
    * code-point windows (the index's grams are Spark-side code-point
    * windows, Text.cpGrams), capped on long queries (the candidate
    * superset stays valid; refine restores exactness — reference:
    * token_viable_limit, src/lava/substring/search.rs:512-524). Queries
    * shorter than the gram width probe their exact short gram.
    */
  def queryGrams(q: String): Seq[String] = {
    val cpg = Text.cpGrams(q, N)
    if (cpg.nonEmpty) graft.text.QueryShaping.viableGrams(cpg.distinct)
    else Seq(q)
  }

  /** The grams a set of required literals probes (a regex's literal
    * runs): every literal's windows, short literals as their exact
    * gram, one capped distinct set carrying the conjunction.
    */
  def literalGrams(lits: Seq[String]): Seq[String] =
    graft.text.QueryShaping.viableGrams(lits.flatMap { l =>
      val cpg = Text.cpGrams(l, N)
      if (cpg.nonEmpty) cpg else Seq(l)
    }.distinct)

  /** Contains search of one index ([[graft.api.NgramKind]]): matching
    * lake rows plus `uid`.
    */
  def search(spark: SparkSession, path: String, column: String,
      query: String): DataFrame =
    graft.api.NgramKind.searchIndex(spark, path, column, query)

  /** Merge two indexes into one (compaction): second index's uids are
    * re-based past the first's (reference: merge re-bases uid offsets,
    * src/lava/merge.rs:17-205; metadata merge backends/utils.py:195-213).
    * Parquet-table indexes make this a union + uid shift, not a
    * streaming BWT interleave.
    */
  def merge(spark: SparkSession, a: String, b: String, out: String): Unit = {
    val metaA = spark.read.parquet(s"$a/meta")
    val metaB = spark.read.parquet(s"$b/meta")
    val offset = metaA.agg(max("uid")).collect()(0).getLong(0)
    val meta = metaA.unionByName(
      metaB.withColumn("uid", col("uid") + offset))
    val post = spark.read.parquet(s"$a/postings").unionByName(
      spark.read.parquet(s"$b/postings").withColumn("uid", col("uid") + offset))
    post.write.mode("overwrite").partitionBy("bucket")
      .option("compression", "zstd").parquet(s"$out/postings")
    meta.coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
  }
}
