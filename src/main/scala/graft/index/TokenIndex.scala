package graft.index

import graft.core.Layout
import graft.text.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-mode substring index: word uni+bigram posting lists.
  *
  * The reference's token-mode FM index sorts bounded 10-token windows
  * over the tokenized corpus (reference: src/lava/substring/build.rs:
  * 420-463) and answers token-sequence queries; matching is at TOKEN
  * granularity, not raw bytes (queries are tokenized exactly like the
  * corpus, reference: search.rs:446-530). Same semantics here: every
  * adjacent-token bigram of the query must appear in a candidate row
  * group; the refine predicate is token-sequence containment (the
  * lowercased, delimiter-normalized form) — NOT raw `contains`, which
  * is char-mode's job (graft.index.NgramIndex). Postings also hold
  * token unigrams so single-token queries prune through the index
  * instead of scanning the covered files (same short-query discipline
  * as the char index); bigrams contain a space, so the two gram
  * classes never collide in one column.
  */
object TokenIndex {

  val Buckets = Bucketing.Buckets

  private def bucketOf(c: org.apache.spark.sql.Column) =
    Bucketing.bucketCol(c)

  /** " t1 t2 ... tn " — token-normalized form used for refine. */
  def normalForm(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit(" "), concat_ws(" ", Text.tokens(c)), lit(" "))

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = {
    val meta = Layout.buildMeta(spark, files, Some(column)).cache()
    val data = Layout.withUid(spark, files, meta)
    // bigram construction windows over each input ROW (not each uid —
    // bigrams must never span row boundaries)
    val toksR = data
      .withColumn("__rid", monotonically_increasing_id())
      .select(col("uid"), col("__rid"),
        posexplode(Text.tokens(col(column))).as(Seq("pos", "tok")))
    val wr = Window.partitionBy(col("__rid")).orderBy(col("pos"))
    val bigrams = toksR
      .withColumn("nxt", lead(col("tok"), 1).over(wr))
      .filter(col("nxt").isNotNull)
      .select(col("uid"), concat_ws(" ", col("tok"), col("nxt")).as("gram"))
    val unigrams = toksR.select(col("uid"), col("tok").as("gram"))
    bigrams.unionByName(unigrams)
      .distinct()
      .withColumn("bucket", bucketOf(col("gram")))
      .write.mode("overwrite").partitionBy("bucket")
      .option("compression", "zstd").parquet(s"$path/postings")
    meta.write.mode("overwrite").parquet(s"$path/meta")
    meta.unpersist()
  }

  def bucketOfString(g: String): Int = Bucketing.bucketOfString(g)

  def tokensOf(query: String): Seq[String] =
    graft.text.Text.sparkLower(query)
      .split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  /** Query grams: adjacent bigrams, or the exact unigram for
    * single-token queries; empty for token-less queries (→ brute).
    */
  def queryGrams(qtoks: Seq[String]): Seq[String] =
    if (qtoks.size >= 2) qtoks.sliding(2).map(_.mkString(" ")).toSeq.distinct
    else qtoks

  /** Merge two token indexes (reference merge mode 1,
    * src/lava/merge.rs:17-205): postings union with `b`'s uids re-based
    * past `a`'s — the same uid-offset protocol as every other kind.
    */
  def merge(spark: SparkSession, a: String, b: String, out: String): Unit = {
    val offset = spark.read.parquet(s"$a/meta")
      .agg(max("uid")).collect()(0).getLong(0)
    spark.read.parquet(s"$a/postings").unionByName(
      spark.read.parquet(s"$b/postings").withColumn("uid", col("uid") + offset))
      .write.mode("overwrite").partitionBy("bucket")
      .option("compression", "zstd").parquet(s"$out/postings")
    spark.read.parquet(s"$a/meta").unionByName(
      spark.read.parquet(s"$b/meta").withColumn("uid", col("uid") + offset))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
  }
}
