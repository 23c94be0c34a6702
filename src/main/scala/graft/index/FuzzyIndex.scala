package graft.index

import graft.core.Layout
import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fuzzy token index: deletion-neighborhood posting lists at row-group
  * granularity (the SymSpell scheme — symmetric delete spelling
  * correction, a public algorithm).
  *
  * The reference's search tiers answer exact/substring/template
  * probes; typo-tolerant lookup is the one lexical query shape they
  * cannot bound (reference: src/lava/substring/search.rs:95-204 needs
  * the query's exact grams present). The deletion trick restores an
  * index bound for edit distance ≤ [[MaxDist]]: for any two strings
  * with lev(t, q) ≤ 1, the single-deletion neighborhoods
  * {t} ∪ del1(t) and {q} ∪ del1(q) intersect — substitution at i
  * deletes to the same string from both sides, an insert/delete pair
  * puts one string inside the other's neighborhood. So indexing every
  * token's neighborhood and probing the query's neighborhood yields a
  * candidate SUPERSET (some distance-2 pairs slip in), and the
  * mandatory refine — Spark's built-in `levenshtein` inside
  * `exists()` over the token array — restores exactness, the same
  * FP discipline as every other index kind (reference:
  * src/lava/substring/search.rs:78-85 never truncates pre-refine).
  *
  * Physical layout mirrors [[NgramIndex]]: `postings/` parquet of
  * (variant, uid) rows partitioned by a variant hash bucket, so a
  * query's ≤ |q|+1 variants prune to ≤ |q|+1 buckets via partition
  * pruning and to row groups inside them via parquet min/max stats on
  * `variant`. Posting lists stay rows, never driver arrays — a 100 TB
  * build is one explode→distinct shuffle, and per-query probe cost is
  * independent of corpus size.
  */
object FuzzyIndex {

  /** Maximum edit distance the index bounds. The deletion neighborhood
    * indexed/probed is distance ≤ 1, which covers lev ≤ 1 exactly and
    * makes the refine predicate `levenshtein(t, q) <= 1`.
    */
  val MaxDist = 1

  private def bucketOf(c: Column) = Bucketing.bucketCol(c)

  /** Driver-side deletion neighborhood of a (lowercased) token: the
    * token itself plus every single-code-point deletion. ASCII-safe by
    * construction — tokens are `[a-z0-9]+` under the regex tokenizer —
    * so char-indexed deletion equals code-point deletion.
    */
  def variantsOf(t: String): Seq[String] =
    (t +: t.indices.map(i => t.substring(0, i) + t.substring(i + 1))).distinct

  /** Column twin of [[variantsOf]] for one token column `t`: 1-based
    * `substr` windows around each deleted position. `sequence(0, len-1)`
    * enumerates deletion positions; a 1-char token contributes the
    * empty-string variant (required: two distinct 1-char tokens meet
    * only at ""), deduped per row by `array_distinct`.
    */
  private[graft] def variantsCol(t: Column): Column = array_distinct(concat(
    array(t),
    transform(sequence(lit(0), length(t) - 1), i =>
      concat(t.substr(lit(1), i), t.substr(i + lit(2), length(t))))))

  /** Build over a file group; writes postings + meta sidecar under
    * `path`. One narrow pass: tokenize → per-token neighborhoods →
    * explode → distinct (variant, uid) pairs.
    */
  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = {
    val meta = Layout.buildMeta(spark, files, Some(column)).cache()
    val data = Layout.withUid(spark, files, meta)
    val variants =
      flatten(transform(array_distinct(Text.tokens(col(column))),
        t => variantsCol(t)))
    val postings = data
      .select(col("uid"), explode(variants).as("variant"))
      .distinct()
      .withColumn("bucket", bucketOf(col("variant")))
    postings.write.mode("overwrite")
      .partitionBy("bucket")
      .option("compression", "zstd")
      .parquet(s"$path/postings")
    meta.write.mode("overwrite").parquet(s"$path/meta")
    meta.unpersist()
  }

  /** Driver-side levenshtein (classic DP; both strings are short
    * tokens) — the refine for driver-scale candidate sets, e.g. the
    * BM25 fuzzy-expansion vocabulary probe.
    */
  def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    var i = 1
    while (i <= a.length) {
      var j = 1
      while (j <= b.length) {
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        j += 1
      }
      i += 1
    }
    d(a.length)(b.length)
  }

  /** The exact predicate the index accelerates: row's token array holds,
    * for EVERY query token, some token within [[MaxDist]] edits. Shared
    * with the facade kind so index path and brute refine can never
    * diverge.
    */
  def refinePredicate(column: String, qtoks: Seq[String]): Column =
    qtoks.map(q => exists(Text.tokens(col(column)),
        t => levenshtein(t, lit(q)) <= MaxDist))
      .reduce(_ && _)

  /** Candidate units `(idx, uid)` over the covering fuzzy indexes
    * `paths`: units holding, for EVERY query token, some variant of
    * its deletion neighborhood. A variant can serve several query
    * tokens, so each posting row explodes to the token ordinals it
    * witnesses (a literal map lookup — no join, no shuffle) and the
    * one-job probe counts distinct tokens per unit.
    */
  private[graft] def candUnits(spark: SparkSession, paths: Seq[String],
      qtoks: Seq[String]): Set[(Int, Long)] = {
    val toksOf: Map[String, Seq[Int]] = qtoks.zipWithIndex
      .flatMap { case (q, i) => variantsOf(q).map(_ -> i) }
      .groupMap(_._1)(_._2)
    val variants = toksOf.keys.toSeq.sorted
    graft.api.IndexKind.probe(
      graft.api.IndexKind.readTagged(spark, paths, "postings")
        .filter(col("bucket").isin(variants.map(NgramIndex.bucketOfString).distinct: _*) &&
          col("variant").isin(variants: _*))
        .select(col("idx"), col("uid"),
          explode(element_at(typedLit(toksOf), col("variant"))).as("term")),
      qtoks.size)
  }

  /** Fuzzy search of one index ([[graft.api.FuzzyKind]]): matching lake
    * rows plus `uid`; a token-less query defines no fuzzy predicate and
    * answers empty.
    */
  def search(spark: SparkSession, path: String, column: String,
      query: String): DataFrame =
    graft.api.FuzzyKind.searchIndex(spark, path, column, query)

  /** Merge two indexes (compaction): union with the second side's uids
    * re-based past the first's — parquet-table indexes reduce the
    * reference's streaming merge to a shuffle-free union (reference:
    * src/lava/merge.rs:17-205).
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
