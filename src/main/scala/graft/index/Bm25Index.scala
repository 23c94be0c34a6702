package graft.index

import graft.core.Layout
import graft.text.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 full-text index.
  *
  * Spark re-expression of the reference's BM25 index (reference:
  * src/lava/bm25/bm25.rs:31-174 build, 410-580 search): per-token
  * posting lists with TF, corpus stats head (token_counts/num_docs/
  * avg_len), weighted-IDF scoring at search with k1=1.2, b=0.75
  * (reference: src/lava_py/lava.rs:135) and quantized contributions
  * (reference quantizes the TF factor ×100, bm25.rs:139 — we quantize
  * the per-token score ×1e6 so the distributed sum is an exact integer
  * sum, order-independent and bit-reproducible).
  *
  * Layout: `postings/` (token, doc_id, uid, tf) partitioned by token
  * hash bucket — a query's tokens prune to ≤|tokens| partitions, the
  * Spark analogue of the reference's per-token plist binary search
  * (bm25.rs:460-471). `docstats/` (doc_id, dl). `head/` one corpus row.
  */
object Bm25Index {

  val K1 = 1.2
  val B = 0.75
  val Buckets = Bucketing.Buckets
  val Quant = 1000000L

  private def bucketOf(c: org.apache.spark.sql.Column) =
    Bucketing.bucketCol(c)

  def bucketOfString(t: String): Int = Bucketing.bucketOfString(t)

  /** Build over a file group. `idCol` is the per-row document id column
    * (the reference scores page uids then rescores rows,
    * bm25_index.py:104-135; we score rows directly — same result,
    * one fewer pass).
    */
  def build(spark: SparkSession, files: Seq[String], column: String,
      idCol: String, path: String,
      tokenizer: Text.Tokenizer = Text.RegexTokenizer): Unit = {
    val meta = Layout.buildMeta(spark, files, Some(column)).cache()
    val data = Layout.withUid(spark, files, meta)
    val toks = data.select(col(idCol).as("doc_id"), col("uid"),
      explode(tokenizer.tokenize(col(column))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), first(col("uid")).as("uid"))
      .withColumn("bucket", bucketOf(col("token")))
    tf.write.mode("overwrite").partitionBy("bucket")
      .option("compression", "zstd").parquet(s"$path/postings")
    // dl = Σtf per doc, derived from the ALREADY-WRITTEN postings
    // table: re-deriving from `toks` would re-scan and re-tokenize the
    // whole corpus (the build's dominant cost) a second and third time
    // for docstats and the head
    val dl = spark.read.parquet(s"$path/postings")
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    dl.write.mode("overwrite").parquet(s"$path/docstats")
    // corpus head: one row — the broadcastable "cacheable metadata page"
    // (reference: bm25.rs:171-173) — aggregated from the tiny docstats
    spark.read.parquet(s"$path/docstats")
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"),
        sum(col("dl")).as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/head")
    writeRvocab(spark, path)
    meta.write.mode("overwrite").parquet(s"$path/meta")
    meta.unpersist()
  }

  /** Reversed-vocabulary sidecar (Lucene ReversedWildcardFilter shape):
    * one (rtoken, token) row per distinct vocabulary token, SORTED by
    * rtoken, so a leading-wildcard expansion (`*fix`) becomes a pushed
    * StringStartsWith scan over rtoken with row-group min/max pruning —
    * O(matching terms) instead of an O(vocabulary) endsWith walk.
    * Vocabulary-scale (distinct tokens, never corpus rows), derived
    * from the already-written postings.
    */
  private def writeRvocab(spark: SparkSession, path: String): Unit =
    spark.read.parquet(s"$path/postings")
      .select(col("token")).distinct()
      .select(reverse(col("token")).as("rtoken"), col("token"))
      .repartition(1).sortWithinPartitions(col("rtoken"))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/rvocab")

  /** Vocabulary tokens matching a single-`*` wildcard split into
    * (prefix, suffix) — SQL-LIKE `pre%suf` semantics (non-overlapping:
    * token length must fit both halves). Prefix-only probes ride the
    * pushed startsWith scan of the postings token column; any suffix
    * probes the rvocab sidecar (pushed startsWith over rtoken), with an
    * endsWith postings walk as the fallback for pre-sidecar indexes —
    * identical term sets either way.
    */
  def expandWildcard(spark: SparkSession, path: String,
      pre: String, suf: String): Seq[String] = {
    val toks =
      if (suf.isEmpty)
        spark.read.parquet(s"$path/postings")
          .filter(col("token").startsWith(pre))
          .select("token").distinct()
          .collect().map(_.getString(0))
      else {
        val rs = suf.reverse
        val viaSidecar =
          try {
            val df = spark.read.parquet(s"$path/rvocab")
              .filter(col("rtoken").startsWith(rs))
            Some((if (pre.isEmpty) df
              else df.filter(col("token").startsWith(pre)))
              .select("token").collect().map(_.getString(0)))
          } catch { case scala.util.control.NonFatal(_) => None }
        viaSidecar.getOrElse {
          val df = spark.read.parquet(s"$path/postings")
            .filter(col("token").endsWith(suf))
          (if (pre.isEmpty) df else df.filter(col("token").startsWith(pre)))
            .select("token").distinct()
            .collect().map(_.getString(0))
        }
      }
    toks.filter(_.length >= pre.length + suf.length).distinct.sorted.toSeq
  }

  /** Top-k search. IDF is computed over the whole index at query time
    * (reference combines token counts across ALL index files before
    * computing IDF, bm25.rs:477-489).
    */
  def search(spark: SparkSession, path: String, query: String, k: Int,
      tokenizer: Text.Tokenizer = Text.RegexTokenizer): DataFrame = {
    val qtoks = tokenizer.tokenizeQuery(query).distinct
    searchWeighted(spark, path, qtoks.map(_ -> 1.0), k)
  }

  /** Weighted multi-term search — the scoring half of the reference's
    * query expansion (expansion tokens carry cosine weights applied to
    * their IDF term, reference: bm25.rs:477-489 "weighted idf";
    * expansion itself uses an external embedding model,
    * bm25_index.py:140-156, out of engine core — weights arrive here).
    */
  def searchWeighted(spark: SparkSession, path: String,
      terms: Seq[(String, Double)], k: Int): DataFrame =
    searchWeightedMany(spark, Seq(path), terms, k)

  /** Weighted search across SEVERAL covering index files with GLOBAL
    * corpus statistics: the reference combines token counts across all
    * index files before computing IDF (reference: src/lava/bm25/
    * bm25.rs:477-489) — per-index scoring then merging would rank
    * wrongly. Postings/docstats are disjoint by doc (each lake file is
    * covered by one index), so the union IS the global corpus; corpus
    * stats are exact (integer dl sums stay exact in double < 2^53), so
    * scores are independent of how the lake was split into indexes.
    */
  def searchWeightedMany(spark: SparkSession, paths: Seq[String],
      terms: Seq[(String, Double)], k: Int): DataFrame = {
    val (post, dl) = indexStats(spark, paths, terms.map(_._1))
    scoreWeighted(spark, post, dl, terms, k, corpusStats(spark, paths))
  }

  /** Query-token postings `(token, doc_id, tf)` + doc stats `(doc_id,
    * dl)` of the covering indexes ([[insituStats]]' index twin): one
    * tagged scan per sub-table, not a read per index (a listing job
    * each) or a multi-root read (Spark rejects the bucket= layouts).
    */
  def indexStats(spark: SparkSession, paths: Seq[String],
      qtoks: Seq[String]): (DataFrame, DataFrame) =
    (graft.api.IndexKind.readTagged(spark, paths, "postings")
      .filter(col("bucket").isin(qtoks.map(bucketOfString).distinct: _*) &&
        col("token").isin(qtoks: _*))
      .select(col("token"), col("doc_id"), col("tf")),
    graft.api.IndexKind.readTagged(spark, paths, "docstats").drop("idx"))

  /** Global `(n_docs, Σdl)` of the covering indexes: the per-index
    * corpus stats ([[Serve.corpusStats]]: the 1-row head, cached per
    * meta signature) summed. Postings/docstats are disjoint by doc, and
    * both are exact integer sums, so the total equals one aggregate
    * over the union of the docstats tables.
    */
  def corpusStats(spark: SparkSession, paths: Seq[String]): (Long, Long) = {
    val st = paths.map(Serve.corpusStats(spark, _))
    (st.map(_._1).sum, st.map(_._2).sum)
  }

  /** `(n_docs, Σdl)` of a doc-stats frame `(doc_id, dl)`: one aggregate
    * job (zero docs sum to 0, not NULL).
    */
  def dlStats(dl: DataFrame): (Long, Long) = {
    val r = dl.agg(count(lit(1)), sum(col("dl"))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Score pre-filtered query-token postings `(token, doc_id, tf)`
    * against doc stats `(doc_id, dl)` and corpus `(n_docs, Σdl)`.
    * Factored out so callers can union index-table postings with
    * postings computed on the fly from UNINDEXED files (the reference
    * fills results from in-situ files, backends/utils.py:249-275) —
    * corpus stats stay global and exact.
    */
  def scoreWeighted(spark: SparkSession, post: DataFrame, dl: DataFrame,
      terms: Seq[(String, Double)], k: Int, stats: (Long, Long),
      restrictTo: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val (nDocs, sumDl) = stats
    // empty corpus (all-NULL column, zero-row files): sum() is null and
    // avgdl would divide by zero — the correct top-k is empty
    if (nDocs == 0)
      return Seq.empty[(Long, Double)].toDF("doc_id", "score")
    val avgdl = sumDl.toDouble / nDocs
    val weights = terms.toDF("token", "qw")
    val df = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // qw * idf * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)), quantized
    // ×1e6 so the per-doc sum is an exact integer sum
    val contrib = post.join(df, "token").join(broadcast(weights), "token")
      .join(dl, "doc_id")
      .withColumn("idf",
        log((lit(nDocs).cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("w",
        col("tf") * lit(K1 + 1) /
          (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / lit(avgdl))))
      .withColumn("cq", round(col("qw") * col("idf") * col("w") * Quant).cast("long"))
    val scored = contrib.groupBy(col("doc_id"))
      .agg((sum(col("cq")).cast("double") / Quant).as("raw"))
      .select(col("doc_id"), round(col("raw"), 4).as("score"))
    // restriction (e.g. phrase verification) gates WHICH docs are
    // ranked, strictly BEFORE the top-k truncation — the true top-k of
    // the filtered set, never "filter the top-k"
    restrictTo.fold(scored)(r => scored.join(r, "doc_id"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Top-k BM25 among ONLY the documents containing `phrase` as a
    * contiguous token sequence. Scale shape: candidate docs are the
    * postings AND-intersection over the phrase's tokens (selective at
    * any corpus size — a doc missing one token can never match),
    * contiguity is verified by materializing ONLY candidate row groups,
    * and scoring stays standard corpus-wide BM25 (df over all docs
    * holding each token, corpus stats over all docs) — the phrase
    * predicate gates WHICH docs are ranked, before truncation.
    *
    * `idCol`/`column` are the build's id and text columns (the
    * verification reads the lake rows, which carry the lake's own
    * column names).
    */
  def searchPhrase(spark: SparkSession, path: String, phrase: String,
      k: Int, idCol: String, column: String,
      tokenizer: Text.Tokenizer = Text.RegexTokenizer): DataFrame = {
    import spark.implicits._
    val seq = tokenizer.tokenizeQuery(phrase) // ordered, dups kept
    val qtoks = seq.distinct
    if (seq.isEmpty)
      return Seq.empty[(Long, Double)].toDF("doc_id", "score")
    val qbuckets = qtoks.map(bucketOfString).distinct
    val post = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(qbuckets: _*) &&
        col("token").isin(qtoks: _*))
    val candDocs = post.groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("nt"))
      .filter(col("nt") === qtoks.size)
      .select("doc_id")
    // a phrase match necessarily holds every token, so candidates'
    // row groups are the only ones verification has to read
    val hitUids = post.join(candDocs, "doc_id").select("uid").distinct()
    val meta = spark.read.parquet(s"$path/meta")
    val rows = graft.core.Layout.readHits(spark, meta, hitUids)
    // contiguity test on the NORMALIZED token stream (space-joined,
    // space-padded), exactly reproducible in the oracle's SQL
    val nf = concat(lit(" "),
      concat_ws(" ", tokenizer.tokenize(col(column))), lit(" "))
    val verified = rows.filter(nf.contains(" " + seq.mkString(" ") + " "))
      .select(col(idCol).as("doc_id"))
    val dl = spark.read.parquet(s"$path/docstats")
    scoreWeighted(spark, post.select("token", "doc_id", "tf"), dl,
      qtoks.map(_ -> 1.0), k, corpusStats(spark, Seq(path)), Some(verified))
  }

  /** Query-token postings + doc stats computed on the fly from raw lake
    * files (the in-situ analogue of `build`'s tables, query tokens only).
    */
  def insituStats(spark: SparkSession, files: Seq[String], column: String,
      idCol: String, qtoks: Seq[String],
      tokenizer: Text.Tokenizer = Text.RegexTokenizer): (DataFrame, DataFrame) = {
    val toks = spark.read.parquet(files: _*)
      .select(col(idCol).as("doc_id"),
        explode(tokenizer.tokenize(col(column))).as("token"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val post = toks.filter(col("token").isin(qtoks: _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .select(col("token"), col("doc_id"), col("tf"))
    (post, dl)
  }

  /** Top-k search followed by selective row materialization: hits map
    * back to row-group uids, only those row groups are fetched, and the
    * scored rows are returned with their lake columns (the reference's
    * search → read_indexed_pages → rescore flow,
    * reference: backends/utils.py:147-172).
    */
  def searchMaterialized(spark: SparkSession, path: String, query: String,
      k: Int, idCol: String,
      tokenizer: Text.Tokenizer = Text.RegexTokenizer): DataFrame = {
    import spark.implicits._
    // the top-k is k rows by construction — collect it ONCE and push
    // the winning doc ids down as literals, instead of re-evaluating
    // the whole scoring subtree in every downstream action
    val top = search(spark, path, query, k, tokenizer)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val topIds = top.map(_._1)
    val qtoks = tokenizer.tokenizeQuery(query).distinct
    val qbuckets = qtoks.map(bucketOfString).distinct
    val hitUids = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(qbuckets: _*) && col("token").isin(qtoks: _*)
        && col("doc_id").isin(topIds: _*))
      .select(col("uid"))
    val meta = spark.read.parquet(s"$path/meta")
    // join on the CALLER's id column — the materialized lake rows have
    // no "doc_id" unless that happens to be the lake's own column name
    graft.core.Layout.readHits(spark, meta, hitUids)
      .join(broadcast(top.toDF(idCol, "score")), Seq(idCol))
  }

  /** Merge two BM25 indexes (compaction). The reference streams
    * posting-list chunks with uid offsets (reference: src/lava/bm25/
    * bm25.rs:176-244 k-way merge, token_counts summed); with parquet
    * postings it is a union + re-partition — doc stats and postings are
    * disjoint by doc, the corpus head is re-aggregated.
    */
  def merge(spark: SparkSession, a: String, b: String, out: String): Unit = {
    val offset = spark.read.parquet(s"$a/meta")
      .agg(max("uid")).collect()(0).getLong(0)
    val post = spark.read.parquet(s"$a/postings").unionByName(
      spark.read.parquet(s"$b/postings").withColumn("uid", col("uid") + offset))
    post.write.mode("overwrite").partitionBy("bucket")
      .option("compression", "zstd").parquet(s"$out/postings")
    val dl = spark.read.parquet(s"$a/docstats")
      .unionByName(spark.read.parquet(s"$b/docstats"))
    dl.write.mode("overwrite").parquet(s"$out/docstats")
    dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"),
        sum(col("dl")).as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/head")
    writeRvocab(spark, out)
    spark.read.parquet(s"$a/meta").unionByName(
      spark.read.parquet(s"$b/meta").withColumn("uid", col("uid") + offset))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
  }

  /** Oracle SQL generator: the same scoring pipeline in ANSI SQL, with
    * the tokenization delegated to the tokenizer's own oracle
    * expression so both sides of the seam stay in one place. */
  def oracleSql(table: String, column: String, idCol: String,
      query: String, k: Int,
      tokenizer: Text.Tokenizer = Text.RegexTokenizer): String = {
    val qtoks = tokenizer.tokenizeQuery(query).distinct
    oracleSqlWeighted(table, column, idCol, qtoks.map(_ -> 1.0), k, tokenizer)
  }

  /** Phrase-filtered oracle: the standard weighted pipeline with the
    * ranked set restricted to docs whose normalized token stream
    * contains the phrase contiguously (the same space-padded contains
    * test [[searchPhrase]] runs Spark-side).
    */
  def oracleSqlPhrase(table: String, column: String, idCol: String,
      phrase: String, k: Int,
      tokenizer: Text.Tokenizer = Text.RegexTokenizer): String = {
    val seq = tokenizer.tokenizeQuery(phrase)
    val restrict =
      s"""SELECT $idCol AS doc_id FROM (
         |  SELECT $idCol, ' ' || array_to_string(${tokenizer.oracleListExpr(column)}, ' ') || ' ' AS nf
         |  FROM $table) t
         |WHERE contains(nf, ' ${seq.mkString(" ")} ')""".stripMargin
    oracleSqlWeighted(table, column, idCol, seq.distinct.map(_ -> 1.0), k,
      tokenizer, Some(restrict))
  }

  def oracleSqlWeighted(table: String, column: String, idCol: String,
      terms: Seq[(String, Double)], k: Int,
      tokenizer: Text.Tokenizer = Text.RegexTokenizer,
      restrictSql: Option[String] = None): String = {
    val inList = terms.map { case (t, _) => s"'$t'" }.mkString(", ")
    val qwCase = "CASE " + terms.map { case (t, w) =>
      s"WHEN token = '$t' THEN $w"
    }.mkString(" ") + " END"
    s"""WITH toks AS (
       |  SELECT $idCol AS doc_id,
       |    unnest(${tokenizer.oracleListExpr(column)}) AS token
       |  FROM $table),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
       |       WHERE token IN ($inList) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |contrib AS (
       |  SELECT tf.doc_id,
       |    CAST(round(
       |      ($qwCase) *
       |      ln((CAST(c.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0) *
       |      (tf.tf * ${K1 + 1} / (tf.tf + $K1 * (${1 - B} + $B * dl.dl / c.avgdl)))
       |      * $Quant) AS BIGINT) AS cq
       |  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN corpus c)
       |SELECT doc_id, round(CAST(sum(cq) AS DOUBLE) / $Quant, 4) AS score
       |FROM contrib${restrictSql.fold("")(r => s"\nWHERE doc_id IN (\n$r\n)")}
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }
}
