package graft.index

import graft.core.Layout
import graft.ops.Dedup
import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash-LSH near-duplicate LOOKUP index.
  *
  * The dedup operators (ops/Dedup.scala) find near-dup pairs WITHIN a
  * corpus; this index answers the ingest-time question — "does the
  * lake already contain a near-duplicate of THIS document?" — without
  * touching the corpus: per-document MinHash signatures are banded
  * (the same ShingleK/NumHashes/Bands/τ parameters and md5-derived
  * universal hashes as the dedup path, so the two stay consistent)
  * and the index stores distinct `(band, bkey, uid)` postings at
  * row-group granularity. A query document's 16 band keys are computed
  * ON THE DRIVER (the hash derivation is md5-based for exactly this
  * bit-parity, like BloomIndex), the postings probe prunes to
  * candidate row groups, the selective read fetches them, and an exact
  * shingle-Jaccard ≥ τ verification keeps the engine's
  * false-positive discipline. Banding recall is deterministic on both
  * engines (same hashes), so the DuckDB oracle reproduces the exact
  * result.
  *
  * Scale shape: the build is the dedup signature pipeline (one
  * doc-partitioned window shuffle + one 64-agg groupBy) ending in a
  * metadata-light postings table; the search is a 16-key point probe
  * (band-partitioned postings), one bounded selective read, and a
  * map-only verification against the broadcast query shingle set.
  */
object MinHashIndex {

  val K: Int = Dedup.ShingleK
  val NumHashes: Int = Dedup.NumHashes
  val Bands: Int = Dedup.Bands
  val RowsPerBand: Int = NumHashes / Bands
  val HashP: Long = Dedup.HashP
  val Tau: Double = Dedup.Tau

  /** Distinct K-token shingles of `text`, driver side — mirrors the
    * Spark window form used in the build (Dedup.shingleRows).
    */
  def shinglesOf(text: String): Seq[String] = {
    val toks = Text.sparkLower(text).split(Text.TokenDelim)
      .filter(_.nonEmpty).toSeq
    if (toks.size < K) Seq.empty
    else toks.sliding(K).map(_.mkString(" ")).toSeq.distinct
  }

  private def hashPair(shingle: String): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 8), 16),
      java.lang.Long.parseLong(hex.substring(8, 16), 16))
  }

  /** The 16 `(band, bkey)` pairs of `text`'s signature, driver side —
    * bit-identical to the build's column expressions.
    */
  def bandKeysOf(text: String): Seq[(Int, String)] = {
    val hs = shinglesOf(text).map(hashPair)
    if (hs.isEmpty) return Seq.empty
    val sig = (0 until NumHashes).map(i =>
      hs.map { case (h1, h2) => (h1 + i.toLong * h2) % HashP }.min)
    (0 until Bands).map(b =>
      b -> (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(sig).mkString(","))
  }

  /** Build: per-ROW signatures over `column`, banded, postings at
    * row-group granularity. One window shuffle (shingling), one 64-agg
    * groupBy (signatures), distinct — the dedup pipeline's build half.
    */
  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val meta = Layout.buildMeta(spark, files, Some(column)).cache()
    val data = Layout.withRowId(spark, files, meta)
      .select(col("rid"), col("uid"), col(column).as("__text"))
    val toks = data.select(col("rid"), col("uid"),
      posexplode(Text.tokens(col("__text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("rid")).orderBy(col("pos"))
    val parts = (0 until K).map(r =>
      if (r == 0) col("tok") else lead(col("tok"), r).over(w))
    val sh = toks
      .withColumn("s", concat_ws(" ", parts: _*))
      .withColumn("_last", lead(col("tok"), K - 1).over(w))
      .filter(col("_last").isNotNull)
      .select(col("rid"), col("uid"), col("s")).distinct()
    val hashed = sh
      .withColumn("_md5", md5(col("s")))
      .withColumn("h1", conv(substring(col("_md5"), 1, 8), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(col("_md5"), 9, 8), 16, 10).cast("long"))
    val sigCols = (0 until NumHashes).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")) % HashP).as(s"h$i"))
    val sigs = hashed.groupBy(col("rid"), col("uid"))
      .agg(sigCols.head, sigCols.tail: _*)
    val bandKeys = (0 until Bands).map { b =>
      concat_ws(",",
        (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}")): _*)
    }
    sigs.select(col("uid"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
      .select(col("band"), col("bkey"), col("uid")).distinct()
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/postings")
    meta.write.mode("overwrite").parquet(s"$path/meta")
    meta.unpersist()
    ()
  }

  /** Merge: uid-offset union (signatures never recompute). */
  def merge(spark: SparkSession, a: String, b: String, out: String): Unit = {
    val offset = spark.read.parquet(s"$a/meta")
      .agg(max("uid")).collect()(0).getLong(0)
    spark.read.parquet(s"$a/postings").unionByName(
      spark.read.parquet(s"$b/postings")
        .withColumn("uid", col("uid") + offset))
      .write.mode("overwrite").partitionBy("band").parquet(s"$out/postings")
    spark.read.parquet(s"$a/meta").unionByName(
      spark.read.parquet(s"$b/meta").withColumn("uid", col("uid") + offset))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
  }

  /** Exact shingle-Jaccard ≥ τ filter of `rows` against `queryText`
    * (map-only: the query shingle set broadcasts as a literal). Adds
    * `jac`, rounded like the dedup verifiers.
    */
  def verifyJaccard(rows: DataFrame, column: String,
      queryText: String): DataFrame = {
    val qsh = shinglesOf(queryText)
    require(qsh.nonEmpty, s"query has fewer than $K tokens")
    val shArr = array_distinct(expr(
      s"transform(sequence(0, size(__toks) - $K), " +
        s"i -> concat_ws(' ', slice(__toks, i + 1, $K)))"))
    // the τ filter is wrapped in a nondeterministic-MARKED identity
    // (semantically pure — the marker only pins plan position): a
    // deterministic predicate here gets pushed below the selective
    // read's uid join into the scan's Filter, where whole-stage
    // codegen's subexpression elimination evaluates the hoisted
    // shingle/intersect machinery on EVERY row of the hit files
    // BEFORE the row-range short-circuit can reject them — measured
    // 3.9 s vs 0.2 s at sf0.1 (~1 ms/row × all rows vs hit rows). With
    // the verify pinned above the join, the expensive expression runs
    // only on materialized in-range rows — which is the entire point
    // of row-group/page-granular retrieval.
    val keep = udf((ok: Boolean) => ok).asNondeterministic()
    rows
      .withColumn("__toks", Text.tokens(col(column)))
      .filter(size(col("__toks")) >= K)
      .withColumn("__sh", shArr)
      .withColumn("__inter",
        size(array_intersect(col("__sh"), typedLit(qsh))))
      .withColumn("jac", round(col("__inter").cast("double") /
        (size(col("__sh")) + qsh.size - col("__inter")), 4))
      .filter(keep(col("jac") >= Tau))
      .drop("__toks", "__sh", "__inter")
  }
}
