package graft.ops

import graft.Q
import graft.core.{IndexStore, Lake}
import graft.index.{Bm25Index, KeyIndex, TokenIndex}
// merged-index entries build part indexes then compact them
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** BM25 full-text search and exact/prefix key search query entries. */
object SearchQueries {

  val Bm25Query = "vector stream dup"
  val Bm25K = 10
  val PhraseQuery = "vector stream" // 24 contiguous matches at sf0.01
  val ExpandedTerms: Seq[(String, Double)] =
    Seq("vector" -> 1.0, "stream" -> 1.0, "dup" -> 1.0,
      "batch" -> 0.25, "spark" -> 0.25)

  private def bm25Idx(s: SparkSession, dir: String): String = {
    val files = Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
    val p = IndexStore.indexPath(dir, "bm25_documents_text")
    IndexStore.ensure(p) {
      Bm25Index.build(s, files, "text", "doc_id", p)
      IndexStore.commitMetadata(s, dir,
        IndexStore.metadataRows(s, "documents", "text", files,
          files.map(_ => -1L), p, "bm25",
          s.read.parquet(s"$p/docstats").count()))
    }
    p
  }

  // ---- embedding query expansion -------------------------------------

  /** Pluggable vocab-embedding seam — where a REAL embedding service
    * plugs in. The reference embeds the vocabulary through an external
    * model (BGE-M3/OpenAI, reference: indices/bm25_index.py:12-96);
    * the engine itself only ever needs `(token, v: array<double>)`
    * rows, so HOW they are produced is an implementation detail behind
    * this trait (the [[Multimodal.MediaDecoder]] convention). Swapping
    * in a service-backed implementation touches nothing downstream:
    * cosine top-N, weighting, and the weighted-BM25 plan are embedder-
    * agnostic.
    */
  trait VocabEmbedder extends Serializable {
    /** `(token, v)` rows covering the corpus vocabulary of `dir`. */
    def vocab(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame
  }

  /** Vocab-embedding table: corpus vocabulary tokens paired with
    * embedding vectors by a deterministic rank-modulo rule. The
    * reference expands queries against a VOCAB EMBEDDING FILE computed
    * offline by an external model (BGE-M3/OpenAI,
    * reference: indices/bm25_index.py:12-96); with no model in-engine,
    * the embeddings table stands in for that artifact — the join rule
    * only has to be deterministic and oracle-reproducible, which
    * rank-modulo is. In production this table IS the model's vocab
    * sidecar; everything downstream (cosine top-N, weighted search) is
    * the real flow.
    */
  object RankModuloEmbedder extends VocabEmbedder {
    def vocab(s: SparkSession,
        dir: String): org.apache.spark.sql.DataFrame =
      vocabEmbeddings(s, dir)
  }

  def vocabEmbeddings(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // persisted once, like every other offline artifact (the reference
    // computes its vocab embedding file offline): recomputing would pay
    // a full-corpus tokenize + two global windows on EVERY expansion.
    // Staleness contract mirrors the reference's vocab file: the
    // artifact does NOT track corpus growth — tokens added to the lake
    // after the build expand to nothing until the artifact dir is
    // deleted and rebuilt (a maintenance action, like retraining the
    // vocab embedding itself)
    val p = IndexStore.indexPath(dir, "vocab_embeddings")
    IndexStore.ensure(p) {
      import org.apache.spark.sql.expressions.Window
      val vocab = graft.Tables.load(s, dir, "documents")
        .select(explode(graft.text.Text.tokens(col("text"))).as("token"))
        .distinct()
        .withColumn("rn", row_number().over(Window.orderBy("token")))
      val emb = Similarity.embeddings(s, dir).select(col("vec_id"), col("v"))
      val n = emb.count()
      val embn = emb
        .withColumn("ern", row_number().over(Window.orderBy("vec_id")))
      vocab.join(embn, (col("rn") - 1) % n + 1 === col("ern"))
        .select("token", "v")
        .write.mode("overwrite").parquet(s"$p/table")
    }
    s.read.parquet(s"$p/table")
  }

  /** Cosine top-`topN` expansion terms for `term`, weights = rounded
    * cosine (the reference's expansion arithmetic: cosine of the query
    * token's embedding against every vocab embedding, top-20 kept with
    * their similarities as weights, bm25_index.py:140-160).
    */
  def expandTermsEmbed(s: SparkSession, dir: String, term: String,
      topN: Int,
      embedder: VocabEmbedder = RankModuloEmbedder): Seq[(String, Double)] = {
    val ve = embedder.vocab(s, dir)
    // a term absent from the vocab expands to NOTHING (the oracle's qv
    // CTE is empty and yields zero rows) — not a head() crash
    ve.filter(col("token") === term).select("v").take(1).headOption match {
      case None => Seq.empty
      case Some(row) =>
        val qv = row.getSeq[Double](0)
        ve.select(col("token"),
          round(graft.GraftExtensions.cosineSim(s, col("v"), typedLit(qv)), 6)
            .as("qw"))
          .orderBy(col("qw").desc, col("token")).limit(topN)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
  }

  /** The full expansion + weighted-BM25 pipeline in ANSI SQL: vocab
    * CTE, rank-modulo embedding join, sequential-fold cosines (the
    * list-comprehension form DuckDB evaluates left-to-right, matching
    * Spark's fold bit-for-bit), top-N expansion, then the same
    * quantized weighted scoring as [[Bm25Index.oracleSqlWeighted]].
    */
  def oracleSqlExpandedEmbed(term: String, topN: Int, k: Int): String = {
    import Bm25Index.{B, K1, Quant}
    s"""WITH vocab AS (
       |  SELECT token, row_number() OVER (ORDER BY token) AS rn
       |  FROM (SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS token
       |        FROM documents)),
       |embn AS (SELECT embedding::DOUBLE[] AS v,
       |           row_number() OVER (ORDER BY vec_id) AS ern
       |         FROM embeddings),
       |nemb AS (SELECT count(*) AS n FROM embn),
       |ve AS (SELECT vocab.token, embn.v
       |       FROM vocab, embn, nemb
       |       WHERE ((vocab.rn - 1) % nemb.n) + 1 = embn.ern),
       |qv AS (SELECT v AS q FROM ve WHERE token = '$term'),
       |cos AS (SELECT token,
       |  round(list_sum([ve.v[i] * q.q[i] for i in generate_series(1, len(ve.v))]) /
       |        (sqrt(list_sum([ve.v[i] * ve.v[i] for i in generate_series(1, len(ve.v))])) *
       |         sqrt(list_sum([q.q[i] * q.q[i] for i in generate_series(1, len(q.q))]))), 6) AS qw
       |  FROM ve CROSS JOIN qv q),
       |expterms AS (SELECT token, qw FROM cos ORDER BY qw DESC, token LIMIT $topN),
       |toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS token
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
       |       WHERE token IN (SELECT token FROM expterms) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |contrib AS (
       |  SELECT tf.doc_id,
       |    CAST(round(
       |      e.qw *
       |      ln((CAST(c.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0) *
       |      (tf.tf * ${K1 + 1} / (tf.tf + $K1 * (${1 - B} + $B * dl.dl / c.avgdl)))
       |      * $Quant) AS BIGINT) AS cq
       |  FROM tf JOIN df USING (token) JOIN expterms e USING (token)
       |       JOIN dl USING (doc_id) CROSS JOIN corpus c)
       |SELECT doc_id, round(CAST(sum(cq) AS DOUBLE) / $Quant, 4) AS score
       |FROM contrib GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  // ---- fuzzy (typo-tolerant) query expansion -------------------------

  val FuzzyBm25Query = "vektor stream" // one typo'd term, one exact
  /** Weight of a distance-1 expansion term (exact matches weigh 1.0) —
    * the Elasticsearch-style fuzziness discount, kept as a fixed
    * constant so both engines compute identical CASE weights.
    */
  val FuzzyExpandWeight = 0.5
  val WildcardPrefix = "s" // expands to 6 vocab terms in the fixture
  val WildcardSuffix = "*er" // customer, filter, order
  val WildcardInfix = "t*e"  // table, the

  /** SymSpell vocab-variant artifact: (variant, token, bucket) rows for
    * the corpus vocabulary's deletion neighborhoods, persisted once per
    * lake dir (the vocabEmbeddings staleness contract). At 100 TB the
    * vocabulary — and so this table — is bounded by distinct tokens,
    * not corpus size, and an expansion probe reads ≤ Σ(|q|+1) variant
    * buckets of it.
    */
  def fuzzyVocab(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val p = IndexStore.indexPath(dir, "fuzzy_vocab")
    IndexStore.ensure(p) {
      graft.Tables.load(s, dir, "documents")
        .select(explode(graft.text.Text.tokens(col("text"))).as("token"))
        .distinct()
        .select(col("token"),
          explode(graft.index.FuzzyIndex.variantsCol(col("token")))
            .as("variant"))
        .withColumn("bucket",
          graft.index.Bucketing.bucketCol(col("variant")))
        .write.mode("overwrite").partitionBy("bucket")
        .option("compression", "zstd").parquet(s"$p/table")
    }
    s.read.parquet(s"$p/table")
  }

  /** Typo-tolerant expansion: every vocabulary token within edit
    * distance 1 of a query token, weighted 1.0 (exact) /
    * [[FuzzyExpandWeight]] (distance 1), max over query tokens. The
    * probe is a variant-equality point lookup against [[fuzzyVocab]]
    * (candidates are a lev ≤ 2 superset by the deletion-neighborhood
    * lemma), refined by the driver-side DP levenshtein — candidate
    * sets are vocabulary-scale slices, never corpus rows.
    */
  def expandTermsFuzzy(s: SparkSession, dir: String,
      qtoks: Seq[String]): Seq[(String, Double)] = {
    if (qtoks.isEmpty) return Seq.empty
    val probes = qtoks.flatMap(graft.index.FuzzyIndex.variantsOf).distinct
    val qbuckets = probes
      .map(graft.index.NgramIndex.bucketOfString).distinct
    val cands = fuzzyVocab(s, dir)
      .filter(col("bucket").isin(qbuckets: _*) &&
        col("variant").isin(probes: _*))
      .select("token").distinct()
      .collect().map(_.getString(0))
    cands.flatMap { t =>
      val ws = qtoks.flatMap { q =>
        if (t == q) Some(1.0)
        else if (graft.index.FuzzyIndex.lev(t, q) <= 1)
          Some(FuzzyExpandWeight)
        else None
      }
      if (ws.isEmpty) None else Some(t -> ws.max)
    }.sortBy(_._1).toSeq
  }

  /** The fuzzy expansion + weighted scoring in ANSI SQL: the oracle
    * recomputes the expansion independently (DuckDB levenshtein over
    * the vocabulary CTE) rather than trusting the Spark-side term
    * list — the [[oracleSqlExpandedEmbed]] discipline.
    */
  def oracleSqlFuzzy(query: String, k: Int): String = {
    import Bm25Index.{B, K1, Quant}
    val qtoks = graft.text.Text.RegexTokenizer.tokenizeQuery(query).distinct
    val qvals = qtoks.map(q => s"('$q')").mkString(", ")
    s"""WITH vocab AS (
       |  SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS token
       |  FROM documents),
       |expterms AS (
       |  SELECT token,
       |    max(CASE WHEN token = qs.q THEN 1.0 ELSE $FuzzyExpandWeight END) AS qw
       |  FROM vocab CROSS JOIN (VALUES $qvals) qs(q)
       |  WHERE levenshtein(token, qs.q) <= 1
       |  GROUP BY token),
       |toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS token
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
       |       WHERE token IN (SELECT token FROM expterms) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |contrib AS (
       |  SELECT tf.doc_id,
       |    CAST(round(
       |      e.qw *
       |      ln((CAST(c.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0) *
       |      (tf.tf * ${K1 + 1} / (tf.tf + $K1 * (${1 - B} + $B * dl.dl / c.avgdl)))
       |      * $Quant) AS BIGINT) AS cq
       |  FROM tf JOIN df USING (token) JOIN expterms e USING (token)
       |       JOIN dl USING (doc_id) CROSS JOIN corpus c)
       |SELECT doc_id, round(CAST(sum(cq) AS DOUBLE) / $Quant, 4) AS score
       |FROM contrib GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Wildcard (prefix*) expansion: every vocabulary token starting with
    * the prefix, weight 1.0, then the standard weighted-BM25 plan. The
    * probe is a `startsWith` scan of the postings' token column —
    * vocabulary-scale (never corpus rows), with StringStartsWith pushed
    * to the parquet scan. Lucene's PrefixQuery shape on the engine's
    * own index.
    */
  def expandTermsPrefix(s: SparkSession, dir: String,
      prefix: String): Seq[(String, Double)] = {
    val p = bm25Idx(s, dir)
    s.read.parquet(s"$p/postings")
      .filter(col("token").startsWith(prefix))
      .select("token").distinct()
      .collect().map(_.getString(0)).sorted.toSeq.map(_ -> 1.0)
  }

  /** Single-`*` wildcard expansion (`pre*`, `*suf`, `pre*suf`), SQL
    * LIKE `pre%suf` semantics: suffix terms probe the bm25 index's
    * REVERSED-vocabulary sidecar (pushed startsWith over the
    * rtoken-sorted rvocab — Lucene's ReversedWildcardFilter trick),
    * infix intersects the prefix and suffix conditions in the same
    * scan, with the non-overlap length rule LIKE implies. Weight 1.0
    * per term, then the standard weighted-BM25 plan.
    */
  def expandTermsWildcard(s: SparkSession, dir: String,
      pattern: String): Seq[(String, Double)] = {
    val i = pattern.indexOf('*')
    require(i >= 0 && pattern.indexOf('*', i + 1) < 0,
      s"single-* wildcard expected: $pattern")
    graft.index.Bm25Index.expandWildcard(s, bm25Idx(s, dir),
      pattern.take(i), pattern.drop(i + 1)).map(_ -> 1.0)
  }

  /** Wildcard oracle: [[oracleSqlPrefix]] with an arbitrary LIKE
    * pattern over the vocabulary CTE — DuckDB recomputes the expansion
    * independently of the rvocab probe.
    */
  def oracleSqlLike(like: String, k: Int): String = {
    import Bm25Index.{B, K1, Quant}
    s"""WITH vocab AS (
       |  SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS token
       |  FROM documents),
       |expterms AS (
       |  SELECT token, 1.0 AS qw FROM vocab WHERE token LIKE '$like'),
       |toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS token
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
       |       WHERE token IN (SELECT token FROM expterms) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |contrib AS (
       |  SELECT tf.doc_id,
       |    CAST(round(
       |      e.qw *
       |      ln((CAST(c.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0) *
       |      (tf.tf * ${K1 + 1} / (tf.tf + $K1 * (${1 - B} + $B * dl.dl / c.avgdl)))
       |      * $Quant) AS BIGINT) AS cq
       |  FROM tf JOIN df USING (token) JOIN expterms e USING (token)
       |       JOIN dl USING (doc_id) CROSS JOIN corpus c)
       |SELECT doc_id, round(CAST(sum(cq) AS DOUBLE) / $Quant, 4) AS score
       |FROM contrib GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** The prefix expansion + weighted scoring in ANSI SQL — the oracle
    * recomputes the expansion independently (LIKE over the vocabulary
    * CTE), the [[oracleSqlFuzzy]] discipline.
    */
  def oracleSqlPrefix(prefix: String, k: Int): String = {
    import Bm25Index.{B, K1, Quant}
    s"""WITH vocab AS (
       |  SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS token
       |  FROM documents),
       |expterms AS (
       |  SELECT token, 1.0 AS qw FROM vocab WHERE token LIKE '$prefix%'),
       |toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS token
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
       |       WHERE token IN (SELECT token FROM expterms) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |contrib AS (
       |  SELECT tf.doc_id,
       |    CAST(round(
       |      e.qw *
       |      ln((CAST(c.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0) *
       |      (tf.tf * ${K1 + 1} / (tf.tf + $K1 * (${1 - B} + $B * dl.dl / c.avgdl)))
       |      * $Quant) AS BIGINT) AS cq
       |  FROM tf JOIN df USING (token) JOIN expterms e USING (token)
       |       JOIN dl USING (doc_id) CROSS JOIN corpus c)
       |SELECT doc_id, round(CAST(sum(cq) AS DOUBLE) / $Quant, 4) AS score
       |FROM contrib GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  // ---- hybrid retrieval (RRF fusion) ---------------------------------

  val HybridN = 20          // per-arm candidate depth (deeper than final k)
  val RrfC = 60             // reciprocal-rank constant (Cormack et al. 2009)
  val RrfQuant = 1000000000L

  /** Hybrid lexical + semantic retrieval: a BM25 arm over the text
    * index and a cosine arm over the documents' embeddings, fused by
    * Reciprocal Rank Fusion — score(d) = Σ_arms 1/(C + rank_arm(d))
    * (Cormack/Clarke/Buettcher, SIGIR 2009). Not a reference operator:
    * part of the beyond-reference retrieval surface (RAG-style corpus
    * curation ranks by a fused signal, not either arm alone).
    *
    * Exactness: each arm's rank comes from an already-oracle-pinned
    * ordering (quantized BM25 score desc / rounded cosine desc, ties
    * by doc_id), and each rank's contribution is quantized to
    * `RrfQuant div (C + rank)` so the fused score is an exact integer
    * sum in both engines.
    *
    * Scale: the BM25 arm is index-served (postings prune to the
    * query-token buckets); the vector arm HERE is the exact cosine
    * ranking over the document-mapped embeddings — the oracle-pinned
    * baseline, a full embedding scan. [[hybridRrfIndexed]] is the
    * production wiring where that arm is served by the IVF vector
    * index instead; fusion in both joins two HybridN-sized lists —
    * driver-scale regardless of corpus size. The testdata documents
    * carry no embedding column, so the id-modulo join to the
    * embeddings table stands in for it (the same device as
    * [[vocabEmbeddings]]); in production the arm reads the document's
    * own embedding.
    */
  def hybridRrf(s: SparkSession, dir: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = bm25Idx(s, dir)
    val bmArm = Bm25Index.search(s, p, Bm25Query, HybridN)
      .withColumn("r", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
    val e = Similarity.embeddings(s, dir)
    val nVecs = e.count()
    val qv = e.filter(col("vec_id") === Similarity.QueryVecId)
      .select("v").collect()(0).getSeq[Double](0)
    val dv = graft.Tables.load(s, dir, "documents").select(col("doc_id"))
      .join(e.select(col("vec_id"), col("v")),
        col("doc_id") % nVecs === col("vec_id"))
      .select(col("doc_id"),
        round(graft.GraftExtensions.cosineSim(s, col("v"), typedLit(qv)), 6)
          .as("cos"))
    val vecArm = dv.orderBy(col("cos").desc, col("doc_id")).limit(HybridN)
      .withColumn("r", row_number().over(
        Window.orderBy(col("cos").desc, col("doc_id"))))
    val contrib = bmArm.select(col("doc_id"),
        expr(s"${RrfQuant}L div ($RrfC + r)").as("c"))
      .unionByName(vecArm.select(col("doc_id"),
        expr(s"${RrfQuant}L div ($RrfC + r)").as("c")))
    contrib.groupBy(col("doc_id")).agg(sum(col("c")).as("q"))
      .select(col("doc_id"),
        round(col("q").cast("double") / lit(RrfQuant.toDouble), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(k)
  }

  /** Hybrid RRF with BOTH arms index-served — the production wiring:
    * the lexical arm is the BM25 postings search, the semantic arm is
    * the IVF vector index searcher ([[graft.index.VectorIndex.search]])
    * run in its probe-all configuration, which is EXACT (equals brute
    * force, proven by `similarity_ivf_all`) so the whole entry stays
    * oracle-gated; dropping nprobe to `probeCount` gives the
    * approximate production trade with the identical plan shape (cell
    * partition pruning replaces the full cells scan). Fusion key is
    * vec_id — the production document key where documents carry their
    * own embeddings; the testdata BM25 arm's doc_ids map into vec
    * space by the same `doc_id % nVecs` device as [[hybridRrf]].
    */
  def hybridRrfIndexed(s: SparkSession, dir: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.index.VectorIndex
    val p = bm25Idx(s, dir)
    val nVecs = Similarity.embeddings(s, dir).count()
    val bmArm = Bm25Index.search(s, p, Bm25Query, HybridN)
      .withColumn("r", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select((col("doc_id") % nVecs).as("vec_id"), col("r"))
    val vp = VectorIndex.ensureBuilt(s, dir)
    val vecArm = VectorIndex.search(s, vp, VectorIndex.queryVec(s, dir),
        HybridN, VectorIndex.numCells(s, vp))
      .withColumn("r", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id"), col("r"))
    val contrib = bmArm.select(col("vec_id"),
        expr(s"${RrfQuant}L div ($RrfC + r)").as("c"))
      .unionByName(vecArm.select(col("vec_id"),
        expr(s"${RrfQuant}L div ($RrfC + r)").as("c")))
    contrib.groupBy(col("vec_id")).agg(sum(col("c")).as("q"))
      .select(col("vec_id"),
        round(col("q").cast("double") / lit(RrfQuant.toDouble), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("vec_id")).limit(k)
  }

  /** [[hybridRrfIndexed]]'s fusion in ANSI SQL: the same BM25 ranks
    * mapped into vec space, the vector arm as the exact knn ordering
    * (what the probe-all searcher provably equals).
    */
  def oracleSqlHybridIndexed(k: Int): String = {
    val bmInner = Bm25Index.oracleSql("documents", "text", "doc_id",
      Bm25Query, HybridN)
    s"""WITH bmtop AS (
       |$bmInner
       |),
       |bm AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
       |       FROM bmtop),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |nv AS (SELECT count(*) AS n FROM e),
       |qv AS (SELECT v AS q FROM e WHERE vec_id = ${Similarity.QueryVecId}),
       |cos AS (SELECT vec_id,
       |  round(list_sum([e.v[i] * q.q[i] for i in generate_series(1, len(e.v))]) /
       |        (sqrt(list_sum([e.v[i] * e.v[i] for i in generate_series(1, len(e.v))])) *
       |         sqrt(list_sum([q.q[i] * q.q[i] for i in generate_series(1, len(q.q))]))), 6) AS cos
       |  FROM e CROSS JOIN qv q),
       |vtop AS (SELECT vec_id, cos FROM cos ORDER BY cos DESC, vec_id LIMIT $HybridN),
       |vr AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS r
       |       FROM vtop),
       |contrib AS (
       |  SELECT doc_id % (SELECT n FROM nv) AS vec_id, $RrfQuant // ($RrfC + r) AS c FROM bm
       |  UNION ALL
       |  SELECT vec_id, $RrfQuant // ($RrfC + r) AS c FROM vr)
       |SELECT vec_id, round(CAST(sum(c) AS DOUBLE) / $RrfQuant, 6) AS rrf
       |FROM contrib GROUP BY vec_id
       |ORDER BY rrf DESC, vec_id LIMIT $k""".stripMargin
  }

  /** The fusion arithmetic in ANSI SQL, composed from the BM25 oracle
    * and the knn cosine fold — one definition of each arm's ordering.
    */
  def oracleSqlHybrid(k: Int): String = {
    val bmInner = Bm25Index.oracleSql("documents", "text", "doc_id",
      Bm25Query, HybridN)
    s"""WITH bmtop AS (
       |$bmInner
       |),
       |bm AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
       |       FROM bmtop),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |nv AS (SELECT count(*) AS n FROM e),
       |qv AS (SELECT v AS q FROM e WHERE vec_id = ${Similarity.QueryVecId}),
       |dv AS (SELECT d.doc_id,
       |         round(list_sum([e.v[i] * q.q[i] for i in generate_series(1, len(e.v))]) /
       |               (sqrt(list_sum([e.v[i] * e.v[i] for i in generate_series(1, len(e.v))])) *
       |                sqrt(list_sum([q.q[i] * q.q[i] for i in generate_series(1, len(q.q))]))), 6) AS cos
       |       FROM documents d JOIN e ON d.doc_id % (SELECT n FROM nv) = e.vec_id
       |       CROSS JOIN qv q),
       |vtop AS (SELECT doc_id, cos FROM dv ORDER BY cos DESC, doc_id LIMIT $HybridN),
       |vr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r
       |       FROM vtop),
       |contrib AS (
       |  SELECT doc_id, $RrfQuant // ($RrfC + r) AS c FROM bm
       |  UNION ALL
       |  SELECT doc_id, $RrfQuant // ($RrfC + r) AS c FROM vr)
       |SELECT doc_id, round(CAST(sum(c) AS DOUBLE) / $RrfQuant, 6) AS rrf
       |FROM contrib GROUP BY doc_id
       |ORDER BY rrf DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Token-sequence containment oracle (the normalized-form contains). */
  private def tokenOracle(q: String): String =
    s"""SELECT doc_id FROM (
       |  SELECT doc_id, ' ' || array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ') || ' ' AS nf
       |  FROM documents) t
       |WHERE contains(nf, ' $q ') ORDER BY doc_id""".stripMargin

  private def keyIdx(s: SparkSession, dir: String): String = {
    val files = Lake.ensureSplit(s, dir, "customer", "c_custkey", 4)
    val p = IndexStore.indexPath(dir, "key_customer_name")
    IndexStore.ensure(p) { KeyIndex.build(s, files, "c_name", p) }
    p
  }

  /** Derived lake with a BinaryType key column (`bkey` = the UTF-8
    * bytes of c_name) — the reference indexes binary columns alongside
    * str (indices/index_interface.py:12, backends/utils.py:65); built
    * once, shared by the binary key/bloom entries. Returns the lake
    * prefix.
    */
  private def binaryLake(s: SparkSession, dir: String): String = {
    val p = IndexStore.indexPath(dir, "binlake_customer")
    IndexStore.ensure(p) {
      graft.Tables.load(s, dir, "customer")
        .withColumn("bkey", encode(col("c_name"), "UTF-8"))
        .repartitionByRange(4, col("c_custkey"))
        .write.mode("overwrite").parquet(s"$p/t")
    }
    s"$p/t"
  }

  /** Canonical probe form for a binary key: uppercase hex of the bytes. */
  private def hexOf(sv: String): String =
    sv.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"$b%02X").mkString

  def entries: Map[String, Q] = Map(
    "bm25_search" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      Bm25Index.search(s, p, Bm25Query, Bm25K)
    }, Bm25Index.oracleSql("documents", "text", "doc_id", Bm25Query, Bm25K)),

    // phrase retrieval: top-k BM25 among ONLY the docs containing the
    // phrase contiguously — postings AND-intersection selects
    // candidates, contiguity verified on candidate row groups only,
    // truncation strictly after verification
    "bm25_phrase_search" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      Bm25Index.searchPhrase(s, p, PhraseQuery, Bm25K, "doc_id", "text")
    }, Bm25Index.oracleSqlPhrase("documents", "text", "doc_id",
      PhraseQuery, Bm25K)),

    // BM25 over the SUBWORD tokenizer (the reference parameterizes BM25
    // with a trained wordpiece, tokenizer_utils.rs:14-34): the index is
    // built, queried, and oracle-checked on the exact same greedy
    // longest-match token stream ([[graft.text.Text.SubwordTokenizer]])
    "bm25_search_bpe" -> Q((s, dir) => {
      val files = Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val p = IndexStore.indexPath(dir, "bm25_documents_text_bpe")
      IndexStore.ensure(p) {
        Bm25Index.build(s, files, "text", "doc_id", p,
          graft.text.Text.SubwordTokenizer)
      }
      Bm25Index.search(s, p, Bm25Query, Bm25K,
        graft.text.Text.SubwordTokenizer)
    }, Bm25Index.oracleSql("documents", "text", "doc_id", Bm25Query, Bm25K,
      graft.text.Text.SubwordTokenizer)),

    // search → selective row-group fetch → scored lake rows (the
    // reference's materialization flow)
    "bm25_search_materialized" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      Bm25Index.searchMaterialized(s, p, Bm25Query, Bm25K, "doc_id")
        .select(col("doc_id"), col("n_chars"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }, {
      val inner = Bm25Index.oracleSql("documents", "text", "doc_id", Bm25Query, Bm25K)
      s"""WITH topk AS (
         |$inner
         |)
         |SELECT d.doc_id, d.n_chars, t.score
         |FROM topk t JOIN documents d USING (doc_id)
         |ORDER BY t.score DESC, d.doc_id""".stripMargin
    }),

    // weighted expansion terms (the scoring half of reference query
    // expansion; weights stand in for the external model's cosines)
    "bm25_search_expanded" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      Bm25Index.searchWeighted(s, p, ExpandedTerms, Bm25K)
    }, Bm25Index.oracleSqlWeighted("documents", "text", "doc_id", ExpandedTerms, Bm25K)),

    // typo-tolerant RANKED search (Elasticsearch fuzziness=1 shape):
    // query tokens expand to their lev<=1 vocabulary neighbors via the
    // SymSpell variant probe, then the standard weighted-BM25 plan
    // ranks — the oracle recomputes the expansion with DuckDB's own
    // levenshtein, so Spark's probe+refine is independently checked
    "bm25_search_fuzzy" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      val qtoks = graft.text.Text.RegexTokenizer
        .tokenizeQuery(FuzzyBm25Query).distinct
      Bm25Index.searchWeighted(s, p,
        expandTermsFuzzy(s, dir, qtoks), Bm25K)
    }, oracleSqlFuzzy(FuzzyBm25Query, Bm25K)),

    // wildcard (prefix*) RANKED search — Lucene PrefixQuery shape:
    // query tokens expand to every vocabulary token with the prefix
    // (postings-table probe, never a corpus scan), then the standard
    // weighted-BM25 plan ranks; the oracle recomputes the expansion
    // with its own LIKE over the vocabulary
    "token_wildcard_search" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      Bm25Index.searchWeighted(s, p,
        expandTermsPrefix(s, dir, WildcardPrefix), Bm25K)
    }, oracleSqlPrefix(WildcardPrefix, Bm25K)),

    // leading wildcard (*fix) — the expansion probes the rvocab
    // sidecar: reverse the suffix, pushed startsWith over the
    // rtoken-sorted table (Lucene ReversedWildcardFilter), never an
    // O(vocabulary) endsWith walk
    "token_wildcard_suffix" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      Bm25Index.searchWeighted(s, p,
        expandTermsWildcard(s, dir, WildcardSuffix), Bm25K)
    }, oracleSqlLike("%er", Bm25K)),

    // infix wildcard (t*e) — prefix ∩ suffix term intersection in one
    // sidecar scan, with LIKE's non-overlap length rule
    "token_wildcard_infix" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      Bm25Index.searchWeighted(s, p,
        expandTermsWildcard(s, dir, WildcardInfix), Bm25K)
    }, oracleSqlLike("t%e", Bm25K)),

    // spell-correction suggestions (the SymSpell end-user surface):
    // lev<=1 vocabulary neighbors of the typo'd token ranked by corpus
    // frequency — candidates from the variant probe, frequencies
    // SERVED FROM THE BM25 INDEX (Σtf over the token's postings
    // bucket), so no corpus rescan at suggestion time
    "fuzzy_suggest" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      val q = "vektor"
      val cands = expandTermsFuzzy(s, dir, Seq(q)).map(_._1)
      if (cands.isEmpty)
        s.range(0).select(lit("").as("token"), lit(0L).as("freq"))
          .limit(0)
      else {
        val qbuckets = cands
          .map(graft.index.Bm25Index.bucketOfString).distinct
        s.read.parquet(s"$p/postings")
          .filter(col("bucket").isin(qbuckets: _*) &&
            col("token").isin(cands: _*))
          .groupBy(col("token")).agg(sum(col("tf")).as("freq"))
          .orderBy(col("freq").desc, col("token"))
      }
    },
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS freq FROM toks
        |WHERE levenshtein(token, 'vektor') <= 1
        |GROUP BY token ORDER BY freq DESC, token""".stripMargin),

    // the composed SERP shape: ranked top-k + a context snippet per
    // hit — ranking from the index, snippet map-only on the K result
    // rows (never the corpus); docs without the snippet term (ranked
    // in by other query terms) carry an empty snippet
    "bm25_search_snippets" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      val q0 = "vector"
      val pos = locate(q0, lower(col("text")))
      Bm25Index.search(s, p, Bm25Query, Bm25K)
        .join(graft.Tables.load(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("score"),
          when(pos > 0,
            col("text").substr(greatest(lit(1), pos - 20),
              lit(40 + q0.length)))
            .otherwise(lit("")).as("snippet"))
        .orderBy(col("score").desc, col("doc_id"))
    }, {
      val inner = Bm25Index.oracleSql("documents", "text", "doc_id",
        Bm25Query, Bm25K)
      s"""SELECT r.doc_id, r.score,
         |  CASE WHEN position('vector' IN lower(d.text)) > 0
         |       THEN substring(d.text, greatest(1, position('vector' IN lower(d.text)) - 20), ${40 + "vector".length})
         |       ELSE '' END AS snippet
         |FROM (
         |$inner
         |) r JOIN documents d USING (doc_id)
         |ORDER BY r.score DESC, r.doc_id""".stripMargin
    }),

    // proximity search (the IR NEAR operator): both terms within
    // ProxWindow token positions of each other. Candidates are
    // index-served (docs whose bm25 postings hold BOTH tokens —
    // bucket-pruned AND-intersection); the position test runs only on
    // candidates, as a nested exists over the two position lists.
    // Positions are 0-based here, 1-based in the oracle — only
    // DIFFERENCES enter the predicate, so the shift cancels.
    "token_proximity_search" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      val (t1, t2, w) = ("vector", "stream", 3)
      val qb = Seq(t1, t2).map(Bm25Index.bucketOfString).distinct
      val cands = s.read.parquet(s"$p/postings")
        .filter(col("bucket").isin(qb: _*) && col("token").isin(t1, t2))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("token")).as("nt"))
        .filter(col("nt") === 2).select("doc_id")
      def posOf(term: String) = filter(
        transform(col("tk"), (t, i) =>
          when(t === term, i).otherwise(lit(-1))),
        x => x >= 0)
      graft.Tables.load(s, dir, "documents").join(cands, "doc_id")
        .withColumn("tk", graft.text.Text.tokens(col("text")))
        .withColumn("l1", posOf(t1)).withColumn("l2", posOf(t2))
        .filter(exists(col("l1"), p1 =>
          exists(col("l2"), p2 => abs(p1 - p2) <= w)))
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      """SELECT doc_id FROM (
        |  SELECT doc_id,
        |    [i for i in generate_series(1, len(tk)) if tk[i] = 'vector'] AS l1,
        |    [i for i in generate_series(1, len(tk)) if tk[i] = 'stream'] AS l2
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |        FROM documents) x) y
        |WHERE len(list_filter(l1, p1 -> len(list_filter(l2, p2 -> abs(p1 - p2) <= 3)) > 0)) > 0
        |ORDER BY doc_id""".stripMargin),

    // spell suggestions through the SQL-ONLY surface: graft_suggest
    // over the facade-committed per-file bm25 indexes (multi-index Σtf)
    "sql_tvf_suggest" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      val lake = graft.api.GraftLake(s, prefix)
      lake.index(graft.api.Bm25Kind("doc_id"), "text", binpackRows = 1)
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT * FROM graft_suggest('$prefix', 'text', 'vektor')")
    },
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS freq FROM toks
        |WHERE levenshtein(token, 'vektor') <= 1
        |GROUP BY token ORDER BY freq DESC, token""".stripMargin),

    // token-mode substring search: token-sequence containment semantics
    "substring_token_search" -> Q((s, dir) => {
      val files = Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val p = IndexStore.indexPath(dir, "token_documents_text")
      IndexStore.ensure(p) { TokenIndex.build(s, files, "text", p) }
      graft.api.TokenKind.searchIndex(s, p, "text", "merge merge")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, tokenOracle("merge merge")),

    // token-index compaction (reference merge mode 1): two half-lake
    // indexes merged must answer exactly like one full index
    "substring_token_search_merged" -> Q((s, dir) => {
      val files = Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val a = IndexStore.indexPath(dir, "token_part0")
      val b = IndexStore.indexPath(dir, "token_part1")
      val m = IndexStore.indexPath(dir, "token_merged")
      IndexStore.ensure(m) {
        TokenIndex.build(s, files.take(2), "text", a)
        TokenIndex.build(s, files.drop(2), "text", b)
        TokenIndex.merge(s, a, b, m)
      }
      graft.api.TokenKind.searchIndex(s, m, "text", "merge merge")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, tokenOracle("merge merge")),

    // embedding-based query expansion: cosine top-20 vocab neighbors of
    // the query term, similarities as weights, through the same
    // weighted-IDF scorer — the reference's full expansion flow with
    // the vocab-embedding table in-engine
    "bm25_search_expanded_embed" -> Q((s, dir) => {
      val p = bm25Idx(s, dir)
      val terms = expandTermsEmbed(s, dir, "vector", 20)
      Bm25Index.searchWeighted(s, p, terms, Bm25K)
    }, oracleSqlExpandedEmbed("vector", 20, Bm25K)),

    // token-mode BWT: the REAL token-alphabet FM machinery (10-token
    // suffix windows, backward search over tokens) — same oracle as
    // the posting-based token index, so the two encodings are pinned
    // to identical semantics
    "substring_token_search_bwt" -> Q((s, dir) => {
      val files = Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val p = IndexStore.indexPath(dir, "tokenfm2_documents_text")
      IndexStore.ensure(p) { graft.index.TokenFmIndex.build(s, files, "text", p) }
      graft.index.TokenFmIndex.search(s, p, "text", "merge merge")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, tokenOracle("merge merge")),

    // skip-sampled token BWT (reference sample_factor): index over the
    // every-2nd-token thinned stream, search probes one residue
    // pattern per offset and unions the slices; refine restores the
    // exact containment semantics — same oracle as the full index
    "substring_token_search_sampled" -> Q((s, dir) => {
      val files = Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val p = IndexStore.indexPath(dir, "tokenfm2_s2_documents_text")
      IndexStore.ensure(p) {
        graft.index.TokenFmIndex.build(s, files, "text", p, sample = 2)
      }
      graft.index.TokenFmIndex.search(s, p, "text", "merge merge")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, tokenOracle("merge merge")),

    // hybrid BM25 + embedding retrieval fused by reciprocal-rank (the
    // RAG-curation ranking); both arms reuse their oracle-pinned
    // orderings, fusion is an exact integer sum
    "hybrid_search_rrf" -> Q((s, dir) => hybridRrf(s, dir, Bm25K),
      oracleSqlHybrid(Bm25K)),

    // the production wiring: the semantic arm goes through the IVF
    // vector index (probe-all = exact, so still oracle-gated)
    "hybrid_search_rrf_indexed" -> Q((s, dir) =>
      hybridRrfIndexed(s, dir, Bm25K), oracleSqlHybridIndexed(Bm25K)),

    // single-token query prunes via the unigram postings (short-query
    // discipline, no covered-files scan)
    "substring_token_search_single" -> Q((s, dir) => {
      val files = Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val p = IndexStore.indexPath(dir, "token_documents_text")
      IndexStore.ensure(p) { TokenIndex.build(s, files, "text", p) }
      graft.api.TokenKind.searchIndex(s, p, "text", "vector")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, tokenOracle("vector")),

    // warm serving tier twins (graft.index.Serve): the driver-served
    // bm25/key lookups must answer the SAME DuckDB oracles as their
    // Spark paths — scoring arithmetic replicated bit-for-bit
    "bm25_search_served" -> Q((s, dir) =>
      graft.index.Serve.bm25(s, bm25Idx(s, dir), Bm25Query, Bm25K),
      Bm25Index.oracleSql("documents", "text", "doc_id", Bm25Query, Bm25K)),

    // the wildcard warm path against the SAME independent oracle as the
    // Spark path (ServeSpec pins bit-identity and the zero-job repeat)
    "token_wildcard_served" -> Q((s, dir) =>
      graft.index.Serve.wildcard(s, bm25Idx(s, dir), WildcardPrefix, Bm25K),
      oracleSqlPrefix(WildcardPrefix, Bm25K)),

    // the ranked wildcard through the SQL-ONLY surface: one statement
    // builds nothing (coverage pre-built), expands *er against the
    // rvocab sidecar, and ranks — checked against the same independent
    // LIKE oracle as the Scala path
    "sql_tvf_wildcard" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.api.GraftLake(s, prefix)
        .index(graft.api.Bm25Kind("doc_id"), "text")
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT * FROM graft_wildcard('$prefix', 'text', '*er', $Bm25K)")
    }, oracleSqlLike("%er", Bm25K)),

    // suffix/infix warm twins: the same cached vocabulary serves every
    // single-* shape, each against its own independent LIKE oracle
    "token_wildcard_suffix_served" -> Q((s, dir) =>
      graft.index.Serve.wildcardPattern(s, bm25Idx(s, dir),
        WildcardSuffix, Bm25K),
      oracleSqlLike("%er", Bm25K)),

    "token_wildcard_infix_served" -> Q((s, dir) =>
      graft.index.Serve.wildcardPattern(s, bm25Idx(s, dir),
        WildcardInfix, Bm25K),
      oracleSqlLike("t%e", Bm25K)),

    "key_search_served" -> Q((s, dir) => {
      val p = keyIdx(s, dir)
      graft.index.Serve.keyExact(s, p, "c_name", "Customer#000000042")
        .select(col("c_custkey"), col("c_name"))
    }, "SELECT c_custkey, c_name FROM customer WHERE c_name = 'Customer#000000042'"),

    "key_search" -> Q((s, dir) => {
      val p = keyIdx(s, dir)
      KeyIndex.searchExact(s, p, "c_name", "Customer#000000042")
        .select(col("c_custkey"), col("c_name"))
    }, "SELECT c_custkey, c_name FROM customer WHERE c_name = 'Customer#000000042'"),

    // page-granular key materialization: the sorted key table's uids
    // map to the key column's DATA PAGES (64-row fixture pages), so a
    // point lookup materializes one page row range, not a whole row
    // group — the rows-read-per-hit bound survives compaction packing
    // arbitrarily many rows per group. Same rows, same oracle
    "key_search_page" -> Q((s, dir) => {
      val lake = Lake.ensurePagedCopy(s, dir, "customer")
      val p = IndexStore.indexPath(dir, "key_customer_cname_paged")
      IndexStore.ensure(p) {
        graft.core.Layout.withPageGranularity(s) {
          KeyIndex.build(s, Lake.listFiles(lake), "c_name", p)
        }
      }
      KeyIndex.searchExact(s, p, "c_name", "Customer#000000042")
        .select(col("c_custkey"), col("c_name"))
    }, "SELECT c_custkey, c_name FROM customer WHERE c_name = 'Customer#000000042'"),

    // BinaryType key column through the FULL facade: the key table is
    // built in canonical hex form (KeyIndex.HexKeyCol schema marker),
    // probed with the hex of the wanted bytes, refined on hex(column)
    "key_search_binary" -> Q((s, dir) => {
      val prefix = binaryLake(s, dir)
      val lake = graft.api.GraftLake(s, prefix)
      lake.index(graft.api.KeyKind, "bkey")
      lake.search(graft.api.KeyKind, "bkey",
          hexOf("Customer#000000042"), 100, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, "SELECT c_custkey, c_name FROM customer " +
       "WHERE c_name = 'Customer#000000042' ORDER BY c_custkey"),

    // same fixture through the Bloom kind (map-only build over binary)
    "bloom_search_binary" -> Q((s, dir) => {
      val prefix = binaryLake(s, dir)
      val lake = graft.api.GraftLake(s, prefix)
      lake.index(graft.api.BloomKind, "bkey")
      lake.search(graft.api.BloomKind, "bkey",
          hexOf("Customer#000000042"), 100, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, "SELECT c_custkey, c_name FROM customer " +
       "WHERE c_name = 'Customer#000000042' ORDER BY c_custkey"),

    "key_prefix_search" -> Q((s, dir) => {
      val p = keyIdx(s, dir)
      graft.api.KeyKind.searchIndex(s, p, "c_name", "Customer#00000001%")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, "SELECT c_custkey, c_name FROM customer WHERE c_name LIKE 'Customer#00000001%' ORDER BY c_custkey"),

    // BM25 compaction: search(merge(a,b)) with query-time IDF over the
    // merged corpus ≡ one index over everything
    "bm25_search_merged" -> Q((s, dir) => {
      val files = Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val a = IndexStore.indexPath(dir, "bm25_part0")
      val b = IndexStore.indexPath(dir, "bm25_part1")
      val m = IndexStore.indexPath(dir, "bm25_merged")
      IndexStore.ensure(m) {
        Bm25Index.build(s, files.take(2), "text", "doc_id", a)
        Bm25Index.build(s, files.drop(2), "text", "doc_id", b)
        Bm25Index.merge(s, a, b, m)
      }
      Bm25Index.search(s, m, Bm25Query, Bm25K)
    }, Bm25Index.oracleSql("documents", "text", "doc_id", Bm25Query, Bm25K)),

    // key-index compaction: merged sorted tables answer the same prefix
    "key_search_merged" -> Q((s, dir) => {
      val files = Lake.ensureSplit(s, dir, "customer", "c_custkey", 4)
      val a = IndexStore.indexPath(dir, "key_part0")
      val b = IndexStore.indexPath(dir, "key_part1")
      val m = IndexStore.indexPath(dir, "key_merged")
      IndexStore.ensure(m) {
        KeyIndex.build(s, files.take(2), "c_name", a)
        KeyIndex.build(s, files.drop(2), "c_name", b)
        KeyIndex.merge(s, a, b, m)
      }
      graft.api.KeyKind.searchIndex(s, m, "c_name", "Customer#00000001%")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, "SELECT c_custkey, c_name FROM customer WHERE c_name LIKE 'Customer#00000001%' ORDER BY c_custkey")
  )
}
