package graft.api

import graft.core.{Lake, Layout}
import graft.index.{LogCloudIndex, TokenIndex, VectorIndex, ZoneMapIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The remaining [[IndexKind]]s — vector, logcloud, zonemap — so EVERY
  * index type runs the one facade lifecycle (incremental index →
  * one-plan multi-index search → compact → vacuum), exactly how the
  * reference drives every index through one interface
  * (reference: python/rottnest/indices/index_interface.py:9-37,
  * backends/parquet.py `index_parquet_lake(..., index)`).
  */

/** Log-search kind. Variable-shaped queries go dict → outliers →
  * (hawaii-pruned) typed variables per covering index in one union
  * plan; template-text queries signal brute force (reference flag 0,
  * src/lava/logcloud/logcloud.rs:450-486). Postings are at uid
  * (row-group) granularity, like every other kind.
  */
object LogCloudKind extends RowGroupKind {

  val name = "logcloud"

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = {
    val meta = Layout.buildMeta(spark, files, Some(column)).cache()
    val lines = Layout.withUid(spark, files, meta)
      .select(col("uid").as("line_id"), col(column).as("line"))
    LogCloudIndex.build(spark, lines, path)
    meta.write.mode("overwrite").parquet(s"$path/meta")
    meta.unpersist()
  }

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit = {
    val offset = spark.read.parquet(s"$a/meta")
      .agg(max("uid")).collect()(0).getLong(0)
    LogCloudIndex.merge(spark, a, b, out, offset)
    spark.read.parquet(s"$a/meta").unionByName(
      spark.read.parquet(s"$b/meta").withColumn("uid", col("uid") + offset))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
  }

  protected def probe(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String,
      query: String): Option[Probe] =
    Some(Probe(
      // template/dictionary-text queries → brute-force signal (flag 0)
      () => if (!LogCloudIndex.isVariableQuery(query)) None
        else Some(IndexKind.probe(
          LogCloudIndex.varCandidatesMulti(spark, paths, query)
            .select(col("idx"), col("line_id").as("uid")))),
      _.filter(col(column).contains(query))))
}

/** Token-mode substring kind (token-sequence containment semantics,
  * reference token FM index). Same union-plan + cost-switch discipline
  * as NgramKind, with queries tokenized exactly like the corpus.
  */
object TokenKind extends RowGroupKind {

  val name = "token"

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = TokenIndex.build(spark, files, column, path)

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit =
    TokenIndex.merge(spark, a, b, out)

  protected def probe(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String,
      query: String): Option[Probe] = {
    val qtoks = TokenIndex.tokensOf(query)
    val qnorm = " " + qtoks.mkString(" ") + " "
    // token-less query = the empty token sequence = contained in every
    // NON-NULL row (TokenIndex/BwtDriver convention): refine must pass
    // those rows, not keep only token-less ones via the two-space
    // normal form. NULL rows are excluded like every contains-based
    // path (SQL: NULL contains anything is NULL)
    Some(Probe(
      () => if (qtoks.isEmpty) None
        else Some(IndexKind.postingUnits(spark, paths,
          TokenIndex.queryGrams(qtoks))),
      d => if (qtoks.isEmpty) d.filter(col(column).isNotNull)
        else d.filter(TokenIndex.normalForm(col(column)).contains(qnorm))))
  }
}

/** Zone-map (virtual-mode) kind: range queries `"lo..hi"` prune to
  * overlapping row-group zones (reference virtual mode,
  * backends/utils.py:110-126).
  */
object ZoneMapKind extends RowGroupKind {

  val name = "zonemap"

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = ZoneMapIndex.build(spark, files, column, path)

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit =
    ZoneMapIndex.merge(spark, a, b, out)

  private def parseRange(query: String): (Long, Long) = {
    val parts = query.split("\\.\\.")
    require(parts.length == 2, s"zonemap query must be 'lo..hi', got: $query")
    (parts(0).trim.toLong, parts(1).trim.toLong)
  }

  protected def probe(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String,
      query: String): Option[Probe] = {
    val (lo, hi) = parseRange(query)
    // bounds in the column's own type: numeric pass-through, TIMESTAMP
    // columns read lo/hi as epoch micros, DATE as epoch days
    Some(Probe(
      () => {
        val zones = IndexKind.readTagged(spark, paths, "zones")
          .select(col("idx"), col("uid"), col("lo"), col("hi"))
        val dt = zones.schema("lo").dataType
        Some(IndexKind.probe(zones
          .filter(col("hi") >= ZoneMapIndex.boundExpr(dt, lo) &&
            col("lo") <= ZoneMapIndex.boundExpr(dt, hi)))) // overlap test
      },
      d => {
        val dt = d.schema(column).dataType
        d.filter(col(column) >= ZoneMapIndex.boundExpr(dt, lo) &&
          col(column) <= ZoneMapIndex.boundExpr(dt, hi))
      }))
  }
}

/** Bloom-filter kind: exact equality probes pruned by per-row-group
  * Bloom filters — the point-lookup path for columns the lake is NOT
  * sorted by (KeyKind's sorted tables presume key-ordered data; a
  * Bloom build is map-only over ingest order). Query = the value's
  * string form; exact refine keeps the false-positive discipline.
  */
object BloomKind extends RowGroupKind {

  val name = "bloom"

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit =
    graft.index.BloomIndex.build(spark, files, column, path)

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit =
    graft.index.BloomIndex.merge(spark, a, b, out)

  protected def probe(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String,
      query: String): Option[Probe] = {
    // BinaryType columns are hashed/probed/refined in canonical hex
    // form — the blooms table's own schema carries the marker
    // (footer-only check; uniform: one column has one type)
    val bloomsAll =
      if (paths.isEmpty) None
      else Some(IndexKind.readTagged(spark, paths, "blooms"))
    val hexMode = bloomsAll.exists(graft.index.BloomIndex.isHexForm) ||
      binaryInsitu(spark, paths, insituFiles, column)
    val q = if (hexMode) query.toUpperCase else query
    Some(Probe(
      () => bloomsAll.map(b =>
        IndexKind.probe(b.filter(graft.index.BloomIndex.probe(q)))),
      d => if (hexMode) d.filter(hex(col(column)) === q)
        else d.filter(col(column).cast("string") === q)))
  }
}

/** Typo-tolerant token kind (graft.index.FuzzyIndex): SymSpell
  * deletion-neighborhood probe over every covering index in one
  * tagged scan, per-token candidate intersection at row-group
  * granularity, exact levenshtein refine. The refine predicate is
  * [[graft.index.FuzzyIndex.refinePredicate]] — shared with the
  * standalone index so facade and direct paths cannot diverge.
  */
object FuzzyKind extends RowGroupKind {

  val name = "fuzzy"

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit =
    graft.index.FuzzyIndex.build(spark, files, column, path)

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit =
    graft.index.FuzzyIndex.merge(spark, a, b, out)

  protected def probe(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String,
      query: String): Option[Probe] = {
    import graft.index.FuzzyIndex
    val qtoks = graft.text.Text.RegexTokenizer.tokenizeQuery(query)
    // an empty token stream defines no fuzzy predicate: defined empty
    // result, the MinHashKind short-query convention
    if (qtoks.isEmpty) None
    else Some(Probe(() => Some(FuzzyIndex.candUnits(spark, paths, qtoks)),
      _.filter(FuzzyIndex.refinePredicate(column, qtoks))))
  }
}

/** Near-duplicate lookup kind: the query is a raw DOCUMENT TEXT and
  * the result is every lake row whose shingle-Jaccard against it
  * clears τ — dedup-at-ingest through the facade (banded MinHash
  * postings prune, exact Jaccard verifies; graft.index.MinHashIndex).
  */
object MinHashKind extends RowGroupKind {

  val name = "minhash"

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit =
    graft.index.MinHashIndex.build(spark, files, column, path)

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit =
    graft.index.MinHashIndex.merge(spark, a, b, out)

  protected def probe(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String,
      query: String): Option[Probe] = {
    val keys = graft.index.MinHashIndex.bandKeysOf(query)
    // a query shorter than ShingleK tokens has no shingles, hence no
    // signature and (by definition) no near-duplicates
    if (keys.isEmpty) None
    else Some(Probe(
      () => Some(IndexKind.probe(
        IndexKind.readTagged(spark, paths, "postings")
          .filter(keys.map { case (b, kk) =>
            col("band") === b && col("bkey") === kk
          }.reduce(_ || _)))),
      graft.index.MinHashIndex.verifyJaccard(_, column, query)))
  }

  // every non-empty result carries the refine's `jac` column; empty
  // ones get the same schema so downstream selects never fail only on
  // empty results
  override protected def shape(df: DataFrame): DataFrame =
    if (df.columns.contains("jac")) df else df.withColumn("jac", lit(0.0))
}

/** ANN kind over an embedding column. The query is the vector itself
  * (comma-separated doubles); each covering index is probed through its
  * centroid head (`nprobe` cells, ADC pre-ranked to `refine`
  * candidates over the codes-only cells scan), hit row groups are
  * fetched, and the final exact cosine re-rank runs over fetched +
  * in-situ rows — the reference's 3-stage probe → pre-rank → rerank
  * flow (src/lava/vector/vector.rs:22-239). With the default
  * probe-everything configuration the result is exactly brute force.
  * The index stores NO full-precision vectors (`storeVecs = false`):
  * the lake is the vector store and `Layout.readGroups` is the rerank
  * fetch, exactly the reference's index/lake split
  * (vector_index.py:166-196) — half the index footprint, and the
  * pre-rank scan I/O is codes + norms only.
  */
case class VectorKind(idCol: String, nprobe: Int = Int.MaxValue,
    refine: Int = Int.MaxValue) extends IndexKind {

  val name = "vector"

  override def ranked: Boolean = true

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = {
    val meta = Layout.buildMeta(spark, files, Some(column)).cache()
    val data = Layout.withUid(spark, files, meta)
    val emb = data.select(col("uid").as("vec_id"),
      IndexKind.vecAsDoubles(spark, data, column).as("v"))
    VectorIndex.build(spark, emb, path, storeVecs = false)
    // tiny head recording the indexed column: merge re-reads the lake
    // (the index holds no vectors), so it must know which column to
    // re-extract
    import spark.implicits._
    Seq(column).toDF("column").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/vhead")
    meta.write.mode("overwrite").parquet(s"$path/meta")
    meta.unpersist()
  }

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit = {
    // fail loudly (delete-and-rebuild message) on pre-split indexes
    // instead of crashing on the missing codes/vhead tables
    VectorIndex.requireCurrentFormat(spark, a)
    VectorIndex.requireCurrentFormat(spark, b)
    // the format guard only sees the cells schema; the vhead sidecar is
    // facade-specific (raw VectorIndex.build dirs lack it) and its read
    // below would otherwise crash with a raw PATH_NOT_FOUND instead of
    // the delete-and-rebuild diagnostic
    for (p <- Seq(a, b))
      require(graft.core.Fs.exists(spark, s"$p/vhead"),
        s"vector index at $p lacks the vhead sidecar (built outside " +
          "the VectorKind facade?); delete and rebuild it through the " +
          "facade index() path")
    val offset = spark.read.parquet(s"$a/meta")
      .agg(max("uid")).collect()(0).getLong(0)
    val column = spark.read.parquet(s"$a/vhead").head().getString(0)
    val meta = spark.read.parquet(s"$a/meta").unionByName(
      spark.read.parquet(s"$b/meta").withColumn("uid", col("uid") + offset))
      .cache()
    val files = meta.select("file_path").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    // re-extract vectors from the lake (the index stores codes only)
    val data = Layout.withUid(spark, files, meta)
    val emb = data.select(col("uid").as("vec_id"),
      IndexKind.vecAsDoubles(spark, data, column).as("v"))
    VectorIndex.build(spark, emb, out, storeVecs = false)
    import spark.implicits._
    Seq(column).toDF("column").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/vhead")
    meta.coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
    meta.unpersist()
  }

  def searchLake(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String, query: String,
      k: Int, live: Option[Set[String]] = None): DataFrame = {
    val q = query.split(",").map(_.trim.toDouble).toSeq
    val qc = typedLit(q)
    val covered = coveredFiles(spark, paths, live)

    val indexed: Option[DataFrame] =
      if (covered.isEmpty) None
      else {
        // same old-format guard as the standalone searcher: a persisted
        // pre-split index must fail with the delete-and-rebuild message,
        // not an unresolved-column error mid-plan
        paths.foreach(p => VectorIndex.requireCurrentFormat(spark, p))
        // probe selection against the driver-cached centroid heads —
        // zero Spark jobs in steady state
        val probesByIdx =
          paths.map(p => VectorIndex.probeCells(spark, p, q, nprobe))
        // ONE tagged multi-path cells scan: the union of all probe sets
        // drives partition pruning on the scan itself, the per-(idx,
        // centroid) pair filter restores each index's exact probe set
        val allProbes = probesByIdx.flatten.distinct
        val pairPred = probesByIdx.zipWithIndex
          .map { case (ps, i) => col("idx") === i && col("centroid").isin(ps: _*) }
          .reduce(_ || _)
        val cells = IndexKind.readTagged(spark, paths, "cells")
          .filter(col("centroid").isin(allProbes: _*)) // partition pruning
          .filter(pairPred)
        val pre =
          if (refine == Int.MaxValue) cells // probe-everything: no pre-rank sort
          else {
            // per-index ADC pre-rank over codes + norms only (the
            // reference refines per file): no full vector is read until
            // the hit row groups are fetched from the lake. A window by
            // idx replaces the per-index orderBy+limit.
            val dtabs: Seq[Seq[Seq[Double]]] =
              paths.map(p => VectorIndex.adcTable(spark, p, q))
            val nSub = dtabs.head.length
            require(dtabs.forall(_.length == nSub),
              "covering vector indexes disagree on PQ subspace count")
            val dtabsLit = typedLit(dtabs)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("idx")
              .orderBy(col("adc").desc, col("vec_id"))
            cells
              // shared ADC expression (dot-table fold + zero-norm
              // guard): the per-row table is this row's index's slice
              // of the nested literal
              .withColumn("adc", VectorIndex.adcCol(
                element_at(dtabsLit, col("idx") + 1), nSub))
              .withColumn("__rnk", row_number().over(w))
              .filter(col("__rnk") <= refine)
          }
        val cands = pre.select(col("idx"), col("vec_id").as("uid"))
        val hits = collectHits(spark, paths, IndexKind.probe(cands), live)
        Some(Layout.readGroups(spark, hits, covered).drop("uid"))
      }

    val parts = indexed.toSeq ++
      (if (insituFiles.isEmpty) Seq.empty
       else Seq(Layout.readPinned(spark, insituFiles)))
    // empty live set: run the zero-row frame through the SAME rerank
    // projection so the result schema matches the normal path
    val base =
      if (parts.isEmpty) emptyLike(spark, paths)
      else parts.reduce(_ unionByName _)
    base
      .withColumn("cos", round(graft.GraftExtensions.cosineSim(spark,
        IndexKind.vecAsDoubles(spark, base, column), qc), 6))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}
/** Vamana graph-ANN kind — the reference's alternate vector path
  * through the same lake API (reference: the vector flow of
  * backends/utils.py:215-244 with src/vamana/vamana.rs as the engine).
  * The query is the vector itself; each covering index runs the
  * driver-side beam search ([[graft.index.VamanaIndex.beam]], batched
  * point-lookup graph hops), candidate uids resolve to row groups
  * through the cached metas, and the exact cosine rerank runs over
  * fetched + in-situ rows. The default configuration (all-medoid seed,
  * unbounded beam) provably visits every node — the build's
  * reachability patch makes it EXACT and oracle-gateable, mirroring
  * [[VectorKind]]'s probe-everything default; production sets
  * `l = SearchL, seedAll = false` and quantifies recall instead.
  */
case class VamanaKind(idCol: String, l: Int = Int.MaxValue,
    seedAll: Boolean = true) extends IndexKind {
  import graft.index.VamanaIndex

  val name = "vamana"

  override def ranked: Boolean = true

  /** Graph node identity is the ROW-granular rid ([[Layout.withRowId]])
    * — a row-group uid would collapse every vector of a retrieval unit
    * into one node. Search decodes candidate rids back to uids with the
    * metadata-sized [[Layout.ridBases]] table.
    */
  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = {
    val meta = Layout.buildMeta(spark, files, Some(column)).cache()
    val data = Layout.withRowId(spark, files, meta)
    val emb = data.select(col("rid").as("vec_id"),
      IndexKind.vecAsDoubles(spark, data, column).as("v"))
    VamanaIndex.build(spark, emb, path)
    meta.write.mode("overwrite").parquet(s"$path/meta")
    meta.unpersist()
  }

  /** Merge = rebuild over both graphs' stored vectors (the graph rows
    * carry the full-precision vectors, so no lake re-read). `b`'s meta
    * uids re-offset by `a`'s max uid like every other kind; `b`'s node
    * rids re-offset by `a`'s TOTAL ROW COUNT, which keeps the merged
    * rid space exactly the cumulative-by-uid ordinal the decode table
    * reconstructs from the merged meta.
    */
  def merge(spark: SparkSession, a: String, b: String, out: String): Unit = {
    val ma = spark.read.parquet(s"$a/meta")
    // one combined aggregate — separate max/sum jobs would each pay a
    // full a/meta read on every compaction merge
    val offs = ma.agg(max("uid"), sum("num_rows")).collect()(0)
    val (uidOff, rowOff) = (offs.getLong(0), offs.getLong(1))
    val va = spark.read.parquet(s"$a/graph").select("vec_id", "v")
    val vb = spark.read.parquet(s"$b/graph")
      .select((col("vec_id") + rowOff).as("vec_id"), col("v"))
    VamanaIndex.build(spark, va.unionByName(vb), out)
    ma.unionByName(
      spark.read.parquet(s"$b/meta").withColumn("uid", col("uid") + uidOff))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
  }

  def searchLake(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String, query: String,
      k: Int, live: Option[Set[String]] = None): DataFrame = {
    val q = query.split(",").map(_.trim.toDouble).toSeq
    val qa = q.toArray
    val qc = typedLit(q)
    val covered = coveredFiles(spark, paths, live)
    val exact = seedAll && l == Int.MaxValue

    val indexed: Option[DataFrame] =
      if (covered.isEmpty) None
      else {
        // driver beam per covering index: candidate count is bounded by
        // the beam width (or, exact, by the graph size — where the
        // totality guarantee is ENFORCED, not assumed)
        val cands = paths.map { p =>
          val (ids, visited) = VamanaIndex.beam(spark, p, qa, l,
            if (exact) 1024 else VamanaIndex.BeamW, seedAll)
          if (exact) {
            val n = VamanaIndex.nodeCount(spark, p)
            require(visited == n,
              s"exact traversal visited $visited of $n nodes — graph at " +
                s"$p is not fully reachable; rebuild it")
          }
          p -> ids
        }
        val byPath = paths.map(p => p -> metaRows(spark, p)
          .map(r => r._1 -> (r._2, r._3, r._4)).toMap).toMap
        val basesByPath = paths.map(p =>
          p -> Layout.ridBases(metaRows(spark, p))).toMap
        val hits = cands.flatMap { case (p, ids) =>
          ids.map(Layout.uidOfRid(basesByPath(p), _)).distinct.flatMap(uid =>
            byPath(p).get(uid).map { case (f, rs, n) => (f, uid, rs, n) })
        }.distinct.filter(h => live.forall(_.contains(h._1)))
        Some(Layout.readGroups(spark, hits, covered).drop("uid"))
      }

    val parts = indexed.toSeq ++
      (if (insituFiles.isEmpty) Seq.empty
       else Seq(Layout.readPinned(spark, insituFiles)))
    val base =
      if (parts.isEmpty) emptyLike(spark, paths)
      else parts.reduce(_ unionByName _)
    base
      .withColumn("cos", round(graft.GraftExtensions.cosineSim(spark,
        IndexKind.vecAsDoubles(spark, base, column), qc), 6))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}

/** Shared facade kind for the two BWT substring encodings (contains
  * semantics, real backward search). The lock-step multi-index walk
  * keeps the job count at one batched boundary-chunk fetch per LF step
  * regardless of how many indexes cover the lake, plus one posting
  * fetch and one materialize — the same constant-jobs discipline as
  * the union-plan kinds. The encodings share every line of this path
  * (and of the driver machinery behind it, [[graft.index.BwtDriver]]),
  * so they cannot drift apart semantically.
  */
abstract class BwtKind(driver: graft.index.BwtDriver) extends RowGroupKind {

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = driver.build(spark, files, column, path)

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit =
    driver.merge(spark, a, b, out)

  /** Refine predicate and walkability DELEGATE to the driver — the
    * encoding's refine semantics (raw containment for char-mode,
    * token-sequence containment for token-mode) must have exactly one
    * definition, or a tokenizer change in the driver would leave the
    * facade filtering on the old semantics and silently discard true
    * index hits.
    */
  protected def refinePred(column: String, q: String)
      : org.apache.spark.sql.Column = driver.refinePred(column, q)

  /** False when the query has no walkable symbols (always brute). */
  protected def indexable(q: String): Boolean = driver.symbols(q).nonEmpty

  protected def probe(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String,
      query: String): Option[Probe] = {
    val q = graft.text.Text.sparkLower(query)
    // symbol-less query = empty pattern = contained in every NON-NULL
    // row (the BwtDriver convention): token-mode's refinePred would
    // otherwise keep only token-less ROWS via the two-space normal
    // form. NULLs excluded, matching every contains-based path
    if (!indexable(q))
      Some(Probe(() => None, _.filter(col(column).isNotNull)))
    else Some(Probe(() => units(spark, paths, q),
      _.filter(refinePred(column, q))))
  }

  /** Candidate units of the walkable query `q`, None when a width cap
    * says scan.
    */
  private def units(spark: SparkSession, paths: Seq[String],
      q: String): Option[Set[(Int, Long)]] = {
    // one version map for the whole operation: walk, fetch, and slice
    // must all see the same build of every index
    val vers = driver.versionsOf(spark, paths)
    // skip-sampled indexes (token-mode sample_factor builds) cannot
    // join the full-pattern lock-step walk — their BWT is the THINNED
    // stream, so the full query would silently match nothing. They
    // resolve per-path through the driver's residue-union candidates.
    val (plain, sampled) = paths.partition(p =>
      driver.sampleFactor(spark, p) == 1)
    val ranges = driver.saRangeMulti(spark, plain, q, vers)
    // cost switch on total SA-range width (positions, so scaled by
    // chunk size relative to the row-group hit threshold)
    val width = ranges.values.map { case (lo, hi) => math.max(hi - lo, 0L) }.sum
    if (width > Lake.BruteForceThreshold.toLong * driver.ChunkSize) return None
    driver.fetchPostings(spark, ranges, vers) // one batched job
    // capped slices: a single over-threshold index alone decides brute
    // without the driver ever materializing an unbounded uid list
    val slices = plain.map { p =>
      val (lo, hi) = ranges(p)
      driver.postingSliceCapped(spark, p, lo, hi, Lake.BruteForceThreshold,
        Some(vers(p)))
    } ++ sampled.map { p =>
      driver.candidateUids(spark, p, q, Lake.BruteForceThreshold, vers(p))
    }
    if (slices.exists(_.isEmpty)) None
    else {
      val idx = paths.zipWithIndex.toMap
      Some((plain ++ sampled).zip(slices.flatten)
        .flatMap { case (p, uids) => uids.map(idx(p) -> _) }.toSet)
    }
  }
}

/** FM-encoded BWT substring kind. */
object FmKind extends BwtKind(graft.index.FmIndex) {
  val name = "fm"
}

/** Wavelet-encoded BWT substring kind (reference's wavelet-tree
  * variant, src/lava/substring/build.rs:20-125 + wavelet_tree.rs).
  */
object WaveletKind extends BwtKind(graft.index.WaveletIndex) {
  val name = "wavelet"
}

/** Token-mode BWT substring kind (reference's token-mode FM build,
  * src/lava/substring/build.rs:307-547): token-sequence query
  * semantics over the shared lock-step backward-search path.
  */
object TokenFmKind extends BwtKind(graft.index.TokenFmIndex) {
  // refine/walkability come from TokenFmIndex via the BwtKind
  // delegation — token-sequence semantics live in ONE place
  val name = "tokenfm"
}
