package graft.api

import graft.core.{Lake, Layout}
import graft.index.{Bm25Index, KeyIndex, NgramIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One pluggable index type for the [[GraftLake]] facade — the Spark
  * analogue of the reference's index interface, where the top-level lake
  * API takes the index object as a parameter for every type
  * (reference: python/rottnest/index_interface.py; backends/parquet.py
  * `index_parquet_lake(..., index)`).
  *
  * `searchLake` probes ALL covering index files plus the uncovered
  * (in-situ) lake files in ONE logical plan — a lake compacted into
  * hundreds of index groups must not pay hundreds of sequential Spark
  * jobs, so candidate postings are unioned tagged-by-index and the whole
  * search runs a constant number of jobs regardless of index-file count.
  */
trait IndexKind {

  /** Metadata `index_type` discriminator (e.g. "ngram", "bm25", "key"). */
  def name: String

  /** Build one index over a lake-file group at `path`. */
  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit

  /** Search every covering index (`paths`) plus in-situ files in one
    * plan. Returns lake rows for filter kinds (refined, no uid) or
    * ranked rows for ranking kinds (`ranked == true`).
    *
    * `live` restricts hits to files alive in the queried snapshot:
    * table-format backends can REMOVE files, and an index built before
    * the removal still holds their rows — hit row groups from dead
    * files must be dropped (the reference's Delta path searches
    * per-snapshot file sets, backends/delta.py:63-77).
    */
  def searchLake(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String, query: String,
      k: Int, live: Option[Set[String]] = None): DataFrame

  /** Ranking kinds order + truncate inside `searchLake`; filter kinds
    * leave ordering/truncation to the facade.
    */
  def ranked: Boolean = false

  /** Merge two indexes of this kind (compaction). */
  def merge(spark: SparkSession, a: String, b: String, out: String): Unit

  /** Driver-cached meta sidecar rows `(uid, file_path, row_start,
    * num_rows)` per index path. Index dirs are immutable once built
    * (merge writes a NEW dir), so caching on the meta mtime is sound;
    * metas are metadata-sized (one row per covered row group). This is
    * the "cacheable metadata page on the driver" pattern — searches pay
    * zero Spark jobs for coverage/hit resolution.
    */
  protected def metaRows(spark: SparkSession,
      path: String): Seq[(Long, String, Long, Long)] =
    IndexKind.metaRows(spark, path)

  /** Lake files covered by `paths` and alive in `live`. */
  protected def coveredFiles(spark: SparkSession, paths: Seq[String],
      live: Option[Set[String]]): Seq[String] =
    paths.flatMap(p => metaRows(spark, p).map(_._2)).distinct
      .filter(f => live.forall(_.contains(f))).sorted

  /** Zero-row result with the lake row schema, for searches whose
    * live/snapshot file set is empty while covering indexes exist
    * (e.g. a snapshot predating every add) — the correct answer is an
    * EMPTY result, not a crash. Schema comes from the physically
    * present covered files (table-format removes are logical; the
    * parquet objects remain until a data vacuum), falling back to the
    * in-situ files for lakes with NO covering index yet (a short-query
    * early return on an unindexed lake must not require index
    * metadata that does not exist).
    */
  protected def emptyLike(spark: SparkSession, paths: Seq[String],
      insitu: Seq[String] = Seq.empty): DataFrame = {
    val all = (coveredFiles(spark, paths, None) ++ insitu).distinct
    require(all.nonEmpty, "no live files to search")
    Layout.readPinned(spark, all).limit(0)
  }

  /** The shared search tail of every filter kind: probe the covering
    * indexes when any exist (`viaIndex` returning None = the cost
    * switch chose brute), brute-refine the in-situ files, union — the
    * both-empty case answered by ONE schema-stable empty frame.
    * Extracted because eight hand-rolled copies of this block had
    * already diverged once (a short-query early return that crashed on
    * unindexed lakes); the guards live here exactly once.
    */
  protected def searchParts(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], covered: Seq[String],
      viaIndex: () => Option[DataFrame],
      refine: DataFrame => DataFrame): DataFrame = {
    val parts =
      (if (covered.isEmpty) Seq.empty
       else Seq(viaIndex().getOrElse(
         refine(Layout.readPinned(spark, covered))))) ++
      (if (insituFiles.isEmpty) Seq.empty
       else Seq(refine(Layout.readPinned(spark, insituFiles))))
    if (parts.isEmpty) emptyLike(spark, paths, insituFiles)
    else parts.reduce(_ unionByName _)
  }

  /** Uniform cost switch (reference: brute_force_threshold,
    * backends/utils.py:221-225): too many hits, or EVERY covered row
    * group hit (zero pruning value), → the brute scan beats a
    * selective fetch.
    */
  protected def bruteBeatsIndex(spark: SparkSession, paths: Seq[String],
      hits: Seq[(String, Long, Long, Long)]): Boolean =
    hits.size > Lake.BruteForceThreshold ||
      hits.size >= paths.map(metaRows(spark, _).size).sum

  /** Resolve probed `(idx, uid)` units ([[IndexKind.probe]]) to their
    * row-group hit list: a driver map lookup against the cached metas.
    */
  protected def collectHits(spark: SparkSession, paths: Seq[String],
      units: Set[(Int, Long)], live: Option[Set[String]]): Seq[(String, Long, Long, Long)] = {
    val byIdx: Map[Int, Map[Long, (String, Long, Long)]] =
      paths.zipWithIndex.map { case (p, i) =>
        i -> metaRows(spark, p)
          .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      }.toMap
    units.toSeq.sorted
      .flatMap { case (i, u) =>
        byIdx(i).get(u).map { case (f, rs, n) => (f, u, rs, n) }
      }
      .filter(h => live.forall(_.contains(h._1)))
  }
}

object IndexKind {
  /** Driver-local signal of the last NgramKind searchLake on this
    * thread: Some(hitRowGroups) when the index route decided the plan
    * over a fully-covered lake (then hits == 0 PROVES the refined
    * result is empty — the refine only filters candidate rows), None
    * when emptiness is not driver-decidable (in-situ part, brute cost
    * switch, empty-coverage early returns). Lets the facade's
    * analytical-k smartSearch route its fuzzy fallback without a
    * second Spark action.
    */
  private[graft] val lastProbe = new ThreadLocal[Option[Long]] {
    override def initialValue(): Option[Long] = None
  }

  /** The embedding column as array<double>: ArrayType casts (exact for
    * float sources), BinaryType decodes the reference's on-disk shape
    * — fixed-width little-endian float32 blobs, dimension inferred
    * from the byte width (reference indices/vector_index.py:42-48) —
    * so a reference-shaped lake indexes without a manual cast, and
    * both shapes of the same vectors score bit-identically.
    */
  private[graft] def vecAsDoubles(spark: SparkSession,
      df: DataFrame, column: String): org.apache.spark.sql.Column =
    df.schema(column).dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        graft.GraftExtensions.floatVec(spark, col(column))
      case _ => col(column).cast("array<double>")
    }

  // keep-latest-per-path (versioned keys would strand one dead entry
  // per rebuild/vacuum cycle) AND LRU-bounded (compaction writes NEW
  // dirs, so path churn under streaming maintenance would otherwise
  // leak one dead entry per retired dir forever)
  private val cache =
    new graft.core.LruMap[String, (Long, Seq[(Long, String, Long, Long)])](512)

  /** Key-column name (key vs key_hex) of one key index, from the keys
    * dir's cached footer schema: without the cache every KeyKind search
    * pays one eager footer-read job PER covering path at plan time,
    * growing with compaction history.
    */
  private[graft] def keyColCached(spark: SparkSession, path: String): String =
    KeyIndex.keyColOf(Layout.schemaOf(spark, s"$path/keys").fieldNames.toSeq)

  /** The one candidate probe of every row-group-granular index. `rows`
    * are the tagged, term-filtered index rows `(idx, uid[, term])`;
    * with `need > 0`, `term` holds int term ordinals and a unit
    * qualifies when it holds `need` distinct terms (the posting
    * intersection), otherwise every unit of `rows` qualifies (dedup).
    *
    * ONE scan job with no shuffle; the driver intersects or dedups.
    * The hit set is metadata-sized, so a groupBy/countDistinct or
    * distinct() here only bought 3-4 AQE stage jobs over a few hundred
    * rows. Term rows are postings, distinct per (term, unit) by
    * construction, so the driver holds at most |probe terms| x
    * |covered units| small tuples — the scale of the cached
    * [[metaRows]]. Dedup rows (key occurrences, vector cells, log
    * lines) can be data-scale: each partition dedups its own units
    * before the collect.
    */
  private[graft] def probe(rows: DataFrame, need: Int = 0): Set[(Int, Long)] =
    if (need > 0) unitTerms(rows).filter(_._2.size == need).keySet
    else {
      val qe = rows.select(col("idx").cast("int"), col("uid").cast("long"))
        .queryExecution
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
          Some("index probe")) {
        qe.toRdd.mapPartitions { it =>
          val units = scala.collection.mutable.HashSet.empty[(Int, Long)]
          it.foreach(r => units += ((r.getInt(0), r.getLong(1))))
          units.iterator
        }.collect().toSet
      }
    }

  /** Distinct term ordinals per `(idx, uid)` unit of posting rows —
    * the one-job collect under [[probe]] and [[postingTerms]].
    */
  private def unitTerms(rows: DataFrame): Map[(Int, Long), Set[Int]] =
    rows.select(col("idx").cast("int"), col("uid").cast("long"),
        col("term").cast("int"))
      .collect()
      .groupMap(r => (r.getInt(0), r.getLong(1)))(_.getInt(2))
      .map { case (u, ts) => u -> ts.toSet }

  /** 0-based ordinal of `c` in `terms` as the int `term` column (-1
    * if absent; probe rows are filtered to `terms` first).
    */
  private def ordinal(c: org.apache.spark.sql.Column,
      terms: Seq[String]): org.apache.spark.sql.Column =
    (array_position(typedLit(terms), c) - 1).cast("int").as("term")

  /** Ordinals of `terms` (distinct) held per unit of the covering
    * indexes' bucketed `postings` — the one-job posting scan under
    * [[postingUnits]] and the boolean-tree probe.
    */
  private[graft] def postingTerms(spark: SparkSession, paths: Seq[String],
      terms: Seq[String]): Map[(Int, Long), Set[Int]] = {
    val buckets = terms.map(graft.index.Bucketing.bucketOfString).distinct
    unitTerms(readTagged(spark, paths, "postings")
      .filter(col("bucket").isin(buckets: _*) && col("gram").isin(terms: _*))
      .select(col("idx"), col("uid"), ordinal(col("gram"), terms)))
  }

  /** Units of the covering indexes `paths` whose postings hold EVERY
    * one of `terms` — the posting intersection of the ngram, regex,
    * token and SQL-rewrite probes, in one job.
    */
  private[graft] def postingUnits(spark: SparkSession, paths: Seq[String],
      terms: Seq[String]): Set[(Int, Long)] = {
    val ts = terms.distinct
    postingTerms(spark, paths, ts).filter(_._2.size == ts.size).keySet
  }

  /** The standalone single-index search tail: candidate uids (None =
    * the index cannot bound the query) → the uniform cost switch (too
    * many hits, or every unit hit) → a selective read of the hit units
    * (`uid` kept), else the covered-files scan (`uid` = -1). `refine`
    * applies on both routes.
    */
  private[graft] def searchOne(spark: SparkSession, path: String,
      cands: Option[Set[Long]], refine: DataFrame => DataFrame): DataFrame = {
    val meta = metaRows(spark, path)
    val covered = meta.map(_._2).distinct.sorted
    cands match {
      case Some(us) if us.size <= Lake.BruteForceThreshold && us.size < meta.size =>
        val hits = meta.filter(r => us.contains(r._1))
          .map { case (u, f, rs, n) => (f, u, rs, n) }
        refine(Layout.readGroups(spark, hits, covered))
      case _ =>
        refine(Layout.readPinned(spark, covered)).withColumn("uid", lit(-1L))
    }
  }

  /** Union scan of the same sub-table across several index dirs, each
    * row tagged with its index ordinal (`idx`). Every read pins the
    * sub-table's schema ([[Layout.schemaOf]] of the first index — all
    * indexes of a kind share it by construction): a bare
    * `spark.read.parquet` resolves its schema EAGERLY with one listing/
    * schema job per call, which made facade searches pay one job PER
    * COVERING INDEX at plan time. With the schema pinned, planning runs
    * zero jobs and the search stays at a constant job count as
    * compaction history grows (pinned by JobCountSpec). Per-path reads
    * keep per-root partition discovery (and so partition pruning) —
    * one multi-root read would reject the conflicting `bucket=`
    * layouts.
    */
  private[graft] def readTagged(spark: SparkSession, paths: Seq[String],
      sub: String): DataFrame = {
    val schema = Layout.schemaOf(spark, s"${paths.head}/$sub")
    paths.zipWithIndex.map { case (p, i) =>
      spark.read.schema(schema).parquet(s"$p/$sub")
        .withColumn("idx", lit(i))
    }.reduce(_ unionByName _)
  }

  private[graft] def metaRows(spark: SparkSession,
      path: String): Seq[(Long, String, Long, Long)] = {
    val mtime = graft.core.Fs.dirSignature(spark, s"$path/meta")
    cache.get(path) match {
      case Some((m, rows)) if m == mtime => rows
      case _ =>
        val rows = spark.read.parquet(s"$path/meta")
          .select("uid", "file_path", "row_start", "num_rows")
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
          .toSeq
        cache.put(path, (mtime, rows))
        rows
    }
  }
}

/** Character-ngram substring index kind (contains semantics). */
object NgramKind extends IndexKind {

  val name = "ngram"

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = NgramIndex.build(spark, files, column, path)

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit =
    NgramIndex.merge(spark, a, b, out)

  def searchLake(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String, query: String,
      k: Int, live: Option[Set[String]] = None): DataFrame = {
    val q = graft.text.Text.sparkLower(query)
    // metadata-sized; empty without a job when paths is empty
    val covered = coveredFiles(spark, paths, live)
    var probedHits: Option[Long] = None

    def viaIndex(): Option[DataFrame] = {
      if (q.isEmpty) return None // contains("") = every row: brute
      // short queries probe their exact 1/2-gram (no scan cliff);
      // grams are CODE-POINT windows to match the Spark-side build
      val qgrams = {
        val cpg = graft.text.Text.cpGrams(q, NgramIndex.N)
        if (cpg.nonEmpty) graft.text.QueryShaping.viableGrams(cpg.distinct)
        else Seq(q)
      }
      // every covering index probed in ONE multi-path scan (a per-index
      // read+union would pay a listing/schema job per index)
      val hits = collectHits(spark, paths,
        IndexKind.postingUnits(spark, paths, qgrams), live)
      // ONE global cost switch over the whole lake's hit count
      if (bruteBeatsIndex(spark, paths, hits)) None
      else {
        probedHits = Some(hits.size.toLong)
        Some(
          Layout.readGroups(spark, hits, covered).drop("uid")
            .filter(lower(col(column)).contains(q)))
      }
    }

    // an empty live-restricted covered set (every indexed file removed,
    // or a snapshot predating all indexed files) must skip the indexed
    // branch — brute([]) / readGroups' empty-schema path would throw;
    // searchParts holds that guard for every filter kind
    val res = searchParts(spark, paths, insituFiles, covered,
      () => viaIndex(), d => d.filter(lower(col(column)).contains(q)))
    // the driver-local emptiness signal is only valid when the index
    // route decided the WHOLE plan (no in-situ part to scan)
    IndexKind.lastProbe.set(if (insituFiles.isEmpty) probedHits else None)
    res
  }
}

/** Regex search over the SAME committed ngram indexes (name = "ngram":
  * builds, coverage, compaction, vacuum are all shared with
  * [[NgramKind]] — regex is a query MODE of the substring index, not a
  * second index to maintain). The query string is a Java-regex pattern
  * matched with contains semantics against `lower(column)`; the index
  * is probed with the pattern's REQUIRED literal runs
  * ([[graft.text.QueryShaping.requiredLiterals]]) and the exact rlike
  * refine runs only over candidate row groups. Patterns with no
  * required literal (top-level alternation, all-optional) take the
  * scan-and-refine fallback; in-situ files always take the rlike scan.
  */
object NgramRegexKind extends IndexKind {

  val name = "ngram"

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = NgramIndex.build(spark, files, column, path)

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit =
    NgramIndex.merge(spark, a, b, out)

  def searchLake(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String, query: String,
      k: Int, live: Option[Set[String]] = None): DataFrame = {
    val covered = coveredFiles(spark, paths, live)
    val lits = graft.text.QueryShaping.requiredLiterals(query)
      .map(graft.text.Text.sparkLower).filter(_.nonEmpty)

    def viaIndex(): Option[DataFrame] = {
      if (lits.isEmpty) return None // nothing required: brute
      // every literal's grams must all be present in a candidate row
      // group (a matching row contains every literal); literals below
      // the gram width probe their exact short gram
      val qgrams = lits.flatMap { l =>
        val cpg = graft.text.Text.cpGrams(l, NgramIndex.N)
        if (cpg.nonEmpty) cpg else Seq(l)
      }.distinct
      val probeGrams = graft.text.QueryShaping.viableGrams(qgrams)
      val hits = collectHits(spark, paths,
        IndexKind.postingUnits(spark, paths, probeGrams), live)
      if (bruteBeatsIndex(spark, paths, hits)) None
      else Some(
        Layout.readGroups(spark, hits, covered).drop("uid")
          .filter(lower(col(column)).rlike(query)))
    }

    searchParts(spark, paths, insituFiles, covered, () => viaIndex(),
      d => d.filter(lower(col(column)).rlike(query)))
  }
}

/** Boolean-query mode of the SAME committed ngram indexes (name =
  * "ngram", like [[NgramRegexKind]] — builds, coverage, compaction and
  * vacuum are shared; boolean is a query MODE, not a second index).
  * The query string is the [[graft.text.BoolQueryParser]] surface
  * (`"fast scan" OR slow AND NOT vector`); candidates compose by the
  * [[graft.index.BoolSearch]] set algebra over (idx, uid) pairs across
  * every covering index, one selective read, one combined refine.
  * In-situ files always take the full predicate scan.
  */
object BoolNgramKind extends IndexKind {

  val name = "ngram"

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = NgramIndex.build(spark, files, column, path)

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit =
    NgramIndex.merge(spark, a, b, out)

  def searchLake(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String, query: String,
      k: Int, live: Option[Set[String]] = None): DataFrame = {
    import graft.index.BoolSearch
    val tree = graft.text.BoolQueryParser.parse(query)
    val covered = coveredFiles(spark, paths, live)
    def refine(d: DataFrame): DataFrame =
      d.filter(BoolSearch.predicate(column, tree))

    def viaIndex(): Option[DataFrame] =
      BoolSearch.candUnits(spark, paths, tree) match {
        case None => None // unbounded tree: brute covered scan
        case Some(set) =>
          val hits = collectHits(spark, paths, set, live)
          if (bruteBeatsIndex(spark, paths, hits)) None
          else Some(refine(
            Layout.readGroups(spark, hits, covered).drop("uid")))
      }

    searchParts(spark, paths, insituFiles, covered, () => viaIndex(),
      refine)
  }
}

/** BM25 ranked full-text kind. `idCol` is the per-row document id.
  * A fully covered search at search-box k rides the warm scorer
  * ([[graft.index.Serve.bm25Weighted]]: zero jobs warm, same rows).
  * Uncovered files are scored IN-SITU at query time (postings + doc
  * stats computed on the fly for the query tokens, reference fills from
  * unindexed files the same way, backends/utils.py:249-275) and unioned
  * with the index tables BEFORE scoring, so corpus statistics — and
  * therefore the ranking — stay global and exact at any coverage.
  */
case class Bm25Kind(idCol: String,
    tokenizer: graft.text.Text.Tokenizer = graft.text.Text.RegexTokenizer)
    extends IndexKind {

  // the tokenizer id keeps two tokenizations of one column apart in
  // the lake's index namespace — otherwise the second kind would see
  // the first's coverage as its own and search the wrong token stream
  val name = "bm25" +
    (if (tokenizer.id.isEmpty) "" else s"_${tokenizer.id}")

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit =
    Bm25Index.build(spark, files, column, idCol, path, tokenizer)

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit =
    Bm25Index.merge(spark, a, b, out)

  override def ranked: Boolean = true

  def searchLake(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String, query: String,
      k: Int, live: Option[Set[String]] = None): DataFrame = {
    // corpus stats are whole-index aggregates: stale coverage (a file
    // removed after indexing) would silently skew IDF, so reject it
    live.foreach { l =>
      val stale = coveredFiles(spark, paths, None).filterNot(l)
      require(stale.isEmpty,
        s"bm25 index covers ${stale.size} file(s) not in the queried snapshot; re-index first")
    }
    require(paths.nonEmpty || insituFiles.nonEmpty, "no live files to search")
    val terms = tokenizer.tokenizeQuery(query).distinct.map(_ -> 1.0)
    val qtoks = terms.map(_._1)
    if (insituFiles.isEmpty)
      // the warm scorer materializes ≤ k rows on the driver: only in
      // the search-box regime; analytical k keeps the lazy plan
      return if (k <= GraftLake.SmartMaterializeMaxK)
        graft.index.Serve.bm25Weighted(spark, paths, terms, k)
      else Bm25Index.searchWeightedMany(spark, paths, terms, k)
    val insitu @ (_, idl) = Bm25Index.insituStats(spark, insituFiles,
      column, idCol, qtoks, tokenizer)
    val all = (if (paths.isEmpty) Seq.empty
      else Seq(Bm25Index.indexStats(spark, paths, qtoks))) :+ insitu
    // the covered part's corpus stats come from the cached heads; only
    // the in-situ docs pay an aggregate
    val (covDocs, covDl) = Bm25Index.corpusStats(spark, paths)
    val (inDocs, inDl) = Bm25Index.dlStats(idl)
    Bm25Index.scoreWeighted(spark, all.map(_._1).reduce(_ unionByName _),
      all.map(_._2).reduce(_ unionByName _), terms, k,
      (covDocs + inDocs, covDl + inDl))
  }
}

/** Exact/prefix key kind over sorted key tables. A trailing `%` in the
  * query selects prefix mode (reference type "uuid" is exact;
  * prefix walk: src/lava/uuid/uuid.rs:106-162).
  */
object KeyKind extends IndexKind {

  val name = "key"

  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = KeyIndex.build(spark, files, column, path)

  def merge(spark: SparkSession, a: String, b: String, out: String): Unit =
    KeyIndex.merge(spark, a, b, out)

  def searchLake(spark: SparkSession, paths: Seq[String],
      insituFiles: Seq[String], column: String, query: String,
      k: Int, live: Option[Set[String]] = None): DataFrame = {
    val prefixMode = query.endsWith("%")
    // the key table's own schema says whether this column was indexed
    // in canonical hex form (BinaryType source). Checked per PATH
    // footer: readTagged forces the first path's schema onto all of
    // them, so a mixed key/key_hex generation set would silently read
    // the other generation's key column as NULL and drop its hits —
    // mixed sets demote to the brute covered scan instead (correct,
    // just unpruned, until compaction unifies the generations).
    // Cached per keys-dir signature so warm searches stay footer-free.
    val keyCols =
      paths.map(p => IndexKind.keyColCached(spark, p)).distinct
    val mixedGenerations = keyCols.size > 1
    val keysAll =
      if (paths.isEmpty || mixedGenerations) None
      else Some(IndexKind.readTagged(spark, paths, "keys"))
    val hexMode = keyCols.contains(KeyIndex.HexKeyCol) ||
      (paths.isEmpty && insituFiles.nonEmpty &&
        Layout.schemaOf(spark, insituFiles.head).fields.exists(f =>
          f.name == column &&
            f.dataType == org.apache.spark.sql.types.BinaryType))
    val kc = if (hexMode) KeyIndex.HexKeyCol else "key"
    val key0 = if (prefixMode) query.dropRight(1) else query
    val key = if (hexMode) key0.toUpperCase else key0
    def keyed: org.apache.spark.sql.Column =
      if (hexMode) hex(col(column)) else col(column)
    def refine(d: DataFrame): DataFrame =
      if (prefixMode) d.filter(keyed.startsWith(key))
      else d.filter(keyed === key)
    val covered = coveredFiles(spark, paths, live)

    def viaIndex(): Option[DataFrame] = {
      if (keysAll.isEmpty) return None // mixed generations: brute scan
      val keys = keysAll.get
        .select(col("idx"), col(kc).as("key"), col("uid"))
      val ranged =
        if (!prefixMode) keys.filter(col("key") === key)
        else KeyIndex.prefixUpperBound(key) match {
          case Some(hi) => keys.filter(col("key") >= key && col("key") < hi)
          case None     => keys.filter(col("key") >= key)
        }
      val hits = collectHits(spark, paths, IndexKind.probe(ranged), live)
      if (bruteBeatsIndex(spark, paths, hits)) None
      else Some(refine(Layout.readGroups(spark, hits, covered).drop("uid")))
    }

    // same empty-covered guard as NgramKind (ADVICE r2), via searchParts
    searchParts(spark, paths, insituFiles, covered, () => viaIndex(), refine)
  }
}
