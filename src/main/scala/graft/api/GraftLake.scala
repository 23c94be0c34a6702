package graft.api

import graft.core.{IndexStore, Lake, Layout}
import graft.ops.Maintenance
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** User-facing facade over one lake — the equivalent of the
  * reference's top-level API (reference: python/rottnest/backends/
  * {parquet,delta}.py — index_parquet_lake / search_parquet_lake /
  * index_delta / search_delta / compact / vacuum). Every operation
  * takes the [[IndexKind]] as a parameter, mirroring the reference
  * API's `index` argument, so ngram/bm25/key/... all run the same
  * incremental index → search → compact → vacuum lifecycle; the
  * [[LakeBackend]] decides where live data files come from
  * (plain prefix or Delta-protocol table, with snapshots).
  *
  * - `index(kind, column)`: incremental — bin-packs only files not yet
  *   covered by an index of this (kind, column) into groups
  *   (reference: binpack_row_threshold, backends/parquet.py:85-103),
  *   builds one index per group, commits metadata.
  * - `search(kind, column, query, k)`: probes every covering index and
  *   in-situ-scans uncovered files in ONE plan
  *   (backends/utils.py:235-282), refines and truncates to K only at
  *   the end.
  * - `compact(kind, column)`: merges small indexes (append-then-delete
  *   commit), then vacuums unreferenced index files.
  */
case class GraftLake(spark: SparkSession, backend: LakeBackend) {

  private val prefix = backend.id

  private def kindName(kind: IndexKind, column: String) =
    s"${kind.name}_$column"

  def files: Seq[String] = backend.files

  private def metadata: Option[DataFrame] =
    IndexStore.readMetadata(spark, prefix)

  /** (index_file, covered files) for this (kind, column)'s indexes —
    * served from the driver-side metadata row cache (one job per
    * metadata version, not per call).
    *
    * The raw rows pass through greedy max-coverage selection (the
    * reference's Delta walk, backends/delta.py:77-93) so REDUNDANT
    * indexes are dropped before any search: compact's crash-tolerant
    * append-then-delete commit has a window (and a possible post-crash
    * state) where both the superseded part-indexes and their merged
    * superset are committed — probing both would return every row of
    * the doubly-covered files twice and double-count BM25 corpus stats.
    * The facade only ever creates disjoint groups and superset merges,
    * so the greedy cover is exact deduplication here.
    */
  private def coverage(kind: IndexKind, column: String): Seq[(String, Seq[String])] =
    coverageByName(kind.name, column)

  /** [[coverage]] keyed by kind NAME — for metadata-scale consumers
    * outside the facade (graft_suggest) that must share search()'s
    * routing discipline (greedy dedup of the compaction overlap
    * window, physical-existence demotion) without an [[IndexKind]]
    * instance in hand.
    */
  private[graft] def coverageByName(kindName: String,
      column: String): Seq[(String, Seq[String])] = {
    val all = IndexStore.metadataRowsCached(spark, prefix)
      .filter(r => r.column == column && r.indexType == kindName)
      .map(r => (r.indexFile, r.files.map(Layout.canonPath)))
    // metadata and physical state can disagree (a dir deleted out of
    // band, a vacuum racing a commit): a row whose index is GONE must
    // demote its files to in-situ/rebuild, not crash every search.
    // Hadoop-FS check, not java.nio (on an s3a/hdfs index store a
    // local-FS exists() is always false and every search would silently
    // demote to a brute-force scan), batched as one LIST per parent dir
    // instead of one HEAD per row — per-row stats would be O(#indexes)
    // object-store round trips on every search.
    val present = graft.core.Fs.existing(spark, all.map(_._1))
    val alive = all.filter(r => present.contains(r._1))
    if (alive.size <= 1) return alive
    val byPath = alive.toMap
    Maintenance.selectIndexes(alive.flatMap(_._2).toSet,
        alive.map { case (p, fs) => (p, fs.toSet) })
      .map(p => p -> byPath(p))
  }

  /** Index all not-yet-covered files; returns new index paths. */
  def index(kind: IndexKind, column: String,
      binpackRows: Long = 10000): Seq[String] = {
    val covered = coverage(kind, column).flatMap(_._2).toSet
    val todo = files.filterNot(covered)
    if (todo.isEmpty) return Seq.empty
    val scanned = Layout.scan(spark, todo)
      .groupBy(col("file_path")).agg(sum(col("num_rows")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // zero-row-group files emit no footer rows: without an explicit
    // 0-count entry they would never join a group, so index() re-scans
    // them forever and every search pays an in-situ part for them
    val counted = scanned.map(_._1).toSet
    val counts = (scanned.toSeq ++
      todo.filterNot(f => counted.contains(f)).map(_ -> 0L)).sortBy(_._1)
    Maintenance.binpack(counts, binpackRows).map { group =>
      // 64-bit id: an 8-hex (32-bit) truncation collides at ~1% per
      // 10k groups, and a collision permanently skips a group's build
      // via the ensure marker
      val id = GraftLake.groupId(group.mkString("|"))
      val p = IndexStore.indexPath(prefix, s"${kindName(kind, column)}_$id")
      val groupCounts = counts.filter(c => group.contains(c._1))
      // the metadata commit happens AFTER ensure() so the marker is
      // already on disk when the row lands: a concurrent search's
      // demote path classifies indexes by marker, and a committed row
      // with no marker yet would read as "broken" and be deleted.
      // The marker-without-row window this ordering opens instead is
      // the one the re-commit below closes — which also self-heals a
      // STALE marker whose row was deleted long ago (compact treats
      // superseded parts as redundant; their dirs outlive the rows
      // until vacuum). Without it, a regenerated group would no-op on
      // the stale marker and its files would stay uncovered (silently
      // brute-scanned) until the dir aged out.
      IndexStore.ensure(p) { kind.build(spark, group, column, p) }
      if (!IndexStore.metadataRowsCached(spark, prefix)
          .exists(_.indexFile == p))
        IndexStore.commitMetadata(spark, prefix,
          IndexStore.metadataRows(spark, prefix, column,
            groupCounts.map(_._1).toSeq, groupCounts.map(_._2).toSeq,
            p, kind.name, groupCounts.map(_._2).sum))
      p
    }
  }

  /** Search across covering indexes + in-situ scan of uncovered files;
    * refine-then-truncate (reference: truncation only after refine).
    * `order` columns make the K-truncation deterministic for filter
    * kinds; ranking kinds order by their own score. `snapshot` time
    * travels on versioned backends (reference: search_delta(snapshot),
    * backends/delta.py:63-72): hits are restricted to files live at
    * that version.
    *
    * Warm routes answer from the driver tier ([[graft.index.Serve]]),
    * zero Spark jobs once its caches hold the query's slices and rows,
    * with the Spark plan's rows: vector and vamana (ADC / beam +
    * exact rerank), ngram and exact-mode key (point lookup, then the
    * orderBy+limit tail driver-side). They share the preconditions: no
    * snapshot, k ≤ [[GraftLake.SmartMaterializeMaxK]], and ONE
    * covering index over every live file on a backend that cannot
    * remove files ([[servablePath]]). Any decline (budget,
    * non-selective probe, non-string key, non-atomic order column) runs
    * the Spark plan unchanged. Ranked bm25 reaches the same tier inside
    * [[Bm25Kind]], over any number of covering indexes.
    */
  def search(kind: IndexKind, column: String, query: String, k: Int,
      order: Seq[String] = Seq.empty,
      snapshot: Option[Long] = None): DataFrame = {
    // warm vector serving: ONE covering index, no in-situ part, no
    // snapshot (the servablePath preconditions) routes through the
    // driver tier — ADC over cached code slices + lake rows from the
    // shared hit-row cache + exact rerank, zero Spark jobs warm,
    // bit-identical rows (VectorSpec pin). Any decline (format,
    // budget, non-selective probe, undecodable vector) falls through
    // to the ordinary distributed plan below.
    kind match {
      case vk: VectorKind
          if snapshot.isEmpty && k <= GraftLake.SmartMaterializeMaxK =>
        // the k-gate is the SmartMaterializeMaxK discipline: serving
        // materializes ≤ k rows driver-side, which is only admissible
        // in the search-box regime — analytical-k calls keep the lazy
        // distributed plan
        servablePath(vk.name, column).foreach { p =>
          // the whole warm attempt is try-wrapped: it runs BEFORE the
          // ranked-kind integrity demotion and outside the
          // missingFileCause retry below, so a half-deleted
          // (crashed-vacuum) or racing-rebuild index that the
          // distributed path self-heals must fall through to it, not
          // surface as an exception from search()
          try {
            val qv = query.split(",").map(_.trim.toDouble).toSeq
            graft.index.Serve.vectorLake(spark, p, column, qv, k,
              vk.nprobe, vk.refine, vk.idCol).foreach(df => return df)
          } catch { case scala.util.control.NonFatal(_) => }
        }
      case vk: VamanaKind
          if snapshot.isEmpty && k <= GraftLake.SmartMaterializeMaxK =>
        // same discipline for the graph kind: beam + materialization +
        // rerank all driver-side from the shared warm caches, zero
        // Spark jobs in the steady state; any decline or integrity
        // exception falls through to the distributed plan
        servablePath(vk.name, column).foreach { p =>
          try {
            val qv = query.split(",").map(_.trim.toDouble).toSeq
            graft.index.Serve.vamanaLake(spark, p, column, qv, k,
              vk.l, vk.seedAll, vk.idCol).foreach(df => return df)
          } catch { case scala.util.control.NonFatal(_) => }
        }
      case _ =>
    }
    val live = backend.filesAt(snapshot).toSet
    val cov0 = coverage(kind, column)
    // a ranked kind may return a LAZY plan (bm25 at analytical k or
    // with an in-situ part, vector plans) whose index reads execute
    // after search() returns, where the missing-file catch below can
    // never fire: a half-deleted index (crashed vacuum) would be a
    // per-action crash loop. Classify integrity by the _GRAFT_DONE
    // marker UP FRONT instead (deleteRec removes the marker first, so a
    // half-deleted dir is marker-less); every ranked-kind build path
    // goes through ensure() and carries one.
    val cov =
      if (!kind.ranked) cov0
      else {
        val (healthy, broken) =
          cov0.partition(c => IndexStore.isBuilt(c._1))
        if (broken.nonEmpty)
          IndexStore.deleteMetadata(spark, prefix, broken.map(_._1))
        healthy
      }
    // hit filtering only matters when coverage can exceed the live set
    val restrict =
      if (backend.canRemove || snapshot.nonEmpty) Some(live) else None
    def attempt(c: Seq[(String, Seq[String])]): DataFrame = {
      val uncovered = (live -- c.flatMap(_._2).toSet).toSeq.sorted
      // live.isEmpty: a snapshot predating every add must answer the
      // schema-stable empty frame for EVERY kind — skipping into
      // searchLake with restrict = Some(empty) trips bm25's
      // stale-coverage guard into a misleading "re-index first" crash
      if (live.isEmpty || (c.isEmpty && uncovered.isEmpty)) {
        // schema-stable empty result (the kind-level emptyLike
        // contract): an empty-at-snapshot, not-yet-indexed lake must
        // still answer with the RESULT's columns — table columns plus
        // any ranking column the kind appends — so downstream
        // .select/.orderBy resolve. The kind itself derives that
        // schema: a zero-row in-situ probe over any historical file
        // (removes are logical; the object outlives the live set).
        // Only a lake with no files at ANY version has none to offer.
        return backend.schemaFile match {
          case None => spark.emptyDataFrame
          case Some(f) =>
            kind.searchLake(spark, Seq.empty, Seq(f), column, query, k)
              .limit(0)
        }
      }
      // warm lexical route: inside attempt, so the missing-file retry
      // below covers it too
      val warm =
        if (snapshot.nonEmpty || k > GraftLake.SmartMaterializeMaxK) None
        else soleIndex(c, live).flatMap(p => kind match {
          case NgramKind =>
            graft.index.Serve.ngramRows(spark, p, column, query)
          case KeyKind if !query.endsWith("%") =>
            graft.index.Serve.keyRows(spark, p, column, query)
          case _ => None
        })
      warm.flatMap(localTop(_, order, k)).getOrElse {
        val res = kind.searchLake(spark, c.map(_._1), uncovered, column,
          query, k, restrict)
        if (kind.ranked) res
        else res.orderBy(order.map(col): _*).limit(k)
      }
    }
    try attempt(cov) catch {
      case e: Exception if GraftLake.missingFileCause(e) =>
        // a covering index dir lost children out of band (crashed
        // vacuum mid-walk): coverage()'s batched existence check sees
        // the dir, the probe crashes on the missing sub-table. Marker
        // check decides integrity (build writes _GRAFT_DONE last,
        // deleteRec removes it first): demote marker-less indexes to
        // in-situ, drop their stale metadata rows so the files
        // rebuild on the next index(), and retry ONCE.
        val (healthy, broken) = cov.partition(c => IndexStore.isBuilt(c._1))
        if (broken.isEmpty) throw e
        IndexStore.deleteMetadata(spark, prefix, broken.map(_._1))
        attempt(healthy)
    }
  }

  /** Observability: how a `search(kind, column)` WOULD route, with no
    * data read — the structured twin of the reference's per-stage
    * timing prints (indices/vector_index.py:158,189,
    * indices/logcloud_index.py:50-90). One row of metadata-scale
    * accounting: live file count, covering indexes after greedy
    * max-coverage selection, the covered vs in-situ split the search
    * plan will use, and covered-but-no-longer-live files (a vacuum /
    * snapshot-drift signal). `covering_indexes = 0` or a large
    * `insitu_files` is the answer to "why is this search a full
    * scan"; `stale_covered_files > 0` says compaction is overdue.
    */
  def explainSearch(kind: IndexKind, column: String,
      snapshot: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val live = backend.filesAt(snapshot).toSet
    val cov = coverage(kind, column)
    val covered = cov.flatMap(_._2).toSet
    Seq((kind.name, column, live.size.toLong, cov.size.toLong,
        (covered & live).size.toLong, (live -- covered).size.toLong,
        (covered -- live).size.toLong))
      .toDF("kind", "col_name", "live_files", "covering_indexes",
        "covered_files", "insitu_files", "stale_covered_files")
  }

  /** The search-box entry point: route a raw query string to the right
    * mode by its SHAPE ([[graft.text.QueryShaping.route]]) — quoted
    * phrases / operator words → boolean tree over the committed ngram
    * indexes (an UNPARSEABLE bool shape — unbalanced quote, trailing
    * operator — degrades to exact, like the regex compile guard), regex
    * metacharacters → literal-probed regex with literal characters
    * lowercased and every construct preserved
    * ([[graft.text.QueryShaping.smartRegexForm]] — the refine matches
    * `lower(column)`), a FULLY-quoted query → exact contains
    * of the inner text (the escape for literal operator words:
    * `"TO BE OR NOT TO BE"`), otherwise exact contains — and when an
    * exact search finds NOTHING, retry typo-tolerant (the "did you
    * mean" fallback; FuzzyKind serves from a fuzzy index when one is
    * committed, in-situ brute otherwise — in the analytical-k regime,
    * k > [[GraftLake.SmartMaterializeMaxK]], the fallback fires on
    * INDEX-certain emptiness: zero candidate row groups over a fully
    * covered lake; a candidate set whose refine strikes out stands as
    * the exact empty result, since silently widening an analytical
    * query to typo matches is the wrong trade there).
    *
    * CONTRACT NOTE — the fuzzy fallback is therefore REGIME-DEPENDENT
    * at the [[GraftLake.SmartMaterializeMaxK]] boundary: a query whose
    * index probe finds candidate row groups but whose refine matches
    * nothing returns typo-tolerant matches at k ≤ the boundary
    * (materialized emptiness routes to fuzzy) and the exact EMPTY
    * result above it (emptiness there is only acted on when the INDEX
    * proves it — the analytical regime never pays a second Spark pass,
    * and never silently widens). Callers that want fuzzy semantics at
    * analytical k should call `search(FuzzyKind, ...)` explicitly.
    * Every route shares the one search lifecycle (coverage, snapshot,
    * in-situ fill, refine-then-truncate).
    *
    * Single-pass on the exact route: the result is ≤ k rows by
    * construction, so it is materialized ONCE (driver-local) and the
    * emptiness routing decided on those rows — the caller's action
    * replays a LocalTableScan, never the whole probe + selective read
    * + refine a second time (pinned by JobCountSpec).
    */
  def smartSearch(column: String, query: String, k: Int,
      order: Seq[String] = Seq.empty,
      snapshot: Option[Long] = None): DataFrame =
    graft.text.QueryShaping.route(query) match {
      case ("bool", q) =>
        search(BoolNgramKind, column, q, k, order, snapshot)
      case ("regex", q) =>
        // the refine matches against lower(column): literal characters
        // lower (case-insensitive search-box semantics), regex
        // constructs survive verbatim (QueryShaping.smartRegexForm)
        search(NgramRegexKind, column,
          graft.text.QueryShaping.smartRegexForm(q), k, order, snapshot)
      case (_, q) => exactRoute(column, q, k, order, snapshot)
    }

  /** smartSearch's exact route. In the search-box regime (small k) the
    * result is materialized ONCE and the fuzzy fallback decided on the
    * rows; [[search]]'s warm ngram route serves them with zero Spark
    * jobs in the steady state when the lake's shape allows (pinned by
    * JobCountSpec). Identical rows on every path.
    */
  private def exactRoute(column: String, q: String, k: Int,
      order: Seq[String], snapshot: Option[Long]): DataFrame = {
    if (k <= GraftLake.SmartMaterializeMaxK) {
      val exact = search(NgramKind, column, q, k, order, snapshot)
      val rows = exact.collect()
      if (rows.nonEmpty)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), exact.schema)
      else fuzzyFallback(column, q, k, order, snapshot)
    } else {
      // analytical-sized k: a driver materialization of k rows is the
      // thing the no-data-scale-collect stance forbids, so the lazy
      // plan is returned. The fuzzy fallback routes on the probe's
      // DRIVER-LOCAL candidate count (already collected building the
      // plan): zero candidate row groups over a fully-covered lake
      // PROVES the refined result is empty — single-pass, no second
      // Spark action; a non-zero count returns the exact plan (the
      // analytical regime wants exact-contains semantics, not a silent
      // typo-widened result set, so a refine that happens to strike
      // out stands as empty). Only when emptiness is not
      // driver-decidable (in-situ part, brute cost switch) does one
      // limit(1) action decide the route, as before.
      IndexKind.lastProbe.remove()
      val exact = search(NgramKind, column, q, k, order, snapshot)
      IndexKind.lastProbe.get() match {
        case Some(0L) => search(FuzzyKind, column, q, k, order, snapshot)
        case Some(_) => exact
        case None =>
          if (exact.limit(1).count() > 0) exact
          else search(FuzzyKind, column, q, k, order, snapshot)
      }
    }
  }

  /** smartSearch's typo-tolerant fallback: warm-served from a single
    * covering fuzzy index when the lake shape allows (the
    * [[servablePath]] preconditions), the Spark FuzzyKind plan
    * otherwise — which also covers the no-fuzzy-index in-situ brute.
    */
  private def fuzzyFallback(column: String, q: String, k: Int,
      order: Seq[String], snapshot: Option[Long]): DataFrame = {
    val served =
      if (snapshot.nonEmpty || k > GraftLake.SmartMaterializeMaxK) None
      else servablePath(graft.api.FuzzyKind.name, column)
        .flatMap(p => graft.index.Serve.fuzzyRows(spark, p, column, q))
    served.flatMap(localTop(_, order, k))
      .getOrElse(search(FuzzyKind, column, q, k, order, snapshot))
  }

  /** The warm-servable precondition: exactly ONE covering index of
    * `kindName` over every live file (no in-situ part, no versioned
    * backend whose live set could shrink). The serving tier itself
    * still declines non-selective lookups — the caller then takes the
    * ordinary Spark plan, same rows.
    */
  private def servablePath(kindName: String,
      column: String): Option[String] =
    soleIndex(coverageByName(kindName, column), files)

  /** [[servablePath]] over a coverage already in hand. */
  private def soleIndex(cov: Seq[(String, Seq[String])],
      live: Iterable[String]): Option[String] = cov match {
    case Seq((p, covered)) if !backend.canRemove &&
        live.forall(covered.toSet) => Some(p)
    case _ => None
  }

  /** Warm-served rows as the Spark plan answers them: the serving
    * tier's internal `uid` column dropped, the facade's orderBy+limit
    * tail applied driver-side. None when an order column is not
    * driver-sortable ([[graft.index.Serve.orderServable]]) — the
    * caller's Spark plan.
    */
  private def localTop(hit: (Seq[Row], StructType), order: Seq[String],
      k: Int): Option[DataFrame] = {
    val (rows, schema) = hit
    val ui = schema.fieldIndex("uid")
    val out = StructType(schema.fields.patch(ui, Nil, 1))
    if (!graft.index.Serve.orderServable(out, order)) None
    else Some(spark.createDataFrame(java.util.Arrays.asList(
      graft.index.Serve.orderLimit(rows, schema, order, k)
        .map(r => Row.fromSeq(r.toSeq.patch(ui, Nil, 1))): _*), out))
  }

  /** Merge this (kind, column)'s indexes whose covered rows fall below
    * the threshold, commit (append-then-delete), vacuum. Returns the
    * merged index path if a merge happened.
    */
  def compact(kind: IndexKind, column: String,
      threshold: Long = 10000): Option[String] = {
    val m = metadata.getOrElse(return None)
    val collected = m
      .filter(col("column_name") === column && col("index_type") === kind.name)
      .filter(col("rows_indexed") < threshold)
      .select(col("index_file"), col("file_path"), col("record_counts"))
      .collect()
    // same physical-existence guard as coverage(): never merge a
    // metadata row whose index dir is gone (batched Hadoop-FS listing,
    // like coverage)
    val presentIdx = graft.core.Fs.existing(spark,
      collected.map(_.getString(0)).toSeq)
    val small = collected.filter(r => presentIdx.contains(r.getString(0)))
    // greedy max-coverage FIRST (the coverage() discipline): after a
    // CRASHED compact both the part-indexes and their merged superset
    // are committed, and merging parts WITH their superset would bake
    // duplicate row-group coverage into the new index's meta — every
    // search of those files would return rows twice, unfixable at
    // search time. The greedy cover keeps the supersets; the dropped
    // parts are pure redundancy, so their metadata rows are deleted
    // here (repairing the crash) and vacuum reclaims their dirs.
    val pairs = small.map(r =>
      (r.getString(0), r.getSeq[String](1).toSet)).toSeq
    val chosen = Maintenance.selectIndexes(
      pairs.flatMap(_._2).toSet, pairs).toSet
    val redundant = small.collect {
      case r if !chosen.contains(r.getString(0)) => r.getString(0)
    }
    if (redundant.nonEmpty)
      IndexStore.deleteMetadata(spark, prefix, redundant.toSeq)
    val sorted = small.filter(r => chosen.contains(r.getString(0)))
      .sortBy(_.getString(0))
    if (sorted.length < 2) return None
    val mergedId = GraftLake.groupId(sorted.map(_.getString(0)).mkString("|"))
    val out = IndexStore.indexPath(prefix, s"${kindName(kind, column)}_m$mergedId")
    // fold pairwise merges (the reference's binary merge tree,
    // src/lava/merge.rs:17-205, collapses to a fold over parquet
    // tables), under ensure() so the merged dir carries the
    // _GRAFT_DONE marker every other build path writes — the
    // missing-file self-heal in search() classifies index integrity
    // by that marker, and a marker-less-but-healthy merge output
    // would be demoted (metadata dropped) on the first retry
    IndexStore.ensure(out) {
      val tmps = Seq.newBuilder[String]
      var acc = sorted.head.getString(0)
      sorted.tail.zipWithIndex.foreach { case (r, i) =>
        val dst = if (i == sorted.length - 2) out
          else {
            val t = IndexStore.indexPath(prefix,
              s"${kindName(kind, column)}_tmp${mergedId}_$i")
            tmps += t
            t
          }
        kind.merge(spark, acc, r.getString(0), dst)
        acc = dst
      }
      // the intermediate pairwise results are provably dead once the
      // fold completes — delete them NOW instead of letting n−2 full
      // index copies sit out the 7-day vacuum retention
      tmps.result().foreach(graft.core.Fs.deleteRec(spark, _))
    }
    val allFiles = sorted.flatMap(_.getSeq[String](1)).toSeq
    val allCounts = sorted.flatMap(_.getSeq[Long](2)).toSeq
    IndexStore.commitMetadata(spark, prefix,
      IndexStore.metadataRows(spark, prefix, column, allFiles, allCounts,
        out, kind.name, allCounts.sum))
    IndexStore.deleteMetadata(spark, prefix, sorted.map(_.getString(0)).toSeq)
    Maintenance.vacuum(spark, prefix)
    Some(out)
  }

  def vacuum(retentionMs: Long = Maintenance.DefaultRetentionMs): Seq[String] =
    Maintenance.vacuum(spark, prefix, retentionMs)
}

object GraftLake {

  /** smartSearch localizes its exact-route result (≤ k rows) on the
    * driver so the caller's action never re-runs the search — bounded
    * here because a driver collect must stay out of data scale (the
    * bound is a ROW count; at ~100 KB/row the worst case is ~1 GB,
    * the same exposure as any collect of a search-box page); an
    * analytical-sized k keeps the lazy plan instead.
    */
  val SmartMaterializeMaxK = 10000
  /** Plain-parquet prefix lake (the reference's parquet backend). */
  def apply(spark: SparkSession, prefix: String): GraftLake =
    GraftLake(spark, PrefixBackend(prefix))

  /** Backend auto-detection for path-only callers (the SQL
    * table-function surface, where the caller has no Scala cell to
    * pick a backend): a `_delta_log/` commit ⇒ Delta, versioned
    * Iceberg metadata ⇒ Iceberg, else plain parquet prefix — the
    * same dispatch the reference's top-level entry points perform per
    * backend module (backends/delta.py, iceberg.py, parquet.py). The
    * probes are two metadata-dir listings, no data read.
    */
  def auto(spark: SparkSession, dir: String): GraftLake =
    if (graft.core.DeltaLog.versions(dir).nonEmpty)
      GraftLake(spark, DeltaBackend(spark, dir))
    else if (graft.core.IcebergLog.isIcebergTable(dir))
      GraftLake(spark, IcebergBackend(dir))
    else apply(spark, dir)

  /** Deterministic 64-bit group id (16 hex chars of the name-UUID md5). */
  private[api] def groupId(name: String): String =
    java.util.UUID.nameUUIDFromBytes(name.getBytes("UTF-8"))
      .toString.replace("-", "").take(16)

  /** True when `e`'s cause chain says a file/dir went missing —
    * the signature of an index dir deleted out of band between
    * coverage()'s existence check and the probe's read.
    */
  private[api] def missingFileCause(e: Throwable): Boolean = {
    var t: Throwable = e
    var depth = 0
    while (t != null && depth < 10) {
      t match {
        case _: java.io.FileNotFoundException => return true
        case a: org.apache.spark.sql.AnalysisException
            if a.getCondition != null &&
              a.getCondition.contains("PATH_NOT_FOUND") => return true
        case _ =>
      }
      t = if (t.getCause eq t) null else t.getCause
      depth += 1
    }
    false
  }
}
