package graft.plans

import graft.core.{IndexStore, Layout}
import graft.index.NgramIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Contains, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Lower, PredicateHelper, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

/** Transparent index acceleration for PLAIN Spark reads — the SURVEY
  * §7.4 stretch: an optimizer rule that rewrites
  * `spark.read.parquet(lake).filter(col.contains(q))` (ngram index),
  * `...filter(col === v)` / `isin` / `startsWith` (key index), and
  * `...filter(col >= lo && col <= hi)` (zone-map index) into the same
  * filter over ONLY the files the index cannot rule out, without the
  * caller ever touching the graft API (the app-level routing the
  * reference does in `search_parquet_lake`, lifted into Catalyst).
  *
  * Soundness: the candidate sets are SUPERSETS of the matching rows per
  * covered file (gram intersection ⊇ case-sensitive contains; zone
  * min/max overlap ⊇ range matches, with strict bounds saturated
  * outward), uncovered files are always kept, and the original Filter
  * stays on top as the refine — the rewrite can only remove files that
  * provably contain no match. A no-prune outcome leaves the plan
  * untouched.
  *
  * Enable per session with `IndexPruneRule.enable(spark)` (uses the
  * public `experimental.extraOptimizations` seam) or session-wide via
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class IndexPruneRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  import IndexPruneRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (probing.get()) return plan // the probe's own reads skip the rule
    plan.transform {
      case f @ Filter(_, l: LogicalRelation)
          if l.relation.isInstanceOf[HadoopFsRelation] =>
        try rewrite(f, l).getOrElse(f)
        // never fail a user query on a probe error — but let fatal JVM
        // errors and interrupts (cancellation) propagate
        catch { case scala.util.control.NonFatal(_) => f }
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        try rewriteJoin(j).getOrElse(j)
        catch { case scala.util.control.NonFatal(_) => j }
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        try rewriteAgg(a).orElse(rewriteGroupAgg(a)).getOrElse(a)
        catch { case scala.util.control.NonFatal(_) => a }
      case lim: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit =>
        try rewriteTopK(lim).getOrElse(lim)
        catch { case scala.util.control.NonFatal(_) => lim }
    }
  }

  /** Top-k pushdown: `ORDER BY col DESC LIMIT k` (NULLS LAST) over a
    * fully zone-mapped lake scans only the row groups that can hold a
    * top-k value — the "latest N events" query every log lake serves.
    *
    * Threshold: sort the owned zones by `lo` DESC and accumulate their
    * non-null counts until ≥ k; every value in those zones is ≥ its
    * zone's lo, so at least k non-null values are ≥ t = the last-taken
    * zone's lo — hence the kth-largest value is ≥ t, and every top-k
    * row lives in a zone with hi ≥ t. Files whose zones all have
    * hi < t are pruned; the Sort+Limit stays on top as the refine, so
    * semantics are exactly the unpruned plan's. ASC mirrors with lo/hi
    * swapped. Vetoes: fewer than k non-null values (NULLS would enter
    * the result and zones do not locate them), unknown nn (pre-nn
    * index), partial coverage, non-comparable zone type, NULLS FIRST.
    */
  private def rewriteTopK(
      lim: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, NullsLast, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Project, Sort, SubqueryAlias}
    val (k, sort) = lim match {
      case GlobalLimit(Literal(k: Int, org.apache.spark.sql.types.IntegerType),
          LocalLimit(_, s: Sort)) if k > 0 => (k, s)
      case _ => return None
    }
    // secondary sort columns are tie-breaks: the top-k rows' PRIMARY
    // values are still the k largest primary values, so the threshold
    // argument only needs the first key — the full Sort refine handles
    // tie order exactly
    val (attr, descending) = sort.order match {
      case SortOrder(a: AttributeReference, dir, NullsLast, _) +: rest
          if sort.global && statType(a.dataType) &&
            a.dataType != StringType &&
            rest.forall(_.child.deterministic) =>
        (a, dir == Descending)
      case _ => return None
    }
    // (Ascending only reaches here as asc_nulls_last — Spark's asc
    // default is NULLS FIRST, which the NullsLast pattern rejects)
    def relOf(p: LogicalPlan): Option[LogicalRelation] = p match {
      case l: LogicalRelation => Some(l)
      case pr: Project
          if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        relOf(pr.child)
      case sa: SubqueryAlias => relOf(sa.child)
      case _ => None
    }
    val l = relOf(sort.child).getOrElse(return None)
    if (!l.output.exists(_.exprId == attr.exprId)) return None
    val (fsRel, prefix, allFiles) = eligible(l).getOrElse(return None)
    if (allFiles.isEmpty) return None
    val keep = topKKeep(prefix, allFiles, attr.name, k, descending)
      .getOrElse(return None)
    if (keep.size >= allFiles.size) return None
    val pruned = new InMemoryFileIndex(spark,
      keep.toSeq.sorted.map(new Path(_)), Map.empty, Some(fsRel.dataSchema))
    markPruned(pruned)
    val newRel = fsRel.copy(location = pruned)(spark)
    Some(lim.transform {
      case rel: LogicalRelation if rel eq l => rel.copy(relation = newRel)
    })
  }

  /** Files that can hold a top-k row of `colName` over exactly
    * `allFiles` — None unless a zone map fully covers them with known
    * per-zone non-null counts summing to ≥ k. Memoized like every
    * probe.
    */
  private def topKKeep(prefix: String, allFiles: Set[String],
      colName: String, k: Int, descending: Boolean): Option[Set[String]] = {
    val idx = IndexStore.metadataRowsCached(spark, prefix)
      .filter(r => r.column == colName && r.indexType == "zonemap")
    if (idx.isEmpty) return None
    val covered = idx.flatMap(_.files).map(Layout.canonPath).toSet
    if (!allFiles.subsetOf(covered)) return None
    val paths = idx.map(_.indexFile)
    val memoKey = (Seq("topk", colName, k.toString, descending.toString,
      IndexStore.metadataVersionToken(spark, prefix)) ++ paths ++
      allFiles.toSeq.sorted).map(v => s"${v.length}:$v").mkString
    // a veto inside the probe keeps ALL files (caller then leaves the
    // plan untouched) — memoized the same as a real keep set
    val keepSet = memoProbe(memoKey) {
      probing.set(true)
      try {
        val owner = scala.collection.mutable.Map.empty[String, Int]
        paths.zipWithIndex.foreach { case (p, i) =>
          graft.api.IndexKind.metaRows(spark, p).foreach { r =>
            val f = Layout.canonPath(r._2)
            if (allFiles.contains(f) && !owner.contains(f)) owner(f) = i
          }
        }
        val uidFile: Map[(Int, Long), String] = paths.indices.flatMap { i =>
          graft.api.IndexKind.metaRows(spark, paths(i)).flatMap { r =>
            val f = Layout.canonPath(r._2)
            if (owner.get(f).contains(i)) Some((i, r._1) -> f) else None
          }
        }.toMap
        val zones = graft.api.IndexKind.readTagged(spark, paths, "zones")
        if (!zones.schema.fieldNames.contains("nn")) return Some(allFiles)
        val loType = zones.schema("lo").dataType
        val comparable = integralType(loType) ||
          loType == org.apache.spark.sql.types.TimestampType ||
          loType == org.apache.spark.sql.types.DateType
        if (!comparable) return Some(allFiles)
        import org.apache.spark.sql.catalyst.util.DateTimeUtils
        def asLong(v: Any): Long = v match {
          case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
          case t: java.time.Instant => DateTimeUtils.instantToMicros(t)
          case d: java.sql.Date => DateTimeUtils.fromJavaDate(d).toLong
          case d: java.time.LocalDate =>
            DateTimeUtils.localDateToDays(d).toLong
          case num: Number => num.longValue
        }
        val rows = zones.select("idx", "uid", "lo", "hi", "nn").collect()
          .flatMap { r =>
            uidFile.get((r.getInt(0), r.getLong(1))).map { f =>
              // an all-NULL zone has NULL lo/hi and nn = 0 — it can
              // never hold a top-k value under NULLS LAST (when enough
              // non-nulls exist), so its bounds never matter; an
              // unknown nn (pre-nn merge) aborts below
              if (r.isNullAt(4)) return Some(allFiles)
              val lo = if (r.isNullAt(2)) Long.MinValue else asLong(r.get(2))
              val hi = if (r.isNullAt(3)) Long.MinValue else asLong(r.get(3))
              (f, lo, hi, r.getLong(4))
            }
          }
        if (rows.map(_._4).sum < k) return Some(allFiles) // NULLs enter
        // best-first by the bound every zone value clears
        val sorted =
          if (descending) rows.sortBy(z => -z._2) // by lo desc
          else rows.sortBy(z => if (z._4 == 0) Long.MaxValue else z._3) // hi asc
        var acc = 0L
        var t = 0L
        val it = sorted.iterator
        while (acc < k && it.hasNext) {
          val z = it.next()
          if (z._4 > 0) {
            acc += z._4
            t = if (descending) z._2 else z._3
          }
        }
        val keep =
          if (descending) rows.filter(z => z._4 > 0 && z._3 >= t)
          else rows.filter(z => z._4 > 0 && z._2 <= t)
        keep.map(_._1).toSet
      } finally probing.set(false)
    }
    Some(keepSet)
  }

  /** Metadata-only aggregate answering: a global (no GROUP BY, no
    * WHERE) `min(col)` / `max(col)` / `count(*)` / `count(col)` over an
    * eligible lake whose every file is covered by a zone-map index on
    * that column is answered from the index tables alone — the scan
    * node is replaced by a one-row LocalRelation, zero lake data pages
    * read (Parquet's own footer-stats aggregate pushdown, lifted to the
    * engine's index so it survives ANY file format and adds counts).
    * Exactness: each zone's lo/hi is the engine-computed null-ignoring
    * min/max of its row group, meta num_rows counts every row (the
    * count(*) semantics), the zone `nn` column counts non-null rows
    * (the count(col) semantics — indexes built before nn existed veto
    * count(col), never miscount it); full coverage is required — a
    * single uncovered file vetoes the rewrite (unlike filter pruning,
    * there is no refine step here). Integral and string columns
    * qualify (string order is Spark's own UTF8 binary order, computed
    * with UTF8String so supplementary characters compare identically).
    */
  private def rewriteAgg(
      a: org.apache.spark.sql.catalyst.plans.logical.Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project, SubqueryAlias}
    if (a.groupingExpressions.nonEmpty || a.aggregateExpressions.isEmpty)
      return None
    // only pass-through operators between the aggregate and the scan —
    // a Filter would make zone min/max unsound (no refine exists here)
    def relOf(p: LogicalPlan): Option[LogicalRelation] = p match {
      case l: LogicalRelation => Some(l)
      case pr: Project
          if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        relOf(pr.child)
      case sa: SubqueryAlias => relOf(sa.child)
      case _ => None
    }
    val l = relOf(a.child).getOrElse(return None)
    val (_, prefix, allFiles) = eligible(l).getOrElse(return None)
    if (allFiles.isEmpty) return None

    sealed trait Need
    case class MinOf(c: String) extends Need
    case class MaxOf(c: String) extends Need
    case class CountCol(c: String) extends Need
    case class SumOf(c: String) extends Need
    case object CountStar extends Need
    val needs: Seq[Need] = a.aggregateExpressions.map {
      case Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Min(attr: AttributeReference)
              if statType(attr.dataType) => MinOf(attr.name)
          case Max(attr: AttributeReference)
              if statType(attr.dataType) => MaxOf(attr.name)
          case Count(Seq(Literal(v, _))) if v != null => CountStar
          case Count(Seq(attr: AttributeReference)) => CountCol(attr.name)
          // any evalMode: on overflow the rewrite VETOES (the scan then
          // reproduces Spark's own wrap/throw semantics exactly)
          case su: Sum if su.child.isInstanceOf[AttributeReference] &&
              integralType(su.child.dataType) =>
            SumOf(su.child.asInstanceOf[AttributeReference].name)
          case _ => return None
        }
      case _ => return None
    }
    // one stats probe per referenced column; count(*) alone rides any
    // fully-covering zone map
    val cols = needs.collect {
      case MinOf(c) => c
      case MaxOf(c) => c
      case CountCol(c) => c
      case SumOf(c) => c
    }.distinct
    val statsByCol = cols.map(c => c -> zoneStats(prefix, allFiles, c)
      .getOrElse(return None)).toMap
    val countStat: Long =
      if (!needs.contains(CountStar)) 0L
      else {
        val anyCol =
          if (cols.nonEmpty) cols.head
          else IndexStore.metadataRowsCached(spark, prefix)
            .find(_.indexType == "zonemap").map(_.column)
            .getOrElse(return None)
        statsByCol.getOrElse(anyCol,
          zoneStats(prefix, allFiles, anyCol).getOrElse(return None)).n
      }
    def asInternal(v: Option[Any],
        dt: org.apache.spark.sql.types.DataType): Any = v match {
      case None => null
      case Some(s: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case Some(x: Long) => dt match {
        case org.apache.spark.sql.types.ByteType => x.toByte
        case org.apache.spark.sql.types.ShortType => x.toShort
        case org.apache.spark.sql.types.IntegerType => x.toInt
        // DATE's internal form is an Int day count; TIMESTAMP stays
        // the Long micros zoneStats normalized to
        case org.apache.spark.sql.types.DateType => x.toInt
        case _ => x
      }
      case Some(other) => other
    }
    val values = needs.zip(a.output).map {
      case (MinOf(c), out) => asInternal(statsByCol(c).lo, out.dataType)
      case (MaxOf(c), out) => asInternal(statsByCol(c).hi, out.dataType)
      // pre-nn indexes carry no non-null counts: veto, never miscount
      case (CountCol(c), _) => statsByCol(c).nn.getOrElse(return None)
      // sum(integral) is LongType: a total past the Long domain would
      // need Spark's own overflow behavior (wrap or ANSI throw) — veto
      // and let the scan produce it
      case (SumOf(c), out) =>
        val tot = statsByCol(c).s.getOrElse(return None)
        if (statsByCol(c).nn.contains(0L)) null // sum of no rows is NULL
        else if (tot.isValidLong && out.dataType ==
            org.apache.spark.sql.types.LongType) tot.toLong
        else return None
      case (CountStar, _) => countStat
    }
    Some(LocalRelation(a.output,
      Seq(org.apache.spark.sql.catalyst.InternalRow.fromSeq(values))))
  }

  /** Grouped flavor of [[rewriteAgg]] — materialized-view matching:
    * `GROUP BY key → count(*)/count(m)/sum(m)/min(m)/max(m)` over a lake fully
    * covered by [[graft.index.AggIndex]] partials is answered from the
    * index tables (zero lake data pages). The per-(row-group, key)
    * cells combine by summation (associativity of count/sum — the same
    * partial aggregation Spark performs map-side, persisted), so the
    * rewrite is exact. Vetoes mirror rewriteAgg (pass-through operators
    * only, full coverage, no distinct/filtered aggs, Long-overflow on
    * sum) plus: a grouping key set no index was built for, a measure
    * column outside the index's spec, unsupported key type, and a
    * group-count budget ([[IndexPruneRule.MaxGroups]]) — the result
    * becomes a driver-built LocalRelation, sound only while ndv(keys)
    * is the low-cardinality dimension an aggregate index is worth
    * building for. Multi-measure and multi-key GROUP BYs serve from
    * ONE index whose spec matches (the probe fetches every spec
    * measure, so different queries share the memoized cells). A spec
    * also serves GROUP BYs over a SUBSET of its keys (cells re-combine
    * driver-side — exact by associativity) and filters whose
    * predicates reference only spec key columns (every row of a cell
    * shares the full key tuple, so the predicate evaluates per cell —
    * Catalyst's own eval, exact scan semantics): one (source, lang)
    * index answers GROUP BY source; GROUP BY lang; GROUP BY both; and
    * any of those under WHERE source = … / lang IN … / LIKE … .
    * Grouping by a deterministic EXPRESSION over key columns — GROUP
    * BY year(ts), date_trunc('month', d), substring(src, 1, 2) — is
    * admitted the same way: a key-derived expression is constant per
    * cell, so it evaluates driver-side (Catalyst eval again, resolved
    * through the optimizer's PullOutGroupingExpressions project
    * aliases) and the cells re-combine under the evaluated values —
    * the calendar-rollup BI tile over a date-keyed index.
    */
  private def rewriteGroupAgg(
      a: org.apache.spark.sql.catalyst.plans.logical.Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project, SubqueryAlias}
    // empty grouping is admitted too — the filtered KPI tile
    // (`WHERE key = … SELECT count(*), sum(m)`): cells combine into
    // ONE row, with the empty-grouping always-one-row contract handled
    // below ([[rewriteAgg]]'s zone-map arm owns the unfiltered global
    // case first; this arm serves what it vetoes)
    // grouping keys: bare stat-typed key attributes, OR any
    // deterministic scalar expression over key attributes (the BI-tile
    // shapes — GROUP BY date_trunc('day', ts), year(ts),
    // substring(src, 1, 2)). Every row of a cell shares the full key
    // tuple, so a key-derived expression is CONSTANT per cell: it
    // evaluates driver-side with Catalyst's own eval (the same
    // discipline as the key-only filter below — timezone, null and
    // overflow semantics are exactly the scan's) and cells re-combine
    // under the evaluated values like any key-subset grouping.
    val gExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      a.groupingExpressions
    if (gExprs.exists(g =>
        g.exists(_.isInstanceOf[AggregateExpression]) ||
        !groupOutType(g.dataType)))
      return None
    if (gExprs.map(_.canonicalized).distinct.size != gExprs.size)
      return None
    val bareGAttrs = gExprs.collect { case ar: AttributeReference => ar }
    // output attributes: bare key attrs keep their exprIds (references
    // in the aggregate list resolve unchanged); derived expressions
    // get a synthetic attribute that the output Project substitutes in
    // by canonical equality
    val outGAttrs: Seq[AttributeReference] = gExprs.zipWithIndex.map {
      case (ar: AttributeReference, _) => ar
      case (g, i) =>
        org.apache.spark.sql.catalyst.expressions.AttributeReference(
          s"_gk$i", g.dataType, g.nullable)()
    }
    val gkSubst: Map[org.apache.spark.sql.catalyst.expressions.Expression,
        AttributeReference] =
      gExprs.zip(outGAttrs).collect {
        case (g, at) if !g.isInstanceOf[AttributeReference] =>
          (g.canonicalized, at)
      }.toMap
    if (a.aggregateExpressions.isEmpty) return None
    // Filters whose predicates reference ONLY the index's key columns
    // are exactly representable on the cells (every row of a cell
    // shares the full key tuple), so they don't veto — they are
    // captured here and evaluated per cell below. Any other filter
    // still vetoes (partials carry no row-level predicate).
    var conds = List.empty[org.apache.spark.sql.catalyst.expressions.Expression]
    // alias substitutions collected from intervening Projects: the
    // optimizer's PullOutGroupingExpressions rewrites GROUP BY year(ts)
    // into `Aggregate [_groupingexpression], Project
    // [year(ts) AS _groupingexpression]` BEFORE this rule runs, so the
    // derived key lives below the Aggregate as a project alias —
    // resolve grouping/filter expressions through these mappings back
    // to relation columns (composed transitively for stacked Projects)
    var subst = Map.empty[Long,
      org.apache.spark.sql.catalyst.expressions.Expression]
    def applySubst(
        e: org.apache.spark.sql.catalyst.expressions.Expression)
        : org.apache.spark.sql.catalyst.expressions.Expression = {
      var cur = e
      var rounds = 0
      var changed = true
      while (changed && rounds < 32) { // aliases are acyclic; belt+braces
        val next = cur.transformUp {
          case ar: AttributeReference if subst.contains(ar.exprId.id) =>
            subst(ar.exprId.id)
        }
        changed = !next.fastEquals(cur)
        cur = next
        rounds += 1
      }
      cur
    }
    def relOf(p: LogicalPlan): Option[LogicalRelation] = p match {
      case l: LogicalRelation => Some(l)
      case pr: Project if pr.projectList.forall {
            case _: AttributeReference => true
            case al: org.apache.spark.sql.catalyst.expressions.Alias =>
              al.child.deterministic &&
                !al.child.exists(_.isInstanceOf[AggregateExpression])
            case _ => false
          } =>
        pr.projectList.foreach {
          case al: org.apache.spark.sql.catalyst.expressions.Alias =>
            subst += (al.exprId.id -> al.child)
          case _ =>
        }
        relOf(pr.child)
      case sa: SubqueryAlias => relOf(sa.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        if (!f.condition.deterministic) return None
        conds ::= f.condition
        relOf(f.child)
      case _ => None
    }
    val l = relOf(a.child).getOrElse(return None)
    val (_, prefix, allFiles) = eligible(l).getOrElse(return None)
    if (allFiles.isEmpty) return None
    conds = conds.map(applySubst)
    // subqueries can't eval driver-side; bail early
    if (conds.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))
      return None
    val filterKeyNames = conds.flatMap(_.references.toSeq.map(_.name)).distinct
    // grouping expressions resolved through the project aliases down
    // to relation columns — what actually evaluates over the cell keys
    val gResolved = gExprs.map(applySubst)
    if (gResolved.exists(g => !g.deterministic ||
        g.exists(_.isInstanceOf[AggregateExpression]) ||
        g.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]) ||
        !g.references.forall(r => statType(r.dataType))))
      return None

    sealed trait Need
    case object CountStar extends Need
    case class CountM(c: String) extends Need
    case class SumM(c: String) extends Need
    case class MinM(c: String) extends Need
    case class MaxM(c: String) extends Need
    case class CountDistinctK(c: String) extends Need
    // Measure (and COUNT(DISTINCT)) columns resolve through the SAME
    // project-alias substitution as grouping keys and filters: an
    // aggregate child that is a Project alias surviving CollapseProject
    // (e.g. `SELECT src, sum(m2) FROM (SELECT src, f(x) AS m2 ...)`)
    // must NOT be matched to a spec column by NAME alone — if the lake
    // also has a column literally named m2, a name match would silently
    // serve the INDEXED column's stats for the derived one. Admit only
    // children that resolve to a BARE relation output attribute
    // (exprId match against l.output) and take the spec name from that
    // resolved attribute — which also correctly admits simple renames
    // (`SELECT sum(m2) FROM (SELECT x AS m2 ...)` serves x's stats).
    def specAttr(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[AttributeReference] =
      applySubst(e) match {
        case ar: AttributeReference
            if l.output.exists(_.exprId == ar.exprId) => Some(ar)
        case _ => None
      }
    def classify(ae: AggregateExpression): Option[Need] = {
      if (ae.filter.nonEmpty) return None
      if (ae.isDistinct) ae.aggregateFunction match {
        // COUNT(DISTINCT key-col) — the "daily active users" tile: the
        // cells are distinct by the FULL spec key tuple, so the
        // distinct count of a SPEC KEY within any (filtered, subset-)
        // group is exactly the number of distinct non-null values of
        // that position among the group's cells. Whether `c` really is
        // a spec key is decided at candidate selection (it joins
        // neededKeys); a distinct over anything else vetoes there.
        case Count(Seq(ch)) =>
          return specAttr(ch).map(a => CountDistinctK(a.name))
        case _ => return None
      }
      ae.aggregateFunction match {
        case Count(Seq(Literal(v, _))) if v != null => Some(CountStar)
        case Count(Seq(ch)) => specAttr(ch).map(a => CountM(a.name))
        case su: Sum =>
          specAttr(su.child).filter(a => integralType(a.dataType))
            .map(a => SumM(a.name))
        case org.apache.spark.sql.catalyst.expressions.aggregate.Min(ch) =>
          specAttr(ch).filter(a => statType(a.dataType))
            .map(a => MinM(a.name))
        case org.apache.spark.sql.catalyst.expressions.aggregate.Max(ch) =>
          specAttr(ch).filter(a => statType(a.dataType))
            .map(a => MaxM(a.name))
        case _ => None
      }
    }
    // AggregateExpressions may sit under deterministic scalar wrappers
    // (a collapsed Project: unix_micros(min(ts)), round(sum(x)/n), …) —
    // classify every one found, and require that what remains around
    // them references only the grouping attribute
    val found = scala.collection.mutable.ArrayBuffer
      .empty[(AggregateExpression, Need)]
    a.aggregateExpressions.foreach { e =>
      if (!e.deterministic) return None
      e.foreach {
        case ae: AggregateExpression =>
          if (found.forall(_._1.canonicalized != ae.canonicalized))
            found += ((ae, classify(ae).getOrElse(return None)))
        case _ =>
      }
      // after masking aggregate calls and (canonical) grouping
      // expressions, what remains may reference only BARE grouping
      // attributes — a residual reference means the output needs
      // row-level values the cells can't provide
      val stripped = e.transform {
        case ae: AggregateExpression => Literal(null, ae.dataType)
        case ex if gkSubst.contains(ex.canonicalized) =>
          Literal(null, ex.dataType)
      }
      if (!stripped.references.subsetOf(
          org.apache.spark.sql.catalyst.expressions.AttributeSet(bareGAttrs)))
        return None
    }
    val distinctAggs = found.toSeq
    val measures = distinctAggs.map(_._2).collect {
      case CountM(c) => c
      case SumM(c) => c
      case MinM(c) => c
      case MaxM(c) => c
    }.distinct
    // COUNT(DISTINCT c) columns must be SPEC KEYS (cells carry every
    // distinct key tuple, so the distinct count is exact) — they join
    // the needed-key set, vetoing any spec that doesn't key on them
    val distinctKeyCols = distinctAggs.map(_._2).collect {
      case CountDistinctK(c) => c
    }.distinct

    // a prefix can carry SEVERAL agg indexes (different key tuples,
    // different measure lists, part-indexes of one spec). The chosen
    // set must share ONE spec — cell column ordinals must line up
    // across readTagged's pinned schema — whose key tuple COVERS the
    // grouping attrs AND every filter-referenced column (cells group
    // by the full spec tuple, so re-aggregating a subset and
    // evaluating key-only predicates per cell are both exact), carry
    // every referenced measure, and cover all files. Among qualifying
    // specs pick the narrowest keys then measures (smallest cells),
    // deterministically.
    val neededKeys = (gResolved.flatMap(_.references.toSeq.map(_.name)) ++
      filterKeyNames ++ distinctKeyCols).toSet
    // cheap prefilter on the metadata row's column field (the sorted
    // key list) BEFORE touching any spec file: without it every
    // Aggregate planned over the prefix would pay one dir-listing per
    // registered agg index (a remote LIST on object-store roots) even
    // for key sets that can never match
    val idx = IndexStore.metadataRowsCached(spark, prefix)
      .filter(r => r.indexType == "aggindex" &&
        neededKeys.subsetOf(r.column.split(',').toSet))
    if (idx.isEmpty) return None
    val bySpec = idx.groupBy(r =>
      graft.index.AggIndex.specV2(spark, r.indexFile))
    val candidates = bySpec.toSeq.filter { case ((kc, mc), rows) =>
      neededKeys.subsetOf(kc.toSet) &&
        measures.forall(mc.contains) &&
        allFiles.subsetOf(
          rows.flatMap(_.files).map(Layout.canonPath).toSet)
    }.sortBy { case ((kc, mc), _) =>
      (kc.size, mc.size, kc.mkString(","), mc.mkString(","))
    }
    if (candidates.isEmpty) return None
    val ((kcols, mcols), chosen) = candidates.head
    val paths = chosen.map(_.indexFile)
    // the probe fetches ALL spec measures over the FULL spec key tuple
    // (bounded by the spec, never the query), so the memoized rows are
    // query-independent — filters and subset groupings combine them
    // driver-side below, and the memo key need not encode either
    // v1 single-pair cells (or a mixed v1/v2 set) cannot be read under
    // one pinned schema — veto BEFORE the memo: isV2 is itself cached
    // by the groups dir's signature, so this check is footer-free on
    // warm paths, and keeping the veto out of the memo means an
    // in-place self-heal to v2 (which changes nothing in the memo key
    // — not the metadata version, not the paths) unblocks the rewrite
    // immediately instead of pinning the scan fallback for the TTL
    if (!paths.forall(p => graft.index.AggIndex.isV2(spark, p)))
      return None
    val memoKey = (Seq("groupagg2", kcols.mkString(","),
      IndexStore.metadataVersionToken(spark, prefix)) ++ paths ++
      allFiles.toSeq.sorted).map(v => s"${v.length}:$v").mkString
    val rows = IndexPruneRule.memoGroups(memoKey) {
      probing.set(true)
      try {
        {
          val ownedPairs = ownedUidPairs(paths, allFiles)
          import spark.implicits._
          val tagged = graft.api.IndexKind.readTagged(spark, paths, "groups")
          val fns = org.apache.spark.sql.functions
          val K = kcols.size
          val aggs = fns.sum("n").cast("long").as("n") +:
            mcols.indices.flatMap(j => Seq(
              fns.sum(s"nn$j").cast("long").as(s"nn$j"),
              fns.sum(s"s$j").as(s"s$j"),
              fns.min(s"lo$j").as(s"lo$j"),
              fns.max(s"hi$j").as(s"hi$j")))
          val cells = tagged
            .join(fns.broadcast(ownedPairs.toDF("idx", "uid")),
              Seq("idx", "uid"), "left_semi")
            .groupBy(kcols.indices.map(i => fns.col(s"k$i")): _*)
            .agg(aggs.head, aggs.tail: _*)
            .limit(IndexPruneRule.MaxGroups + 1)
            .collect()
          if (cells.length > IndexPruneRule.MaxGroups) None
          else Some(cells.toSeq.map { r =>
            val keys = (0 until K).map(i =>
              if (r.isNullAt(i)) null else r.get(i))
            val ms = mcols.zipWithIndex.map { case (m, j) =>
              val o = K + 1 + j * 4
              m -> IndexPruneRule.MStat(
                r.getLong(o),
                if (r.isNullAt(o + 1)) None
                else Some(BigDecimal(r.getDecimal(o + 1))),
                if (r.isNullAt(o + 2)) None else Some(r.get(o + 2)),
                if (r.isNullAt(o + 3)) None else Some(r.get(o + 3)))
            }.toMap
            IndexPruneRule.GRow(keys, r.getLong(K), ms)
          })
        }
      } finally probing.set(false)
    }.getOrElse(return None)

    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    def keyInternal(v: Any): Any = v match {
      case null => null
      case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
      case t: java.time.Instant => DateTimeUtils.instantToMicros(t)
      case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
      case d: java.time.LocalDate => DateTimeUtils.localDateToDays(d)
      case other => other
    }
    // key-only predicates AND grouping expressions run over the
    // ≤ MaxGroups cells with Catalyst's OWN eval (bound against the
    // relation's key attributes), so =, IN, LIKE, ranges, AND/OR,
    // date_trunc/year timezone handling and null semantics are exactly
    // the scan's. Every REFERENCED spec key must be a stat-typed
    // relation column for the external→internal conversion to be
    // faithful; unreferenced keys only occupy their binding position.
    val bindAttrs = kcols.map(kc =>
      l.output.find(at => at.name == kc).getOrElse(return None))
    if (!bindAttrs.forall(at =>
        !neededKeys(at.name) || statType(at.dataType)))
      return None
    val attrSeq =
      org.apache.spark.sql.catalyst.expressions.AttributeSeq(bindAttrs)
    val bound = conds.map(c =>
      org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(c, attrSeq))
    val gBound = gResolved.map(g =>
      org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(g, attrSeq))
    // (internal grouping values, cell) pairs for the survivors — for a
    // bare key attribute the eval IS keyInternal(value), so attr and
    // expression keys share one path
    val evald: Seq[(Seq[Any], IndexPruneRule.GRow)] = rows.flatMap { gr =>
      val row = org.apache.spark.sql.catalyst.InternalRow
        .fromSeq(gr.keys.map(keyInternal))
      if (bound.forall(_.eval(row) == true))
        Some((gBound.map(_.eval(row)), gr))
      else None
    }
    // grouping by a SUBSET of the spec keys (or any grouping after a
    // filter) re-combines the surviving cells driver-side — counts and
    // decimal sums add, bounds take min/max in Spark's own ordering
    // (UTF-8 bytes for strings, Comparable otherwise, both matching
    // the scan's aggregate semantics)
    def cmpExternal(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) =>
        val (bx, by) = (x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var i = 0
        val n = math.min(bx.length, by.length)
        while (i < n) {
          val c = (bx(i) & 0xff) - (by(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        bx.length - by.length
      case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    // kcols position of each COUNT(DISTINCT) key (spec coverage above
    // guarantees membership)
    val dkIdx = distinctKeyCols.map(c => c -> kcols.indexOf(c)).toMap
    val combined0: Seq[(IndexPruneRule.GRow, Map[String, Long])] =
      evald.groupBy(_._1).map {
        case (keys, pairs) =>
          val grs = pairs.map(_._2)
          val ms = mcols.map { m =>
            val sts = grs.map(_.ms(m))
            val sums = sts.flatMap(_.s)
            val los = sts.flatMap(_.lo)
            val his = sts.flatMap(_.hi)
            m -> IndexPruneRule.MStat(
              sts.map(_.nn).sum,
              if (sums.isEmpty) None else Some(sums.sum),
              if (los.isEmpty) None else Some(los.reduce((a, b) =>
                if (cmpExternal(a, b) <= 0) a else b)),
              if (his.isEmpty) None else Some(his.reduce((a, b) =>
                if (cmpExternal(a, b) >= 0) a else b)))
          }.toMap
          // distinct non-null values of the key position among the
          // group's cells — exact: the probe's rows are one per
          // distinct full key tuple (uid pre-aggregated away)
          val dk = distinctKeyCols.map(c =>
            c -> grs.iterator.map(_.keys(dkIdx(c)))
              .filter(_ != null).toSet.size.toLong).toMap
          (IndexPruneRule.GRow(keys, grs.map(_.n).sum, ms), dk)
      }.toSeq
    // the empty-grouping contract: a global aggregate returns exactly
    // ONE row even when the filter kills every cell — count 0, sums
    // and bounds NULL (what the scan's Aggregate produces over zero
    // input rows)
    val combined =
      if (gExprs.nonEmpty || combined0.nonEmpty) combined0
      else Seq((IndexPruneRule.GRow(Nil, 0L,
        mcols.map(m => m -> IndexPruneRule.MStat(0L, None, None, None))
          .toMap), distinctKeyCols.map(_ -> 0L).toMap))
    // LocalRelation carries the grouping attributes (exprIds preserved)
    // plus one synthetic attribute per distinct AggregateExpression; a
    // Project on top re-applies any scalar wrappers, so the rewritten
    // plan's output attributes are exactly the Aggregate's
    val aggAttrs = distinctAggs.zipWithIndex.map { case ((ae, _), i) =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        s"_ga$i", ae.dataType, ae.nullable)()
    }
    val out = combined.map { case (gr, dk) =>
      // grouping values are ALREADY internal (Catalyst eval results)
      val keyVals = gr.keys
      val aggVals = distinctAggs.zip(aggAttrs).map {
        case (((ae, need)), _) => need match {
          case CountStar => gr.n
          case CountM(c) => gr.ms(c).nn
          case CountDistinctK(c) => dk(c)
          case SumM(c) =>
            gr.ms(c).s match {
              case None => null // all-NULL measure group: sum is NULL
              case Some(tot)
                  if tot.isValidLong && ae.dataType ==
                    org.apache.spark.sql.types.LongType => tot.toLong
              case _ => return None // overflow / non-Long: scan decides
            }
          // nn==0 legitimately yields NULL min/max; nn>0 with missing
          // bounds would mean a malformed cell table — veto, never
          // fabricate extremes
          case MinM(c) =>
            val st = gr.ms(c)
            if (st.nn > 0 && st.lo.isEmpty) return None
            st.lo.map(keyInternal).orNull
          case MaxM(c) =>
            val st = gr.ms(c)
            if (st.nn > 0 && st.hi.isEmpty) return None
            st.hi.map(keyInternal).orNull
        }
      }
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(keyVals ++ aggVals)
    }
    val replaced = a.aggregateExpressions.map { e =>
      e.transform {
        case ae: AggregateExpression =>
          aggAttrs(distinctAggs.indexWhere(
            _._1.canonicalized == ae.canonicalized))
        case ex if gkSubst.contains(ex.canonicalized) =>
          gkSubst(ex.canonicalized)
      }.asInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedExpression]
    }
    Some(Project(replaced, LocalRelation(outGAttrs ++ aggAttrs, out)))
  }

  private def integralType(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  private def statType(
      dt: org.apache.spark.sql.types.DataType): Boolean =
    integralType(dt) || dt == StringType ||
      dt == org.apache.spark.sql.types.TimestampType ||
      dt == org.apache.spark.sql.types.DateType

  /** Types a derived grouping expression may produce: scalar values
    * whose internal forms have the SCAN's equality under plain JVM
    * equals/hashCode — the driver-side cell grouping uses a Scala Map.
    * Float/Double are deliberately excluded: Spark normalizes NaN and
    * -0.0 grouping keys (NormalizeFloatingNumbers), while boxed-Double
    * equality would split NaN into one group per cell and surface
    * -0.0 verbatim; Decimal is excluded for its scale-sensitive
    * hashing. Structs/arrays/maps veto outright. Calendar/string/
    * integral/boolean — every BI-tile shape — passes.
    */
  private def groupOutType(
      dt: org.apache.spark.sql.types.DataType): Boolean =
    statType(dt) || dt == org.apache.spark.sql.types.BooleanType

  /** (min, max, count(*), count-non-null) of `colName` over exactly
    * `allFiles`, from the zone-map indexes covering them — None unless
    * coverage is FULL. Each lake file's rows are attributed to ONE
    * covering index (counts must never double-count a file two
    * compaction generations both cover); min/max come from the same
    * owned zone rows. Memoized like every probe, keyed by the metadata
    * commit token.
    */
  private def zoneStats(prefix: String, allFiles: Set[String],
      colName: String): Option[IndexPruneRule.ZStats] = {
    val idx = IndexStore.metadataRowsCached(spark, prefix)
      .filter(r => r.column == colName && r.indexType == "zonemap")
    if (idx.isEmpty) return None
    val covered = idx.flatMap(_.files).map(Layout.canonPath).toSet
    if (!allFiles.subsetOf(covered)) return None
    val paths = idx.map(_.indexFile)
    val memoKey = (Seq("aggstats", colName,
      IndexStore.metadataVersionToken(spark, prefix)) ++ paths ++
      allFiles.toSeq.sorted).map(v => s"${v.length}:$v").mkString
    memoStats(memoKey) {
      probing.set(true)
      try {
        val pairs = ownedUidPairs(paths, allFiles)
        val ownedUids: Map[Int, Set[Long]] =
          pairs.groupBy(_._1).map { case (i, ps) =>
            i -> ps.map(_._2).toSet
          }.withDefaultValue(Set.empty)
        val n = paths.indices.map { i =>
          graft.api.IndexKind.metaRows(spark, paths(i))
            .filter(r => ownedUids(i).contains(r._1)).map(_._4).sum
        }.sum
        val zones = graft.api.IndexKind.readTagged(spark, paths, "zones")
        val loType = zones.schema("lo").dataType
        val hasNn = zones.schema.fieldNames.contains("nn")
        val hasS = zones.schema.fieldNames.contains("s")
        if (!statType(loType)) None
        else {
          // zone rows are metadata-scale (one per row group) — the
          // same driver-collect stance as zoneProbe's candidate set
          val sel = Seq("idx", "uid", "lo", "hi") ++
            (if (hasNn) Seq("nn") else Seq.empty) ++
            (if (hasS) Seq("s") else Seq.empty)
          val rows = zones.select(sel.head, sel.tail: _*).collect()
            .filter(r => ownedUids(r.getInt(0)).contains(r.getLong(1)))
          // normalize time types to their internal Long/Int axis
          // (epoch micros / days) so ordering and the LocalRelation
          // row share one representation
          import org.apache.spark.sql.catalyst.util.DateTimeUtils
          def valAt(r: org.apache.spark.sql.Row, i: Int): Option[Any] =
            if (r.isNullAt(i)) None
            else r.get(i) match {
              case t: java.sql.Timestamp =>
                Some(DateTimeUtils.fromJavaTimestamp(t))
              case t: java.time.Instant =>
                Some(DateTimeUtils.instantToMicros(t))
              case d: java.sql.Date =>
                Some(DateTimeUtils.fromJavaDate(d).toLong)
              case d: java.time.LocalDate =>
                Some(DateTimeUtils.localDateToDays(d).toLong)
              case num: Number => Some(num.longValue)
              case other => Some(other)
            }
          // Spark's min/max over strings order by UTF8 BYTES — compare
          // the same way, never by UTF-16 code units
          implicit val anyOrd: Ordering[Any] = Ordering.fromLessThan {
            case (x: Long, y: Long) => x < y
            case (x: String, y: String) =>
              org.apache.spark.unsafe.types.UTF8String.fromString(x)
                .compareTo(
                  org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
            case _ => false
          }
          val los = rows.flatMap(valAt(_, 2))
          val his = rows.flatMap(valAt(_, 3))
          // any pre-nn zone row (or NULL nn from an
          // allowMissingColumns merge) makes the non-null count
          // unknowable → None, the caller vetoes count(col)
          val nnAt = sel.indexOf("nn")
          val nn =
            if (!hasNn) None
            else {
              val vs = rows.map(r =>
                if (r.isNullAt(nnAt)) None else Some(r.getLong(nnAt)))
              if (vs.exists(_.isEmpty)) None else Some(vs.flatten.sum)
            }
          val sAt = sel.indexOf("s")
          // per-zone DECIMAL(38,0) sums. A NULL s is ambiguous: an
          // all-NULL zone legitimately stores NULL (contributes zero,
          // like Spark's null-skipping sum) but a pre-s row merged in
          // via allowMissingColumns is UNKNOWABLE — nn disambiguates
          // (0 non-null rows → legit; anything else → veto)
          val sTot =
            if (!hasS || !hasNn) None
            else {
              var acc = BigDecimal(0)
              var ok = true
              rows.foreach { r =>
                if (!r.isNullAt(sAt)) acc += BigDecimal(r.getDecimal(sAt))
                else if (r.isNullAt(nnAt) || r.getLong(nnAt) != 0L)
                  ok = false
              }
              if (ok) Some(acc) else None
            }
          Some(IndexPruneRule.ZStats(los.minOption, his.maxOption, n, nn, sTot))
        }
      } finally probing.set(false)
    }
  }

  /** (index-ordinal, uid) pairs under the anti-double-count discipline
    * shared by every index-served aggregate probe: the FIRST covering
    * index path owns each lake file, and only the owner's uids count —
    * overlapping coverage during the compaction append-then-delete
    * window must never count a file's rows twice.
    */
  private def ownedUidPairs(paths: Seq[String],
      allFiles: Set[String]): Seq[(Int, Long)] = {
    val owner = scala.collection.mutable.Map.empty[String, Int]
    paths.zipWithIndex.foreach { case (p, i) =>
      graft.api.IndexKind.metaRows(spark, p).foreach { r =>
        val f = Layout.canonPath(r._2)
        if (allFiles.contains(f) && !owner.contains(f)) owner(f) = i
      }
    }
    paths.indices.flatMap { i =>
      graft.api.IndexKind.metaRows(spark, paths(i))
        .filter(r => owner.get(Layout.canonPath(r._2)).contains(i))
        .map(r => (i, r._1))
    }
  }

  /** Parquet lake relations the rule may prune: single-root,
    * unpartitioned, not one of the engine's own index tables. Returns
    * (relation, canonical prefix, canonical file set).
    */
  private def eligible(
      l: LogicalRelation): Option[(HadoopFsRelation, String, Set[String])] = {
    val fsRel = l.relation match {
      case h: HadoopFsRelation => h
      case _ => return None
    }
    if (!fsRel.fileFormat.isInstanceOf[ParquetFileFormat]) return None
    if (fsRel.partitionSchema.nonEmpty) return None
    // a location this rule already built: the optimizer's fixpoint
    // re-enters the rule on its own rewrite output (and re-optimization
    // of a reused DataFrame re-enters again) — re-probing there costs
    // a Spark job per iteration only to conclude "nothing further to
    // prune"
    if (isPruned(fsRel.location)) return None
    val roots = fsRel.location.rootPaths
    if (roots.size != 1) return None
    val prefix = Layout.canonPath(roots.head.toString)
    if (prefix.startsWith(IndexStore.root)) return None // index tables
    Some((fsRel, prefix, fsRel.location.inputFiles.map(Layout.canonPath).toSet))
  }

  /** Keep set for one predicate: resolve covering indexes of `kind`,
    * probe, return the files the index cannot rule out (uncovered
    * files are always kept — sound). None when no index applies.
    */
  private def keepFor(prefix: String, allFiles: Set[String],
      colName: String, kind: String, sig: String,
      probeFn: Seq[String] => Set[String]): Option[Set[String]] = {
    val idx = IndexStore.metadataRowsCached(spark, prefix)
      .filter(r => r.column == colName && r.indexType == kind)
    if (idx.isEmpty) return None
    val covered = idx.flatMap(_.files).map(Layout.canonPath).toSet & allFiles
    if (covered.isEmpty) return None
    // the sig is length-prefixed so it cannot bleed into the
    // index-file list even if a key value contains the separator
    // The metadata version token pins the memo to THIS commit of the
    // metadata table: an index deleted and rebuilt in place (same
    // indexFile paths, new coverage) must recommit metadata to become
    // visible at all, which changes the token and retires the stale
    // keep set immediately -- the TTL alone would serve it for up to a
    // minute, silently pruning files the rebuilt index now covers.
    val memoKey = (Seq(kind, colName, s"${sig.length}:$sig",
      IndexStore.metadataVersionToken(spark, prefix)) ++
      idx.map(_.indexFile)).mkString("\u0001")
    val hits = memoProbe(memoKey) {
      probing.set(true)
      try probeFn(idx.map(_.indexFile))
      finally probing.set(false)
    }
    Some((allFiles -- covered) ++ (hits & allFiles))
  }

  private def rewrite(f: Filter, l: LogicalRelation): Option[Filter] = {
    val (fsRel, prefix, allFiles) = eligible(l).getOrElse(return None)
    val preds = splitConjunctivePredicates(f.condition)

    def keepFor(colName: String, kind: String, sig: String,
        probeFn: Seq[String] => Set[String]): Option[Set[String]] =
      this.keepFor(prefix, allFiles, colName, kind, sig, probeFn)

    // one conjunction level's keep sets (each individually sound for
    // its conjunct). Defined as a function so DISJUNCTIONS recurse:
    // keep(a OR b) = keep(a) ∪ keep(b) — sound iff EVERY arm is
    // bounded (one unbounded arm unbounds the OR); keep of an arm is
    // the intersection of its own conjuncts' keeps, and nested Or
    // inside an arm recurses through the same collector.
    def conjKeeps(preds: Seq[Expression]): Seq[Set[String]] = {

    // contains-predicates over a plain column (bare or lower())
    val contains = preds.collect {
      case Contains(a: AttributeReference, Literal(q, StringType))
          if q != null && q.toString.nonEmpty => (a.name, q.toString)
      case Contains(Lower(a: AttributeReference), Literal(q, StringType))
          if q != null && q.toString.nonEmpty => (a.name, q.toString)
    }
    // rlike-predicates: a regex match forces the pattern's REQUIRED
    // literal runs to appear in the row, so their lowercased grams
    // must all be in a candidate row group — same superset discipline
    // as contains (case-sensitive match ⇒ lowercase grams present).
    // Patterns with no required literal collect nothing (no prune).
    val regexes = preds.collect {
      case org.apache.spark.sql.catalyst.expressions.RLike(
          a: AttributeReference, Literal(p, StringType)) if p != null =>
        (a.name, p.toString)
      case org.apache.spark.sql.catalyst.expressions.RLike(
          Lower(a: AttributeReference), Literal(p, StringType))
          if p != null => (a.name, p.toString)
    }.filter { case (_, p) =>
      graft.text.QueryShaping.requiredLiterals(p)
        .exists(graft.text.Text.sparkLower(_).nonEmpty)
    }
    // exact/IN-list string predicates → key index (case-exact, like
    // the predicate itself; keys are stored raw at build)
    val keyEqs = preds.collect {
      case EqualTo(a: AttributeReference, Literal(v, StringType))
          if v != null => (a.name, Seq(v.toString))
      case EqualTo(Literal(v, StringType), a: AttributeReference)
          if v != null => (a.name, Seq(v.toString))
      case In(a: AttributeReference, vs)
          if a.dataType == StringType && vs.nonEmpty && vs.forall {
            case Literal(v, StringType) => v != null
            case _ => false
          } => (a.name, vs.map(_.asInstanceOf[Literal].value.toString))
      // lists past spark.sql.optimizer.inSetConversionThreshold reach
      // this rule (extraOptimizations run AFTER OptimizeIn) as InSet
      case InSet(a: AttributeReference, hset)
          if a.dataType == StringType && hset.nonEmpty &&
            !hset.contains(null) =>
        (a.name, hset.toSeq.map(_.toString))
    }
    // prefix predicates → key index range probe
    val keyPrefixes = preds.collect {
      case StartsWith(a: AttributeReference, Literal(p, StringType))
          if p != null && p.toString.nonEmpty => (a.name, p.toString)
    }
    // equality/IN over string OR integral literals → bloom index (the
    // filter hashes the value's string form; integral literals render
    // exactly like Spark's cast-to-string, so both sides agree)
    val bloomEqs = preds.collect {
      case EqualTo(a: AttributeReference, Literal(v, StringType))
          if v != null => (a.name, Seq(v.toString))
      case EqualTo(Literal(v, StringType), a: AttributeReference)
          if v != null => (a.name, Seq(v.toString))
      case EqualTo(a: AttributeReference, IntLit(v)) => (a.name, Seq(v.toString))
      case EqualTo(IntLit(v), a: AttributeReference) => (a.name, Seq(v.toString))
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall {
            case Literal(v, StringType) => v != null
            case IntLit(_) => true
            case _ => false
          } =>
        (a.name, vs.map {
          case IntLit(v) => v.toString
          case Literal(v, _) => v.toString
        })
    }
    // a conjunction may carry several indexable predicates over
    // DIFFERENT columns/kinds (contains(text) && custkey = k): each
    // probe's keep set is individually sound (superset of the files
    // holding matches for ITS conjunct), so their INTERSECTION is a
    // sound keep set for the conjunction — every applicable index
    // prunes, not just the first
    // collision-free probe signatures: a mode tag plus length-prefixed
    // values. A bare separator join would let an IN-list alias a
    // prefix probe (IN ('pfx','abc') vs LIKE 'abc%') or a value
    // containing the separator alias another list -- and a colliding
    // memo key serves one probe's keep set for the other, an unsound
    // prune
    def psig(mode: String, vs: Seq[String]): String =
      mode + vs.map(v => s"${v.length}:$v").mkString
    // disjunctive conjuncts: every arm must be bounded for the union
    // to bound the OR; each arm is itself a conjunction (recursion
    // handles nesting to any depth)
    val orKeeps = preds.collect {
      case or: org.apache.spark.sql.catalyst.expressions.Or =>
        val arms = splitDisjunctivePredicates(or)
        val armKeeps = arms.map { arm =>
          val ks = conjKeeps(splitConjunctivePredicates(arm))
          if (ks.isEmpty) None else Some(ks.reduce(_ & _))
        }
        if (armKeeps.exists(_.isEmpty)) None
        else Some(armKeeps.flatten.reduce(_ | _))
    }.flatten
      contains.flatMap { case (c, q) =>
        keepFor(c, "ngram", psig("has", Seq(q)),
          ps => unitFiles(ps, graft.api.NgramKind.units(spark, ps, q))) } ++
      regexes.flatMap { case (c, p) =>
        keepFor(c, "ngram", psig("re", Seq(p)),
          ps => unitFiles(ps, graft.api.NgramRegexKind.units(spark, ps, p))) } ++
      keyEqs.flatMap { case (c, ks) =>
        keepFor(c, "key", psig("eq", ks), keyProbe(_, ks)) } ++
      keyPrefixes.flatMap { case (c, p) =>
        keepFor(c, "key", psig("pfx", Seq(p)), keyPrefixProbe(_, p)) } ++
      bloomEqs.flatMap { case (c, vs) =>
        keepFor(c, "bloom", psig("eq", vs), bloomProbe(_, vs)) } ++
      integralBounds(preds).flatMap { case (c, lo, hi) =>
        keepFor(c, "zonemap", psig("zone", Seq(lo.toString, hi.toString)),
          zoneProbe(_, lo, hi)) } ++
      orKeeps
    } // end conjKeeps

    val keeps = conjKeeps(preds)
    if (keeps.isEmpty) return None
    val keep = keeps.reduce(_ & _)
    if (keep.size >= allFiles.size) return None // nothing pruned
    val pruned = new InMemoryFileIndex(spark,
      keep.toSeq.sorted.map(new Path(_)), Map.empty,
      Some(fsRel.dataSchema))
    markPruned(pruned)
    val newRel = fsRel.copy(location = pruned)(spark)
    Some(f.copy(child = l.copy(relation = newRel)))
  }

  /** Max literal-side rows a join probe will materialize on the
    * driver (a LocalRelation is already driver-resident, so this caps
    * probe work, not memory).
    */
  private val MaxJoinProbeKeys = 1000

  /** True iff re-executing `p` provably yields the same rows: built
    * only from deterministic row-set-stable operators. Limit/Sample/
    * Tail/Offset select DIFFERENT rows per execution over unordered
    * input, and Window/order-sensitive aggregates (first, last,
    * collect_list — all flagged "deterministic" by Catalyst) compute
    * order-dependent VALUES — any of those on the probed side means
    * the execution-time key set may differ from the probed one, and
    * pruning against the probed set would silently drop join rows.
    */
  private def stableRowSet(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.catalyst.plans.logical._
    // Sum/Average only over EXACT numerics: a floating-point sum is
    // merge-order-dependent, so a join key derived from sum(double)
    // (e.g. cast to long) can land differently between the probe
    // execution and the real one — pruning against the probed keys
    // would silently drop join rows
    def exactNumeric(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _: DecimalType => true
        case _ => false
      }
    }
    def orderInsensitive(f: AggregateFunction): Boolean = f match {
      case _: Min | _: Max | _: Count => true
      case sm: Sum => exactNumeric(sm.child.dataType)
      case av: Average => exactNumeric(av.child.dataType)
      case _ => false
    }
    def ok(n: LogicalPlan): Boolean = n match {
      case _: LocalRelation | _: Range | _: OneRowRelation => true
      case _: LogicalRelation => true
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        ok(pr.child)
      case flt: Filter if flt.condition.deterministic => ok(flt.child)
      case sa: SubqueryAlias => ok(sa.child)
      case d: Distinct => ok(d.child)
      case srt: Sort => ok(srt.child) // order-only; the row SET is stable
      case r: Repartition => ok(r.child)
      case r: RepartitionByExpression
          if r.partitionExpressions.forall(_.deterministic) => ok(r.child)
      case u: Union => u.children.forall(ok)
      case jn: Join if jn.condition.forall(_.deterministic) =>
        ok(jn.left) && ok(jn.right)
      case ag: Aggregate
          if ag.groupingExpressions.forall(_.deterministic) &&
            ag.aggregateExpressions.forall(_.deterministic) &&
            ag.aggregateExpressions.flatMap(_.collect {
              case ae: AggregateExpression => ae.aggregateFunction
            }).forall(orderInsensitive) => ok(ag.child)
      case _ => false
    }
    ok(p)
  }

  /** Dynamic file pruning for equi-joins against a LITERAL small
    * side: `lake.join(localDf, "col")` scans only the lake files
    * whose key/bloom index may contain one of the local side's keys —
    * the DFP pattern of lakehouse engines, driven by this engine's own
    * secondary indexes instead of runtime subquery results. Sound for
    * Inner and LeftSemi joins: rows from pruned files can never
    * produce output (their key provably matches no local-side row);
    * uncovered files are always kept.
    */
  private def rewriteJoin(
      j: org.apache.spark.sql.catalyst.plans.logical.Join): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    if (j.joinType != Inner && j.joinType != LeftSemi) return None
    val eqs = j.condition.toSeq.flatMap(splitConjunctivePredicates).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference) => (a, b)
    }
    if (eqs.isEmpty) return None

    // the small side's key strings. Only StringType and integral
    // types are accepted (the Filter path's discipline): for those the
    // JVM toString equals Spark's cast-to-string, so the probe hashes
    // the same bytes the key/bloom index was built from. Date/Timestamp/
    // Decimal internal forms (days int, micros long, Decimal) do NOT —
    // probing with them would find no candidates and wrongly prune
    // files that contain matches.
    def keyType(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      dt match {
        case StringType | ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    def localKeys(p: LogicalPlan,
        attr: AttributeReference): Option[Seq[String]] = p match {
      case lr: LocalRelation if lr.data.size <= MaxJoinProbeKeys =>
        val i = lr.output.indexWhere(_.exprId == attr.exprId)
        if (i < 0 || !keyType(lr.output(i).dataType)) None
        else Some(lr.data.flatMap { row =>
          if (row.isNullAt(i)) None
          else Some(row.get(i, lr.output(i).dataType).toString)
        })
      // ANY deterministic small subplan — the common 100 TB shape is
      // lake.join(dimParquet.filter(...), key), not a literal list.
      // "Small" is Catalyst's own broadcast signal (stats ≤
      // autoBroadcastJoinThreshold); the side is evaluated ONCE, with
      // a limit guard, under the probing flag (same discipline as the
      // index probes — this is dynamic file pruning, the subquery
      // evaluation IS the point). The probed key set must be STABLE
      // under re-execution, so both non-deterministic expressions AND
      // row-selection/row-order-sensitive operators (Limit, Sample,
      // Window, order-sensitive aggregates — whose expressions are all
      // "deterministic" yet whose output rows are not) → bail: the
      // keys at execution could differ from the probed set, and files
      // holding the execution-time keys would already be pruned.
      case p if p.output.exists(a => a.exprId == attr.exprId &&
          keyType(a.dataType)) =>
        val thresh = spark.sessionState.conf.autoBroadcastJoinThreshold
        if (thresh <= 0 || p.stats.sizeInBytes > thresh) return None
        if (!stableRowSet(p)) return None
        import org.apache.spark.sql.catalyst.plans.logical.{Distinct, Limit, Project}
        // distinct first: the probe needs the key SET, so a side with
        // many rows over few keys still qualifies
        val keyPlan = Limit(
          org.apache.spark.sql.catalyst.expressions.Literal(
            MaxJoinProbeKeys + 1),
          Distinct(Project(Seq(attr), p)))
        // memoized on the CANONICALIZED key plan (structural equality,
        // not hash-only — a collision must be impossible, a colliding
        // key set would prune unsoundly): re-optimization of a reused
        // DataFrame re-enters this rule per action, and only the index
        // probe downstream is memoized — without this memo the dim-side
        // distinct-keys Spark job re-runs per action even when the
        // probe then prunes nothing
        memoKeys(keyPlan.canonicalized) {
          probing.set(true)
          try {
            val rows = spark.sessionState.executePlan(keyPlan)
              .executedPlan.executeCollect()
            if (rows.length > MaxJoinProbeKeys) None
            else {
              val dt = attr.dataType
              Some(rows.toSeq.flatMap(r =>
                if (r.isNullAt(0)) None
                else Some(r.get(0, dt).toString)))
            }
          } catch { case scala.util.control.NonFatal(_) => None }
          finally probing.set(false)
        }
      case _ => None
    }

    // the eligible lake relation producing `attr`, reachable from the
    // join side ONLY through prune-transparent operators — ones where
    // deleting an input row deletes exactly the output rows derived
    // from it and changes nothing else. Limit/Sample/Window/Aggregate/
    // outer joins/non-deterministic projections are NOT transparent:
    // e.g. lake.limit(5).join(dim) must keep all files, else pruning
    // changes WHICH 5 rows the limit selects.
    def lakeTarget(p: LogicalPlan,
        attr: AttributeReference): Option[(LogicalRelation,
          (HadoopFsRelation, String, Set[String]))] = {
      import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
      import org.apache.spark.sql.catalyst.plans.logical.{Join, Project, SubqueryAlias}
      def descend(n: LogicalPlan): Option[LogicalRelation] = n match {
        case l: LogicalRelation if l.output.exists(_.exprId == attr.exprId) =>
          Some(l)
        case pr: Project if pr.projectList.forall(_.deterministic) =>
          descend(pr.child)
        case flt: Filter if flt.condition.deterministic =>
          descend(flt.child)
        case sa: SubqueryAlias => descend(sa.child)
        case jn: Join if (jn.joinType == Inner || jn.joinType == Cross) &&
            jn.condition.forall(_.deterministic) =>
          // attr's exprId is unique, so at most one side produces it
          Seq(jn.left, jn.right)
            .find(_.outputSet.exists(_.exprId == attr.exprId))
            .flatMap(descend)
        case _ => None
      }
      descend(p).flatMap(l => eligible(l).map(e => (l, e)))
    }

    // coverage check FIRST: a small-side evaluation (localKeys' subplan
    // branch) runs a Spark job, so it must never fire for joins whose
    // lake side has no key/bloom index to prune with
    // length-prefixed, like the Filter path's psig: a key value
    // containing the separator must not alias another key list
    def joinSig(keys: Seq[String]): String =
      "join" + keys.map(k => s"${k.length}:$k").mkString
    def hasIndex(prefix: String, colName: String): Boolean =
      IndexStore.metadataRowsCached(spark, prefix).exists(r =>
        r.column == colName &&
          (r.indexType == "key" || r.indexType == "bloom"))

    eqs.view.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .flatMap { case (lakeAttr, localAttr) =>
        val (lakeSide, localSide) =
          if (j.left.outputSet.contains(lakeAttr)) (j.left, j.right)
          else (j.right, j.left)
        if (!localSide.outputSet.contains(localAttr)) None
        else for {
          (lrel, (fsRel, prefix, allFiles)) <- lakeTarget(lakeSide, lakeAttr)
          if hasIndex(prefix, lakeAttr.name)
          keys <- localKeys(localSide, localAttr)
          if keys.nonEmpty
          keep <- keepFor(prefix, allFiles, lakeAttr.name, "key",
              joinSig(keys), keyProbe(_, keys))
            .orElse(keepFor(prefix, allFiles, lakeAttr.name, "bloom",
              joinSig(keys), bloomProbe(_, keys)))
          if keep.size < allFiles.size
        } yield {
          val pruned = new InMemoryFileIndex(spark,
            keep.toSeq.sorted.map(new Path(_)), Map.empty,
            Some(fsRel.dataSchema))
          markPruned(pruned)
          val newRel = fsRel.copy(location = pruned)(spark)
          val newSide = lakeSide.transform {
            case l: LogicalRelation if l eq lrel => l.copy(relation = newRel)
          }
          if (lakeSide eq j.left) j.copy(left = newSide)
          else j.copy(right = newSide)
        }
      }.headOption
  }

  /** Covered files whose meta rows carry any candidate (idx, uid) —
    * the shared tail of every probe.
    */
  private def filesOf(paths: Seq[String], cands: Set[(Int, Long)]): Set[String] =
    paths.zipWithIndex.flatMap { case (p, i) =>
      graft.api.IndexKind.metaRows(spark, p)
        .filter(r => cands.contains((i, r._1)))
        .map(r => Layout.canonPath(r._2))
    }.toSet

  /** [[filesOf]] for a kind's candidate units; every covered file when
    * the index cannot bound the predicate (None).
    */
  private def unitFiles(paths: Seq[String],
      cands: Option[Set[(Int, Long)]]): Set[String] =
    cands.fold(coveredFiles(paths))(filesOf(paths, _))

  /** Every file the covering indexes `paths` cover. */
  private def coveredFiles(paths: Seq[String]): Set[String] =
    paths.flatMap(p => graft.api.IndexKind.metaRows(spark, p)
      .map(r => Layout.canonPath(r._2))).toSet

  /** Files whose sorted key table contains any of `keys` (pushed
    * equality filter → row-group pruning inside the key table itself).
    */
  private def keyProbe(paths: Seq[String], keys: Seq[String]): Set[String] = {
    filesOf(paths, graft.api.IndexKind.probe(
      graft.api.IndexKind.readTagged(spark, paths, "keys")
        .filter(col("key").isin(keys: _*))))
  }

  /** Files whose sorted key table has any key in [prefix, nextPrefix)
    * (both bounds pushed; see [[graft.index.KeyIndex.prefixUpperBound]]).
    */
  private def keyPrefixProbe(paths: Seq[String], prefix: String): Set[String] = {
    val ranged = graft.api.IndexKind.readTagged(spark, paths, "keys")
      .filter(col("key") >= prefix)
    val bounded = graft.index.KeyIndex.prefixUpperBound(prefix) match {
      case Some(hi) => ranged.filter(col("key") < hi)
      case None     => ranged
    }
    filesOf(paths, graft.api.IndexKind.probe(bounded))
  }

  /** Files whose bloom filter may contain any of `vals` (bitset probe
    * over the tiny blooms table; false positives keep extra files —
    * sound, the refine filter stays on top).
    */
  private def bloomProbe(paths: Seq[String], vals: Seq[String]): Set[String] = {
    filesOf(paths, graft.api.IndexKind.probe(
      graft.api.IndexKind.readTagged(spark, paths, "blooms")
        .filter(vals.map(graft.index.BloomIndex.probe).reduce(_ || _))))
  }

  /** STRICTLY integral literals. The dataType check matters: a
    * TIMESTAMP literal's internal value is also a Long (micros), and
    * letting it through would feed the bloom/key equality probes a
    * micros string where the index hashed the external timestamp
    * string — every probe would miss and covered files holding real
    * matches would be pruned.
    */
  private object IntLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Byte, org.apache.spark.sql.types.ByteType) => Some(v.toLong)
      case Literal(v: Short, org.apache.spark.sql.types.ShortType) => Some(v.toLong)
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => Some(v.toLong)
      case Literal(v: Long, org.apache.spark.sql.types.LongType) => Some(v)
      case _ => None
    }
  }

  /** Literals orderable on a Long axis — integral plus TIMESTAMP
    * (epoch micros) and DATE (epoch days) internal forms. Consumed
    * ONLY by the zone-map range path, whose probe compares in the zone
    * table's own type via `ZoneMapIndex.boundExpr`.
    */
  private object RangeLit {
    def unapply(e: Expression): Option[Long] = e match {
      case IntLit(v) => Some(v)
      case Literal(v: Long, org.apache.spark.sql.types.TimestampType) => Some(v)
      case Literal(v: Int, org.apache.spark.sql.types.DateType) => Some(v.toLong)
      case _ => None
    }
  }

  /** Tightest [lo, hi] implied by the conjuncts for EVERY attribute
    * carrying any integral bound (each feeds its own zone-map probe).
    * Strict bounds saturate outward at the Long domain edge (a > MAX
    * keeps [MAX, ∞) — a superset, still sound).
    */
  private def integralBounds(
      preds: Seq[Expression]): Seq[(String, Long, Long)] = {
    val lows = scala.collection.mutable.Map.empty[String, Long]
    val highs = scala.collection.mutable.Map.empty[String, Long]
    def lo(a: String, v: Long): Unit =
      lows(a) = math.max(lows.getOrElse(a, Long.MinValue), v)
    def hi(a: String, v: Long): Unit =
      highs(a) = math.min(highs.getOrElse(a, Long.MaxValue), v)
    val order = Seq.newBuilder[String]
    preds.foreach { p =>
      p match {
        case GreaterThanOrEqual(a: AttributeReference, RangeLit(v)) => lo(a.name, v)
        case GreaterThan(a: AttributeReference, RangeLit(v)) =>
          lo(a.name, if (v == Long.MaxValue) v else v + 1)
        case LessThanOrEqual(a: AttributeReference, RangeLit(v)) => hi(a.name, v)
        case LessThan(a: AttributeReference, RangeLit(v)) =>
          hi(a.name, if (v == Long.MinValue) v else v - 1)
        case EqualTo(a: AttributeReference, RangeLit(v)) => lo(a.name, v); hi(a.name, v)
        case GreaterThanOrEqual(RangeLit(v), a: AttributeReference) => hi(a.name, v)
        case GreaterThan(RangeLit(v), a: AttributeReference) =>
          hi(a.name, if (v == Long.MinValue) v else v - 1)
        case LessThanOrEqual(RangeLit(v), a: AttributeReference) => lo(a.name, v)
        case LessThan(RangeLit(v), a: AttributeReference) =>
          lo(a.name, if (v == Long.MaxValue) v else v + 1)
        case EqualTo(RangeLit(v), a: AttributeReference) => lo(a.name, v); hi(a.name, v)
        case _ => ()
      }
      p.references.foreach(r => order += r.name)
    }
    order.result().distinct
      .filter(a => lows.contains(a) || highs.contains(a))
      .map(a => (a, lows.getOrElse(a, Long.MinValue),
        highs.getOrElse(a, Long.MaxValue)))
  }

  /** Files whose zone-map row groups overlap [lo, hi]. Non-integral
    * zone tables (string keys) return every covered file — "nothing
    * pruned", plan untouched.
    */
  private def zoneProbe(paths: Seq[String], lo: Long, hi: Long): Set[String] = {
    val zones = graft.api.IndexKind.readTagged(spark, paths, "zones")
    // integral zones compare raw; TIMESTAMP/DATE zones read the bound
    // as epoch micros/days — exactly the internal Long/Int Catalyst
    // folds time-typed literals to, so `ts BETWEEN t1 AND t2` prunes
    // like any integer range. Other types (string zones) return every
    // covered file — "nothing pruned", plan untouched.
    val comparable = zones.schema("lo").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.DateType => true
      case _ => false
    }
    if (!comparable) coveredFiles(paths)
    else {
      val dt = zones.schema("lo").dataType
      val loE = graft.index.ZoneMapIndex.boundExpr(dt, lo)
      val hiE = graft.index.ZoneMapIndex.boundExpr(dt, hi)
      // ONE tagged scan + collect across all covering indexes
      filesOf(paths, graft.api.IndexKind.probe(
        zones.filter(col("hi") >= loE && col("lo") <= hiE))) // overlap test
    }
  }
}

object IndexPruneRule {
  private val probing = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  // identity set (weak: a dropped plan must not pin its FileIndex) of
  // the pruned locations this rule has produced — the fixpoint
  // re-entry guard in `eligible`
  private val prunedLocations = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[
      org.apache.spark.sql.execution.datasources.FileIndex,
      java.lang.Boolean]())

  private[plans] def markPruned(
      fi: org.apache.spark.sql.execution.datasources.FileIndex): Unit =
    prunedLocations.synchronized { prunedLocations.add(fi) }

  private def isPruned(
      fi: org.apache.spark.sql.execution.datasources.FileIndex): Boolean =
    prunedLocations.synchronized { prunedLocations.contains(fi) }

  // short-TTL bounded memos, each LRU-capped. The TTL (not an mtime
  // protocol) bounds staleness if an index dir is ever deleted and
  // rebuilt in place between bursts. A memoized None ("did not
  // qualify") is cached like any value, so a non-qualifying probe costs
  // its Spark job at most once per TTL window.
  private val ProbeMemoTtlMs = 60000L

  private[plans] final class TtlMemo[K, V](max: Int) {
    private val m = new graft.core.LruMap[K, (Long, V)](max)
    def apply(key: K)(f: => V): V = {
      val now = System.currentTimeMillis()
      m.get(key) match {
        case Some((t, v)) if now - t < ProbeMemoTtlMs => v
        case _ =>
          val v = f
          m.put(key, (now, v))
          v
      }
    }
  }

  // probe keep sets: the same (indexes, predicate) probe repeats across
  // fixpoint iterations and across actions on a reused DataFrame
  // within one interactive burst
  private[plans] val memoProbe = new TtlMemo[String, Set[String]](256)

  // join-DFP small-side key evaluation, keyed by the CANONICALIZED key
  // plan object (structural equality — collision-free by construction)
  private[plans] val memoKeys = new TtlMemo[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    Option[Seq[String]]](64)

  /** Column stats derived from a zone-map index: min/max (Long for
    * integral zones, String for string zones), count(*) from meta
    * num_rows, and the non-null count when every owned zone row
    * carries the `nn` column.
    */
  private[plans] case class ZStats(lo: Option[Any], hi: Option[Any],
      n: Long, nn: Option[Long], s: Option[BigDecimal])

  // zone-stats aggregate probe; None = not fully covered / unsupported
  // zone type
  private[plans] val memoStats = new TtlMemo[String, Option[ZStats]](64)

  /** Combined per-measure stats of one group: count(measure),
    * sum(measure) as exact decimal (None = all-NULL measure group),
    * min/max in EXTERNAL form (converted to internal at row build).
    */
  private[plans] case class MStat(nn: Long, s: Option[BigDecimal],
      lo: Option[Any], hi: Option[Any])

  /** One combined group of the agg-index probe: key tuple in EXTERNAL
    * form (spec key-column order), count(*), and every spec measure's
    * [[MStat]] by column name — query-independent, so the memo can be
    * shared across queries needing different aggregate kinds.
    */
  private[plans] case class GRow(keys: Seq[Any], n: Long,
      ms: Map[String, MStat])

  /** Group-count budget for the agg-index rewrite: past this the
    * LocalRelation stops being metadata-scale and the scan wins.
    */
  private[plans] val MaxGroups = 100000

  // grouped-aggregate probe; None = not covered / over budget / wrong
  // measure
  private[plans] val memoGroups = new TtlMemo[String, Option[Seq[GRow]]](64)

  /** Attach the rule to an existing session (idempotent). */
  def enable(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[IndexPruneRule]))
      spark.experimental.extraOptimizations = cur :+ new IndexPruneRule(spark)
  }
}
