package graft.ops

import graft.{Q, Tables}
import graft.core.{IndexStore, Lake, Layout}
import graft.index.ZoneMapIndex
import org.apache.spark.sql.functions._

/** Physical-layout scan and virtual-mode zone-map queries. */
object LayoutQueries {

  def entries: Map[String, Q] = Map(
    // footer-only layout scan (reference: get_parquet_layout,
    // src/formats/parquet.rs:243-419): totals must agree with the data
    "parquet_layout" -> Q((s, dir) => {
      val layout = Layout.scan(s,
        Seq(Tables.path(dir, "documents"), Tables.path(dir, "lineitem")))
      layout
        .withColumn("table_name",
          regexp_extract(col("file_path"), "([a-z]+)\\.parquet$", 1))
        .groupBy(col("table_name"))
        .agg(sum(col("num_rows")).as("n_rows"))
    },
      """SELECT 'documents' AS table_name, count(*) AS n_rows FROM documents
        |UNION ALL SELECT 'lineitem', count(*) FROM lineitem""".stripMargin),

    // virtual-mode zone map (reference: backends/utils.py:110-126):
    // range query pruned by per-row-group min/max, then refined
    "zonemap_range_search" -> Q((s, dir) => {
      val files = Lake.ensureSplit(s, dir, "orders", "o_orderkey", 4)
      val p = IndexStore.indexPath(dir, "zonemap_orders_orderkey")
      IndexStore.ensure(p) { ZoneMapIndex.build(s, files, "o_orderkey", p) }
      graft.api.ZoneMapKind.searchIndex(s, p, "o_orderkey", "1000..1200")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 1200 ORDER BY o_orderkey""".stripMargin),

    // metadata-only table stats: min/max/count(*) answered from the
    // zone-map index tables alone — zero lake data pages read (the
    // dataset-card / planner-stats query a 100 TB lake cannot afford
    // to scan for)
    "zonemap_stats_agg" -> Q((s, dir) => {
      val files = Lake.ensureSplit(s, dir, "orders", "o_orderkey", 4)
      val p = IndexStore.indexPath(dir, "zonemap_orders_orderkey")
      IndexStore.ensure(p) { ZoneMapIndex.build(s, files, "o_orderkey", p) }
      ZoneMapIndex.statsAgg(s, p)
    },
      "SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi, count(*) AS n FROM orders"),

    // the same stats through PLAIN Spark: read.parquet + agg, no graft
    // API in the query — the Catalyst rule replaces the whole scan
    // with a one-row LocalRelation computed from the committed zone
    // map (full coverage required; StatsAggSpec pins that the scan
    // really disappears)
    "catalyst_stats_agg" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "orders", "o_orderkey", 4)
      val prefix = Lake.splitPath(dir, "orders")
      graft.api.GraftLake(s, prefix).index(graft.api.ZoneMapKind, "o_orderkey")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).agg(
        min(col("o_orderkey")).as("lo"),
        max(col("o_orderkey")).as("hi"),
        count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("sm"))
    },
      // DuckDB sums BIGINT into HUGEINT — cast back so the dtypes match
      "SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi, " +
        "count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sm FROM orders"),

    // time-range pruning — THE log-lake access path: a PLAIN
    // read.parquet + ts BETWEEN filter transparently file-pruned via a
    // committed TIMESTAMP zone map (Catalyst folds the time literals
    // to epoch micros; the probe compares them in the zone table's own
    // type)
    "catalyst_zonemap_prune_ts" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "events", "ts", 4, alias = "events_ts")
      val prefix = Lake.splitPath(dir, "events_ts")
      graft.api.GraftLake(s, prefix).index(graft.api.ZoneMapKind, "ts")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix)
        .filter(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
          col("ts") <= lit("2024-01-03 00:00:00").cast("timestamp"))
        .select(col("event_id")).orderBy(col("event_id"))
    },
      """SELECT event_id FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-02 00:00:00'
        |  AND TIMESTAMP '2024-01-03 00:00:00'
        |ORDER BY event_id""".stripMargin),

    // metadata-only time-domain stats: the retention/observability
    // question ("what time range does this lake hold?") answered
    // without reading a data page
    "catalyst_stats_agg_ts" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "events", "ts", 4, alias = "events_ts")
      val prefix = Lake.splitPath(dir, "events_ts")
      graft.api.GraftLake(s, prefix).index(graft.api.ZoneMapKind, "ts")
      graft.plans.IndexPruneRule.enable(s)
      val agg = s.read.parquet(prefix).agg(
        min(col("ts")).as("tlo"), max(col("ts")).as("thi"),
        count(col("ts")).as("nn"))
      // epoch-micros BIGINT projection: pandas re-reads parquet
      // timestamps as ns and the driver's schema gate would flag the
      // us/ns dtype split; the rewrite fires on the inner agg either
      // way (the projection sits above it)
      agg.select(unix_micros(col("tlo")).as("lo"),
        unix_micros(col("thi")).as("hi"), col("nn"))
    },
      // CAST pins DuckDB to microsecond timestamps first (the raw
      // parquet may be nanos-encoded; Spark's lake is micros)
      "SELECT epoch_us(CAST(min(ts) AS TIMESTAMP)) AS lo, " +
        "epoch_us(CAST(max(ts) AS TIMESTAMP)) AS hi, count(ts) AS nn FROM events"),

    // top-k pushdown: ORDER BY ts DESC LIMIT k (the "latest N events"
    // query) scans only the row groups whose zones can hold a top-k
    // value — the Sort+Limit refine keeps semantics exact
    "catalyst_topk_prune" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "events", "ts", 4, alias = "events_ts")
      val prefix = Lake.splitPath(dir, "events_ts")
      graft.api.GraftLake(s, prefix).index(graft.api.ZoneMapKind, "ts")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix)
        .orderBy(col("ts").desc, col("event_id"))
        .limit(10)
        .select(col("event_id"), col("event_type"))
    },
      """SELECT event_id, event_type FROM events
        |ORDER BY ts DESC, event_id LIMIT 10""".stripMargin),

    // string + count(col) flavor of the stats rewrite: string min/max
    // use Spark's UTF8-byte order, count(col) rides the zone map's
    // per-group non-null counts
    "catalyst_stats_agg_str" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "orders", "o_orderkey", 4)
      val prefix = Lake.splitPath(dir, "orders")
      graft.api.GraftLake(s, prefix)
        .index(graft.api.ZoneMapKind, "o_orderstatus")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).agg(
        min(col("o_orderstatus")).as("lo"),
        max(col("o_orderstatus")).as("hi"),
        count(col("o_orderstatus")).as("nn"))
    },
      "SELECT min(o_orderstatus) AS lo, max(o_orderstatus) AS hi, " +
        "count(o_orderstatus) AS nn FROM orders"),

    // SURVEY §7.4 stretch, range flavor: a PLAIN spark.read.parquet +
    // range filter — no graft API in the query — transparently
    // file-pruned by the Catalyst IndexPruneRule via the committed
    // zone-map index; the refine filter stays so semantics are exact
    "catalyst_zonemap_prune" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "orders", "o_orderkey", 4)
      val prefix = Lake.splitPath(dir, "orders")
      graft.api.GraftLake(s, prefix).index(graft.api.ZoneMapKind, "o_orderkey")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix)
        .filter(col("o_orderkey") >= 1000 && col("o_orderkey") <= 1200)
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 1200 ORDER BY o_orderkey""".stripMargin),

    // per-row-group Bloom filters over a HASH-SCATTERED lake (the
    // layout where sorted key tables and min/max zones are both
    // useless): map-only build, equality probe pruned to the few
    // groups that may hold the key, exact refine (parquet/Delta
    // bloom-filter analog — the point-lookup path a 100 TB lake needs
    // for columns it is not clustered by)
    "bloom_search" -> Q((s, dir) => {
      val lake = IndexStore.indexPath(dir, "lake_documents_hashed")
      IndexStore.ensure(lake) {
        Tables.load(s, dir, "documents").repartition(4, col("doc_id"))
          .write.mode("overwrite").parquet(lake)
      }
      val p = IndexStore.indexPath(dir, "bloom_documents_docid")
      IndexStore.ensure(p) {
        graft.index.BloomIndex.build(s, Lake.listFiles(lake), "doc_id", p)
      }
      graft.api.BloomKind.searchIndex(s, p, "doc_id", "17")
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
    },
      "SELECT doc_id, source FROM documents WHERE doc_id = 17 ORDER BY doc_id"),

    // SURVEY §7.4 stretch, equality flavor: a PLAIN spark.read.parquet
    // + integral equality filter — no graft API in the query —
    // transparently file-pruned by the Catalyst IndexPruneRule via the
    // committed bloom index; the refine filter stays so semantics are
    // exact
    "catalyst_bloom_prune" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "customer", "c_custkey", 4)
      val prefix = Lake.splitPath(dir, "customer")
      graft.api.GraftLake(s, prefix).index(graft.api.BloomKind, "c_custkey")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix)
        .filter(col("c_custkey") === 137)
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey = 137 " +
        "ORDER BY c_custkey"),

    // dynamic file pruning: a PLAIN equi-join of the lake against a
    // small literal dimension — no graft API, no filter — prunes the
    // lake scan to files whose bloom index may hold one of the join
    // keys (the lakehouse DFP pattern, driven by the engine's own
    // secondary indexes)
    "catalyst_join_prune" -> Q((s, dir) => {
      import s.implicits._
      Lake.ensureSplit(s, dir, "customer", "c_custkey", 4)
      val prefix = Lake.splitPath(dir, "customer")
      graft.api.GraftLake(s, prefix).index(graft.api.BloomKind, "c_custkey")
      graft.plans.IndexPruneRule.enable(s)
      val dim = Seq(42L, 137L).toDF("c_custkey")
      s.read.parquet(prefix).join(dim, "c_custkey")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (42, 137) " +
        "ORDER BY c_custkey"),

    // materialized-view matching: a PLAIN read.parquet + GROUP BY over
    // a fully agg-indexed lake is answered from the committed per-
    // (row-group, key) partials — zero lake data pages (the per-source
    // dashboard query at 100 TB); GroupAggSpec pins the scan really
    // disappears and every veto keeps the scan's exact semantics
    "catalyst_group_agg" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.index.AggIndex.ensureRegistered(s, prefix, "source", "n_chars")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).groupBy(col("source"))
        .agg(count(lit(1)).as("n"), count(col("n_chars")).as("nn"),
          sum(col("n_chars")).as("sm"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
        .orderBy(col("source"))
    },
      """SELECT source, count(*) AS n, count(n_chars) AS nn,
        |  CAST(sum(n_chars) AS BIGINT) AS sm,
        |  min(n_chars) AS lo, max(n_chars) AS hi
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // timestamp flavor: per-event-type time ranges (the observability
    // "first/last seen per type" query) served from the committed
    // partials — min/max combine in TimestampType, the projection above
    // the aggregate converts to epoch micros only for the oracle dtype
    "catalyst_group_agg_ts" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "events", "ts", 4, alias = "events_ts")
      val prefix = Lake.splitPath(dir, "events_ts")
      graft.index.AggIndex.ensureRegistered(s, prefix, "event_type", "ts")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("ts")).as("tlo"),
          max(col("ts")).as("thi"))
        .select(col("event_type"), col("n"),
          unix_micros(col("tlo")).as("lo"), unix_micros(col("thi")).as("hi"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, count(*) AS n,
        |  epoch_us(CAST(min(ts) AS TIMESTAMP)) AS lo,
        |  epoch_us(CAST(max(ts) AS TIMESTAMP)) AS hi
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // multi-measure flavor: ONE index build pass stores every
    // measure's (nn, s, lo, hi) quartet side by side — a dashboard key
    // with d measures costs one lake scan, not d (the narrowest
    // qualifying spec wins when several agg indexes share the key)
    "catalyst_group_agg_measures" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.index.AggIndex.ensureRegistered(s, prefix,
        Seq("source"), Seq("n_chars", "doc_id"))
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sc"), max(col("n_chars")).as("hc"),
          sum(col("doc_id")).as("sd"), min(col("doc_id")).as("ld"))
        .orderBy(col("source"))
    },
      """SELECT source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sc, max(n_chars) AS hc,
        |  CAST(sum(doc_id) AS BIGINT) AS sd, min(doc_id) AS ld
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // composite-key flavor: GROUP BY k1, k2 served from one index
    // whose cells key on the (k1, k2) tuple — grouping order in the
    // query is independent of the spec's key order
    "catalyst_group_agg_2key" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.index.AggIndex.ensureRegistered(s, prefix,
        Seq("source", "lang"), Seq("n_chars"))
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sm"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
        .orderBy(col("lang"), col("source"))
    },
      """SELECT lang, source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sm,
        |  min(n_chars) AS lo, max(n_chars) AS hi
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin),

    // key-only WHERE served from the same cells: every row of a cell
    // shares the full key tuple, so the predicate evaluates per cell
    // (Catalyst's own eval — scan semantics for =, IN, LIKE, null
    // handling) and the grouping re-combines the survivors — the
    // filtered dashboard query, still zero lake pages
    "catalyst_group_agg_filtered" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.index.AggIndex.ensureRegistered(s, prefix,
        Seq("source", "lang"), Seq("n_chars"))
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix)
        .filter(col("lang").isin("en", "de"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sm"),
          max(col("n_chars")).as("hi"))
        .orderBy(col("source"))
    },
      """SELECT source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sm, max(n_chars) AS hi
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY source ORDER BY source""".stripMargin),

    // grouping by a SUBSET of the spec keys: the (source, lang) cells
    // re-combine driver-side into per-lang groups (exact by
    // associativity) — one composite index serves GROUP BY source,
    // GROUP BY lang, and GROUP BY both
    "catalyst_group_agg_keysubset" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.index.AggIndex.ensureRegistered(s, prefix,
        Seq("source", "lang"), Seq("n_chars"))
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sm"),
          min(col("n_chars")).as("lo"))
        .orderBy(col("lang"))
    },
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sm, min(n_chars) AS lo
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // HAVING: the post-aggregation filter sits ABOVE the Aggregate, so
    // the rewrite fires underneath and the predicate evaluates over
    // the LocalRelation rows — SQL's filtered-dashboard tail for free
    "catalyst_group_agg_having" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.index.AggIndex.ensureRegistered(s, prefix, "source", "n_chars")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sm"))
        .filter(col("sm") >= col("n") * 299) // above-avg-doc sources
        .orderBy(col("source"))
    },
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sm
        |FROM documents GROUP BY source
        |HAVING sum(n_chars) >= count(*) * 299
        |ORDER BY source""".stripMargin),

    // the same rewrite from PURE SQL (the BI-tool statement): a
    // spark.sql GROUP BY over parquet.`prefix` plans to the identical
    // Aggregate-over-relation shape, so the materialized-view matching
    // is transparent to SQL-only users — no TVF, no Scala
    "catalyst_group_agg_sql" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.index.AggIndex.ensureRegistered(s, prefix,
        Seq("source", "lang"), Seq("n_chars"))
      graft.plans.IndexPruneRule.enable(s)
      s.sql(s"""SELECT source, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS sm, max(n_chars) AS hi
        |FROM parquet.`$prefix`
        |WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin)
    },
      """SELECT source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sm, max(n_chars) AS hi
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin),

    // the "top sources" tile: ORDER BY count DESC LIMIT n sits ABOVE
    // the Aggregate, so the rewrite fires underneath and the sort/limit
    // run over the driver-built rows — still zero lake pages
    "catalyst_group_agg_topn" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.index.AggIndex.ensureRegistered(s, prefix, "source", "n_chars")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sm"))
        .orderBy(col("n").desc, col("source")).limit(5)
    },
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sm
        |FROM documents GROUP BY source
        |ORDER BY n DESC, source LIMIT 5""".stripMargin),

    // exact AVG, the order-independent spelling: avg() itself
    // accumulates doubles in scan order (not hash-stable across
    // engines), but sum(m)/count(m) over the served partials is a
    // deterministic scalar wrapper above two rewritten aggregates —
    // the decimal sum is exact and one double division is one IEEE op
    "catalyst_group_agg_avg" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.index.AggIndex.ensureRegistered(s, prefix, "source", "n_chars")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).groupBy(col("source"))
        .agg((sum(col("n_chars")).cast("double") /
          count(col("n_chars"))).as("avg_chars"),
          count(lit(1)).as("n"))
        .orderBy(col("source"))
        .select(col("source"), col("avg_chars"), col("n"))
    },
      """SELECT source,
        |  CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS avg_chars,
        |  count(*) AS n
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // COUNT(DISTINCT key) — the "daily active users" tile shape: cells
    // are distinct by the full (source, lang) tuple, so the distinct
    // lang count within each source group is exactly the number of
    // distinct non-null lang values among its cells — served with the
    // counts/sums from the same index, zero lake pages
    "catalyst_group_agg_countdistinct" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.index.AggIndex.ensureRegistered(s, prefix,
        Seq("source", "lang"), Seq("n_chars"))
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).groupBy(col("source"))
        .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("dl"),
          sum(col("n_chars")).as("sm"))
        .orderBy(col("source"))
    },
      """SELECT source, count(*) AS n, count(DISTINCT lang) AS dl,
        |  CAST(sum(n_chars) AS BIGINT) AS sm
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // expression grouping keys: the calendar-rollup BI tile — GROUP BY
    // date_trunc('month', d) / year(d) over a DATE-keyed index (the
    // bounded-ndv key production tiles are built on). Every row of a
    // cell shares its key value, so the derived expression is constant
    // per cell: it evaluates driver-side with Catalyst's own eval
    // (timezone semantics included) and the ~ndv(day) cells re-combine
    // into months/years — zero lake pages at any corpus size
    "catalyst_group_agg_datetrunc" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "orders", "o_orderkey", 4)
      val prefix = Lake.splitPath(dir, "orders")
      graft.index.AggIndex.ensureRegistered(s, prefix,
        "o_orderdate", "o_custkey")
      graft.plans.IndexPruneRule.enable(s)
      s.sql(s"""SELECT unix_micros(date_trunc('MONTH', o_orderdate)) AS mth,
        | CAST(year(o_orderdate) AS BIGINT) AS yr,
        | count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS sc
        |FROM parquet.`$prefix`
        |GROUP BY date_trunc('MONTH', o_orderdate), year(o_orderdate)
        |ORDER BY mth""".stripMargin)
    },
      """SELECT epoch_us(date_trunc('month', o_orderdate)) AS mth,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS sc
        |FROM orders
        |GROUP BY date_trunc('month', o_orderdate), year(o_orderdate)
        |ORDER BY mth""".stripMargin),

    // the filtered KPI tile: a GLOBAL aggregate under a key-only WHERE
    // — cells combine into the one row (the always-one-row contract
    // holds even when the filter kills every cell), zero lake pages
    "catalyst_stats_agg_filtered" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "documents", "doc_id", 4)
      val prefix = Lake.splitPath(dir, "documents")
      graft.index.AggIndex.ensureRegistered(s, prefix,
        Seq("source", "lang"), Seq("n_chars"))
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix).filter(col("lang") === "zh")
        .agg(count(lit(1)).as("n"), count(col("n_chars")).as("nn"),
          sum(col("n_chars")).as("sm"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    },
      """SELECT count(*) AS n, count(n_chars) AS nn,
        |  CAST(sum(n_chars) AS BIGINT) AS sm,
        |  min(n_chars) AS lo, max(n_chars) AS hi
        |FROM documents WHERE lang = 'zh'""".stripMargin),

    // Z-order clustering (OPTIMIZE ZORDER analog): one range shuffle
    // on the Morton interleave gives BOTH columns row-group locality;
    // a 2-D range query prunes by the INTERSECTION of two zone maps,
    // then refines exactly
    "zorder_search_2d" -> Q((s, dir) => {
      val lake = IndexStore.indexPath(dir, "lake_orders_zorder")
      IndexStore.ensure(lake) {
        ZOrder.cluster(Tables.load(s, dir, "orders"),
          "o_custkey", "o_orderkey", 8, lake)
      }
      val files = Lake.listFiles(lake)
      val pa = IndexStore.indexPath(dir, "zonemap_zorder_custkey")
      IndexStore.ensure(pa) { ZoneMapIndex.build(s, files, "o_custkey", pa) }
      val pb = IndexStore.indexPath(dir, "zonemap_zorder_orderkey")
      IndexStore.ensure(pb) { ZoneMapIndex.build(s, files, "o_orderkey", pb) }
      ZOrder.searchRange2(s,
        pa, "o_custkey", 100L, 120L,
        pb, "o_orderkey", 2000L, 4000L)
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey BETWEEN 100 AND 120
        |AND o_orderkey BETWEEN 2000 AND 4000 ORDER BY o_orderkey""".stripMargin)
  )
}
