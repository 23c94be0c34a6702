package graft.ops

import graft.Q
import graft.core.{IndexStore, Lake, Layout}
import graft.index.{FmIndex, NgramIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end substring-index query lifecycle over a multi-file
  * documents lake (SURVEY §3.2): plan → index probe → selective
  * materialize → refine → fill from unindexed files.
  *
  * Correctness follows the reference's implicit-oracle pattern (SURVEY
  * §5): the brute-force predicate IS the oracle — the index path must
  * return exactly the rows a full scan returns.
  */
object IndexQueries {

  val Table = "documents"
  val Column = "text"
  val Parts = 4

  private def lakeFiles(s: SparkSession, dir: String): Seq[String] =
    Lake.ensureSplit(s, dir, Table, "doc_id", Parts)

  /** Build one ngram index at `p` over `files` and commit its
    * metadata rows under namespace `ns` — the ONE place the
    * build → meta → per-file-counts → commitMetadata sequence lives
    * (Maintenance's compaction shares it; drift between the two would
    * make compacted-index metadata disagree with normally-built).
    * Returns the per-file (path, rows) counts.
    */
  private[ops] def buildAndCommit(s: SparkSession, ns: String,
      files: Seq[String], p: String): Seq[(String, Long)] = {
    NgramIndex.build(s, files, Column, p)
    val counts = s.read.parquet(s"$p/meta").groupBy("file_path")
      .agg(sum("num_rows").as("n")).orderBy("file_path")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    IndexStore.commitMetadata(s, ns,
      IndexStore.metadataRows(s, Table, Column,
        counts.map(_._1), counts.map(_._2),
        p, "ngram", counts.map(_._2).sum))
    counts
  }

  /** Build one ngram index over `files`, commit lake metadata. */
  private def buildIdx(s: SparkSession, dir: String, name: String,
      files: Seq[String]): String = {
    val p = IndexStore.indexPath(dir, name)
    IndexStore.ensure(p) { buildAndCommit(s, dir, files, p) }
    p
  }

  private def fullIdx(s: SparkSession, dir: String): String =
    buildIdx(s, dir, "ngram_documents_text", lakeFiles(s, dir))

  /** Page-granular index over a page-limited rewrite of the SAME
    * documents rows (sf-scale row groups hold one page per column at
    * parquet defaults, so exercising page granularity needs a lake
    * whose row groups actually split into pages; contents are
    * identical, so the DuckDB oracle over `documents` still applies).
    */
  private def pageIdx(s: SparkSession, dir: String): String = {
    val lake = Lake.ensurePagedCopy(s, dir, Table)
    val p = IndexStore.indexPath(dir, "ngram_documents_text_paged")
    IndexStore.ensure(p) {
      Layout.withPageGranularity(s) {
        NgramIndex.build(s, Lake.listFiles(lake), Column, p)
      }
    }
    p
  }

  /** Index over only the first half of the lake (partial coverage). */
  private def halfIdx(s: SparkSession, dir: String): String =
    buildIdx(s, dir, "ngram_documents_text_01", lakeFiles(s, dir).take(2))

  private def quarterIdx(s: SparkSession, dir: String, which: Int): String = {
    val files = lakeFiles(s, dir)
    buildIdx(s, dir, s"ngram_documents_text_q$which",
      files.slice(2 * which, 2 * which + 2))
  }

  /** Merged index of the two half-lake indexes — search(merged) must
    * equal search over the union of the parts.
    */
  private def mergedIdx(s: SparkSession, dir: String): String = {
    val a = quarterIdx(s, dir, 0)
    val b = quarterIdx(s, dir, 1)
    val p = IndexStore.indexPath(dir, "ngram_documents_text_merged")
    IndexStore.ensure(p) { NgramIndex.merge(s, a, b, p) }
    p
  }

  private def bruteSql(q: String) =
    s"SELECT doc_id FROM documents WHERE contains(lower(text), '$q') ORDER BY doc_id"

  val QueryStr = "merge merge"
  val ShortQueryStr = "qu"
  // 19 chars > FmIndex.W − 1: exercises the walk-cap + refine path
  val LongQueryStr = "stream vector spark"
  // regex queries: syntax in the Java-regex ∩ RE2 common subset so the
  // Spark rlike refine and the DuckDB regexp_matches oracle agree
  val RegexQueryStr = "fast [a-z]+ table" // literals "fast ", " table"
  val RegexGroupStr = "(slow|fast) scan" // group skipped; literal " scan"
  val RegexAltStr = "slow|fast" // top-level alternation: no literal

  /** A boolean query ([[graft.text.BoolQueryParser]] surface) over the
    * full gram index, with its oracle.
    */
  private def boolQ(q: String): Q = Q((s, dir) =>
    graft.api.BoolNgramKind.searchIndex(s, fullIdx(s, dir), Column, q)
      .select(col("doc_id")).orderBy(col("doc_id")),
    "SELECT doc_id FROM documents WHERE " +
      graft.index.BoolSearch.oraclePredicate("text",
        graft.text.BoolQueryParser.parse(q)) + " ORDER BY doc_id")

  private def regexSql(pat: String) =
    s"SELECT doc_id FROM documents WHERE regexp_matches(lower(text), '$pat') ORDER BY doc_id"

  // fuzzy (typo-tolerant) queries: each token within edit distance 1 of
  // a corpus token; the oracle recomputes the same levenshtein predicate
  val FuzzyQueryStr = "vektor" // "vector" at distance 1 (substitution)
  val FuzzyMultiStr = "slowe scann" // "slow"+insert, "scan"+insert

  /** fuzzySql shared with the facade entry (ApiQueries). */
  private[graft] def fuzzySqlPublic(q: String): String = fuzzySql(q)

  private def fuzzySql(q: String) = {
    val preds = graft.text.Text.RegexTokenizer.tokenizeQuery(q)
      .map(_.replace("'", "''")) // SQL-literal escape (see oraclePredicate)
      .map(t => s"len(list_filter(toks, t -> levenshtein(t, '$t') <= " +
        s"${graft.index.FuzzyIndex.MaxDist})) > 0")
      .mkString(" AND ")
    "SELECT doc_id FROM (SELECT doc_id, " +
      graft.text.Text.RegexTokenizer.oracleListExpr("text") +
      s" AS toks FROM documents) x WHERE $preds ORDER BY doc_id"
  }

  private def fuzzyIdx(s: SparkSession, dir: String): String = {
    val p = IndexStore.indexPath(dir, "fuzzy_documents_text")
    IndexStore.ensure(p) {
      graft.index.FuzzyIndex.build(s, lakeFiles(s, dir), Column, p)
    }
    p
  }

  /** Merged fuzzy index over the two lake quarters (compaction path). */
  private def fuzzyMergedIdx(s: SparkSession, dir: String): String = {
    val files = lakeFiles(s, dir)
    def part(which: Int): String = {
      val p = IndexStore.indexPath(dir, s"fuzzy_documents_text_q$which")
      IndexStore.ensure(p) {
        graft.index.FuzzyIndex.build(s,
          files.slice(2 * which, 2 * which + 2), Column, p)
      }
      p
    }
    val p = IndexStore.indexPath(dir, "fuzzy_documents_text_merged")
    IndexStore.ensure(p) {
      graft.index.FuzzyIndex.merge(s, part(0), part(1), p)
    }
    p
  }

  private def fmIdx(s: SparkSession, dir: String): String = {
    val p = IndexStore.indexPath(dir, "fm_documents_text")
    IndexStore.ensure(p) { FmIndex.build(s, lakeFiles(s, dir), Column, p) }
    p
  }

  private def waveletIdx(s: SparkSession, dir: String): String = {
    val p = IndexStore.indexPath(dir, "wavelet_documents_text")
    IndexStore.ensure(p) {
      graft.index.WaveletIndex.build(s, lakeFiles(s, dir), Column, p)
    }
    p
  }

  def entries: Map[String, Q] = Map(
    // full lifecycle: build (cached) → gram-intersect → selective read →
    // refine → project
    "substring_search" -> Q((s, dir) => {
      val p = fullIdx(s, dir)
      NgramIndex.search(s, p, Column, QueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, bruteSql(QueryStr)),

    // the reference's own retrieval granularity: one uid per DATA PAGE
    // of the indexed column (reference: src/formats/parquet.rs:243-419
    // maps hits to page byte ranges) — selective fetch reads page-row
    // ranges instead of whole row groups, results identical
    "substring_search_page" -> Q((s, dir) => {
      val p = pageIdx(s, dir)
      NgramIndex.search(s, p, Column, QueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, bruteSql(QueryStr)),

    // the warm serving tier (graft.index.Serve: driver-cached posting
    // slices + hit row groups, zero-job steady state) answers the SAME
    // oracle as the Spark path — ServeSpec pins bit-identity in-engine,
    // this entry re-checks it against DuckDB
    "substring_search_served" -> Q((s, dir) => {
      val p = fullIdx(s, dir)
      graft.index.Serve.ngram(s, p, Column, QueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, bruteSql(QueryStr)),

    // top-K truncation strictly after refine (reference: search.rs:78-85)
    "substring_search_topk" -> Q((s, dir) => {
      val p = fullIdx(s, dir)
      NgramIndex.search(s, p, Column, QueryStr)
        .select(col("doc_id")).orderBy(col("doc_id")).limit(5)
    }, bruteSql(QueryStr) + " LIMIT 5"),

    // true FM-index semantics: bounded-window BWT backward search →
    // SA-range posting slice → selective read → refine (reference:
    // src/lava/substring/search.rs:381-444)
    "substring_search_fm" -> Q((s, dir) => {
      val p = fmIdx(s, dir)
      FmIndex.search(s, p, Column, QueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, bruteSql(QueryStr)),

    // query past the exact window: backward search walks the LAST W−1
    // chars (reference: token_viable_limit, search.rs:512-524), refine
    // restores exactness
    "substring_search_fm_long" -> Q((s, dir) => {
      val p = fmIdx(s, dir)
      FmIndex.search(s, p, Column, LongQueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, bruteSql(LongQueryStr)),

    // wavelet-tree encoding of the same BWT (reference:
    // src/lava/substring/build.rs:20-125, wavelet_tree.rs:161-197,
    // search.rs:209-312): rank via per-level bitvector blocks instead
    // of chunk text — results bit-identical to the FM path
    "substring_search_wavelet" -> Q((s, dir) => {
      val p = waveletIdx(s, dir)
      graft.index.WaveletIndex.search(s, p, Column, QueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, bruteSql(QueryStr)),

    // wavelet walk past the exact window + refine (same discipline as
    // the FM long-query path)
    "substring_search_wavelet_long" -> Q((s, dir) => {
      val p = waveletIdx(s, dir)
      graft.index.WaveletIndex.search(s, p, Column, LongQueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, bruteSql(LongQueryStr)),

    // query below gram width → index signals brute-force (reference:
    // backends/utils.py:221-225)
    "substring_search_short" -> Q((s, dir) => {
      val p = fullIdx(s, dir)
      NgramIndex.search(s, p, Column, ShortQueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, bruteSql(ShortQueryStr)),

    // regex over the substring index: probe the pattern's REQUIRED
    // literal runs ("fast " and " table" here), intersect their grams,
    // regex-refine only candidate row groups — the log-grep accelerant
    // generalized to any indexed column
    "substring_search_regex" -> Q((s, dir) => {
      val p = fullIdx(s, dir)
      graft.api.NgramRegexKind.searchIndex(s, p, Column, RegexQueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, regexSql(RegexQueryStr)),

    // literal extraction must skip the GROUP (its content is alternated
    // — nothing inside is required) yet still prune by the literal
    // outside it (" scan")
    "substring_search_regex_group" -> Q((s, dir) => {
      val p = fullIdx(s, dir)
      graft.api.NgramRegexKind.searchIndex(s, p, Column, RegexGroupStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, regexSql(RegexGroupStr)),

    // top-level alternation: NO literal is required, so the index
    // cannot bound the match — documented scan-and-refine fallback,
    // exactness independent of pruning
    "substring_search_regex_alt" -> Q((s, dir) => {
      val p = fullIdx(s, dir)
      graft.api.NgramRegexKind.searchIndex(s, p, Column, RegexAltStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, regexSql(RegexAltStr)),

    // boolean queries over the SAME committed gram index: candidate-set
    // algebra at row-group granularity (And=∩, Or=∪, Not=universe —
    // pruning survives through And-siblings), one selective read, one
    // combined refine (graft.index.BoolSearch)
    "substring_search_bool_or" -> boolQ("\"slow scan\" OR \"fast scan\""),

    // x AND NOT y: the negation cannot prune, the conjunction still
    // scans only x's candidate row groups
    "substring_search_bool_not" -> boolQ(s"\"$QueryStr\" AND NOT vector"),

    // nested tree: (a OR b) AND NOT c — candidates = union of the OR
    // arms, still bounded
    "substring_search_bool_nested" ->
      boolQ("(\"slow scan\" OR \"fast scan\") AND NOT window"),

    // result snippets: the search-engine highlight surface — a fixed
    // context window around the FIRST match, computed map-only on the
    // index-pruned hits (locate + substring stay in codegen; the
    // oracle recomputes the identical window in SQL)
    "substring_search_snippet" -> Q((s, dir) => {
      val p = fullIdx(s, dir)
      val q = QueryStr
      val pos = locate(q, lower(col("text")))
      NgramIndex.search(s, p, Column, q)
        .select(col("doc_id"),
          col("text").substr(greatest(lit(1), pos - 20),
            lit(40 + q.length)).as("snippet"))
        .orderBy(col("doc_id"))
    }, s"""SELECT doc_id,
          |  substring(text, greatest(1, position('$QueryStr' IN lower(text)) - 20), ${40 + QueryStr.length}) AS snippet
          |FROM documents WHERE contains(lower(text), '$QueryStr')
          |ORDER BY doc_id""".stripMargin),

    // faceted search: hit counts per (source, lang) — the index prunes
    // the read, ONE partial-agg shuffle facets the hits; at 100 TB the
    // aggregation input is the candidate row groups, never the lake
    "substring_search_facets" -> Q((s, dir) => {
      val p = fullIdx(s, dir)
      NgramIndex.search(s, p, Column, QueryStr)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("source"), col("lang"))
    }, s"""SELECT source, lang, count(*) AS n_hits FROM documents
          |WHERE contains(lower(text), '$QueryStr')
          |GROUP BY source, lang ORDER BY source, lang""".stripMargin),

    // typo-tolerant lookup: SymSpell deletion-neighborhood probe →
    // candidate row groups → selective read → levenshtein refine
    // (graft.index.FuzzyIndex — the one lexical query shape the gram/
    // FM indexes cannot bound)
    "fuzzy_token_search" -> Q((s, dir) => {
      val p = fuzzyIdx(s, dir)
      graft.index.FuzzyIndex.search(s, p, Column, FuzzyQueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, fuzzySql(FuzzyQueryStr)),

    // multi-token fuzzy AND: every query token must have a near-match
    // in the same row (per-token neighborhoods intersected at the
    // row-group level before the read)
    "fuzzy_token_search_multi" -> Q((s, dir) => {
      val p = fuzzyIdx(s, dir)
      graft.index.FuzzyIndex.search(s, p, Column, FuzzyMultiStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, fuzzySql(FuzzyMultiStr)),

    // compaction merge of two fuzzy part-indexes: search(merge(a,b))
    // must equal the brute predicate over a∪b
    "fuzzy_token_search_merged" -> Q((s, dir) => {
      val p = fuzzyMergedIdx(s, dir)
      graft.index.FuzzyIndex.search(s, p, Column, FuzzyQueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, fuzzySql(FuzzyQueryStr)),

    // partial index coverage + in-situ probing of unindexed files
    // (reference: backends/utils.py:235-282)
    "substring_search_insitu" -> Q((s, dir) => {
      val files = lakeFiles(s, dir)
      val p = halfIdx(s, dir)
      val indexed = NgramIndex.search(s, p, Column, QueryStr)
        .select(col("doc_id"))
      val probed = Lake.scanUnindexed(s, files.drop(2),
        _.filter(lower(col(Column)).contains(QueryStr)))
        .select(col("doc_id"))
      indexed.unionByName(probed).orderBy(col("doc_id"))
    }, bruteSql(QueryStr)),

    // compaction merge: search(merge(a,b)) ≡ brute force over a∪b
    "substring_search_merged" -> Q((s, dir) => {
      val p = mergedIdx(s, dir)
      NgramIndex.search(s, p, Column, QueryStr)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, bruteSql(QueryStr)),

    // regex through the FULL facade lifecycle: same committed ngram
    // index (regex is a query mode, not a second index), snapshot/
    // self-heal/in-situ semantics inherited from the generic search
    "lake_api_regex" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val prefix = Lake.splitPath(dir, Table)
      val lake = graft.api.GraftLake(s, prefix)
      lake.index(graft.api.NgramKind, Column)
      lake.search(graft.api.NgramRegexKind, Column, RegexQueryStr,
        100000, Seq("doc_id"))
        .select(col("doc_id"))
    }, regexSql(RegexQueryStr)),

    // boolean query mode through the FULL facade + the SQL-ONLY
    // surface: same committed ngram indexes (boolean is a query mode,
    // like regex), query-string parser → set algebra across covering
    // indexes → combined refine; one statement a BI tool could issue
    "lake_api_bool" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val prefix = Lake.splitPath(dir, Table)
      val lake = graft.api.GraftLake(s, prefix)
      lake.index(graft.api.NgramKind, Column)
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT doc_id FROM graft_search('$prefix', 'bool', " +
        s"""'$Column', '"slow scan" OR "fast scan" AND NOT window', """ +
        s"100000, 'doc_id') ORDER BY doc_id")
    }, {
      import graft.index.BoolSearch._
      // OR binds loosest: a OR (b AND NOT c)
      val q = Or(Seq(Term("slow scan"),
        And(Seq(Term("fast scan"), Not(Term("window"))))))
      s"SELECT doc_id FROM documents WHERE ${oraclePredicate("text", q)} ORDER BY doc_id"
    }),

    // the search-box entry point: one raw string, mode chosen by shape
    // (GraftLake.smartSearch). Three entries pin the three routes plus
    // the empty→fuzzy fallback, each against the routed mode's oracle
    "lake_api_smart_bool" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val lake = graft.api.GraftLake(s, Lake.splitPath(dir, Table))
      lake.index(graft.api.NgramKind, Column)
      lake.smartSearch(Column, "\"slow scan\" OR \"fast scan\"",
          1000000, Seq("doc_id"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, "SELECT doc_id FROM documents WHERE " +
       "contains(lower(text), 'slow scan') OR contains(lower(text), 'fast scan') " +
       "ORDER BY doc_id"),

    // the search box through the SQL-ONLY surface: graft_smart wraps
    // smartSearch (shape routing + quoting escape + fuzzy fallback) —
    // one statement a BI tool could issue
    "sql_tvf_smart" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val prefix = Lake.splitPath(dir, Table)
      graft.api.GraftLake(s, prefix).index(graft.api.NgramKind, Column)
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT doc_id FROM graft_smart('$prefix', '$Column', " +
        s"""'"slow scan" OR "fast scan"', 1000000, 'doc_id') """ +
        "ORDER BY doc_id")
    }, "SELECT doc_id FROM documents WHERE " +
       "contains(lower(text), 'slow scan') OR contains(lower(text), 'fast scan') " +
       "ORDER BY doc_id"),

    // search-box k (≤ SmartMaterializeMaxK): the exact route rides the
    // WARM SERVING TIER when the lake has one covering index (zero
    // Spark jobs steady-state, JobCountSpec) — same rows, same oracle
    "lake_api_smart_served" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val lake = graft.api.GraftLake(s, Lake.splitPath(dir, Table))
      lake.index(graft.api.NgramKind, Column)
      lake.smartSearch(Column, QueryStr, 1000, Seq("doc_id"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, "SELECT doc_id FROM documents WHERE contains(lower(text), '" +
       QueryStr + "') ORDER BY doc_id LIMIT 1000"),

    // the quoting ESCAPE (QueryShaping.route): a FULLY-quoted query
    // routes exact with the inner text — quotes are how a search box
    // escapes operator words and metacharacters
    "lake_api_smart_quoted" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val lake = graft.api.GraftLake(s, Lake.splitPath(dir, Table))
      lake.index(graft.api.NgramKind, Column)
      lake.smartSearch(Column, "\"slow scan\"", 1000000, Seq("doc_id"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, "SELECT doc_id FROM documents WHERE contains(lower(text), 'slow scan') ORDER BY doc_id"),

    "lake_api_smart_regex" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val lake = graft.api.GraftLake(s, Lake.splitPath(dir, Table))
      lake.index(graft.api.NgramKind, Column)
      lake.smartSearch(Column, RegexQueryStr, 1000000, Seq("doc_id"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, regexSql(RegexQueryStr)),

    // exact route finds nothing for the typo'd token → the router
    // retries typo-tolerant (FuzzyKind, in-situ brute here: no fuzzy
    // index committed on this lake)
    "lake_api_smart_fuzzy" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val lake = graft.api.GraftLake(s, Lake.splitPath(dir, Table))
      lake.index(graft.api.NgramKind, Column)
      lake.smartSearch(Column, FuzzyQueryStr, 1000000, Seq("doc_id"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, fuzzySql(FuzzyQueryStr)),

    // the public facade end-to-end (index_parquet_lake /
    // search_parquet_lake equivalent): incremental index + K-fill search
    "lake_api_search" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val prefix = Lake.splitPath(dir, Table)
      val lake = graft.api.GraftLake(s, prefix)
      lake.index(graft.api.NgramKind, Column)
      lake.search(graft.api.NgramKind, Column, QueryStr, 100000, Seq("doc_id"))
        .select(col("doc_id"))
    }, bruteSql(QueryStr)),

    // the same facade lifecycle through the SQL-ONLY surface: the
    // graft_search table function (SqlTableFunctions) must answer
    // exactly like the Scala lake.search it wraps — one statement a
    // BI tool could issue, no Scala cell
    "sql_tvf_search" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val prefix = Lake.splitPath(dir, Table)
      graft.api.GraftLake(s, prefix).index(graft.api.NgramKind, Column)
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT doc_id FROM graft_search('$prefix', 'ngram', " +
        s"'$Column', '$QueryStr', 100000, 'doc_id') ORDER BY doc_id")
    }, bruteSql(QueryStr)),

    // TVF composability: graft_search is a TABLE — plain SQL aggregates
    // over it (facets in one BI statement, no Scala API)
    "sql_tvf_search_agg" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val prefix = Lake.splitPath(dir, Table)
      graft.api.GraftLake(s, prefix).index(graft.api.NgramKind, Column)
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT source, lang, count(*) AS n_hits " +
        s"FROM graft_search('$prefix', 'ngram', '$Column', '$QueryStr', " +
        s"1000000, 'doc_id') GROUP BY source, lang ORDER BY source, lang")
    }, s"""SELECT source, lang, count(*) AS n_hits FROM documents
          |WHERE contains(lower(text), '$QueryStr')
          |GROUP BY source, lang ORDER BY source, lang""".stripMargin),

    // the BUILD half of the lifecycle from SQL alone: graft_index
    // bin-packs and indexes the uncovered files at analysis time
    // (idempotent — a covered lake no-ops), then the very same SQL
    // session searches through the indexes it just built; the DuckDB
    // brute oracle checks the result independently
    "sql_tvf_index" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts, alias = "docs_sqli")
      val prefix = Lake.splitPath(dir, "docs_sqli")
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT * FROM graft_index('$prefix', 'ngram', '$Column')")
        .collect()
      s.sql(s"SELECT doc_id FROM graft_search('$prefix', 'ngram', " +
        s"'$Column', '$QueryStr', 100000, 'doc_id') ORDER BY doc_id")
    }, bruteSql(QueryStr)),

    // build-small → compact → search, all from SQL: binpack_rows=1
    // leaves one index per file, graft_compact merges them under the
    // generic merge driver (append-then-delete metadata commit), and
    // the post-compaction search must answer identically
    "sql_tvf_compact" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts, alias = "docs_sqlc")
      val prefix = Lake.splitPath(dir, "docs_sqlc")
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT * FROM graft_index('$prefix', 'ngram', '$Column', 1)")
        .collect()
      s.sql(s"SELECT * FROM graft_compact('$prefix', 'ngram', '$Column')")
        .collect()
      s.sql(s"SELECT doc_id FROM graft_search('$prefix', 'ngram', " +
        s"'$Column', '$QueryStr', 100000, 'doc_id') ORDER BY doc_id")
    }, bruteSql(QueryStr)),

    // the full lifecycle: build-small → compact → vacuum(0 days)
    // deletes the retired pre-compaction dirs immediately — and the
    // search still answers from the surviving merged index
    "sql_tvf_vacuum" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts, alias = "docs_sqlv")
      val prefix = Lake.splitPath(dir, "docs_sqlv")
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT * FROM graft_index('$prefix', 'ngram', '$Column', 1)")
        .collect()
      s.sql(s"SELECT * FROM graft_compact('$prefix', 'ngram', '$Column')")
        .collect()
      s.sql(s"SELECT * FROM graft_vacuum('$prefix', 0)").collect()
      s.sql(s"SELECT doc_id FROM graft_search('$prefix', 'ngram', " +
        s"'$Column', '$QueryStr', 100000, 'doc_id') ORDER BY doc_id")
    }, bruteSql(QueryStr)),

    // lake stats through the SQL-ONLY surface: one statement a BI tool
    // could issue; with the zone map committed the aggregate is
    // answered metadata-only, and an uncovered lake falls back to the
    // scan with the same answer
    "sql_tvf_stats" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "orders", "o_orderkey", 4)
      val prefix = Lake.splitPath(dir, "orders")
      graft.api.GraftLake(s, prefix)
        .index(graft.api.ZoneMapKind, "o_orderkey")
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT * FROM graft_stats('$prefix', 'o_orderkey')")
    },
      "SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi, " +
        "count(*) AS n, count(o_orderkey) AS nn FROM orders"),

    // the index advisor through the SQL-ONLY surface: per-column kind
    // recommendation over a split lake in one statement (the DBA's
    // "what should I index here?" query)
    "sql_tvf_advise" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val prefix = Lake.splitPath(dir, Table)
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT * FROM graft_advise('$prefix')")
    }, graft.ops.Advisor.adviseSql("documents", Seq(
      "doc_id" -> "int", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "int"))),

    // the production dedup composition through the SQL-ONLY surface:
    // one statement returns the surviving corpus ids (exact collapse →
    // capped LSH → connected components → keepers)
    "sql_tvf_dedup" -> Q((s, dir) => {
      graft.GraftExtensions.register(s)
      s.sql(s"SELECT * FROM graft_dedup('$dir')")
    }, graft.ops.Pipeline.dedupProductionSql),

    // regex flavor of the transparent Catalyst pruning: a PLAIN
    // read.parquet + rlike filter — the rule extracts the pattern's
    // required literals, probes their grams through the committed
    // ngram index, and the rlike refine keeps semantics exact
    "catalyst_regex_prune" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val prefix = Lake.splitPath(dir, Table)
      graft.api.GraftLake(s, prefix).index(graft.api.NgramKind, Column)
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix)
        .filter(lower(col(Column)).rlike(RegexQueryStr))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, regexSql(RegexQueryStr)),

    // SURVEY §7.4 stretch, oracle-gated: a PLAIN spark.read.parquet +
    // contains filter — no graft API in the query — transparently
    // file-pruned by the Catalyst IndexPruneRule via the committed
    // ngram index; the refine filter stays so semantics are exact
    "catalyst_index_prune" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val prefix = Lake.splitPath(dir, Table)
      graft.api.GraftLake(s, prefix).index(graft.api.NgramKind, Column)
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix)
        .filter(lower(col(Column)).contains(QueryStr))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, bruteSql(QueryStr)),

    // disjunction flavor: a PLAIN read + OR-of-contains filter is
    // transparently pruned to the UNION of the arms' keep sets
    "catalyst_or_prune" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, Table, "doc_id", Parts)
      val prefix = Lake.splitPath(dir, Table)
      graft.api.GraftLake(s, prefix).index(graft.api.NgramKind, Column)
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix)
        .filter(lower(col(Column)).contains("slow scan") ||
          lower(col(Column)).contains("fast scan"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, "SELECT doc_id FROM documents WHERE " +
       "contains(lower(text), 'slow scan') OR contains(lower(text), 'fast scan') " +
       "ORDER BY doc_id"),

    // SURVEY §7.4 stretch, point-lookup flavor: a PLAIN
    // spark.read.parquet + equality/IN filter — no graft API in the
    // query — transparently file-pruned by the Catalyst IndexPruneRule
    // via the committed key index (sorted key table; the probe's own
    // equality filter prunes row groups INSIDE the key table too)
    "catalyst_key_prune" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "customer", "c_custkey", 4)
      val prefix = Lake.splitPath(dir, "customer")
      graft.api.GraftLake(s, prefix).index(graft.api.KeyKind, "c_name")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix)
        .filter(col("c_name").isin("Customer#000000042", "Customer#000000007"))
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, "SELECT c_custkey, c_name FROM customer WHERE c_name IN " +
       "('Customer#000000042', 'Customer#000000007') ORDER BY c_custkey"),

    // same rule, prefix flavor: startsWith → key-range probe
    "catalyst_key_prune_prefix" -> Q((s, dir) => {
      Lake.ensureSplit(s, dir, "customer", "c_custkey", 4)
      val prefix = Lake.splitPath(dir, "customer")
      graft.api.GraftLake(s, prefix).index(graft.api.KeyKind, "c_name")
      graft.plans.IndexPruneRule.enable(s)
      s.read.parquet(prefix)
        .filter(col("c_name").startsWith("Customer#00000001"))
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, "SELECT c_custkey, c_name FROM customer " +
       "WHERE c_name LIKE 'Customer#00000001%' ORDER BY c_custkey"),

    // lake-level index metadata table (reference:
    // backends/parquet.py:162-172)
    "index_metadata" -> Q((s, dir) => {
      val p = fullIdx(s, dir)
      IndexStore.readMetadata(s, dir).get
        .filter(col("index_file") === p)
        .select(col("table_name"), col("column_name"),
          size(col("file_path")).as("n_files"), col("rows_indexed"))
    }, "SELECT 'documents' AS table_name, 'text' AS column_name, " +
       "4 AS n_files, count(*) AS rows_indexed FROM documents")
  )
}
