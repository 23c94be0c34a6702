package graft.index

import graft.core.IndexStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LogCloud-style log index: template mining + typed variable tables +
  * tiered search + per-line reconstruction stream.
  *
  * The reference compresses logs into learned templates + variable
  * streams via opaque C++ trainer/compressor blobs (reference:
  * src/lava/logcloud/logcloud_rex.rs:240-566), emits a per-chunk
  * template-id (`.eid`) stream for reconstruction, groups variables by a
  * character-class type bitmask, dedups them into sorted per-type files
  * (logcloud_rex.rs:390-533) — type groups with ≤ OUTLIER_THRESHOLD
  * distinct values go to a hot outlier list instead of their own typed
  * file (logcloud_rex.rs:503-533) — then serves tiered searches: hot
  * dictionary/template/outlier file ("kauai"), per-type variable blocks
  * ("oahu"), FM-index over blocks ("hawaii"), with a brute-force signal
  * when the query matches template text (logcloud.rs:396-512,702-868).
  * Log lines optionally carry a leading timestamp parsed with a fixed
  * byte width + format, invalid values backfilled from the previous
  * valid line (logcloud_rex.rs:303-341).
  *
  * Spark re-expression (public Drain-style mining, SURVEY §7.5):
  * - a token is a *variable* iff it contains a digit; the template is
  *   the line with variables replaced by `<V>` — a MAP-ONLY
  *   `regexp_replace`, zero shuffles to template a line.
  * - `encoded/` is the reconstruction stream: one row per line
  *   `(line_id, template_id, vars)` — the `.eid` stream + variable
  *   stream in one table; `reconstruct` re-interleaves template parts
  *   with variables and round-trips the original lines.
  * - variables land in `dict/` (values in > DictThreshold lines — the
  *   reference's dictionary promotion, logcloud.rs:54), `outliers/`
  *   (hot: all values of types with ≤ OutlierThreshold distinct
  *   values), or `vars/` partitioned by type bitmask → a query's type
  *   prunes partitions (the reference's per-type block pruning).
  * - `hawaii/` holds char-trigram postings over the distinct typed
  *   values, partitioned by gram hash bucket, so long variable queries
  *   prune which values get the contains scan.
  * - search: variable-shaped queries (contain a digit, no whitespace)
  *   take dictionary → outliers → typed-variable scan → line fetch →
  *   refine; anything else signals brute force (flag 0), exactly like a
  *   template/dictionary hit does in the reference (logcloud.rs:450-486).
  */
object LogCloudIndex {

  val DictThreshold = 1000L
  /** Reference: OUTLIER_THRESHOLD=1000 (logcloud_rex.rs:21,503) —
    * type groups with no more distinct values than this stay hot.
    */
  val OutlierThreshold = 1000L
  val HawaiiBuckets = Bucketing.Buckets
  // reference timestamp validity window (logcloud_rex.rs:233-238):
  // [2000-01-01, 2050-01-01) UTC
  val MinValidTs = 946684800L
  val MaxValidTs = 2524608000L
  private val VarToken = "[^ ]*[0-9][^ ]*"

  /** Character-class bitmask, ported semantics (reference:
    * src/lava/logcloud/logcloud_common.rs:9-24): digit=1, a-f=2, A-F=4,
    * G-Z=8, g-z=16, other=32.
    */
  def typeBits(s: String): Int = s.foldLeft(0) { (m, c) =>
    m | (c match {
      case c if c.isDigit          => 1
      case c if 'a' <= c && c <= 'f' => 2
      case c if 'A' <= c && c <= 'F' => 4
      case c if 'G' <= c && c <= 'Z' => 8
      case c if 'g' <= c && c <= 'z' => 16
      case _                        => 32
    })
  }

  private[graft] val typeBitsCol = {
    // same classification as a codegen-friendly column expression.
    // split(c, "") emits a TRAILING EMPTY string (limit -1 semantics);
    // without the filter it hit otherwise(32) and set the 'other' bit
    // on EVERY value — silently disabling the (type & qt) === qt prune
    // for punctuation-free values (the refine kept results correct, but
    // the type tier stopped discriminating, diverging from the
    // driver-side typeBits twin above)
    (c: Column) =>
      aggregate(filter(split(c, ""), _ =!= ""), lit(0), (m, ch) =>
        m.bitwiseOR(
          when(ch.rlike("[0-9]"), 1)
            .when(ch.rlike("[a-f]"), 2)
            .when(ch.rlike("[A-F]"), 4)
            .when(ch.rlike("[G-Z]"), 8)
            .when(ch.rlike("[g-z]"), 16)
            .otherwise(32)))
  }

  // delegate to the ONE shared bucket hash (Bucketing) — a private
  // copy here could drift from the build/probe pair every other
  // bucketed posting table shares
  private def bucketOf(c: Column) = Bucketing.bucketCol(c)

  def bucketOfString(g: String): Int = Bucketing.bucketOfString(g)

  /** Build over (line_id, line). */
  def build(spark: SparkSession, lines: DataFrame, path: String): Unit = {
    // MAP-ONLY templating: each digit-bearing token (maximal non-space
    // run) becomes <V>; the in-order variable list is the same tokens.
    // No explode/window/collect_list — zero shuffles per line.
    // cache: the per-line regex templating is the build's dominant
    // map cost and THREE sinks consume this lineage (encoded write,
    // templates groupBy, vars explode) — uncached it re-runs per sink
    val templated = lines.select(
      col("line_id"),
      regexp_replace(col("line"), VarToken, "<V>").as("template"),
      filter(split(col("line"), " "), t => t.rlike("[0-9]")).as("vars"))
      .cache()
    templated
      .select(col("line_id"), md5(col("template")).as("template_id"),
        col("vars"))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/encoded")
    templated.groupBy(col("template"))
      .agg(count(lit(1)).as("n_lines"))
      .withColumn("template_id", md5(col("template")))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/templates")
    val vars = templated
      .select(explode(col("vars")).as("value"), col("line_id"))
      .distinct()
      .withColumn("type", typeBitsCol(col("value")))
    writeVarTables(spark, vars, path)
    templated.unpersist()
  }

  /** Split deduped (value, line_id, type) variable rows into the
    * dict / outlier / typed-partition / hawaii tables.
    */
  private def writeVarTables(spark: SparkSession, varsIn: DataFrame,
      path: String): Unit = {
    val vars = varsIn.cache()
    val byValue = vars.groupBy(col("value")).agg(count(lit(1)).as("n"))
    val dictVals = byValue.filter(col("n") > DictThreshold).select("value")
    // dict is the small hot table (reference's kauai dictionary) —
    // unpartitioned so an empty dict still round-trips with its schema
    vars.join(dictVals, Seq("value"), "left_semi")
      .write.mode("overwrite")
      .option("compression", "zstd").parquet(s"$path/dict")
    val cold = vars.join(dictVals, Seq("value"), "left_anti")
    // type-level outlier split (reference: types with ≤ 1000 distinct
    // values are folded into the hot outlier list instead of getting a
    // compacted_type_T file, logcloud_rex.rs:503-533)
    val outlierTypes = cold.groupBy(col("type"))
      .agg(countDistinct(col("value")).as("nv"))
      .filter(col("nv") <= OutlierThreshold).select("type")
    cold.join(outlierTypes, Seq("type"), "left_semi")
      .select("value", "line_id", "type")
      .write.mode("overwrite")
      .option("compression", "zstd").parquet(s"$path/outliers")
    val typed = cold.join(outlierTypes, Seq("type"), "left_anti")
      .select("value", "line_id", "type").cache()
    // partitioned write only when non-empty: a partitionBy over zero
    // rows writes no directories and the table loses its schema
    if (typed.isEmpty)
      typed.write.mode("overwrite")
        .option("compression", "zstd").parquet(s"$path/vars")
    else
      typed.write.mode("overwrite").partitionBy("type")
        .option("compression", "zstd").parquet(s"$path/vars")
    // "hawaii" tier (reference: char FM-index over variable blocks for
    // types past the brute threshold, logcloud.rs:670-674,870-885):
    // char-trigram postings over DISTINCT typed values, partitioned by
    // gram hash bucket so a query's grams prune partitions
    val valueGrams = typed.select(col("value")).distinct()
      .select(col("value"),
        explode(graft.text.Text.charNgrams(col("value"), 3)).as("gram"))
      .withColumn("bucket", bucketOf(col("gram")))
    if (valueGrams.isEmpty)
      valueGrams.write.mode("overwrite")
        .option("compression", "zstd").parquet(s"$path/hawaii")
    else
      valueGrams.write.mode("overwrite").partitionBy("bucket")
        .option("compression", "zstd").parquet(s"$path/hawaii")
    typed.unpersist()
    vars.unpersist()
  }

  /** Merge two logcloud indexes: `b`'s line_ids shifted by `offset`;
    * templates re-aggregated; variable splits (dict/outlier/typed)
    * recomputed over the union so the thresholds hold for the merged
    * corpus — an index-table rebuild, never a lake re-scan.
    */
  def merge(spark: SparkSession, a: String, b: String, out: String,
      offset: Long): Unit = {
    def shifted(sub: String): DataFrame =
      spark.read.parquet(s"$a/$sub").unionByName(
        spark.read.parquet(s"$b/$sub")
          .withColumn("line_id", col("line_id") + offset))
    shifted("encoded").write.mode("overwrite")
      .option("compression", "zstd").parquet(s"$out/encoded")
    spark.read.parquet(s"$a/templates")
      .unionByName(spark.read.parquet(s"$b/templates"))
      .groupBy(col("template"), col("template_id"))
      .agg(sum(col("n_lines")).as("n_lines"))
      .select(col("template"), col("n_lines"), col("template_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/templates")
    val vars = Seq("dict", "outliers", "vars").map(shifted)
      .reduce(_ unionByName _)
      .select("value", "line_id", "type").distinct()
    writeVarTables(spark, vars, out)
  }

  /** Rebuild every line from the reconstruction stream: template parts
    * re-interleaved with the in-order variables (the reference decodes
    * `.eid` + variable streams the same way). Exact round-trip for any
    * line whose literal text does not contain `<V>`.
    */
  def reconstruct(spark: SparkSession, path: String): DataFrame = {
    val enc = spark.read.parquet(s"$path/encoded")
    val tmpl = spark.read.parquet(s"$path/templates")
      .select(col("template_id"), col("template"))
    enc.join(broadcast(tmpl), Seq("template_id"))
      .withColumn("parts", split(col("template"), "<V>", -1))
      .select(col("line_id"),
        concat(
          aggregate(
            zip_with(slice(col("parts"), lit(1), size(col("vars"))), col("vars"),
              (p, v) => concat(p, v)),
            lit(""), (acc, x) => concat(acc, x)),
          element_at(col("parts"), -1)).as("line"))
  }

  /** Leading-timestamp extraction (reference: logcloud_rex.rs:303-341):
    * parse the first `tsBytes` chars with `fmt`; values outside
    * [2000, 2050) or unparseable are backfilled with the last valid
    * timestamp (0 when none yet). The backfill is a SEGMENTED forward
    * fill — per-segment window + a tiny per-segment carry table — so no
    * global single-partition window at 100 TB.
    */
  def extractTimestamps(spark: SparkSession, lines: DataFrame,
      tsBytes: Int, fmt: String, segRows: Long = 8192L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parsed = lines.withColumn("_p",
      expr(s"unix_timestamp(try_to_timestamp(substring(line, 1, $tsBytes), '$fmt'))"))
    val valid = parsed.withColumn("_v",
      when(col("_p").isNotNull &&
        col("_p") >= MinValidTs && col("_p") < MaxValidTs, col("_p")))
    val seg = valid.withColumn("_seg", floor(col("line_id") / segRows))
    val w1 = Window.partitionBy(col("_seg")).orderBy(col("line_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ff = seg.withColumn("_ff", last(col("_v"), ignoreNulls = true).over(w1))
    // per-segment carry: last valid value of every PRECEDING segment
    // (one row per segment — metadata-sized window, then broadcast back)
    val segLast = ff.groupBy(col("_seg"))
      .agg(max_by(col("_ff"), col("line_id")).as("_segLast"))
    val w2 = Window.orderBy(col("_seg"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = segLast.withColumn("_prev",
      last(col("_segLast"), ignoreNulls = true).over(w2))
      .select(col("_seg"), col("_prev"))
    ff.join(broadcast(carry), Seq("_seg"))
      .select(col("line_id"),
        coalesce(col("_ff"), col("_prev"), lit(0L)).as("epoch_ts"))
  }

  /** True when the query can only live inside a variable token —
    * otherwise the caller must brute-force (reference returns brute
    * force flag 0 on template/dict text hits, logcloud.rs:450-486).
    */
  def isVariableQuery(q: String): Boolean =
    q.nonEmpty && !q.exists(_.isWhitespace) && q.exists(_.isDigit)

  /** Candidate (idx, line_id) pairs for a variable-shaped query across
    * SEVERAL indexes in one plan: dict → outliers → (hawaii-pruned)
    * typed vars, all type-masked. Each of the four sub-tables is ONE
    * tagged multi-path scan — per-index reads would pay a
    * listing/schema job per covering index.
    */
  private[graft] def varCandidatesMulti(spark: SparkSession,
      paths: Seq[String], q: String): DataFrame = {
    import graft.api.IndexKind.readTagged
    val qt = typeBits(q)
    // type pruning: a variable can contain q only if its type bits
    // cover q's (reference: logcloud.rs:737-747)
    def prune(df: DataFrame) =
      df.filter((col("type").bitwiseAND(qt) === qt) && col("value").contains(q))
    val dictHits = prune(readTagged(spark, paths, "dict"))
    val outlierHits = prune(readTagged(spark, paths, "outliers"))
    val typedVars = readTagged(spark, paths, "vars")
    // hawaii tier: for gram-width queries, intersect trigram postings
    // over distinct values first — a candidate SUPERSET of matching
    // values (refined by the contains filter in prune); the intersect
    // and semi-join are per-index ((idx, value) keys)
    val varSource =
      if (graft.text.Text.codePoints(q).length >= 3) {
        // code-point trigram windows, matching the Spark-side build
        val qgrams = graft.text.Text
          .cpGrams(graft.text.Text.sparkLower(q), 3).distinct
        val qbuckets = qgrams.map(bucketOfString).distinct
        val candVals = readTagged(spark, paths, "hawaii")
          .filter(col("bucket").isin(qbuckets: _*) &&
            col("gram").isin(qgrams: _*))
          .groupBy(col("idx"), col("value"))
          .agg(countDistinct(col("gram")).as("ng"))
          .filter(col("ng") === qgrams.size)
          .select("idx", "value")
        typedVars.join(candVals, Seq("idx", "value"), "left_semi")
      } else typedVars
    // not deduped: every consumer is a semi-join or the facade's
    // dedupping probe (IndexKind.probe), so a distinct() here would
    // only add a shuffle
    dictHits.select("idx", "line_id")
      .union(outlierHits.select("idx", "line_id"))
      .union(prune(varSource).select("idx", "line_id"))
  }

  /** Single-index candidates (the multi-path plan with one path). */
  private[graft] def varCandidates(spark: SparkSession, path: String,
      q: String): DataFrame =
    varCandidatesMulti(spark, Seq(path), q).drop("idx")

  /** Search → matching line_ids (deduped). `lines` is the lake view
    * (line_id, line) used for the brute path and final refine.
    */
  def search(spark: SparkSession, path: String, lines: DataFrame,
      q: String): DataFrame = {
    if (!isVariableQuery(q))
      return lines.filter(col("line").contains(q)).select("line_id")
    val ids = varCandidates(spark, path, q)
    // fetch + mandatory refine (variable match ⇒ line contains q, but
    // keep the FP discipline uniform)
    lines.join(ids, Seq("line_id"), "left_semi")
      .filter(col("line").contains(q))
      .select("line_id")
  }

  def eventLines(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "events")
      // coalesce, not concat_ws's null-skip: the oracle's `||` would
      // drop NULL-props rows while concat_ws kept them — both sides
      // must treat NULL props as ''
      .select(col("event_id").as("line_id"),
        concat(col("event_type"), lit(" "),
          coalesce(col("props"), lit(""))).as("line"))

  /** Event lines prefixed with a wall-clock timestamp; every 97th line
    * gets an unparseable prefix to exercise the backfill path.
    */
  def timestampedLines(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "events")
      .select(col("event_id").as("line_id"),
        concat(
          when(col("event_id") % 97 === 0, lit("????-??-?? ??:??:??"))
            .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")),
          lit(" "), col("event_type")).as("line"))

  def ensureBuilt(s: SparkSession, dir: String): String = {
    // v2: layout gained encoded/outliers tables + bucketed hawaii — a
    // fresh name keeps any stale cached v1 dir from being read
    val p = IndexStore.indexPath(dir, "logcloud_events_v2")
    IndexStore.ensure(p) { build(s, eventLines(s, dir), p) }
    p
  }

  private def oracle(q: String) =
    s"""SELECT event_id AS line_id FROM events
       |WHERE contains(event_type || ' ' || coalesce(props, ''), '$q')
       |ORDER BY line_id""".stripMargin

  def entries: Map[String, graft.Q] = Map(
    // variable-path search (typed variable tables, partition-pruned)
    "logcloud_search" -> graft.Q((s, dir) => {
      val p = ensureBuilt(s, dir)
      search(s, p, eventLines(s, dir), "87").orderBy(col("line_id"))
    }, oracle("87")),
    // template-text query → brute-force signal path (flag 0)
    "logcloud_search_template" -> graft.Q((s, dir) => {
      val p = ensureBuilt(s, dir)
      search(s, p, eventLines(s, dir), "error").orderBy(col("line_id"))
    }, oracle("error")),
    // the reconstruction stream round-trips EVERY line: template ⋈
    // in-order vars == original (the reference's .eid + variable
    // stream decode, logcloud_rex.rs:173-232)
    "logcloud_reconstruct" -> graft.Q((s, dir) => {
      val p = ensureBuilt(s, dir)
      reconstruct(s, p).orderBy(col("line_id"))
    }, """SELECT event_id AS line_id,
         |       event_type || ' ' || coalesce(props, '') AS line
         |FROM events ORDER BY line_id""".stripMargin),
    // leading-timestamp extraction with invalid-line backfill
    // (reference: logcloud_rex.rs:303-341)
    "logcloud_timestamps" -> graft.Q((s, dir) => {
      extractTimestamps(s, timestampedLines(s, dir), 19,
        "yyyy-MM-dd HH:mm:ss").orderBy(col("line_id"))
    }, """WITH l AS (
         |  SELECT event_id AS line_id,
         |         CASE WHEN event_id % 97 = 0 THEN NULL
         |              ELSE CAST(epoch(date_trunc('second', ts)) AS BIGINT)
         |         END AS p
         |  FROM events)
         |SELECT line_id,
         |       coalesce(last_value(p IGNORE NULLS) OVER (
         |         ORDER BY line_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
         |         AS epoch_ts
         |FROM l ORDER BY line_id""".stripMargin)
  )
}
