package graft.index

import graft.core.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Virtual-mode zone-map index.
  *
  * The reference's "virtual" index mode keeps no payload index at all:
  * it stores min/max of a sort-key column per fixed-stride row block
  * (stride=500, reference: python/rottnest/backends/utils.py:110-126)
  * and prunes blocks by range overlap at query time. Here the block IS
  * the row group (uid), so the zone map is one groupBy over the
  * uid-tagged scan; a range query prunes to overlapping row groups and
  * refines — exactly Parquet's own min/max stats machinery, but held in
  * an index table the engine can consult without touching the lake
  * files.
  */
object ZoneMapIndex {

  /** Zone map: per row group, min/max of the (orderable) key column. */
  def build(spark: SparkSession, files: Seq[String], column: String,
      path: String): Unit = {
    val meta = Layout.buildMeta(spark, files, Some(column)).cache()
    val data = Layout.withUid(spark, files, meta)
    // nn = per-group NON-NULL count: min/max ignore nulls, so lo/hi
    // alone cannot answer count(col) — nn completes the stats triple
    // the aggregate rewrite serves (count(*) comes from meta num_rows).
    // Integral columns also materialize s = per-group DECIMAL(38,0)
    // sum (exact at any row count — a long-typed partial would wrap),
    // completing sum(col) pushdown; float/string columns skip it (a
    // decimal sum of doubles would not reproduce Spark's float fold)
    val integral = data.schema(column).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val base = Seq(min(col(column)).as("lo"), max(col(column)).as("hi"),
      count(col(column)).as("nn"))
    val aggs = if (!integral) base else base :+
      sum(col(column).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("s")
    data.groupBy(col("uid"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/zones")
    meta.write.mode("overwrite").parquet(s"$path/meta")
    meta.unpersist()
  }

  /** Metadata-only table stats from the zone map: min/max of the
    * indexed column plus count(*), computed purely from the index
    * tables (zones + meta sidecar) — zero lake data pages read. Exact
    * because each zone's lo/hi is the engine-computed null-ignoring
    * min/max of its row group (so min-of-lo / max-of-hi IS the
    * column's min/max) and meta's num_rows counts every row, nulls
    * included (the count(*) semantics). The 100 TB shape:
    * dataset-card / planner stats answered from metadata-scale tables
    * in milliseconds instead of a full-lake scan.
    */
  def statsAgg(spark: SparkSession, path: String): DataFrame = {
    val zones = spark.read.parquet(s"$path/zones")
    val meta = spark.read.parquet(s"$path/meta")
    zones.agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .crossJoin(meta.agg(sum(col("num_rows")).cast("long").as("n")))
  }

  /** Merge two zone-map indexes: union with `b`'s uids re-based past
    * `a`'s (same uid-offset protocol as every other kind).
    */
  def merge(spark: SparkSession, a: String, b: String, out: String): Unit = {
    val offset = spark.read.parquet(s"$a/meta")
      .agg(max("uid")).collect()(0).getLong(0)
    // allowMissingColumns: a pre-nn index merged with a current one
    // carries NULL nn for the old rows — range search never reads nn,
    // and the aggregate rewrite vetoes count(col) on NULL nn rather
    // than miscounting
    spark.read.parquet(s"$a/zones").unionByName(
      spark.read.parquet(s"$b/zones").withColumn("uid", col("uid") + offset),
      allowMissingColumns = true)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/zones")
    spark.read.parquet(s"$a/meta").unionByName(
      spark.read.parquet(s"$b/meta").withColumn("uid", col("uid") + offset))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
  }

  /** Literal of `v` in the zone table's own type — numeric bounds pass
    * through, TIMESTAMP zones read `v` as epoch micros and DATE zones
    * as epoch days (the internal representations Catalyst folds
    * time-typed literals to), so time-range queries prune exactly like
    * integer ranges.
    */
  def boundExpr(dt: org.apache.spark.sql.types.DataType,
      v: Long): org.apache.spark.sql.Column = dt match {
    case org.apache.spark.sql.types.TimestampType => timestamp_micros(lit(v))
    case org.apache.spark.sql.types.DateType =>
      date_from_unix_date(lit(v).cast("int"))
    case _ => lit(v)
  }
}
