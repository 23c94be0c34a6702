package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Physical-layout scan of the lake's parquet files.
  *
  * The reference walks thrift page headers to index at *data-page*
  * granularity (reference: src/formats/parquet.rs:243-419) and maps index
  * hits back to exact page byte ranges. Spark's reader prunes at
  * file/row-group granularity, so our default unit of retrieval is
  * **uid = global row-group ordinal** across the indexed file group
  * (SURVEY §7.1) — the same selective-fetch capability, one level up.
  * Setting `spark.graft.layout.granularity=page` switches the unit to
  * the reference's own: one uid per DATA PAGE of the indexed column,
  * recovered from the parquet offset index in the footer (no page-header
  * walk — the offset index IS the reference's page map, written by every
  * parquet-mr ≥1.11 writer). Everything downstream (uid assignment,
  * selective fetch, merge re-offset) is granularity-agnostic: a uid is
  * an opaque `(file, row_start, num_rows)` range either way.
  * The meta sidecar mirrors the reference's `.meta` parquet
  * (reference: python/rottnest/backends/utils.py:63-108).
  */
object Layout {

  /** Retrieval-unit descriptor (one row group, or one data page in page
    * granularity); `row_start` is the first row ordinal of the unit
    * within its file, `row_group` the per-file unit ordinal, `uid` the
    * 1-based global ordinal across the file group (reference:
    * backends/utils.py:73-74 assigns page uids the same way).
    */
  case class RowGroup(file_path: String, row_group: Int, num_rows: Long,
      byte_size: Long, row_start: Long)

  /** `spark.graft.layout.granularity`: `rowgroup` (default) or `page`. */
  val GranularityKey = "spark.graft.layout.granularity"

  /** Canonical file path (strip URI scheme) so footer-scan paths and
    * `_metadata.file_path` values join cleanly.
    */
  def canonPath(c: Column): Column = regexp_replace(c, "^file:/+", "/")

  def canonPath(s: String): String = s.replaceFirst("^file:/+", "/")

  /** Footer scan → one row per row group. Runs as a Spark job over the
    * file list (at 100 TB the lake has ~10^6 files; footers are read in
    * parallel on executors, never the data pages).
    */
  def scan(spark: SparkSession, files: Seq[String]): DataFrame = {
    import spark.implicits._
    val par = math.max(1, math.min(files.size, 64))
    // ship the SESSION's effective Hadoop settings (spark.hadoop.* —
    // s3a credentials, endpoints, fs impls) to the executors: a bare
    // `new Configuration()` there would only see cluster defaults
    val hadoopProps = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().asScala
        .map(e => (e.getKey, e.getValue)).toArray
    }
    val rgs = spark.sparkContext.parallelize(files.map(canonPath), par)
      .flatMap { f =>
        val conf = new Configuration(false)
        hadoopProps.foreach { case (k, v) => conf.set(k, v) }
        val in = HadoopInputFile.fromPath(new Path(f), conf)
        val reader = ParquetFileReader.open(in)
        try {
          var start = 0L
          reader.getFooter.getBlocks.asScala.toList.zipWithIndex.map {
            case (b, i) =>
              val rg = RowGroup(f, i, b.getRowCount, b.getTotalByteSize, start)
              start += b.getRowCount
              rg
          }
        } finally reader.close()
      }
    rgs.toDF()
  }

  /** Page-level footer scan → one row per DATA PAGE of `column`
    * (reference: src/formats/parquet.rs:243-419 walks page headers for
    * the same map; the offset index gives it from the footer for free).
    * `row_group` holds the per-file PAGE ordinal so the shared uid
    * arithmetic applies unchanged; `byte_size` is the page's compressed
    * size (the fetch cost, which is what bin-packing-style consumers
    * want at this granularity). A block whose column chunk lacks an
    * offset index (pre-1.11 writer) degrades to its row-group row.
    */
  def scanPages(spark: SparkSession, files: Seq[String],
      column: Option[String] = None): DataFrame = {
    import spark.implicits._
    val par = math.max(1, math.min(files.size, 64))
    val hadoopProps = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().asScala
        .map(e => (e.getKey, e.getValue)).toArray
    }
    val rgs = spark.sparkContext.parallelize(files.map(canonPath), par)
      .flatMap { f =>
        val conf = new Configuration(false)
        hadoopProps.foreach { case (k, v) => conf.set(k, v) }
        val in = HadoopInputFile.fromPath(new Path(f), conf)
        val reader = ParquetFileReader.open(in)
        try {
          val leaves = reader.getFooter.getFileMetaData.getSchema
            .getPaths.asScala.map(p => p.mkString("."))
          val leaf = column match {
            case Some(c) =>
              leaves.find(_ == c).orElse(leaves.find(_.startsWith(c + ".")))
                .getOrElse(sys.error(
                  s"page-granularity column '$c' not in $f (has: ${leaves.mkString(", ")})"))
            case None => leaves.head
          }
          val out = scala.collection.mutable.ListBuffer.empty[RowGroup]
          var start = 0L
          var ord = 0
          reader.getFooter.getBlocks.asScala.foreach { b =>
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == leaf)
            val oi = cc.map(reader.readOffsetIndex).orNull
            if (oi == null) {
              out += RowGroup(f, ord, b.getRowCount, b.getTotalByteSize, start)
              ord += 1
            } else {
              var i = 0
              while (i < oi.getPageCount) {
                val first = oi.getFirstRowIndex(i)
                val last = oi.getLastRowIndex(i, b.getRowCount)
                out += RowGroup(f, ord, last - first + 1,
                  oi.getCompressedPageSize(i).toLong, start + first)
                ord += 1
                i += 1
              }
            }
            start += b.getRowCount
          }
          out.toList
        } finally reader.close()
      }
    rgs.toDF()
  }

  /** Meta sidecar: layout + global uid (1-based ordinal over files
    * sorted by path, retrieval units in order). uid assignment joins a
    * driver-computed per-file offset map instead of a global window —
    * per-file unit counts are metadata-sized (the reference holds
    * the same list on its driver, backends/utils.py:63-108), and the
    * layout rows never funnel through a single partition.
    *
    * `column` is the indexed column: page granularity
    * (`spark.graft.layout.granularity=page`) cuts units at THAT
    * column's page boundaries, exactly like the reference's per-column
    * page map. Row-group granularity ignores it.
    */
  /** Run `body` with the layout granularity pinned to `page`,
    * saving/RESTORING the prior setting (a caller — or a concurrent
    * build on this session — may have set it deliberately; unsetting
    * would silently flip THEIR build's granularity mid-flight). The
    * shared fixture seam for every kind's page-granular build: any
    * index built through [[buildMeta]] inside `body` maps uids to the
    * indexed column's DATA PAGES, so [[readHits]] materializes page
    * row ranges instead of whole row groups — rows-read-per-hit stays
    * bounded by page size no matter how many rows a compacted
    * row group packs.
    */
  def withPageGranularity[T](spark: SparkSession)(body: => T): T = {
    val prior = spark.conf.getOption(GranularityKey)
    spark.conf.set(GranularityKey, "page")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(GranularityKey, v)
      case None    => spark.conf.unset(GranularityKey)
    }
  }

  def buildMeta(spark: SparkSession, files: Seq[String],
      column: Option[String] = None): DataFrame = {
    import spark.implicits._
    val perPage = spark.conf.getOption(GranularityKey).contains("page")
    def layout() =
      if (perPage) scanPages(spark, files, column) else scan(spark, files)
    // the footer scan runs twice (per-file counts now, the returned
    // rows when the caller materializes) — deliberately UNCACHED both
    // times: callers cache/unpersist only the returned meta, so an
    // inner layout.cache() would strand one session-cache entry per
    // index build for the life of the session (streaming maintenance
    // builds indefinitely many). Footer reads are metadata-only IO;
    // the second pass is noise next to the build job that follows.
    val counts = layout().groupBy(col("file_path"))
      .agg(count(lit(1)).as("n_rgs"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    var off = 0L
    val offsets = counts.map { case (f, n) =>
      val o = off; off += n; (f, o)
    }.toSeq
    val offDf = broadcast(offsets.toDF("file_path", "uid_offset"))
    layout().join(offDf, Seq("file_path"))
      .withColumn("uid", col("uid_offset") + col("row_group") + 1L)
      .drop("uid_offset")
  }

  /** Read the file group with each row tagged by its row-group uid:
    * `_metadata.row_index` gives the in-file row ordinal, a broadcast
    * range-join against the meta sidecar resolves the row group. Scales:
    * meta is metadata-sized, the join is a broadcast hash join on
    * file_path plus a range filter.
    */
  def withUid(spark: SparkSession, files: Seq[String], meta: DataFrame): DataFrame = {
    val data = spark.read.parquet(files: _*)
      .withColumn("__file", canonPath(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
    val m = meta.select(col("file_path").as("__file"), col("uid"),
      col("row_start"), (col("row_start") + col("num_rows")).as("row_end"))
    data.join(broadcast(m), Seq("__file"))
      .filter(col("__pos") >= col("row_start") && col("__pos") < col("row_end"))
      .drop("__file", "__pos", "row_start", "row_end")
  }

  /** Like [[withUid]] but additionally tags each row with a per-ROW
    * unique ordinal `rid` = (cumulative row count of all lower uids) +
    * (offset within this retrieval unit) — node identity for
    * row-granular indexes (Vamana graph nodes), decodable back to the
    * retrieval-unit uid with [[ridBases]] + binary search. Both the
    * base table build and the decode are metadata-sized (one entry per
    * retrieval unit, same scale as the meta sidecar itself).
    */
  def withRowId(spark: SparkSession, files: Seq[String], meta: DataFrame): DataFrame = {
    import spark.implicits._
    val units = meta.select(col("uid"), col("num_rows")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val baseRows = units.toSeq.map { case (uid, n) =>
      val b = acc; acc += n; (uid, b)
    }
    val data = spark.read.parquet(files: _*)
      .withColumn("__file", canonPath(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
    val m = meta.select(col("file_path").as("__file"), col("uid"),
      col("row_start"), (col("row_start") + col("num_rows")).as("row_end"))
    data.join(broadcast(m), Seq("__file"))
      .filter(col("__pos") >= col("row_start") && col("__pos") < col("row_end"))
      .join(broadcast(baseRows.toDF("uid", "__rid_base")), Seq("uid"))
      .withColumn("rid", col("__rid_base") + col("__pos") - col("row_start"))
      .drop("__file", "__pos", "row_start", "row_end", "__rid_base")
  }

  /** Decode table for [[withRowId]] ids: (rid_base, uid) sorted by
    * base. A rid belongs to the last entry whose base is <= rid.
    */
  def ridBases(metaRows: Seq[(Long, String, Long, Long)]): Array[(Long, Long)] = {
    var acc = 0L
    metaRows.sortBy(_._1).map { case (uid, _, _, n) =>
      val b = acc; acc += n; (b, uid)
    }.toArray
  }

  /** uid owning `rid` per [[ridBases]] decode table. */
  def uidOfRid(bases: Array[(Long, Long)], rid: Long): Long = {
    var lo = 0; var hi = bases.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (bases(mid)._1 <= rid) lo = mid else hi = mid - 1
    }
    bases(lo)._2
  }

  /** Selective materialization: given index hits (a `uid` column), read
    * ONLY the parquet files containing hit row groups and keep only rows
    * inside hit groups (reference: read_indexed_pages,
    * src/formats/parquet.rs:430-648, fetches exactly the hit pages).
    * The hit row-group set is bounded by the brute-force threshold, so
    * it is collected once (metadata-sized) and re-broadcast as a local
    * DataFrame — no session cache entry to leak across queries.
    */
  def readHits(spark: SparkSession, meta: DataFrame, hits: DataFrame): DataFrame = {
    val hitMeta = meta.join(hits.select("uid").distinct(), Seq("uid"))
      .select(col("file_path"), col("uid"), col("row_start"), col("num_rows"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    readGroups(spark, hitMeta,
      meta.select("file_path").limit(1).collect().map(_.getString(0)).toSeq)
  }

  // footer schemas per path, stamped with the path's content signature
  // (LRU-bounded: lake and index paths churn under compaction)
  private val footers =
    new LruMap[String, (Long, org.apache.spark.sql.types.StructType)](1024)

  /** The schema `spark.read.parquet(path)` infers for a file or table
    * dir — non-merging inference, i.e. its first file's footer — cached
    * per [[Fs.dirSignature]]. Only a miss pays the inference job; a
    * rewritten file or dir changes its signature, misses, and is
    * re-inferred, so a stale schema is never served.
    */
  def schemaOf(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val sig = Fs.dirSignature(spark, path)
    footers.get(path) match {
      case Some((s, st)) if s == sig => st
      case _ =>
        val st = spark.read.parquet(path).schema
        footers.put(path, (sig, st))
        st
    }
  }

  /** `spark.read.parquet(paths)` with the first path's cached schema
    * pinned ([[schemaOf]]): what Spark's non-merging inference would
    * pick, without the per-read inference job.
    */
  def readPinned(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(schemaOf(spark, paths.head)).parquet(paths: _*)

  /** Physical fetch of an explicit row-group hit list
    * `(file_path, uid, row_start, num_rows)` — the shared tail of every
    * index search: read only the files containing hits, keep only rows
    * inside hit groups. `schemaFiles` supplies the lake schema when the
    * hit set is empty.
    */
  def readGroups(spark: SparkSession, hitMeta: Seq[(String, Long, Long, Long)],
      schemaFiles: => Seq[String]): DataFrame = {
    import spark.implicits._
    val hitFiles = hitMeta.map(_._1).distinct.sorted
    if (hitFiles.isEmpty) {
      // empty hit set: preserve the lake schema (+uid) with zero rows
      return readPinned(spark, schemaFiles).limit(0)
        .withColumn("uid", lit(0L))
    }
    val data = readPinned(spark, hitFiles)
      .withColumn("__file", canonPath(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
    // literal hit-range PREFILTER before the uid join (hitMeta is
    // driver-side and bounded by the cost switches): callers compose
    // refine/verify predicates above this frame, and the optimizer
    // pushes any data-side-only predicate below the broadcast join —
    // without this innermost filter, an expensive verify expression
    // (exact Jaccard, regex refine) would evaluate on EVERY row of the
    // hit files instead of the hit ranges. CombineFilters keeps the
    // innermost condition FIRST in the combined And, so short-circuit
    // evaluation bounds the expensive expression to in-range rows —
    // this is what makes page-granular retrieval bound VERIFY COMPUTE,
    // not just rows-kept accounting. Skipped for huge hit lists (the
    // codegen'd disjunction would dwarf the saving; such reads are
    // near-full-scan anyway — and the cost switches route those to the
    // brute path long before).
    val prefiltered =
      if (hitMeta.size > 512) data
      else data.filter(hitMeta.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (f, rs) =>
          (col("__file") === f) && rs.map(r =>
            col("__pos") >= r._3 && col("__pos") < (r._3 + r._4))
            .reduce(_ || _)
      }.reduce(_ || _))
    val m = hitMeta.toDF("__file", "uid", "row_start", "num_rows")
      .select(col("__file"), col("uid"), col("row_start"),
        (col("row_start") + col("num_rows")).as("row_end"))
    prefiltered.join(broadcast(m), Seq("__file"))
      .filter(col("__pos") >= col("row_start") && col("__pos") < col("row_end"))
      .drop("__file", "__pos", "row_start", "row_end")
  }
}
