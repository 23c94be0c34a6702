package graft.index

import graft.core.{Fs, Lake, Layout}
import graft.text.Text
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Warm serving tier for the LEXICAL kinds — the
  * [[VamanaIndex.searchFast]] discipline (driver-side compute over
  * version-keyed LRU caches, ONE batched point-lookup Spark job per
  * cache miss, ZERO jobs in the warm steady state) applied to
  * bm25 / ngram / key single-query lookups.
  *
  * Spark is the right engine for builds, merges, and analytical
  * scans; an interactive search box issuing one ~millisecond-scale
  * point lookup should not pay scheduler latency per query once its
  * working set (postings slices, key tables, hit row groups) is warm.
  * The per-index tables this tier caches are BOUNDED in production by
  * the facade's bin-packing (reference binpack_row_threshold flow,
  * backends/iceberg.py:139-158): one index group covers ~10k rows, so
  * whole-slice caching per index is the same budget as the BwtDriver
  * chunk cache. Oversized tables (standalone mega-builds) fall back to
  * the Spark path — results are identical either way, which is the
  * tier's contract: every method returns BIT-IDENTICAL rows to its
  * Spark twin (pinned by ServeSpec), it only changes where the work
  * runs.
  *
  * Caches are keyed by the index dir's content signature (the
  * [[VamanaIndex]] / BwtDriver version discipline): an in-place
  * rebuild changes the signature, and a re-stat after every fetch
  * refuses to cache rows read across a racing rebuild.
  */
object Serve {

  // ---- byte-accounted caches (ONE shared driver budget) ------------

  /** The serving driver's real budget is BYTES, not entry counts: a
    * 1M-entry boxed map and a 40-byte stats pair are not the same
    * "one entry". Every serve cache charges an estimated payload size
    * against one global budget; inserts that push past it evict the
    * globally-least-recently-used entries ACROSS caches (fat posting
    * slices can't starve the key tables invisibly, and vice versa).
    * Estimates are deliberately coarse (+object-header slack) — the
    * point is the order of magnitude, enforced, instead of an exact
    * count nobody bounds.
    */
  private[graft] object Budget {
    @volatile private[graft] var MaxServeBytes: Long = 256L << 20
    private val used = new java.util.concurrent.atomic.AtomicLong(0)
    private val clock = new java.util.concurrent.atomic.AtomicLong(0)
    private val caches =
      scala.collection.mutable.ArrayBuffer.empty[BudgetedCache[_, _]]
    private[Serve] def register(c: BudgetedCache[_, _]): Unit =
      synchronized { caches += c }
    private[Serve] def charge(delta: Long): Unit = used.addAndGet(delta)
    private[Serve] def tick(): Long = clock.incrementAndGet()
    private[graft] def usedBytes: Long = used.get
    /** Evict globally-LRU entries until within budget. The lock-free
      * under-budget check keeps the common path from serializing every
      * insert across all caches on this one monitor.
      */
    private[Serve] def reclaim(): Unit = {
      if (used.get <= MaxServeBytes) return
      reclaimLocked()
    }
    private def reclaimLocked(): Unit = synchronized {
      while (used.get > MaxServeBytes) {
        val victim = caches.minBy(_.eldestTick)
        if (victim.eldestTick == Long.MaxValue) return // all empty
        victim.evictEldest()
      }
    }
    /** Empty EVERY registered cache (the Serve-named ones plus the
      * chunk/node/head caches other index layers registered via
      * [[Serve.budgeted]]) — the whole-warm-tier reset clearCaches
      * promises.
      */
    private[Serve] def clearAll(): Unit = synchronized {
      caches.foreach(_.clear())
    }
  }

  /** One serve cache under the shared [[Budget]]: per-cache LRU order
    * (access-ordered LinkedHashMap), globally byte-bounded — the
    * global reclaim picks whichever cache holds the oldest entry.
    * Values are immutable slices, so eviction during use is safe.
    */
  /** `maxShare` bounds single-payload admission: an insert larger than
    * MaxServeBytes / maxShare is refused (see [[put]]). The default 4
    * keeps any one slice from monopolizing the pool; KEEP-LATEST head
    * caches pass 1 — a vocabulary-sized head that is the whole point
    * of the cache may occupy up to the full budget (evicting the rest)
    * rather than being permanently refused into a reload-per-operation
    * cliff.
    */
  private[graft] final class BudgetedCache[K, V](sizeOf: V => Long,
      maxShare: Int = 4) {
    private final class E(var tick: Long, val bytes: Long, val v: V)
    private val m = new java.util.LinkedHashMap[K, E](256, 0.75f, true)
    Budget.register(this)
    def get(k: K): Option[V] = m.synchronized {
      Option(m.get(k)).map { e => e.tick = Budget.tick(); e.v }
    }
    def put(k: K, v: V): Unit = {
      val bytes = sizeOf(v) + 64 // key + entry overhead slack
      // admission check: a payload past this cache's share would be
      // inserted, then reclaim() would evict every other cache and
      // finally the entry itself — oversized values would thrash the
      // warm tier on every access while never actually being served
      // from cache. Such a value is simply not cacheable here; callers
      // fall through to their cold path.
      if (bytes > Budget.MaxServeBytes / maxShare) return
      m.synchronized {
        Option(m.remove(k)).foreach(e => Budget.charge(-e.bytes))
        m.put(k, new E(Budget.tick(), bytes, v))
        Budget.charge(bytes)
      }
      Budget.reclaim()
    }
    def eldestTick: Long = m.synchronized {
      val it = m.values().iterator()
      if (it.hasNext) it.next().tick else Long.MaxValue
    }
    def evictEldest(): Unit = m.synchronized {
      val it = m.entrySet().iterator()
      if (it.hasNext) { Budget.charge(-it.next().getValue.bytes); it.remove() }
    }
    def clear(): Unit = m.synchronized {
      m.values().forEach(e => Budget.charge(-e.bytes))
      m.clear()
    }
  }

  // coarse per-payload byte estimators (array header 16, String ~2B/char
  // + 40 object overhead, boxed pair ~48)
  private def strBytes(s: String): Long = 40L + 2L * s.length
  private def longsBytes(a: Array[Long]): Long = 16L + 8L * a.length
  private def pairsBytes(a: Array[(Long, Long)]): Long = 16L + 48L * a.length
  private def rowBytes(r: Row): Long = {
    var b = 64L
    var i = 0
    while (i < r.length) {
      b += (if (r.isNullAt(i)) 8L else r.get(i) match {
        case s: String => strBytes(s)
        case a: Array[Byte] => 16L + a.length
        case a: scala.collection.Seq[_] => 48L + 16L * a.length
        case _ => 16L
      })
      i += 1
    }
    b
  }

  /** Whole tables are only cached when the index covers at most this
    * many rows (the facade's default binpack threshold, with slack).
    * `var` is a test seam only (the pre-gate specs shrink it).
    */
  private[graft] var MaxServeRows = 1000000L

  private val gramCache =
    new BudgetedCache[(String, Long, String), Array[Long]](longsBytes)
  private val tokenCache =
    new BudgetedCache[(String, Long, String), Array[(Long, Long)]](pairsBytes)
  // dl tables as SORTED PRIMITIVE ARRAYS: a boxed Map[Long, Long] costs
  // ~10× the 16 bytes/doc the payload needs, and 8 cached 1M-doc maps
  // ate ~1 GB of driver heap under the old entry-count bound
  private val dlCache = new BudgetedCache[(String, Long), LongLongSorted](
    t => 48L + 16L * t.keys.length)
  private val statsCache =
    new BudgetedCache[(String, Long), (Long, Long)](_ => 48L)
  private val keysCache =
    new BudgetedCache[(String, Long), (String, Array[(String, Long)])](
      t => 16L + t._2.iterator.map(p => 24L + strBytes(p._1)).sum)
  private val rowsCache = new BudgetedCache[(String, Long, Long), Array[Row]](
    a => 16L + a.iterator.map(rowBytes).sum)
  private val rowSchemaCache = new BudgetedCache[(String, Long), StructType](
    s => 256L + 64L * s.size)

  /** Test/diagnostic hook: drop every cached slice. */
  /** A fresh cache under the shared [[Budget]] for OTHER index
    * layers' driver caches (BWT chunk slices, Vamana graph nodes, IVF
    * centroid/PQ heads register through this) — ONE number bounds the
    * entire warm driver tier, not per-cache entry counts that nobody
    * adds up.
    */
  private[graft] def budgeted[K, V](sizeOf: V => Long,
      maxShare: Int = 4): BudgetedCache[K, V] =
    new BudgetedCache[K, V](sizeOf, maxShare)

  /** Test seam: ONE string cache under the shared [[Budget]] — lets
    * the spec pin admission/eviction semantics without reflection.
    * A single static instance (every BudgetedCache registers in the
    * Budget forever; a per-call fresh cache would grow the registry
    * unboundedly); callers clear it when done.
    */
  private[graft] lazy val testCache: BudgetedCache[String, String] =
    budgeted[String, String](strBytes)

  private[graft] def clearCaches(): Unit =
    // every registered BudgetedCache — the Serve-named ones AND the
    // chunk/node/head caches other index layers registered through
    // [[budgeted]] — so the byte account reads zero afterwards
    Budget.clearAll()

  /** One version signal per index: the meta sidecar dir's content
    * signature. The postings/keys tables can be bucket-partitioned
    * into hundreds of files — walking them per point lookup would
    * dominate warm latency — while meta is small, and every build path
    * (re)writes it, so a rebuild moves this signature too (the index
    * dirs themselves are immutable under the facade's ensure/compact
    * lifecycle; in-place rebuild detection is best-effort, as in
    * [[VamanaIndex]]).
    */
  private def verOf(spark: SparkSession, path: String): Long =
    Fs.dirSignature(spark, s"$path/meta")

  private def restat(spark: SparkSession, dir: String, ver: Long): Unit =
    require(try Fs.dirSignature(spark, dir) == ver
      catch { case _: Exception => false },
      s"index at $dir changed during the operation — retry")

  private def localDf(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Spark's `round(_, scale)` on doubles (BigDecimal.decimal, i.e.
    * valueOf, HALF_UP) — replicated exactly so driver scores match the
    * distributed plan bit for bit.
    */
  private def halfUp(v: Double, scale: Int): Double =
    // Spark's Round on DoubleType passes non-finite values through
    // (BigDecimal.valueOf(NaN) would THROW) — a zero-norm vector's 0/0
    // cosine must surface as the same NaN the Spark column produces,
    // not crash the serve path
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  private def totalRows(spark: SparkSession, path: String): Long =
    graft.api.IndexKind.metaRows(spark, path).map(_._4).sum

  // ---- shared hit-row-group cache (the materialization tail) -------

  /** Rows of the hit row groups, from the LRU cache; ONE
    * [[Layout.readGroups]] job fetches every missing uid. Returns the
    * rows in uid order plus the lake schema (+uid).
    */
  private def rowsOf(spark: SparkSession, path: String,
      uids: Seq[Long]): (Seq[Row], StructType) = {
    val ver = verOf(spark, path)
    val metaByUid = graft.api.IndexKind.metaRows(spark, path)
      .map(r => r._1 -> r).toMap
    val wanted = uids.distinct.sorted
    val hits: Map[Long, Array[Row]] =
      wanted.flatMap(u => rowsCache.get((path, ver, u)).map(u -> _)).toMap
    val missing = wanted.filterNot(hits.contains)
    val fetched: Map[Long, Array[Row]] =
      if (missing.isEmpty) Map.empty[Long, Array[Row]]
      else {
        val hitMeta = missing.flatMap(metaByUid.get)
          .map { case (u, f, rs, n) => (f, u, rs, n) }
        val covered = metaByUid.values.map(_._2).toSeq.distinct.sorted
        val df = Layout.readGroups(spark, hitMeta, covered)
        val uidIdx = df.schema.fieldIndex("uid")
        val got = df.collect().groupBy(_.getLong(uidIdx))
        restat(spark, s"$path/meta", ver)
        // a hit uid whose row group holds zero surviving rows still
        // caches an EMPTY slice — negative entries stop re-fetching
        val all: Seq[(Long, Array[Row])] =
          missing.map(u => u -> got.getOrElse(u, Array.empty[Row]))
        all.foreach { case (u, rs) => rowsCache.put((path, ver, u), rs) }
        all.toMap
      }
    val schema = rowSchemaCache.get((path, ver)) match {
      case Some(s) => s
      case None =>
        val s = fetched.values.flatten.headOption
          .orElse(hits.values.flatten.headOption) match {
          case Some(r) => r.schema
          case None =>
            // nothing materialized yet: lake schema (+uid) from the
            // first covered file's cached footer
            val f = metaByUid.values.map(_._2).toSeq.distinct.sorted
            Layout.schemaOf(spark, f.head).add("uid",
              org.apache.spark.sql.types.LongType)
        }
        rowSchemaCache.put((path, ver), s)
        s
    }
    val assembled: Seq[Row] = wanted.flatMap { u =>
      val rs: Array[Row] = hits.getOrElse(u, fetched(u))
      rs.toSeq
    }
    (assembled, schema)
  }

  // ---- ngram: exact-contains point lookup ---------------------------

  /** Warm twin of [[NgramIndex.search]] — same rows, driver-served.
    * Queries the cost switch would brute-scan (huge candidate sets)
    * delegate to the Spark path: a covered-files scan is exactly what
    * the serving tier must NOT hold in driver memory.
    */
  def ngram(spark: SparkSession, path: String, column: String,
      query: String): DataFrame =
    ngramRows(spark, path, column, query) match {
      case Some((rows, schema)) => localDf(spark, rows, schema)
      case None => NgramIndex.search(spark, path, column, query)
    }

  /** The driver half of [[ngram]]: the matching rows + schema when the
    * lookup is servable (selective candidates), None when the cost
    * switch says scan (the caller's Spark path). Exposed so facade
    * consumers ([[graft.api.GraftLake.smartSearch]]) can apply their
    * own driver-side ordering/truncation without re-entering Spark.
    */
  private[graft] def ngramRows(spark: SparkSession, path: String,
      column: String, query: String): Option[(Seq[Row], StructType)] = {
    // the documented oversized-table fallback applies here too: the
    // hit ROW GROUPS this path pins in rowsCache belong to the lake,
    // and only the binpack-bounded budget keeps that driver-safe
    if (totalRows(spark, path) > MaxServeRows) return None
    val q = Text.sparkLower(query)
    if (q.isEmpty) return None
    val qgrams = NgramIndex.queryGrams(q)
    val slices = gramSlices(spark, path, qgrams)
    val cands = qgrams.map(g => slices(g).toSet).reduce(_ intersect _)
      .toSeq.sorted
    if (cands.size > Lake.BruteForceThreshold ||
        cands.size >= graft.api.IndexKind.metaRows(spark, path).size)
      return None
    val (rows, schema) = rowsOf(spark, path, cands)
    val ci = schema.fieldIndex(column)
    Some((rows.filter(r =>
      !r.isNullAt(ci) && Text.sparkLower(r.getString(ci)).contains(q)),
      schema))
  }

  /** Spark `orderBy(cols)` (ascending, nulls first) + `limit(k)`
    * replicated on local rows — the facade's refine-then-truncate tail
    * without re-entering Spark. Strings and binaries compare in
    * Spark's order (unsigned UTF-8 / byte lexicographic — Java's
    * UTF-16 `compareTo` diverges around supplementary characters);
    * other atomic values are Comparable. Callers gate non-atomic
    * order columns to the Spark path ([[orderServable]]).
    */
  private[graft] def orderLimit(rows: Seq[Row], schema: StructType,
      order: Seq[String], k: Int): Seq[Row] = {
    val idx = order.map(schema.fieldIndex)
    def bytesCmp(x: Array[Byte], y: Array[Byte]): Int = {
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
    def cmpVal(x: Any, y: Any): Int = (x, y) match {
      case (a: String, b: String) =>
        bytesCmp(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case (a: Array[Byte], b: Array[Byte]) => bytesCmp(a, b)
      case (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
    val ord = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        for (i <- idx) {
          val (an, bn) = (a.isNullAt(i), b.isNullAt(i))
          if (an && !bn) return -1
          if (!an && bn) return 1
          if (!an && !bn) {
            val c = cmpVal(a.get(i), b.get(i))
            if (c != 0) return c
          }
        }
        0
      }
    }
    (if (order.isEmpty) rows else rows.sorted(ord)).take(k)
  }

  /** True when every order column exists with an atomic scalar type —
    * the driver sort's supported domain; arrays/structs/maps (and any
    * type we have not verified Spark-order parity for) take the Spark
    * path.
    */
  private[graft] def orderServable(schema: StructType,
      order: Seq[String]): Boolean = {
    import org.apache.spark.sql.types._
    order.forall(c => schema.find(_.name == c).exists(_.dataType match {
      case StringType | BinaryType | BooleanType | ByteType |
           ShortType | IntegerType | LongType | FloatType | DoubleType |
           DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }))
  }

  /** Per-gram posting slices (uid arrays), one fetch job for every
    * missing gram; absent grams cache an empty slice.
    */
  /** Shared fetch-or-cache for per-term posting slices: the gram /
    * variant / token caches all follow ONE discipline — look up under
    * the content version, batch every miss into one bucket-pruned
    * fetch job, cache absent terms as empty (negative caching), and
    * refuse to cache across a rebuild (the restat). Parameterized by
    * the postings term column, the projected value columns, the bucket
    * function, and the per-row decoder.
    */
  private def termSlices[V](spark: SparkSession, path: String,
      terms: Seq[String],
      cache: BudgetedCache[(String, Long, String), Array[V]],
      termCol: String, valueCols: Seq[String], bucketOf: String => Int,
      decode: Row => V, post: Array[V] => Array[V])(
      implicit ct: scala.reflect.ClassTag[V]): Map[String, Array[V]] = {
    val ver = verOf(spark, path)
    val hits = terms.flatMap(t => cache.get((path, ver, t)).map(t -> _)).toMap
    val missing = terms.filterNot(hits.contains)
    if (missing.isEmpty) hits
    else {
      val buckets = missing.map(bucketOf).distinct
      val got = Layout.readPinned(spark, Seq(s"$path/postings"))
        .filter(col("bucket").isin(buckets: _*) &&
          col(termCol).isin(missing: _*))
        .select(termCol, valueCols: _*).collect()
        .groupBy(_.getString(0))
        .map { case (t, rs) => t -> post(rs.map(decode).toArray) }
      restat(spark, s"$path/meta", ver)
      val all = missing.map(t => t -> got.getOrElse(t, Array.empty[V]))
      all.foreach { case (t, v) => cache.put((path, ver, t), v) }
      hits ++ all
    }
  }

  private def gramSlices(spark: SparkSession, path: String,
      grams: Seq[String]): Map[String, Array[Long]] =
    termSlices[Long](spark, path, grams, gramCache, "gram", Seq("uid"),
      NgramIndex.bucketOfString, _.getLong(1), _.distinct)

  // ---- fuzzy: typo-tolerant point lookup -----------------------------

  private val variantCache =
    new BudgetedCache[(String, Long, String), Array[Long]](longsBytes)

  /** Warm twin of [[FuzzyIndex.search]] — same rows, driver-served. */
  def fuzzy(spark: SparkSession, path: String, column: String,
      query: String): DataFrame =
    fuzzyRows(spark, path, column, query) match {
      case Some((rows, schema)) => localDf(spark, rows, schema)
      case None => FuzzyIndex.search(spark, path, column, query)
    }

  /** The driver half of [[fuzzy]]: deletion-neighborhood probe over
    * cached variant slices, per-token row-group candidate
    * intersection, the [[FuzzyIndex.refinePredicate]] semantics
    * replicated driver-side (same tokenizer twin, same code-point
    * levenshtein). None when the lookup is not servable (empty query,
    * non-selective candidates) — the caller's Spark path.
    */
  private[graft] def fuzzyRows(spark: SparkSession, path: String,
      column: String, query: String): Option[(Seq[Row], StructType)] = {
    if (totalRows(spark, path) > MaxServeRows) return None // see ngramRows
    val qtoks = Text.RegexTokenizer.tokenizeQuery(query)
    if (qtoks.isEmpty) return None
    val byTok: Seq[Seq[String]] = qtoks.map(FuzzyIndex.variantsOf)
    val slices = variantSlices(spark, path, byTok.flatten.distinct)
    val perTok = byTok.map(vs =>
      vs.iterator.flatMap(v => slices(v)).toSet)
    val cands = perTok.reduce(_ intersect _).toSeq.sorted
    if (cands.size > Lake.BruteForceThreshold ||
        cands.size >= graft.api.IndexKind.metaRows(spark, path).size)
      return None
    val (rows, schema) = rowsOf(spark, path, cands)
    val ci = schema.fieldIndex(column)
    Some((rows.filter { r =>
      !r.isNullAt(ci) && {
        val toks = Text.RegexTokenizer.tokenizeQuery(r.getString(ci))
        qtoks.forall(q =>
          toks.exists(t => levDistance(t, q) <= FuzzyIndex.MaxDist))
      }
    }, schema))
  }

  /** Per-variant posting slices (uid arrays) — the fuzzy analogue of
    * [[gramSlices]]; absent variants cache empty.
    */
  private def variantSlices(spark: SparkSession, path: String,
      variants: Seq[String]): Map[String, Array[Long]] =
    termSlices[Long](spark, path, variants, variantCache, "variant",
      Seq("uid"), NgramIndex.bucketOfString, _.getLong(1), _.distinct)

  // ---- key: exact point lookup --------------------------------------

  /** Warm twin of [[KeyIndex.searchExact]] — same rows, driver-served.
    * The whole (key, uid) table of one index group is cached (bounded
    * by the facade's bin-packing); oversized tables fall back to the
    * Spark path.
    */
  def keyExact(spark: SparkSession, path: String, column: String,
      key: String): DataFrame =
    keyRows(spark, path, column, key) match {
      case Some((rows, schema)) => localDf(spark, rows, schema)
      case None => KeyIndex.searchExact(spark, path, column, key)
    }

  /** The driver half of [[keyExact]]: the matching rows + schema, None
    * when the lookup is not servable (key table past the budget, a
    * non-string key column, or a hit set the cost switch would
    * brute-scan) — the caller's Spark path.
    */
  private[graft] def keyRows(spark: SparkSession, path: String,
      column: String, key: String): Option[(Seq[Row], StructType)] =
    keysOf(spark, path).flatMap { case (kc, pairs) =>
      val hexMode = kc == KeyIndex.HexKeyCol
      val probe = if (hexMode) key.toUpperCase else key
      val uids = equalRange(pairs, probe).map(_._2).distinct
      if (uids.size > Lake.BruteForceThreshold ||
          uids.size >= graft.api.IndexKind.metaRows(spark, path).size) None
      else {
        val (rows, schema) = rowsOf(spark, path, uids)
        val ci = schema.fieldIndex(column)
        Some((rows.filter { r =>
          if (r.isNullAt(ci)) false
          else if (hexMode)
            r.getAs[Array[Byte]](ci).map(b => f"$b%02X").mkString == probe
          else r.get(ci) == probe
        }, schema))
      }
    }

  /** Sorted (key, uid) table of one key index, or None past the cache
    * budget. One collect job on miss.
    */
  private def keysOf(spark: SparkSession,
      path: String): Option[(String, Array[(String, Long)])] = {
    if (totalRows(spark, path) > MaxServeRows) return None
    val ver = verOf(spark, path)
    keysCache.get((path, ver)) match {
      case Some(t) => Some(t)
      case None =>
        val df = Layout.readPinned(spark, Seq(s"$path/keys"))
        val kc = KeyIndex.keyColOf(df.columns.toSeq)
        // non-string key columns (a key index over a numeric id) are
        // not servable by the string-sorted warm table — fall back to
        // the Spark path instead of ClassCastException-ing
        if (df.schema(kc).dataType !=
            org.apache.spark.sql.types.StringType) return None
        val pairs = df.select(col(kc), col("uid")).collect()
          .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
        restat(spark, s"$path/meta", ver)
        keysCache.put((path, ver), (kc, pairs))
        Some((kc, pairs))
    }
  }

  /** All pairs with key == probe in a key-sorted array (binary search
    * for the lower bound, linear scan of the equal run).
    */
  private def equalRange(pairs: Array[(String, Long)],
      probe: String): Seq[(String, Long)] = {
    var lo = 0; var hi = pairs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (pairs(mid)._1 < probe) lo = mid + 1 else hi = mid
    }
    val out = Seq.newBuilder[(String, Long)]
    var i = lo
    while (i < pairs.length && pairs(i)._1 == probe) { out += pairs(i); i += 1 }
    out.result()
  }

  // ---- bm25: top-k ranked lookup -------------------------------------

  /** Warm twin of [[Bm25Index.search]] — bit-identical (doc_id, score)
    * rows: the quantized integer-sum scoring is order-independent, and
    * every floating-point step replicates the Catalyst expression tree
    * exactly (same association, same HALF_UP rounding).
    */
  def bm25(spark: SparkSession, path: String, query: String,
      k: Int): DataFrame =
    bm25Weighted(spark, Seq(path),
      Text.RegexTokenizer.tokenizeQuery(query).distinct.map(_ -> 1.0), k)

  /** Warm twin of [[Bm25Index.searchWeightedMany]]: global corpus
    * stats summed across the covering indexes' head rows, df summed
    * across per-index token slices — the same global-IDF argument.
    * Also the facade's ranked route ([[graft.api.Bm25Kind]], graft_rank).
    */
  def bm25Weighted(spark: SparkSession, paths: Seq[String],
      terms: Seq[(String, Double)], k: Int): DataFrame = {
    import spark.implicits._
    // every index's dl table is held at once: past the budget IN SUM
    // (not per index) → Spark path (identical result)
    if (paths.map(totalRows(spark, _)).sum > MaxServeRows)
      return Bm25Index.searchWeightedMany(spark, paths, terms, k)
    val qtoks = terms.map(_._1)
    val perPath = paths.map(p => p -> tokenSlices(spark, p, qtoks)).toMap
    val (nDocs, sumDl) = Bm25Index.corpusStats(spark, paths)
    if (nDocs == 0)
      return Seq.empty[(Long, Double)].toDF("doc_id", "score")
    val avgdl = sumDl.toDouble / nDocs
    val df: Map[String, Long] = qtoks.map(t =>
      t -> paths.map(p => perPath(p)(t).length.toLong).sum).toMap
    val acc = scala.collection.mutable.HashMap.empty[Long, Long]
    for (p <- paths) {
      // an index holding none of the query tokens never loads its dl
      lazy val dl = dlOf(spark, p)
      for ((t, qw) <- terms; if perPath(p)(t).nonEmpty) {
        val idf = math.log(
          (nDocs.toDouble - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
        perPath(p)(t).foreach { case (doc, tf) =>
          val w = tf * (Bm25Index.K1 + 1) /
            (tf + Bm25Index.K1 *
              (1 - Bm25Index.B + Bm25Index.B * dl(doc) / avgdl))
          val cq = halfUp(qw * idf * w * Bm25Index.Quant, 0).toLong
          acc.update(doc, acc.getOrElse(doc, 0L) + cq)
        }
      }
    }
    acc.toSeq
      .map { case (doc, s) => (doc, halfUp(s.toDouble / Bm25Index.Quant, 4)) }
      .sortBy { case (doc, s) => (-s, doc) }
      .take(k)
      .toDF("doc_id", "score")
  }

  // ---- suggest: typo-tolerant vocabulary lookup ----------------------

  private val vocabCache =
    new BudgetedCache[(String, Long), Array[(String, Long)]](
      a => 16L + a.iterator.map(p => 24L + strBytes(p._1)).sum)

  /** Warm twin of the `graft_suggest` TVF over ONE bm25 index (the
    * per-keystroke "did you mean" surface): corpus tokens within
    * [[FuzzyIndex.MaxDist]] edits of `term`, ranked by Σtf frequency.
    * The whole (token, Σtf) vocabulary of the index is cached
    * (vocabulary ≤ postings rows, and postings are bounded by the
    * facade's bin-packing — the [[bm25Weighted]] budget argument);
    * oversized indexes fall back to the equivalent Spark plan. Same
    * length-band + levenshtein semantics, same (freq desc, token)
    * order.
    */
  def suggest(spark: SparkSession, path: String, term0: String,
      maxDist: Int = FuzzyIndex.MaxDist): DataFrame = {
    import spark.implicits._
    val term = Text.sparkLower(term0)
    def sparkPlan(): DataFrame =
      spark.read.parquet(s"$path/postings")
        .select(col("token"), col("tf").cast("long").as("tf"))
        .filter(length(col("token"))
          .between(term.length - maxDist, term.length + maxDist))
        .filter(levenshtein(col("token"), lit(term)) <= maxDist)
        .groupBy(col("token")).agg(sum(col("tf")).as("freq"))
        .orderBy(col("freq").desc, col("token"))
    if (totalRows(spark, path) > MaxServeRows) return sparkPlan()
    val vocab = vocabOf(spark, path)
    // band bounds mirror the TVF exactly: Spark `length()` counts code
    // points on the token side, the Scala builder used the term's Java
    // length for the bounds — replicated as-is for bit-identity
    vocab.iterator
      .filter { case (t, _) =>
        val n = t.codePointCount(0, t.length)
        n >= term.length - maxDist && n <= term.length + maxDist &&
          levDistance(t, term) <= maxDist
      }
      .toSeq.sortBy { case (t, f) => (-f, t) }
      .toDF("token", "freq")
  }

  /** The cached (token, Σtf) vocabulary of one bm25 index — shared by
    * the suggest and wildcard warm paths (callers must have checked the
    * [[MaxServeRows]] budget).
    */
  private def vocabOf(spark: SparkSession,
      path: String): Array[(String, Long)] = {
    val ver = verOf(spark, path)
    vocabCache.get((path, ver)) match {
      case Some(v) => v
      case None =>
        val v = spark.read.parquet(s"$path/postings")
          .groupBy(col("token"))
          .agg(sum(col("tf").cast("long")).as("freq"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        restat(spark, s"$path/meta", ver)
        vocabCache.put((path, ver), v)
        v
    }
  }

  /** Warm twin of the wildcard (prefix*) ranked search
    * ([[graft.ops.SearchQueries.expandTermsPrefix]] + weighted BM25):
    * the prefix expands against the cached vocabulary — same
    * distinct+sorted term list as the postings `startsWith` scan — and
    * scoring rides [[bm25Weighted]], so the result is bit-identical to
    * the Spark path by the same argument as [[bm25]]. Oversized indexes
    * fall back inside bm25Weighted; an empty expansion answers the
    * schema-stable empty frame.
    */
  def wildcard(spark: SparkSession, path: String, prefix: String,
      k: Int): DataFrame =
    // tokens are [a-z0-9]: a literal '*' inside the prefix can never
    // match — preserve the pre-pattern graceful-empty behavior instead
    // of tripping wildcardPattern's single-star contract
    if (prefix.contains('*'))
      bm25Weighted(spark, Seq(path), Seq.empty, k)
    else wildcardPattern(spark, path, prefix + "*", k)

  /** General single-`*` warm wildcard (`pre*`, `*suf`, `pre*suf` — SQL
    * LIKE `pre%suf` semantics): the expansion filters the SAME cached
    * vocabulary, so suffix and infix ride the identical machinery;
    * oversized indexes expand through [[Bm25Index.expandWildcard]]
    * (rvocab sidecar) and score through the bm25Weighted fallback —
    * same term set, same rows.
    */
  def wildcardPattern(spark: SparkSession, path: String, pattern: String,
      k: Int): DataFrame = {
    val i = pattern.indexOf('*')
    require(i >= 0 && pattern.indexOf('*', i + 1) < 0,
      s"single-* wildcard expected: $pattern")
    val (pre, suf) = (pattern.take(i), pattern.drop(i + 1))
    val terms =
      if (totalRows(spark, path) > MaxServeRows)
        Bm25Index.expandWildcard(spark, path, pre, suf)
      else vocabOf(spark, path).iterator.map(_._1)
        .filter(t => t.startsWith(pre) && t.endsWith(suf) &&
          t.length >= pre.length + suf.length)
        .toSeq.sorted
    bm25Weighted(spark, Seq(path), terms.map(_ -> 1.0), k)
  }

  /** Spark's `levenshtein` (standard DP edit distance over CODE
    * POINTS — UTF8String semantics), driver-side.
    */
  private[graft] def levDistance(as: String, bs: String): Int = {
    val a = as.codePoints().toArray
    val b = bs.codePoints().toArray
    val (n, m) = (a.length, b.length)
    if (n == 0) return m
    if (m == 0) return n
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var j = 1
      while (j <= m) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** Per-token posting slices `(doc_id, tf)`, one fetch job per path
    * for the missing tokens; absent tokens cache empty.
    */
  private def tokenSlices(spark: SparkSession, path: String,
      toks: Seq[String]): Map[String, Array[(Long, Long)]] =
    termSlices[(Long, Long)](spark, path, toks, tokenCache, "token",
      Seq("doc_id", "tf"), Bm25Index.bucketOfString,
      r => (r.getLong(1), r.getLong(2)), identity)

  /** `(n_docs, Σdl)` of one bm25 index, cached per (path, meta
    * signature): the head row, or a docstats aggregate for heads
    * written before the sum_dl column. Every ranked search reads it.
    */
  private[graft] def corpusStats(spark: SparkSession,
      path: String): (Long, Long) = {
    val ver = verOf(spark, path)
    statsCache.get((path, ver)) match {
      case Some(s) => s
      case None =>
        val fromHead =
          try {
            val rows = spark.read.parquet(s"$path/head")
              .select("n_docs", "sum_dl").collect()
            if (rows.length == 1 && !rows(0).isNullAt(0) &&
                !rows(0).isNullAt(1))
              Some((rows(0).getLong(0), rows(0).getLong(1)))
            else None
          } catch { case scala.util.control.NonFatal(_) => None }
        val s = fromHead.getOrElse(
          Bm25Index.dlStats(spark.read.parquet(s"$path/docstats")))
        // the same refuse-to-cache-across-a-rebuild re-stat every
        // other fetch path applies — without it a racing rebuild
        // would poison (path, oldVer) with the NEW corpus stats and
        // warm scoring would silently mix old postings with new IDF
        restat(spark, s"$path/meta", ver)
        statsCache.put((path, ver), s)
        s
    }
  }

  /** Whole dl table of one index (bounded by the MaxServeRows guard
    * the callers enforce) as sorted primitive arrays, cached per
    * content version — ~16 bytes/doc where a boxed Map[Long, Long]
    * costs ~10×.
    */
  private def dlOf(spark: SparkSession, path: String): LongLongSorted = {
    val ver = verOf(spark, path)
    dlCache.get((path, ver)) match {
      case Some(m) => m
      case None =>
        val rows = spark.read.parquet(s"$path/docstats")
          .select("doc_id", "dl").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val m = new LongLongSorted(rows.map(_._1), rows.map(_._2))
        restat(spark, s"$path/meta", ver)
        dlCache.put((path, ver), m)
        m
    }
  }

  /** Immutable long→long lookup over parallel sorted primitive arrays
    * (binary search) — the unboxed dl table. Missing keys throw, same
    * as the Map it replaced.
    */
  private[graft] final class LongLongSorted(
      val keys: Array[Long], val vals: Array[Long]) {
    def apply(k: Long): Long = {
      val i = java.util.Arrays.binarySearch(keys, k)
      if (i < 0) throw new NoSuchElementException(s"doc $k")
      vals(i)
    }
  }

  // ---- vector IVF-PQ serving (warm ADC over cached codes) ------------

  // per-(path, version, centroid) slices of the codes-only cells and
  // the full-precision vecs tables, byte-accounted like every other
  // warm slice: PQ codes are dim·8/PqM smaller than vectors, so the
  // pre-rank working set (the part EVERY query touches) is what the
  // budget mostly holds; vec slices compete in the same pool and evict
  // first when tight (they are only needed for the top-refine rerank)
  private val ivfCodesCache =
    budgeted[(String, Long, Int), Array[(Long, Array[Int], Double)]] { a =>
      64L + a.iterator.map(r => 40L + 4L * r._2.length).sum
    }
  private val ivfVecsCache =
    budgeted[(String, Long, Int), Array[(Long, Array[Double])]] { a =>
      64L + a.iterator.map(r => 32L + 8L * r._2.length).sum
    }

  /** Ensure the given cells' slices are present for `table`, fetching
    * ALL missing ones in ONE Spark job. Returns None when the index
    * was rebuilt mid-operation (caller falls back to the Spark path)
    * or when a slice was refused admission (oversized for the budget).
    */
  private def ivfSlices[T: scala.reflect.ClassTag](spark: SparkSession,
      path: String, table: String, ver: Long, cells: Seq[Int],
      cache: BudgetedCache[(String, Long, Int), Array[T]],
      cols: Seq[String], decode: Row => T,
      keyOf: T => Long): Option[Map[Int, Array[T]]] = {
    val hits = cells.flatMap(c =>
      cache.get((path, ver, c)).map(c -> _)).toMap
    val missing = cells.filterNot(hits.contains)
    if (missing.isEmpty) return Some(hits)
    val rows = spark.read.parquet(s"$path/$table")
      .filter(col("centroid").isin(missing: _*))
      .select(cols.map(col): _*).collect()
    // re-stat AFTER the read (the BwtDriver/centroidHead discipline):
    // never serve rows read across a racing rebuild under the old key
    if ((try graft.core.Fs.dirSignature(spark, s"$path/$table")
        catch { case _: Exception => return None }) != ver) return None
    val grouped = rows.groupBy(_.getInt(0)).map { case (c, rs) =>
      c -> rs.map(decode).sortBy(keyOf)
    }
    val fetched = missing.map(c =>
      c -> grouped.getOrElse(c, Array.empty[T])).toMap
    fetched.foreach { case (c, arr) => cache.put((path, ver, c), arr) }
    Some(hits ++ fetched)
  }

  /** Warm-served IVF-PQ search — bit-identical rows to
    * [[graft.index.VectorIndex.searchPq]] at the same parameters: the
    * centroid head picks the probe cells (already driver-cached), the
    * ADC pre-rank runs over CACHED code slices with the same
    * sequential-fold arithmetic as the codegen'd column, the
    * top-`refine` candidates re-rank with the exact CosineSim
    * semantics (one-pass dot/norm accumulation, HALF_UP round to 6),
    * and ties break on vec_id everywhere like the Spark orderBys. Zero
    * Spark jobs once the probed cells' slices are warm; any budget
    * refusal, missing slice, or mid-operation rebuild falls back to
    * the Spark path (correct, just cold).
    */
  def ivfPq(spark: SparkSession, path: String, q: Seq[Double], k: Int,
      nprobe: Int, refine: Int): DataFrame =
    ivfPqRows(spark, path, q, k, nprobe, refine) match {
      case Some((rows, schema)) => localDf(spark, rows, schema)
      case None =>
        graft.index.VectorIndex.searchPq(spark, path, q, k, nprobe, refine)
    }

  private def ivfPqRows(spark: SparkSession, path: String, q: Seq[Double],
      k: Int, nprobe: Int,
      refine: Int): Option[(Seq[Row], org.apache.spark.sql.types.StructType)] = {
    import graft.index.{VectorIndex => VI}
    // the mtime-cached format check (isCurrentFormat re-reads the
    // parquet schema — an eager footer JOB on every call, which would
    // break the zero-jobs-warm contract)
    try VI.requireCurrentFormat(spark, path)
    catch { case _: Exception => return None }
    val cellsVer = try graft.core.Fs.dirSignature(spark, s"$path/cells")
      catch { case _: Exception => return None }
    val vecsVer = try graft.core.Fs.dirSignature(spark, s"$path/vecs")
      catch { case _: Exception => return None }
    val probes = VI.probeCells(spark, path, q, nprobe)
    val codeMap = ivfSlices[(Long, Array[Int], Double)](spark, path,
      "cells", cellsVer, probes, ivfCodesCache,
      Seq("centroid", "vec_id", "codes", "vnorm"),
      r => (r.getLong(1), r.getSeq[Int](2).toArray, r.getDouble(3)),
      _._1).getOrElse(return None)
    val dtab = VI.adcTable(spark, path, q).map(_.toArray).toArray
    val nSub = dtab.length
    // ADC: the same left-fold sum as adcCol's aggregate(...)
    val scored = probes.iterator.flatMap(c =>
      codeMap.getOrElse(c, Array.empty[(Long, Array[Int], Double)]).iterator)
      .map { case (id, codes, vnorm) =>
        var acc = 0.0
        var m = 0
        while (m < nSub) { acc += dtab(m)(codes(m)); m += 1 }
        (id, if (vnorm == 0.0) 0.0 else acc / vnorm)
      }.toArray
    val cand =
      if (refine == Int.MaxValue) scored.map(_._1)
      else scored.sortBy { case (id, adc) => (-adc, id) }
        .take(refine).map(_._1)
    val vecMap = ivfSlices[(Long, Array[Double])](spark, path,
      "vecs", vecsVer, probes, ivfVecsCache,
      Seq("centroid", "vec_id", "v"),
      r => (r.getLong(1), r.getSeq[Double](2).toArray),
      _._1).getOrElse(return None)
    val byId = probes.iterator.flatMap(c =>
      vecMap.getOrElse(c, Array.empty[(Long, Array[Double])]).iterator).toMap
    // cross-TABLE consistency: the two signatures were captured
    // independently, so a rebuild landing between them could pair
    // cached codes of one generation with vectors of the next (each
    // per-table re-stat passes on its own). Re-stat BOTH against the
    // captured values now: any mismatch means the rebuild raced this
    // operation — fall back to the Spark path. A rebuild completing
    // after this point only means both tables were read from the SAME
    // pre-rebuild generation — consistent, just about to go stale.
    val consistent = try {
      graft.core.Fs.dirSignature(spark, s"$path/cells") == cellsVer &&
        graft.core.Fs.dirSignature(spark, s"$path/vecs") == vecsVer
    } catch { case _: Exception => false }
    if (!consistent) return None
    val qa = q.toArray
    val reranked = cand.flatMap(id => byId.get(id).map(v => (id, cosRound(qa, v))))
    if (reranked.length != cand.length) return None // slice/vec mismatch
    // java.lang.Double.compare ranks NaN greatest — Spark's DESC
    // ordering puts a zero-norm NaN cosine FIRST, and the served rows
    // must match that, not Scala's sortBy-on-negation (which would
    // send NaN last)
    val sparkCosDesc: Ordering[(Long, Double)] =
      (x: (Long, Double), y: (Long, Double)) => {
        val c = java.lang.Double.compare(y._2, x._2)
        if (c != 0) c else java.lang.Long.compare(x._1, y._1)
      }
    val out = reranked.sorted(sparkCosDesc).take(k)
      .map { case (id, cos) => Row(id, cos) }.toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("cos",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    Some((out, schema))
  }

  /** Warm-served FACADE vector search — bit-identical rows to
    * [[graft.api.VectorKind]]'s searchLake over one covering index:
    * probe cells from the driver-cached centroid head, ADC over cached
    * code slices, then materialize the hit retrieval units' LAKE rows
    * through the shared [[rowsOf]] cache (the facade stores no
    * vectors — the lake is the vector store) and rerank EVERY
    * materialized row with the exact CosineSim semantics, exactly like
    * the Spark plan's final projection. Zero Spark jobs once the code
    * slices and hit rows are warm. Declines (None — the caller takes
    * the ordinary Spark plan) on: non-current format, racing rebuild,
    * budget refusal, a hit-row estimate past [[MaxServeRows]], an
    * unorderable id column type, or any row whose vector fails to
    * decode (the Spark column semantics for those corners are not
    * replicated driver-side — correctness beats warmth).
    */
  private[graft] def vectorLake(spark: SparkSession, path: String,
      column: String, q: Seq[Double], k: Int, nprobe: Int, refine: Int,
      idCol: String): Option[org.apache.spark.sql.DataFrame] = {
    import graft.index.{VectorIndex => VI}
    // cheap non-selectivity pre-gate (the lexical paths' totalRows
    // discipline, Serve.scala:322/468/530): an index covering more lake
    // rows than the tier may materialize declines BEFORE the first
    // code-slice fetch, so a non-selective probe costs ZERO jobs — not
    // one wasted fetch followed by the full Spark plan anyway. metaRows
    // is driver-cached, so the check itself is job-free warm. The
    // serve tier's domain is binpack-bounded indexes (class comment);
    // the estRows check in the shared tail stays as belt-and-braces
    // for skewed retrieval units.
    if (totalRows(spark, path) > MaxServeRows) return None
    try VI.requireCurrentFormat(spark, path)
    catch { case _: Exception => return None }
    val cellsVer = try graft.core.Fs.dirSignature(spark, s"$path/cells")
      catch { case _: Exception => return None }
    val probes = VI.probeCells(spark, path, q, nprobe)
    val codeMap = ivfSlices[(Long, Array[Int], Double)](spark, path,
      "cells", cellsVer, probes, ivfCodesCache,
      Seq("centroid", "vec_id", "codes", "vnorm"),
      r => (r.getLong(1), r.getSeq[Int](2).toArray, r.getDouble(3)),
      _._1).getOrElse(return None)
    val dtab = VI.adcTable(spark, path, q).map(_.toArray).toArray
    val nSub = dtab.length
    val scored = probes.iterator.flatMap(c =>
      codeMap.getOrElse(c, Array.empty[(Long, Array[Int], Double)]).iterator)
      .map { case (id, codes, vnorm) =>
        var acc = 0.0
        var m = 0
        while (m < nSub) { acc += dtab(m)(codes(m)); m += 1 }
        (id, if (vnorm == 0.0) 0.0 else acc / vnorm)
      }.toArray
    val cand =
      if (refine == Int.MaxValue) scored.map(_._1)
      else scored.sortBy { case (id, adc) => (-adc, id) }
        .take(refine).map(_._1)
    lakeRerankTail(spark, path, cand.distinct.toSeq.sorted, column,
      q.toArray, k, idCol)
  }

  /** Warm-served FACADE Vamana search — bit-identical rows to
    * [[graft.api.VamanaKind]]'s searchLake over one covering index:
    * the SAME driver beam the Spark path runs (the graph walk is
    * driver-side in both tiers — batched point lookups against the
    * budgeted node cache), candidate rids decode to retrieval units
    * through the cached metas, and the materialize + exact-rerank tail
    * is [[vectorLake]]'s, shared. Zero Spark jobs once the beam's
    * working set and the hit rows are warm; in the exact configuration
    * (all-medoid seed, unbounded beam) a failed totality check
    * declines to the Spark path, which raises its rebuild diagnostic.
    */
  private[graft] def vamanaLake(spark: SparkSession, path: String,
      column: String, q: Seq[Double], k: Int, l: Int, seedAll: Boolean,
      idCol: String): Option[org.apache.spark.sql.DataFrame] = {
    if (totalRows(spark, path) > MaxServeRows) return None // see vectorLake
    val qa = q.toArray
    val exact = seedAll && l == Int.MaxValue
    val (ids, visited) = VamanaIndex.beam(spark, path, qa, l,
      if (exact) 1024 else VamanaIndex.BeamW, seedAll)
    if (exact && visited != VamanaIndex.nodeCount(spark, path)) return None
    val bases = Layout.ridBases(graft.api.IndexKind.metaRows(spark, path))
    val uids = ids.map(Layout.uidOfRid(bases, _)).distinct.sorted
    lakeRerankTail(spark, path, uids, column, qa, k, idCol)
  }

  /** The shared materialize-and-rerank tail of the warm FACADE vector
    * paths ([[vectorLake]] / [[vamanaLake]]): hit retrieval units'
    * LAKE rows from the shared [[rowsOf]] cache (the facade's vector
    * kinds store no vectors — the lake is the vector store), the exact
    * CosineSim rerank of EVERY materialized row, (cos DESC, idCol ASC
    * nulls first) order, top-k, lake columns + cos — exactly the Spark
    * plan's final projection. Declines (None) on: a hit-row estimate
    * past [[MaxServeRows]], an unorderable id column type, or any row
    * whose vector fails to decode (the Spark column semantics for
    * those corners are not replicated driver-side — correctness beats
    * warmth).
    */
  private def lakeRerankTail(spark: SparkSession, path: String,
      hitUids: Seq[Long], column: String, qa: Array[Double], k: Int,
      idCol: String): Option[org.apache.spark.sql.DataFrame] = {
    // hit units and their row estimate BEFORE materializing: a
    // non-selective probe must fall back to the distributed plan, not
    // collect a data-scale row set to the driver
    val metaByUid = graft.api.IndexKind.metaRows(spark, path)
      .map(r => r._1 -> r).toMap
    val estRows = hitUids.flatMap(metaByUid.get).map(_._4).sum
    if (estRows > MaxServeRows) return None
    val (rows, schema) = rowsOf(spark, path, hitUids)
    val colIdx =
      try schema.fieldIndex(column) catch { case _: Exception => return None }
    val idIdx =
      try schema.fieldIndex(idCol) catch { case _: Exception => return None }
    val uidIdx = schema.fieldIndex("uid")
    // decode per vecAsDoubles semantics: binary = little-endian
    // float32 blobs (FloatVecDecode), arrays = numeric elements
    // widened to double; anything else (null vector, ragged length,
    // null element) declines
    def vecOf(r: Row): Option[Array[Double]] = {
      if (r.isNullAt(colIdx)) return None
      r.get(colIdx) match {
        case b: Array[Byte] =>
          val d = graft.functions.FloatVecDecode.decode(b)
          // a dim-mismatched blob declines like a dim-mismatched array
          // (cosRound would otherwise serve a prefix-cosine the Spark
          // column's semantics for that corner are not pinned against)
          if (d == null) None
          else {
            val dd = d.toDoubleArray
            if (dd.length != qa.length) None else Some(dd)
          }
        case s: scala.collection.Seq[_] =>
          if (s.length != qa.length) return None
          val out = new Array[Double](s.length)
          var i = 0
          while (i < s.length) {
            s(i) match {
              case n: Number => out(i) = n.doubleValue()
              case _ => return None
            }
            i += 1
          }
          Some(out)
        case _ => None
      }
    }
    val reranked = rows.map { r =>
      val v = vecOf(r).getOrElse(return None)
      (r, cosRound(qa, v))
    }
    // cos DESC (NaN greatest — Spark's ordering), then idCol ASC with
    // nulls FIRST (Spark's default ascending null ordering)
    def cmpId(a: Row, b: Row): Int = {
      val (an, bn) = (a.isNullAt(idIdx), b.isNullAt(idIdx))
      if (an && bn) 0
      else if (an) -1
      else if (bn) 1
      else (a.get(idIdx), b.get(idIdx)) match {
        case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
        case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
        case (x: String, y: String) =>
          // Spark string order is UTF-8 byte order
          val bx = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val by = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          val n = math.min(bx.length, by.length)
          while (i < n) {
            val c = (bx(i) & 0xff) - (by(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          bx.length - by.length
        case _ => return 0 // unreachable: gated below
      }
    }
    // unorderable id column type ⇒ decline (the tie-break would not
    // match the scan's)
    schema(idIdx).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.StringType => ()
      case _ => return None
    }
    val ord: Ordering[(Row, Double)] = (x: (Row, Double), y: (Row, Double)) => {
      val c = java.lang.Double.compare(y._2, x._2)
      if (c != 0) c else cmpId(x._1, y._1)
    }
    val top = reranked.sorted(ord).take(k)
    // output = lake columns (uid dropped, like the Spark path) + cos
    val outSchema = StructType(
      schema.fields.zipWithIndex.filter(_._2 != uidIdx).map(_._1) :+
        org.apache.spark.sql.types.StructField("cos",
          org.apache.spark.sql.types.DoubleType, nullable = true))
    val outRows = top.map { case (r, cos) =>
      Row.fromSeq((0 until r.length).filter(_ != uidIdx).map(r.get) :+
        (cos: Any))
    }
    Some(localDf(spark, outRows, outSchema))
  }

  // ---- explicit pre-warm (the reference's populate_cache) ------------

  /** Pre-load one index's warm-tier slices under the shared [[Budget]]
    * — the reference's explicit cache pre-warm (`populate_cache`,
    * backends/utils.py:128-145 → src/formats/cache/cache.rs:11-35:
    * each index's `cache_ranges` bytes are fetched BEFORE queries), so
    * first-query latency after deploy / compaction / eviction is
    * deterministic instead of paying a cold fetch on whichever query
    * arrives first. The kind is detected from the index's table
    * layout; every load flows through the same version-keyed fetch
    * paths queries use (a racing rebuild refuses to cache, the budget
    * admission check applies). Returns one (tbl, entries) row per
    * warmed slice family, sorted by tbl; an index past the
    * [[MaxServeRows]] budget returns zero rows — the serve tier would
    * decline its queries anyway. Like the reference, this warms the
    * INDEX tier: per-query lake-row materialization (hit row groups)
    * still faults in on first touch, and out-of-vocabulary terms pay
    * one batched negative-caching lookup.
    */
  def populate(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    populateRows(spark, path).toDF("tbl", "entries")
  }

  private[graft] def populateRows(spark: SparkSession,
      path: String): Seq[(String, Long)] = {
    // standalone (non-facade) indexes carry no meta sidecar — their
    // serve paths are governed by the budget admission check alone,
    // so a missing/unreadable meta does not refuse the warm
    val overBudget =
      try totalRows(spark, path) > MaxServeRows
      catch { case scala.util.control.NonFatal(_) => false }
    if (overBudget) return Seq.empty
    def has(t: String): Boolean =
      graft.core.Fs.exists(spark, s"$path/$t")
    def postingsTermCol: Option[String] =
      if (!has("postings")) None
      else {
        val fields = spark.read.parquet(s"$path/postings")
          .schema.fieldNames.toSet
        Seq("token", "gram", "variant").find(fields.contains)
      }
    if (has("docstats") && has("head")) {
      // bm25: corpus stats + dl table + vocabulary + EVERY term's
      // posting slice (grouped from one whole-postings read), so the
      // first ranked query of any in-vocabulary term is job-free
      val ver = verOf(spark, path)
      corpusStats(spark, path)
      val dl = dlOf(spark, path)
      val vocab = vocabOf(spark, path)
      val rows = spark.read.parquet(s"$path/postings")
        .select(col("token"), col("doc_id"), col("tf").cast("long"))
        .collect()
      restat(spark, s"$path/meta", ver)
      val byTok = rows.groupBy(_.getString(0))
      byTok.foreach { case (t, rs) =>
        tokenCache.put((path, ver, t),
          rs.map(r => (r.getLong(1), r.getLong(2))))
      }
      Seq(("docstats", dl.keys.length.toLong), ("head", 1L),
        ("postings", byTok.size.toLong), ("vocab", vocab.length.toLong))
    } else if (has("keys")) {
      keysOf(spark, path) match {
        case Some((_, pairs)) => Seq(("keys", pairs.length.toLong))
        case None => Seq.empty
      }
    } else if (has("cells") && has("vecs") && has("centroids")) {
      // IVF-PQ: centroid head + PQ codebooks + every cell's code and
      // vector slices — the whole pre-rank and rerank working set
      import graft.index.{VectorIndex => VI}
      try VI.requireCurrentFormat(spark, path)
      catch { case _: Exception => return Seq.empty }
      val head = VI.centroidHead(spark, path)
      val dim = head.headOption.map(_._2.length).getOrElse(return Seq.empty)
      VI.adcTable(spark, path, Seq.fill(dim)(0.0)) // warms the PQ books
      val ids = head.map(_._1).toSeq
      val cellsVer = graft.core.Fs.dirSignature(spark, s"$path/cells")
      val vecsVer = graft.core.Fs.dirSignature(spark, s"$path/vecs")
      val codes = ivfSlices[(Long, Array[Int], Double)](spark, path,
        "cells", cellsVer, ids, ivfCodesCache,
        Seq("centroid", "vec_id", "codes", "vnorm"),
        r => (r.getLong(1), r.getSeq[Int](2).toArray, r.getDouble(3)),
        _._1)
      val vecs = ivfSlices[(Long, Array[Double])](spark, path,
        "vecs", vecsVer, ids, ivfVecsCache,
        Seq("centroid", "vec_id", "v"),
        r => (r.getLong(1), r.getSeq[Double](2).toArray), _._1)
      if (codes.isEmpty || vecs.isEmpty) Seq.empty
      else Seq(("cells", ids.size.toLong), ("head", 1L),
        ("vecs", ids.size.toLong))
    } else if (has("graph") && has("head")) {
      Seq(("graph", VamanaIndex.populateNodes(spark, path)), ("head", 1L))
    } else if (has("fm")) {
      Seq(("fm", FmIndex.populateChunks(spark, path)), ("head", 1L))
    } else if (has("tfm2")) {
      Seq(("head", 1L), ("tfm2", TokenFmIndex.populateChunks(spark, path)))
    } else if (has("wt")) {
      Seq(("head", 1L), ("wt", WaveletIndex.populateChunks(spark, path)))
    } else postingsTermCol match {
      case Some(tc) if tc != "token" =>
        // ngram / fuzzy: every term's uid slice from one postings read
        val ver = verOf(spark, path)
        val cache = if (tc == "gram") gramCache else variantCache
        val rows = spark.read.parquet(s"$path/postings")
          .select(col(tc), col("uid")).collect()
        restat(spark, s"$path/meta", ver)
        val byTerm = rows.groupBy(_.getString(0))
        byTerm.foreach { case (t, rs) =>
          cache.put((path, ver, t), rs.map(_.getLong(1)).distinct)
        }
        Seq(("postings", byTerm.size.toLong))
      case _ => Seq.empty
    }
  }

  /** The exact CosineSim + round(6) semantics, driver-side: one-pass
    * dot/norm accumulation in array order, then [[halfUp]] — the same
    * rounding replication the other serve paths use (incl. its
    * NaN/Inf passthrough: a zero-norm vector's 0/0 cosine stays NaN,
    * exactly what the Spark column returns).
    */
  private def cosRound(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    halfUp(dot / (math.sqrt(na) * math.sqrt(nb)), 6)
  }
}
