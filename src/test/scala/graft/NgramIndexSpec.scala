package graft

import graft.core.Layout
import graft.index.NgramIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NgramIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def mkLake(rows: Seq[(Long, String)], parts: Int): Seq[String] = {
    val dir = TestSpark.tmpDir("lake")
    rows.toDF("doc_id", "text")
      .repartitionByRange(parts, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    graft.core.Lake.listFiles(dir)
  }

  private val corpus = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "pack my box with five dozen liquor jugs",
    3L -> "a quick movement of the enemy will jeopardize five gunboats",
    4L -> "brown paper packages tied up with strings",
    5L -> "the five boxing wizards jump quickly")

  test("uid assignment is a contiguous 1-based global ordinal") {
    val files = mkLake(corpus, 2)
    val meta = Layout.buildMeta(spark, files)
    val uids = meta.select("uid").collect().map(_.getLong(0)).sorted
    assert(uids.head == 1L && uids.last == uids.length)
    val total = meta.agg(sum("num_rows")).collect()(0).getLong(0)
    assert(total == corpus.size)
  }

  test("index search equals the brute-force predicate (the oracle)") {
    val files = mkLake(corpus, 3)
    val idx = TestSpark.tmpDir("idx")
    NgramIndex.build(spark, files, "text", idx)
    for (q <- Seq("quick", "brown", "five", "jeopard", "zzz", "the ")) {
      val got = NgramIndex.search(spark, idx, "text", q)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val want = corpus.filter(_._2.toLowerCase.contains(q)).map(_._1).toSet
      assert(got == want, s"query '$q'")
    }
  }

  test("search(merge(a,b)) equals brute force over the union") {
    val filesA = mkLake(corpus.take(3), 2)
    val filesB = mkLake(corpus.drop(3), 2)
    val (a, b, m) = (TestSpark.tmpDir("a"), TestSpark.tmpDir("b"), TestSpark.tmpDir("m"))
    NgramIndex.build(spark, filesA, "text", a)
    NgramIndex.build(spark, filesB, "text", b)
    NgramIndex.merge(spark, a, b, m)
    val got = NgramIndex.search(spark, m, "text", "five")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L, 5L))
  }

  test("short queries prune through the index, not a covered-files scan") {
    val files = mkLake(corpus, 3)
    val idx = TestSpark.tmpDir("idx_short")
    NgramIndex.build(spark, files, "text", idx)
    // queries selective enough that not every row group is hit (the
    // density cost switch rightly brute-scans all-groups-hit queries)
    for (q <- Seq("ze", "x w", "ve g")) {
      val res = NgramIndex.search(spark, idx, "text", q)
        .select("doc_id", "uid").collect()
      val want = corpus.filter(_._2.toLowerCase.contains(q)).map(_._1).toSet
      assert(res.map(_.getLong(0)).toSet == want, s"query '$q'")
      // the brute-scan fallback tags uid = -1; the index path keeps
      // real row-group uids — short queries must take the index path
      assert(res.forall(_.getLong(1) >= 0L), s"query '$q' fell to brute scan")
    }
  }

  test("empty hit set keeps the lake schema") {
    val files = mkLake(corpus, 2)
    val idx = TestSpark.tmpDir("idx2")
    NgramIndex.build(spark, files, "text", idx)
    val res = NgramIndex.search(spark, idx, "text", "qqqqqq")
    assert(res.columns.contains("doc_id") && res.count() == 0)
  }

  // ---- the one-job posting probe (IndexKind.probe) -------------------

  test("probe keys on (idx, uid): a uid holding all grams in ONE index only") {
    // uid 1 of index A holds every gram of "needle"; uid 1 of index B
    // holds nee, eed and dle but not edl — keyed by uid alone, B's
    // groups would pool into A's count and qualify
    val fa = mkLake(Seq(1L -> "a needle here"), 1)
    val fb = mkLake(Seq(2L -> "need a cradle"), 1)
    val (a, b) = (TestSpark.tmpDir("pa"), TestSpark.tmpDir("pb"))
    NgramIndex.build(spark, fa, "text", a)
    NgramIndex.build(spark, fb, "text", b)
    val grams = graft.text.Text.cpGrams("needle", NgramIndex.N).distinct
    assert(graft.api.IndexKind.postingUnits(spark, Seq(a, b), grams) == Set((0, 1L)))
    assert(graft.api.IndexKind.postingUnits(spark, Seq(b, a), grams) == Set((1, 1L)))
    // the dedup mode keeps both ordinals apart too
    val both = graft.api.IndexKind.probe(
      graft.api.IndexKind.readTagged(spark, Seq(a, b), "postings")
        .filter(col("gram") === "dle"))
    assert(both == Set((0, 1L), (1, 1L)))
  }

  test("facade and standalone probes: short, empty-result and duplicate-token queries") {
    val dir = TestSpark.tmpDir("probe-lake")
    corpus.toDF("doc_id", "text").repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val lake = graft.api.GraftLake(spark, dir)
    lake.index(graft.api.NgramKind, "text", binpackRows = 1)
    lake.index(graft.api.FuzzyKind, "text", binpackRows = 1)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    def contains(q: String): Set[Long] =
      corpus.filter(_._2.toLowerCase.contains(q)).map(_._1).toSet
    // 1-2 character queries probe their exact short gram; "zzz" and
    // "qj" match nothing and keep the lake schema
    for (q <- Seq("z", "ze", "j", "qu", "zzz", "qj")) {
      val res = lake.search(graft.api.NgramKind, "text", q, 100)
      assert(ids(res) == contains(q), s"facade query '$q'")
      assert(res.columns.contains("doc_id"))
    }
    val files = graft.core.Lake.listFiles(dir)
    val idx = TestSpark.tmpDir("probe-idx")
    NgramIndex.build(spark, files, "text", idx)
    assert(NgramIndex.search(spark, idx, "text", "zzz").count() == 0)
    assert(ids(NgramIndex.search(spark, idx, "text", "x")) == contains("x"))
    // a duplicated query token is one intersection constraint, not two
    val fidx = TestSpark.tmpDir("probe-fidx")
    graft.index.FuzzyIndex.build(spark, files, "text", fidx)
    val brute = ids(spark.read.parquet(files: _*).filter(
      graft.index.FuzzyIndex.refinePredicate("text", Seq("quik", "quik"))))
    assert(brute == Set(1L, 3L))
    assert(ids(graft.index.FuzzyIndex.search(spark, fidx, "text",
      "quik quik")) == brute)
    assert(ids(lake.search(graft.api.FuzzyKind, "text", "quik quik", 100)) == brute)
  }

  test("a lake file rewritten in place with a new schema is read with its new footer") {
    val dir = TestSpark.tmpDir("rewrite-lake")
    corpus.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val file = graft.core.Lake.listFiles(dir).head
    val lake = graft.api.GraftLake(spark, dir)
    lake.index(graft.api.NgramKind, "text")
    def search(): org.apache.spark.sql.DataFrame =
      lake.search(graft.api.NgramKind, "text", "quick", 100)
    assert(search().count() == 3 && !search().columns.contains("extra"))
    // same rows in the same order (the index stays valid), one more
    // column: the cached footer schema must not survive the rewrite
    val tmp = TestSpark.tmpDir("rewrite-new")
    corpus.toDF("doc_id", "text").withColumn("extra", col("doc_id") * 10)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    // the local filesystem's checksum shadow moves with the data
    def crc(p: java.nio.file.Path) = p.resolveSibling(s".${p.getFileName}.crc")
    val (src, dst) = (java.nio.file.Paths.get(graft.core.Lake.listFiles(tmp).head),
      java.nio.file.Paths.get(file))
    for ((from, to) <- Seq(src -> dst, crc(src) -> crc(dst)))
      java.nio.file.Files.copy(from, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Layout.schemaOf(spark, file).fieldNames.contains("extra"))
    val got = search().select("doc_id", "extra").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(got == Set(1L -> 10L, 3L -> 30L, 5L -> 50L))
  }
}
