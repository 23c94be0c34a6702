package graft

import graft.core.Layout
import graft.index.{Bm25Index, KeyIndex, LogCloudIndex, ZoneMapIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator specs for the remaining index types. */
class IndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def mkLake(df: DataFrame, key: String, parts: Int): Seq[String] = {
    val dir = TestSpark.tmpDir("lake")
    df.repartitionByRange(parts, col(key))
      .write.mode("overwrite").parquet(dir)
    graft.core.Lake.listFiles(dir)
  }

  test("key index exact and prefix search with refine") {
    val rows = (0L until 200L).map(i => (i, f"key-$i%05d")).toDF("id", "key")
    val files = mkLake(rows, "id", 3)
    val idx = TestSpark.tmpDir("kidx")
    KeyIndex.build(spark, files, "key", idx, parts = 4)
    val exact = KeyIndex.searchExact(spark, idx, "key", "key-00042")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(exact == Seq(42L))
    val pre = graft.api.KeyKind.searchIndex(spark, idx, "key", "key-0004%")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(pre == (40L to 49L))
    assert(KeyIndex.searchExact(spark, idx, "key", "nope").count() == 0)
  }

  test("key index merge answers like a single index") {
    val rows = (0L until 100L).map(i => (i, f"key-$i%05d"))
    val fa = mkLake(rows.take(50).toDF("id", "key"), "id", 2)
    val fb = mkLake(rows.drop(50).toDF("id", "key"), "id", 2)
    val (a, b, m) = (TestSpark.tmpDir("ka"), TestSpark.tmpDir("kb"), TestSpark.tmpDir("km"))
    KeyIndex.build(spark, fa, "key", a)
    KeyIndex.build(spark, fb, "key", b)
    KeyIndex.merge(spark, a, b, m)
    val got = graft.api.KeyKind.searchIndex(spark, m, "key", "key-0006%")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (60L to 69L))
  }

  test("zone map prunes and still answers ranges exactly") {
    val rows = (0L until 500L).map(i => (i, s"v$i")).toDF("k", "v")
    val files = mkLake(rows, "k", 4)
    val idx = TestSpark.tmpDir("zidx")
    ZoneMapIndex.build(spark, files, "k", idx)
    val got = graft.api.ZoneMapKind.searchIndex(spark, idx, "k", "123..131")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (123L to 131L))
    // pruning actually happened: hit row groups < total row groups
    val zones = spark.read.parquet(s"$idx/zones")
    val hitZones = zones.filter(col("hi") >= 123L && col("lo") <= 131L).count()
    assert(hitZones < zones.count())
  }

  test("bm25 ranks the doc matching more query terms first") {
    val docs = Seq(
      (1L, "spark shuffle join"), (2L, "spark spark spark"),
      (3L, "shuffle join window partition"), (4L, "window window window"),
      (5L, "totally unrelated words here")).toDF("doc_id", "text")
    val files = mkLake(docs, "doc_id", 2)
    val idx = TestSpark.tmpDir("bidx")
    Bm25Index.build(spark, files, "text", "doc_id", idx)
    val top = Bm25Index.search(spark, idx, "shuffle join", 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(top.take(2).toSet == Set(1L, 3L)) // both match both terms
    assert(!top.contains(5L))
  }

  test("bm25 phrase search keeps only contiguous matches, ranked") {
    val docs = Seq(
      (1L, "spark shuffle join fast"), // phrase present
      (2L, "join shuffle spark"), // all tokens, wrong order
      (3L, "spark shuffle join join shuffle"), // phrase + extra terms
      (4L, "shuffle join only"), // missing 'spark'
      (5L, "unrelated")).toDF("doc_id", "text")
    val files = mkLake(docs, "doc_id", 2)
    val idx = TestSpark.tmpDir("bpidx")
    Bm25Index.build(spark, files, "text", "doc_id", idx)
    val got = Bm25Index
      .searchPhrase(spark, idx, "spark shuffle join", 10, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L)) // 2 has the tokens but not the phrase
    // absent phrase and empty phrase answer empty, not crash
    assert(Bm25Index.searchPhrase(spark, idx, "join spark shuffle zzz",
      10, "doc_id", "text").count() == 0)
    assert(Bm25Index.searchPhrase(spark, idx, "", 10, "doc_id", "text")
      .count() == 0)
    // single-token phrase degrades to plain top-k of docs holding it
    val one = Bm25Index.searchPhrase(spark, idx, "spark", 10,
      "doc_id", "text").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(one == Set(1L, 2L, 3L))
  }

  test("logcloud search equals contains-scan for variable and text queries") {
    val data = Seq(
      (1L, "error code 500 at node-7"), (2L, "ok code 200 at node-7"),
      (3L, "error code 500 at node-9"), (4L, "heartbeat idle"))
    val lines = data.toDF("line_id", "line")
    val idx = TestSpark.tmpDir("lcidx")
    LogCloudIndex.build(spark, lines, idx)
    for (q <- Seq("500", "node-7", "error", "idle", "zzz")) {
      val got = LogCloudIndex.search(spark, idx, lines, q)
        .collect().map(_.getLong(0)).toSet
      val want = data.filter(_._2.contains(q)).map(_._1).toSet
      assert(got == want, s"query '$q'")
    }
  }

  test("readHits materializes exactly the hit row groups' rows") {
    val rows = (0L until 300L).map(i => (i, s"val$i")).toDF("id", "v")
    val files = mkLake(rows, "id", 3)
    val meta = Layout.buildMeta(spark, files)
    val firstUid = meta.agg(min("uid")).collect()(0).getLong(0)
    val hits = Seq(firstUid).toDF("uid")
    val got = Layout.readHits(spark, meta, hits)
    val expected = meta.filter(col("uid") === firstUid)
      .agg(sum("num_rows")).collect()(0).getLong(0)
    assert(got.count() == expected)
    assert(got.select("uid").distinct().collect().map(_.getLong(0)).toSeq == Seq(firstUid))
  }

  test("query shaping keeps the gram suffix and bounds probe width") {
    val grams = (0 until 40).map(i => s"g$i")
    val kept = graft.text.QueryShaping.viableGrams(grams, 10)
    assert(kept == grams.takeRight(10))
    assert(graft.text.QueryShaping.viableGrams(Seq("a", "b")) == Seq("a", "b"))
  }

  test("standalone minhash search with a short query returns empty, not a crash") {
    val docs = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "totally different words in this particular document"))
      .toDF("doc_id", "text")
    val files = mkLake(docs, "doc_id", 1)
    val path = TestSpark.tmpDir("mhidx")
    graft.index.MinHashIndex.build(spark, files, "text", path)
    // fewer than ShingleK tokens -> no band keys: the standalone API
    // must answer empty with the normal result schema (lake + jac),
    // matching the facade guard, instead of empty.reduceLeft crashing
    val res = graft.api.MinHashKind.searchIndex(spark, path, "text", "too short")
    assert(res.count() == 0)
    assert(res.columns.contains("jac") && res.columns.contains("doc_id"))
  }

  test("standalone token search with a token-less query matches all rows") {
    val docs = Seq((1L, "hello world"), (2L, "other text"))
      .toDF("doc_id", "text")
    val files = mkLake(docs, "doc_id", 1)
    val path = TestSpark.tmpDir("tokidx")
    graft.index.TokenIndex.build(spark, files, "text", path)
    // "!!!" has no [a-z0-9] tokens = the empty token sequence, which is
    // a sub-sequence of EVERY row (the BwtDriver convention) -- the
    // previous two-space refine returned only token-less rows (none)
    val got = graft.api.TokenKind.searchIndex(spark, path, "text", "!!!")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }
}
