package graft

import graft.api.{Bm25Kind, GraftLake, KeyKind, NgramKind, TokenKind}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Full lake lifecycle through the public facade: incremental index →
  * partial-coverage search with in-situ fill → compaction → vacuum.
  */
class GraftLakeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val lakeDir = TestSpark.tmpDir("apilake")

  private def writeFile(name: String, rows: Seq[(Long, String)],
      dir: String = lakeDir): Unit = {
    val staging = TestSpark.tmpDir(s"stage-$name")
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(staging)
    val part = graft.core.Lake.listFiles(staging).head
    java.nio.file.Files.move(
      java.nio.file.Paths.get(part),
      java.nio.file.Paths.get(s"$dir/$name.parquet"))
  }

  private def allRows(): Seq[(Long, String)] =
    spark.read.parquet(graft.core.Lake.listFiles(lakeDir): _*)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  private def brute(q: String): Seq[Long] =
    allRows().filter(_._2.toLowerCase.contains(q)).map(_._1).sorted

  test("index, search with in-situ fill, compact, vacuum") {
    writeFile("a", Seq(1L -> "alpha search engine", 2L -> "beta testing rig"))
    writeFile("b", Seq(3L -> "gamma search index", 4L -> "delta rays"))
    val lake = GraftLake(spark, lakeDir)

    // incremental indexing with a tiny bin-pack threshold → 2 groups
    val built = lake.index(NgramKind, "text", binpackRows = 2)
    assert(built.size == 2)
    assert(lake.index(NgramKind, "text").isEmpty) // nothing new → no-op

    def searchIds(q: String) =
      lake.search(NgramKind, "text", q, 100, Seq("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(searchIds("search") == brute("search"))

    // append-only lake grows; new files are probed in-situ
    writeFile("c", Seq(5L -> "epsilon search party", 6L -> "zeta zone"))
    assert(searchIds("search") == brute("search"))

    // incremental index picks up only the new file
    assert(lake.index(NgramKind, "text").size == 1)

    // compaction merges everything into one index, then vacuums
    val merged = lake.compact(NgramKind, "text", threshold = 1000000)
    assert(merged.isDefined)
    // the merged dir must carry the _GRAFT_DONE marker: the missing-
    // file self-heal classifies integrity by it, and a marker-less
    // merge output would be demoted (metadata dropped) on first retry
    assert(graft.core.IndexStore.isBuilt(merged.get))
    val kept = lake.vacuum()
    assert(kept == Seq(merged.get))
    assert(searchIds("search") == brute("search"))
    assert(searchIds("zone") == Seq(6L))
    assert(searchIds("nothing-here").isEmpty)
  }

  test("bm25 and key kinds run the same facade lifecycle") {
    val dir = TestSpark.tmpDir("apilake2")
    def write(name: String, rows: Seq[(Long, String)]): Unit = {
      val staging = TestSpark.tmpDir(s"stage2-$name")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    write("a", Seq(1L -> "apple pie recipe", 2L -> "banana bread recipe"))
    write("b", Seq(3L -> "cherry apple jam", 4L -> "plain toast"))
    val lake = GraftLake(spark, dir)
    val bm25 = Bm25Kind("doc_id")

    // one bm25 index per file: facade ranking must equal a single
    // whole-corpus index (global IDF across covering indexes)
    assert(lake.index(bm25, "text", binpackRows = 2).size == 2)
    val whole = graft.core.IndexStore.indexPath(dir, "bm25_whole_ref")
    graft.index.Bm25Index.build(spark,
      graft.core.Lake.listFiles(dir), "text", "doc_id", whole)
    def ranked(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ranked(lake.search(bm25, "text", "apple recipe", 4)) ==
      ranked(graft.index.Bm25Index.search(spark, whole, "apple recipe", 4)))

    // key kind: exact + prefix through the facade, then compaction
    assert(lake.index(KeyKind, "text", binpackRows = 2).size == 2)
    def keyIds(q: String) =
      lake.search(KeyKind, "text", q, 100, Seq("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(keyIds("plain toast") == Seq(4L))
    assert(keyIds("cherry%") == Seq(3L))
    assert(lake.compact(KeyKind, "text", threshold = 1000000).isDefined)
    assert(keyIds("plain toast") == Seq(4L))
    assert(keyIds("cherry%") == Seq(3L))
  }

  test("minhash search with a sub-shingle query returns empty, not a crash") {
    val dir = TestSpark.tmpDir("mhshort")
    val staging = TestSpark.tmpDir("stage-mhshort")
    Seq(1L -> "one two three four five six seven eight")
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(staging)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
      java.nio.file.Paths.get(s"$dir/a.parquet"))
    val lake = GraftLake(spark, dir)
    lake.index(graft.api.MinHashKind, "text", binpackRows = 1)
    // fewer than ShingleK tokens -> no shingles, no signature: a legal
    // facade search must return an empty frame (a short doc has no
    // near-duplicates by definition), not throw from verifyJaccard
    val res = lake.search(graft.api.MinHashKind, "text", "too short", 10,
      Seq("doc_id"))
    assert(res.count() == 0)
    assert(res.columns.contains("doc_id"))
  }

  test("empty live-restricted coverage falls back to in-situ (no crash)") {
    val dir = TestSpark.tmpDir("apilake5")
    def write(name: String, rows: Seq[(Long, String)]): String = {
      val staging = TestSpark.tmpDir(s"stage5-$name")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      val dst = s"$dir/$name.parquet"
      java.nio.file.Files.move(
        java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
        java.nio.file.Paths.get(dst))
      graft.core.Layout.canonPath(dst)
    }
    val fa = write("a", Seq(1L -> "indexed target row", 2L -> "noise"))
    val fb = write("b", Seq(3L -> "insitu target row", 4L -> "other"))
    val idx = graft.core.IndexStore.indexPath(dir, "live_ngram")
    graft.index.NgramIndex.build(spark, Seq(fa), "text", idx)
    // live set excludes every indexed file (a snapshot predating the
    // index): searchLake must return only the in-situ results instead
    // of calling spark.read.parquet with zero paths
    val got = NgramKind.searchLake(spark, Seq(idx), Seq(fb), "text",
        "target", 10, live = Some(Set(fb)))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L))
  }

  test("fully empty live set returns zero rows with the lake schema") {
    val dir = TestSpark.tmpDir("apilake6")
    def write(name: String, rows: Seq[(Long, String)]): String = {
      val staging = TestSpark.tmpDir(s"stage6-$name")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      val dst = s"$dir/$name.parquet"
      java.nio.file.Files.move(
        java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
        java.nio.file.Paths.get(dst))
      graft.core.Layout.canonPath(dst)
    }
    val fa = write("a", Seq(1L -> "some indexed row"))
    val idx = graft.core.IndexStore.indexPath(dir, "empty_live_ngram")
    graft.index.NgramIndex.build(spark, Seq(fa), "text", idx)
    // a snapshot predating EVERY add: live is empty, indexes exist —
    // the correct answer is an empty result, not a crash
    val res = NgramKind.searchLake(spark, Seq(idx), Seq.empty, "text",
      "row", 10, live = Some(Set.empty))
    assert(res.columns.contains("doc_id") && res.count() == 0)
  }

  test("degenerate queries agree across kinds on a NULL-bearing corpus") {
    val dir = TestSpark.tmpDir("nulllake")
    writeFile("n-a",
      Seq(1L -> "alpha beta", 2L -> (null: String), 3L -> "gamma"), dir)
    val lake = GraftLake(spark, dir)
    def ids(kind: graft.api.IndexKind, q: String) =
      lake.search(kind, "text", q, 100, Seq("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    // the empty pattern matches every NON-NULL row — uniformly across
    // char-mode (contains("")) and token-mode (empty token sequence)
    // kinds, on the unindexed (in-situ brute) paths...
    for (k <- Seq[graft.api.IndexKind](NgramKind, TokenKind,
        graft.api.FmKind, graft.api.TokenFmKind))
      assert(ids(k, "") == Seq(1L, 3L), s"unindexed ${k.name}")
    // ...and a token-LESS (but non-empty) query is the same empty
    // sequence for the token kinds: NULL rows must not sneak in
    assert(ids(TokenKind, "!!!") == Seq(1L, 3L))
    assert(ids(graft.api.TokenFmKind, "!!!") == Seq(1L, 3L))
    // indexed paths answer identically
    for (k <- Seq[graft.api.IndexKind](NgramKind, TokenKind,
        graft.api.FmKind, graft.api.TokenFmKind)) {
      lake.index(k, "text")
      assert(ids(k, "") == Seq(1L, 3L), s"indexed ${k.name}")
    }
    assert(ids(TokenKind, "!!!") == Seq(1L, 3L))
    assert(ids(graft.api.TokenFmKind, "!!!") == Seq(1L, 3L))
  }

  test("search demotes an index dir broken out of band and self-heals") {
    val dir = TestSpark.tmpDir("brokenidx")
    writeFile("bk-a", Seq(1L -> "needle in the hay", 2L -> "plain straw"), dir)
    writeFile("bk-b", Seq(3L -> "another needle here", 4L -> "just grass"), dir)
    val lake = GraftLake(spark, dir)
    val built = lake.index(NgramKind, "text", binpackRows = 2)
    assert(built.size == 2)
    def ids() = lake.search(NgramKind, "text", "needle", 100, Seq("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids() == Seq(1L, 3L))
    // crashed-vacuum simulation: marker gone (deleteRec removes it
    // FIRST), a sub-table gone, dir still present — coverage()'s
    // batched existence check alone would keep probing it
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(built.head, "_GRAFT_DONE"))
    graft.core.IndexStore.deleteRec(
      java.nio.file.Paths.get(built.head, "meta"))
    // demote-not-crash: the broken index's files fall back to in-situ
    assert(ids() == Seq(1L, 3L))
    // and the stale metadata row was dropped, so the next incremental
    // index() rebuilds exactly that group
    assert(lake.index(NgramKind, "text", binpackRows = 2).size == 1)
    assert(ids() == Seq(1L, 3L))
  }

  test("compact-window double coverage is deduplicated by greedy selection") {
    // simulate the append-then-delete window (or a crash inside it):
    // metadata holds BOTH the part indexes and their merged superset
    val dir = TestSpark.tmpDir("apilake7")
    writeFileTo(dir, "a", Seq(1L -> "needle one", 2L -> "plain"))
    writeFileTo(dir, "b", Seq(3L -> "needle two", 4L -> "other"))
    val lake = GraftLake(spark, dir)
    lake.index(NgramKind, "text", binpackRows = 1) // one index per file
    val merged = lake.compact(NgramKind, "text", threshold = 1000000)
    assert(merged.isDefined)
    // resurrect the superseded rows alongside the merged ones: re-commit
    // part-index metadata as if deleteMetadata never ran
    val files = graft.core.Lake.listFiles(dir)
    files.zipWithIndex.foreach { case (f, i) =>
      graft.core.IndexStore.commitMetadata(spark, dir,
        graft.core.IndexStore.metadataRows(spark, dir, "text", Seq(f),
          Seq(2L), s"${merged.get}_stale$i", "ngram", 2L))
    }
    val ids = lake.search(NgramKind, "text", "needle", 10, Seq("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 3L), s"double coverage must not duplicate rows: $ids")
  }

  private def writeFileTo(dir: String, name: String,
      rows: Seq[(Long, String)]): Unit = {
    val staging = TestSpark.tmpDir(s"stage7-$name")
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(staging)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
      java.nio.file.Paths.get(s"$dir/$name.parquet"))
  }

  test("bm25 tokenizer seam: a custom tokenizer changes the vocabulary") {
    val dir = TestSpark.tmpDir("apilake4")
    val staging = TestSpark.tmpDir("stage4")
    Seq(1L -> "Apple pie", 2L -> "apple pie").toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(staging)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
      java.nio.file.Paths.get(s"$dir/a.parquet"))
    // case-PRESERVING whitespace tokenizer (the regex default lowers)
    object Ws extends graft.text.Text.Tokenizer {
      def tokenize(c: org.apache.spark.sql.Column) =
        filter(split(c, " "), t => t =!= lit(""))
      def tokenizeQuery(q: String) = q.split(" ").filter(_.nonEmpty).toSeq
      def oracleListExpr(column: String) =
        s"list_filter(string_split($column, ' '), t -> t <> '')"
    }
    val lake = GraftLake(spark, dir)
    val kind = Bm25Kind("doc_id", Ws)
    lake.index(kind, "text")
    val ids = lake.search(kind, "text", "Apple", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L)) // the default tokenizer would match both docs
    // the warm route scores the kind's own query tokens: a repeat runs
    // no job and equals the Spark plan over the same index
    val paths = lake.coverageByName(kind.name, "text").map(_._1)
    val viaPlan = graft.index.Bm25Index.searchWeightedMany(spark, paths,
      Seq("Apple" -> 1.0), 10).collect().toSeq
    var warm = Seq.empty[org.apache.spark.sql.Row]
    assert(jobs("bm25-ws-warm") {
      warm = lake.search(kind, "text", "Apple", 10).collect().toSeq
    } == 0)
    assert(warm == viaPlan)
  }

  private def jobs(group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("warm bm25 search re-scores after an in-place re-index") {
    val dir = TestSpark.tmpDir("apilake-reindex")
    def put(name: String, rows: Seq[(Long, String)]): Unit = {
      val staging = TestSpark.tmpDir(s"stage-reindex-$name")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
        java.nio.file.Paths.get(s"$dir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    put("a", Seq(1L -> "apple pie recipe", 2L -> "banana bread"))
    put("b", Seq(3L -> "cherry apple jam", 4L -> "plain toast"))
    val lake = GraftLake(spark, dir)
    val kind = Bm25Kind("doc_id")
    assert(lake.index(kind, "text", binpackRows = 2).size == 2)
    val q = "apple recipe"
    def ranked(): Seq[(Long, Double)] =
      lake.search(kind, "text", q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // a fresh whole-corpus index over the lake as it is now
    def reference(): Seq[(Long, Double)] = {
      val whole = TestSpark.tmpDir("apilake-reindex-whole")
      graft.index.Bm25Index.build(spark,
        graft.core.Lake.listFiles(dir), "text", "doc_id", whole)
      graft.index.Bm25Index.search(spark, whole, q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val before = reference()
    assert(ranked() == before)
    assert(jobs("bm25-reindex-warm") { assert(ranked() == before) } == 0)
    // rewrite a.parquet (new docs, new lengths, more apples) and rebuild
    // its covering index in the same dir: the meta signature moves
    put("a", Seq(5L -> "apple apple recipe", 6L -> "apple tart",
      7L -> "long banana bread recipe with apple and more words"))
    val pa = lake.coverageByName(kind.name, "text")
      .find(_._2.exists(_.endsWith("a.parquet"))).get._1
    graft.index.Bm25Index.build(spark,
      graft.core.Lake.listFiles(dir).filter(_.endsWith("a.parquet")),
      "text", "doc_id", pa)
    val after = reference()
    assert(after != before)
    // new token slices, dl table and corpus stats: no stale cache entry
    assert(ranked() == after)
  }

  test("warm ngram and key searches see appends and in-place re-indexes") {
    val dir = TestSpark.tmpDir("apilake-warm-lexical")
    def put(name: String, rows: Seq[(Long, String)]): Unit = {
      val staging = TestSpark.tmpDir(s"stage-warm-lexical-$name")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
        java.nio.file.Paths.get(s"$dir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    put("a", Seq(1L -> "apple pie", 2L -> "banana bread"))
    put("b", Seq(3L -> "cherry jam", 4L -> "plain toast"))
    val lake = GraftLake(spark, dir)
    assert(lake.index(NgramKind, "text").size == 1)
    assert(lake.index(KeyKind, "text").size == 1)
    def ids(kind: graft.api.IndexKind, q: String): Seq[Long] =
      lake.search(kind, "text", q, 10, Seq("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    def both(): (Seq[Long], Seq[Long]) =
      (ids(NgramKind, "apple"), ids(KeyKind, "apple pie"))
    // one covering index per kind, the hits in one of two row groups:
    // a warm repeat is served with zero jobs
    assert(both() == (Seq(1L), Seq(1L)))
    assert(jobs("lexical-reindex-warm") {
      assert(both() == (Seq(1L), Seq(1L)))
    } == 0)
    // rewrite a.parquet and rebuild both covering indexes in their own
    // dirs: the meta signatures move, no stale slice or row is served
    put("a", Seq(5L -> "apple pie", 6L -> "green apple tart",
      7L -> "banana bread"))
    for ((kind, build) <- Seq[(graft.api.IndexKind,
        (Seq[String], String) => Unit)](
        NgramKind -> (graft.index.NgramIndex.build(spark, _, "text", _)),
        KeyKind -> (graft.index.KeyIndex.build(spark, _, "text", _)))) {
      val Seq((p, _)) = lake.coverageByName(kind.name, "text")
      build(graft.core.Lake.listFiles(dir), p)
    }
    assert(both() == (Seq(5L, 6L), Seq(5L)))
    assert(jobs("lexical-reindex-rewarm") {
      assert(both() == (Seq(5L, 6L), Seq(5L)))
    } == 0)
    // an appended file joins the next search: in-situ, then indexed
    put("c", Seq(8L -> "apple pie", 9L -> "apple crumble"))
    assert(both() == (Seq(5L, 6L, 8L, 9L), Seq(5L, 8L)))
    assert(lake.index(NgramKind, "text").size == 1)
    assert(lake.index(KeyKind, "text").size == 1)
    assert(both() == (Seq(5L, 6L, 8L, 9L), Seq(5L, 8L)))
  }

  test("token kind runs the facade lifecycle with sequence semantics") {
    val dir = TestSpark.tmpDir("apilake3")
    def write(name: String, rows: Seq[(Long, String)]): Unit = {
      val staging = TestSpark.tmpDir(s"stage3-$name")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    write("a", Seq(1L -> "quick brown fox", 2L -> "brown quick step"))
    write("b", Seq(3L -> "the quick, brown dog", 4L -> "lazy dog"))
    val lake = GraftLake(spark, dir)
    assert(lake.index(TokenKind, "text", binpackRows = 2).size == 2)
    def ids(q: String) =
      lake.search(TokenKind, "text", q, 100, Seq("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    // token-sequence containment: punctuation-normalized, order matters
    assert(ids("quick brown") == Seq(1L, 3L))
    assert(ids("brown quick") == Seq(2L))
    assert(ids("dog") == Seq(3L, 4L)) // unigram path
    assert(lake.compact(TokenKind, "text", threshold = 1000000).isDefined)
    assert(ids("quick brown") == Seq(1L, 3L))
    assert(ids("dog") == Seq(3L, 4L))
    // token-less query = the EMPTY token sequence, contained in every
    // row (the BwtDriver convention) — not "rows with no tokens"
    assert(ids("!!!") == Seq(1L, 2L, 3L, 4L))
  }

  test("minhash short query on an UNINDEXED lake returns empty with jac") {
    val dir = TestSpark.tmpDir("mhshort2")
    val staging = TestSpark.tmpDir("stage-mhshort2")
    Seq(1L -> "one two three four five six seven eight")
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(staging)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
      java.nio.file.Paths.get(s"$dir/a.parquet"))
    // NO index() call: the lake is uncovered, so the short-query early
    // return cannot derive its schema from covered files — it must fall
    // back to the in-situ files instead of throwing, and carry the
    // same `jac` column every non-empty result has
    val res = GraftLake(spark, dir)
      .search(graft.api.MinHashKind, "text", "too short", 10, Seq("doc_id"))
    assert(res.count() == 0)
    assert(res.columns.contains("doc_id") && res.columns.contains("jac"))
  }

  test("compact after a crashed prior compact does not duplicate coverage") {
    val dir = TestSpark.tmpDir("apilake6")
    def write(name: String, rows: Seq[(Long, String)]): Unit = {
      val staging = TestSpark.tmpDir(s"stage6-$name")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    write("a", Seq(1L -> "needle alpha", 2L -> "noise"))
    write("b", Seq(3L -> "needle beta", 4L -> "other"))
    val lake = GraftLake(spark, dir)
    lake.index(NgramKind, "text", binpackRows = 1)
    val parts = graft.core.IndexStore.metadataRowsCached(spark, dir)
      .filter(_.indexType == NgramKind.name)
    assert(parts.size == 2)
    val merged = lake.compact(NgramKind, "text", threshold = 1000000)
    assert(merged.isDefined)

    // simulate the crash window: the merged superset committed but the
    // parts' delete never ran — re-commit the part rows (their dirs
    // still exist pre-vacuum)
    parts.foreach { p =>
      graft.core.IndexStore.commitMetadata(spark, dir,
        graft.core.IndexStore.metadataRows(spark, dir, "text",
          p.files, p.files.map(_ => 2L), p.indexFile, p.indexType, 2L))
    }
    assert(graft.core.IndexStore.metadataRowsCached(spark, dir)
      .count(_.indexType == NgramKind.name) == 3)

    // the next compact must NOT merge parts with their superset (that
    // would bake duplicate coverage into one index forever) — it
    // repairs the metadata instead: parts deleted, superset kept
    assert(lake.compact(NgramKind, "text", threshold = 1000000).isEmpty)
    val after = graft.core.IndexStore.metadataRowsCached(spark, dir)
      .filter(_.indexType == NgramKind.name)
    assert(after.map(_.indexFile) == Seq(merged.get), after.toString)

    // and search returns each matching row exactly ONCE
    val got = lake.search(NgramKind, "text", "needle", 100, Seq("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 3L), s"duplicated rows: $got")
  }
}
