package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-shot timings of the heaviest operators at TWO scale factors, to
  * verify the documented scale shapes hold an order of magnitude up
  * (SCALE.md's sf0.1 → sf1 table).
  *
  *   GRAFT_INDEX_DIR=/tmp/fresh1 sbt "runMain graft.ScaleBench /root/testdata/sf0.1"
  *   GRAFT_INDEX_DIR=/tmp/fresh2 sbt "runMain graft.ScaleBench /tmp/graft-sf1"
  *
  * Point GRAFT_INDEX_DIR at a FRESH directory so every build really
  * builds (the ensure* fixtures are build-once per index root).
  *
  * `/tmp/graft-sf1` is synthesized on first use: 10 perturbed copies
  * of the sf0.1 documents/embeddings/events tables. Text perturbation
  * suffixes every token per copy (`_cJ`) so cross-copy rows are NOT
  * near-duplicates and the dedup workload scales organically (a plain
  * 10x copy would instead hand every doc a 9-clique of exact dups —
  * a different, easier problem); embeddings get a deterministic
  * per-copy directional nudge for the same reason.
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val srcDir = "/root/testdata/sf0.1"
    val dir = if (args.nonEmpty) args(0) else srcDir
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // gate regeneration on a completion MARKER, not bare existence: a
    // crash mid-generate (OOM at 10x scale is plausible) must not leave
    // a partial corpus that every later run silently benches against
    val doneMarker = java.nio.file.Paths.get(dir, "_SCALE_DONE")
    // a crashed generation is recognized by the _SCALE_PARTIAL marker
    // written BEFORE the first table lands — a pre-existing dir with
    // NEITHER marker was never touched by this tool (a real dataset
    // path the caller mistyped) and must never be deleted
    val partialMarker = java.nio.file.Paths.get(dir, "_SCALE_PARTIAL")
    if (dir != srcDir && !java.nio.file.Files.exists(doneMarker)) {
      val d = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(d)) {
        require(java.nio.file.Files.exists(partialMarker),
          s"[scalebench] $dir exists but carries neither _SCALE_DONE " +
            "nor _SCALE_PARTIAL — not a ScaleBench-generated corpus; " +
            "refusing to delete it. Pass a fresh output path.")
        println(s"[scalebench] $dir exists without $doneMarker — " +
          "partial generation, rebuilding")
        graft.core.IndexStore.deleteRec(d)
      }
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.createFile(partialMarker)
      // SPARK_GRAFT_SCALE_COPIES widens the synthesized corpus (10 =
      // sf1; 100 = sf10 for the decade checks of the scaled-width rules)
      generate(spark, srcDir, dir,
        copies = sys.env.get("SPARK_GRAFT_SCALE_COPIES")
          .map(_.toInt).getOrElse(10))
      java.nio.file.Files.createFile(doneMarker)
      java.nio.file.Files.deleteIfExists(partialMarker)
    }

    // JIT warm (cheap, does not touch the fixture caches under test)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val docFiles = Seq(s"$dir/documents.parquet")
    def idx(name: String) = graft.core.IndexStore.indexPath(dir, s"sb_$name")

    def ensureJoinIndex(spark: SparkSession, dir: String,
        path: String): Unit =
      graft.core.IndexStore.ensure(path) {
        val ev = graft.ops.Similarity.embeddings(spark, dir)
        val k = math.max(8L, ev.count() / 625L).toInt
        graft.index.VectorIndex.build(spark, ev, path, cells = Some(k))
      }

    val ops: Seq[(String, () => Any)] = Seq(
      "minhash_pairs" -> (() =>
        graft.ops.Dedup.minhashPairsPersisted(spark, dir, None).count()),
      "dedup_apply_best" -> (() =>
        graft.ops.Pipeline.dedupApplyBest(spark, dir).count()),
      "dedup_apply" -> (() =>
        graft.ops.Pipeline.dedupApply(spark, dir).count()),
      "simhash_pairs" -> (() =>
        graft.ops.Dedup.simhashPairs(
          Tables.load(spark, dir, "documents")).count()),
      "bm25_build" -> (() =>
        graft.core.IndexStore.ensure(idx("bm25")) {
          graft.index.Bm25Index.build(spark, docFiles, "text", "doc_id",
            idx("bm25"))
        }),
      "fm_build" -> (() =>
        graft.index.FmIndex.build(spark, docFiles, "text", idx("fm"))),
      // the PRODUCTION FM build shape: the corpus split into files and
      // bin-packed into ~5000-row groups (reference
      // binpack_row_threshold flow, backends/iceberg.py:139-158), one
      // FM index per group — per-group cost is bounded by the pack
      // threshold, so TOTAL build time should scale ~linearly with the
      // corpus (vs the single-group fm_build's super-linear suffix
      // sort). sf0.1 packs into 1 group, sf1 into ~10.
      "fm_build_binpacked" -> (() => {
        graft.core.Lake.ensureSplit(spark, dir, "documents", "doc_id",
          32, alias = "documents_fm32")
        val lake = graft.api.GraftLake(spark,
          graft.core.Lake.splitPath(dir, "documents_fm32"))
        lake.index(graft.api.FmKind, "text", binpackRows = 5000)
      }),
      // search-equivalence across the group set: the multi-group lake
      // answers exactly the brute predicate (the facade's covering
      // union), pinned here so the scale row can cite it
      "fm_search_binpacked" -> (() => {
        val prefix = graft.core.Lake.splitPath(dir, "documents_fm32")
        val lake = graft.api.GraftLake(spark, prefix)
        val got = lake.search(graft.api.FmKind, "text", "slow scan",
          1000000, Seq("doc_id")).count()
        val want = spark.read
          .parquet(graft.core.Lake.listFiles(prefix): _*)
          .filter(lower(col("text")).contains("slow scan")).count()
        require(got == want,
          s"binpacked FM search mismatch: $got vs brute $want")
        got
      }),
      "token_fm_build" -> (() =>
        graft.index.TokenFmIndex.build(spark, docFiles, "text",
          idx("tokfm"))),
      "ivf_pq_build" -> (() =>
        graft.index.VectorIndex.build(spark,
          graft.ops.Similarity.embeddings(spark, dir), idx("ivf"))),
      "vamana_build" -> (() =>
        graft.index.VamanaIndex.build(spark,
          graft.ops.Similarity.embeddings(spark, dir)
            .select(col("vec_id"), col("v")), idx("vamana"))),
      "logcloud_build" -> (() =>
        graft.index.LogCloudIndex.build(spark,
          graft.index.LogCloudIndex.eventLines(spark, dir),
          idx("logcloud"))),
      "classifier_nb" -> (() =>
        graft.ops.Classifier.predict(spark, dir).count()),
      // built through ensure so the completion marker lands and the
      // search ops below measure PURE query time, not a silent rebuild
      // (on the documented fresh GRAFT_INDEX_DIR this times the build)
      "ngram_build" -> (() =>
        graft.core.IndexStore.ensure(idx("ngram")) {
          graft.index.NgramIndex.build(spark, docFiles, "text",
            idx("ngram"))
        }),
      // regex query over the ngram index: cost is the literal-gram
      // probe + rlike refine over candidates only — should stay
      // near-constant as the corpus grows 10x (candidates track the
      // literals' selectivity, not corpus size)
      "regex_search" -> (() => {
        graft.core.IndexStore.ensure(idx("ngram")) {
          graft.index.NgramIndex.build(spark, docFiles, "text",
            idx("ngram"))
        }
        graft.api.NgramRegexKind.searchIndex(spark, idx("ngram"), "text",
          "fast [a-z]+ table").count()
      }),
      "bm25_phrase" -> (() => {
        graft.core.IndexStore.ensure(idx("bm25")) {
          graft.index.Bm25Index.build(spark, docFiles, "text", "doc_id",
            idx("bm25"))
        }
        graft.index.Bm25Index.searchPhrase(spark, idx("bm25"),
          "vector stream", 10, "doc_id", "text").count()
      }),
      // deletion-neighborhood build: linear in TOKEN INSTANCES ×
      // (avg token length + 1); one explode→distinct shuffle like
      // ngram_build
      "fuzzy_build" -> (() =>
        graft.core.IndexStore.ensure(idx("fuzzy")) {
          graft.index.FuzzyIndex.build(spark, docFiles, "text",
            idx("fuzzy"))
        }),
      // typo probe + levenshtein refine over candidates only — should
      // track the near-token selectivity, not corpus size
      "fuzzy_search" -> (() => {
        graft.core.IndexStore.ensure(idx("fuzzy")) {
          graft.index.FuzzyIndex.build(spark, docFiles, "text",
            idx("fuzzy"))
        }
        graft.index.FuzzyIndex.search(spark, idx("fuzzy"), "text",
          "vektor").count()
      }),
      // boolean OR-tree over the gram index: per-term probes + one
      // selective read of the union — should track arm selectivity,
      // not corpus size
      "bool_search" -> (() => {
        graft.core.IndexStore.ensure(idx("ngram")) {
          graft.index.NgramIndex.build(spark, docFiles, "text",
            idx("ngram"))
        }
        graft.api.BoolNgramKind.searchIndex(spark, idx("ngram"), "text",
          "(\"slow scan\" OR \"fast scan\") AND NOT window").count()
      }),
      // MG sketch: map-only bounded counters + one tiny merge groupBy;
      // wall time should track the token scan, not vocab size
      "heavy_hitters" -> (() => {
        import spark.implicits._
        val m = 64
        Tables.load(spark, dir, "documents")
          .select(explode(graft.text.Text.tokens(col("text"))).as("t"))
          .as[String]
          .mapPartitions { it =>
            val cnt = scala.collection.mutable.HashMap.empty[String, Long]
            it.foreach { t =>
              if (cnt.contains(t) || cnt.size < m)
                cnt.update(t, cnt.getOrElse(t, 0L) + 1L)
              else {
                val snap = cnt.toArray
                cnt.clear()
                snap.foreach { case (k, v) =>
                  if (v > 1L) cnt.update(k, v - 1L) }
              }
            }
            cnt.iterator
          }.toDF("t", "est")
          .groupBy("t").agg(sum("est")).count()
      }),
      "zonemap_build" -> (() =>
        graft.index.ZoneMapIndex.build(spark, docFiles, "n_chars",
          idx("zm"))),
      // metadata-only stats: wall time should be ~flat across SFs
      // (reads zones+meta, never the lake)
      "stats_agg" -> (() => {
        graft.core.IndexStore.ensure(idx("zm")) {
          graft.index.ZoneMapIndex.build(spark, docFiles, "n_chars",
            idx("zm"))
        }
        graft.index.ZoneMapIndex.statsAgg(spark, idx("zm")).count()
      }),
      // the IVF knn join in its PRODUCTION shape: cells scale with n
      // (reference's n/10k rule, here n/250 so per-cell MEMBERSHIP is
      // ~500 at BOTH SFs — with probe=2 assignment, membership is
      // n·2/K, and a constant membership is what makes candidate pairs
      // scale linearly with n). The K∝n k-means is the super-linear
      // part, so it is the PREP op (persisted once per corpus); the
      // join itself reads the stored assignment and is linear in n
      "knn_ivf_cells_prep" -> (() => {
        val n = graft.ops.Similarity.embeddings(spark, dir).count()
        val k = math.max(8L, n / 250L).toInt
        graft.ops.Clustering.ensureCellsAt(spark, dir, k,
          s"knn_ivf_cells_$k")
      }),
      "knn_join_ivf" -> (() => {
        val n = graft.ops.Similarity.embeddings(spark, dir).count()
        val k = math.max(8L, n / 250L).toInt
        graft.ops.Clustering.knnJoinIvfPersisted(spark, dir, k).count()
      }),
      // the incremental story (r12): the base 90% clustered once (the
      // amortized prep this op times), then the 10% tail appended
      // against the FROZEN persisted centroids — append cost must
      // track APPENDED rows (one anti-join + broadcast assignment),
      // never the n×K re-cluster the full prep pays
      "cells_build_base90" -> (() => {
        val e = graft.ops.Similarity.embeddings(spark, dir)
        val cut = (e.agg(max("vec_id")).collect()(0).getLong(0) + 1L) * 9L / 10L
        graft.core.IndexStore.ensure(idx("cellsinc")) {
          graft.ops.Clustering.buildCellsFor(spark,
            e.filter(col("vec_id") < cut), idx("cellsinc"))
        }
      }),
      "cells_append_10pct" -> (() =>
        graft.ops.Clustering.appendCellsFrom(spark, idx("cellsinc"),
          graft.ops.Similarity.embeddings(spark, dir))),
      // build a join-tuned IVF index once (timed as the prep op:
      // cells sized for bounded membership, not the search-probe n/10k
      // rule), then measure the AMORTIZED neighbor graph over it
      "ivf_knn_prep" -> (() => ensureJoinIndex(spark, dir, idx("ivfknn"))),
      "knn_join_from_index" -> (() => {
        ensureJoinIndex(spark, dir, idx("ivfknn"))
        graft.index.VectorIndex.knnJoinFromIndex(spark, idx("ivfknn")).count()
      }),
      // materialized-view partials: one map-side-combined groupBy over
      // (uid, key) — build should track the scan, the query stays flat
      // (reads ndv x row-groups cells, never the lake)
      "aggindex_build" -> (() =>
        graft.core.IndexStore.ensure(idx("aggidx")) {
          graft.index.AggIndex.build(spark, docFiles, "source",
            "n_chars", idx("aggidx"))
        }),
      "aggindex_group_query" -> (() =>
        graft.index.AggIndex.groupStats(spark, idx("aggidx")).count()),
      // the multi-measure claim: d measures from ONE pass should cost
      // ~the single-measure build (same scan + groupBy, one extra
      // column quartet per measure), not d builds
      "aggindex_build_2m" -> (() =>
        graft.core.IndexStore.ensure(idx("aggidx2m")) {
          graft.index.AggIndex.build(spark, docFiles, Seq("source"),
            Seq("n_chars", "doc_id"), idx("aggidx2m"))
        }),
      // the production LSH join: band width scales with n so bucket
      // occupancy stays ~LshTargetBucket — the fixed-width oracle
      // shape is quadratic in occupancy (64x at 10x data measured)
      "knn_join_lsh_scaled" -> (() =>
        graft.ops.Similarity.knnJoinLshScaled(spark, dir).count()),
      // the production LSH dedup: same scaled width + skew cap (the
      // fixed-width oracle shape measured 41x at 10x data)
      "dedup_embedding_lsh_scaled" -> (() =>
        graft.ops.Similarity.embeddingDedupLshScaled(spark, dir).count()),
      // SemDeDup over the PERSISTED scaled cells: the clustering is
      // the amortized prep (knn_ivf_cells_prep); the dedup itself is
      // the bounded within-cell pair join (the per-call fixed-K shape
      // measured 8.8x at 10x data, 60s if K were scaled inline)
      "dedup_semantic_indexed" -> (() =>
        graft.ops.Clustering.semanticDedupIndexed(spark, dir).count()),
      // 1-bit candidate generation + exact rerank: candidate set is
      // n/10, so the rerank input grows linearly while the Hamming scan
      // is one XOR+popcount per vector — near-linear end to end
      "knn_binary" -> (() =>
        graft.ops.BinaryQuant.knnBinary(spark, dir).count()),
      // Count-Min grid: map-side-combined groupBy into d×w cells — the
      // shuffle is ≤ d·w·partitions rows at ANY corpus size
      "countmin_sketch" -> (() =>
        graft.ops.TextAnalysis.entries("corpus_countmin_sketch")
          .fn(spark, dir).count())) ++
      // r13 (verdict item 5): sf1 rows for the top in-suite families
      // that never had an at-scale A/B — each runs the DECLARED
      // SparkEntry query untouched, so the row is the entry itself
      Seq("streaming_events_hourly", "streaming_doc_pipeline",
        "streaming_index_search_minhash", "similarity_ivf_pq_recall",
        "minhash_lookup", "lake_api_minhash", "dsir_sample", "dedup_span",
        "dedup_cc", "dedup_semantic", "text_decontaminate_bloom")
        .map(n => n -> (() =>
          graft.SparkEntry.queries(n)(spark, dir).count(): Any))

    // optional op filter: second arg = comma-separated op names
    val selected =
      if (args.length > 1) {
        val names = args(1).split(",").map(_.trim).toSet
        ops.filter(o => names(o._1))
      } else ops

    val docs = Tables.load(spark, dir, "documents").count()
    val timed = selected.map { case (name, f) =>
      val t0 = System.nanoTime()
      f()
      name -> (System.nanoTime() - t0) / 1e9
    }
    val fields = timed.map { case (n, t) => f""""$n":$t%.2f""" }
    println(s"""{"metric":"scale_bench","dir":"$dir","docs":$docs,${fields.mkString(",")}}""")
    spark.stop()
  }

  /** 10-copy perturbed scale-up of documents/embeddings/events into
    * `out`, one parquet FILE per table like the driver's testdata.
    */
  private def generate(spark: SparkSession, src: String, out: String,
      copies: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    def asOneFile(df: DataFrame, name: String): Unit = {
      val staging = s"$out/_stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = graft.core.Lake.listFiles(staging).head
      java.nio.file.Files.move(
        java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$out/$name.parquet"))
      graft.core.IndexStore.deleteRec(java.nio.file.Paths.get(staging))
    }
    val docs = Tables.load(spark, src, "documents")
    asOneFile((0 until copies).map { j =>
      if (j == 0) docs
      else docs.select(
        (col("doc_id") + lit(j * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1_c$j").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _), "documents")

    val emb = Tables.load(spark, src, "embeddings")
    asOneFile((0 until copies).map { j =>
      if (j == 0) emb
      else emb.select(
        (col("vec_id") + lit(j * 10000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + lit(0.02 * j) * sin(col("vec_id") * 7 + i))
            .cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _), "embeddings")

    val ev = Tables.load(spark, src, "events")
    asOneFile((0 until copies).map { j =>
      if (j == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(j * 100000000L))
        .withColumn("user_id", col("user_id") + lit(j * 1000000L))
        .withColumn("ts", col("ts") + expr(s"INTERVAL $j SECONDS"))
    }.reduce(_ unionByName _), "events")
  }
}
