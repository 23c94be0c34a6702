package graft

import graft.api.BloomKind
import graft.index.BloomIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom-filter index: pruning on a hash-scattered layout, exactness
  * via refine, merge protocol, and the false-positive rate staying
  * near the m/n=16, k=7 design point.
  */
class BloomIndexSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  import s.implicits._

  // 4 files, ids hash-scattered (NOT range-clustered): min/max zones
  // overlap every probe, so any pruning observed is the bloom's own
  private lazy val (lakeFiles, idx) = {
    val dir = TestSpark.tmpDir("bloom")
    val lake = s"$dir/lake"
    (0 until 2000).map(i => (i.toLong, s"val_$i"))
      .toDF("id", "payload")
      .repartition(4, col("id"))
      .write.mode("overwrite").parquet(lake)
    val files = graft.core.Lake.listFiles(lake)
    val p = s"$dir/idx"
    BloomIndex.build(s, files, "id", p)
    (files, p)
  }

  private def brute(id: Long) =
    s.read.parquet(lakeFiles: _*).filter(col("id") === id)
      .select("payload").as[String].collect().sorted.toSeq

  test("present keys: search == brute force, candidates prune") {
    val totalUids = s.read.parquet(s"$idx/meta").count()
    assert(totalUids >= 4)
    for (id <- Seq(0L, 17L, 999L, 1999L)) {
      val got = BloomKind.searchIndex(s, idx, "id", id.toString)
        .select("payload").as[String].collect().sorted.toSeq
      assert(got == brute(id), s"id=$id")
      val cands = BloomIndex.candidateUids(s, idx, id.toString)
      assert(cands.nonEmpty && cands.size < totalUids,
        s"id=$id expected pruning: ${cands.size} of $totalUids uids")
    }
  }

  test("absent keys: empty result; fp rate near the design point") {
    assert(BloomKind.searchIndex(s, idx, "id", "123456").count() == 0)
    // 2000 rows over >=4 groups, m/n=16, k=7 => per-group fp ~ 7e-4;
    // across 400 probes x groups expect a handful of false candidates
    val totalUids = s.read.parquet(s"$idx/meta").count()
    val fps = (10000L until 10400L)
      .map(v => BloomIndex.candidateUids(s, idx, v.toString).size.toLong)
      .sum
    val rate = fps.toDouble / (400.0 * totalUids)
    assert(rate < 0.05, s"false-positive rate $rate")
  }

  test("the search scan reads ONLY files holding candidate groups") {
    val scanned = BloomKind.searchIndex(s, idx, "id", "17")
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if r.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.inputFiles.exists(_.contains("/lake/")) =>
          r.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.toSeq
      }.flatten.toSet
    assert(scanned.nonEmpty && scanned.size < lakeFiles.size,
      s"expected a pruned lake scan, got ${scanned.size} of ${lakeFiles.size}")
  }

  test("no false negatives: every present key's owner group is a candidate") {
    // probe ALL 2000 keys in one plan: hash each key with the same
    // md5-derived (h1, h2) the driver uses, cross the tiny blooms
    // table, and keep (key, uid) pairs whose K probed bits are all set
    // — the result must cover every (key, true-owner-uid) pair
    val hashed = s.read.parquet(lakeFiles: _*)
      .select(col("id"), md5(col("id").cast("string")).as("h"))
      .withColumn("h1", conv(substring(col("h"), 1, 15), 16, 10).cast("long"))
      .withColumn("h2",
        conv(substring(col("h"), 17, 15), 16, 10).cast("long")
          .bitwiseOR(lit(1L)))
    val probeAll = (0 until BloomIndex.K).map { i =>
      val pos = s"pmod(h1 + ${i}L * h2, m)"
      expr(s"(coalesce(element_at(words, cast($pos div 64 as int)), " +
        s"cast(0 as bigint)) & shiftleft(cast(1 as bigint), " +
        s"cast($pos % 64 as int))) != 0")
    }.reduce(_ && _)
    val candPairs = hashed
      .crossJoin(s.read.parquet(s"$idx/blooms"))
      .filter(probeAll)
      .select(col("id"), col("uid")).as[(Long, Long)].collect().toSet
    val meta = s.read.parquet(s"$idx/meta")
    val ownerPairs = graft.core.Layout.withUid(s, lakeFiles, meta)
      .select(col("id"), col("uid")).as[(Long, Long)].collect().toSet
    assert(ownerPairs.subsetOf(candPairs),
      s"missing ${(ownerPairs -- candPairs).take(5)} — a bloom false negative")
  }

  test("merge re-bases uids; merged search == brute over the union") {
    val dir = TestSpark.tmpDir("bloom-merge")
    val a = s"$dir/a"; val b = s"$dir/b"; val m = s"$dir/m"
    BloomIndex.build(s, lakeFiles.take(2), "id", a)
    BloomIndex.build(s, lakeFiles.drop(2), "id", b)
    BloomIndex.merge(s, a, b, m)
    for (id <- Seq(5L, 1234L)) {
      val got = BloomKind.searchIndex(s, m, "id", id.toString)
        .select("payload").as[String].collect().sorted.toSeq
      assert(got == brute(id), s"merged id=$id")
    }
  }

  test("driver hashPair matches the Spark-side md5 expressions") {
    val row = Seq("someval_42").toDF("v")
      .select(
        conv(substring(md5(col("v")), 1, 15), 16, 10).cast("long").as("h1"),
        conv(substring(md5(col("v")), 17, 15), 16, 10).cast("long")
          .bitwiseOR(lit(1L)).as("h2"))
      .collect()(0)
    assert((row.getLong(0), row.getLong(1)) == BloomIndex.hashPair("someval_42"))
  }
}
