package graft

import graft.api.{BloomKind, GraftLake, KeyKind}
import graft.index.{BloomIndex, KeyIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BinaryType key columns (reference indexes binary alongside str,
  * indices/index_interface.py:12, backends/utils.py:65): the key/bloom
  * kinds index a binary column in its CANONICAL HEX form — the index
  * table's own schema carries the encoding (KeyIndex.HexKeyCol /
  * BloomIndex `hex_form` marker), probes are case-normalized hex, and
  * the exact refine compares `hex(column)`.
  */
class BinaryKeySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def hexOf(sv: String): String =
    sv.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"$b%02X").mkString

  private lazy val lakeDir: String = {
    val dir = TestSpark.tmpDir("binkey-lake")
    (1L to 40L).map(i => (i, f"key-$i%03d"))
      .toDF("id", "sval")
      .withColumn("bkey", encode(col("sval"), "UTF-8"))
      .repartitionByRange(3, col("id"))
      .write.mode("overwrite").parquet(s"$dir/t")
    s"$dir/t"
  }

  test("KeyIndex over binary: exact + prefix, hex case-insensitive probe") {
    val idx = TestSpark.tmpDir("binkey-idx")
    KeyIndex.build(spark, graft.core.Lake.listFiles(lakeDir), "bkey", idx)
    // schema marker present
    assert(spark.read.parquet(s"$idx/keys").columns
      .contains(KeyIndex.HexKeyCol))
    val hit = KeyIndex.searchExact(spark, idx, "bkey", hexOf("key-007"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hit == Set(7L))
    // lowercase probe normalizes to the canonical form
    val lower = KeyIndex
      .searchExact(spark, idx, "bkey", hexOf("key-007").toLowerCase)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(lower == Set(7L))
    // prefix "key-01" → ids 10..19; hex prefixes may be ODD length too
    val pre = KeyKind.searchIndex(spark, idx, "bkey", hexOf("key-01") + "%")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(pre == (10L to 19L).toSet)
    val odd = hexOf("key-01").dropRight(1)
    val preOdd = KeyKind.searchIndex(spark, idx, "bkey", odd + "%")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(pre.subsetOf(preOdd))
  }

  test("KeyIndex binary merge keeps answers") {
    val files = graft.core.Lake.listFiles(lakeDir)
    val (a, b, m) = (TestSpark.tmpDir("binkey-a"),
      TestSpark.tmpDir("binkey-b"), TestSpark.tmpDir("binkey-m"))
    KeyIndex.build(spark, files.take(1), "bkey", a)
    KeyIndex.build(spark, files.drop(1), "bkey", b)
    KeyIndex.merge(spark, a, b, m)
    val hit = KeyIndex.searchExact(spark, m, "bkey", hexOf("key-031"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hit == Set(31L))
  }

  test("BloomIndex over binary: marker, probe, refine") {
    val idx = TestSpark.tmpDir("binbloom-idx")
    BloomIndex.build(spark, graft.core.Lake.listFiles(lakeDir), "bkey", idx)
    assert(BloomIndex.isHexForm(spark.read.parquet(s"$idx/blooms")))
    val hit = BloomKind.searchIndex(spark, idx, "bkey", hexOf("key-023"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hit == Set(23L))
    // absent key: bloom may produce candidate units, refine kills them
    assert(BloomKind.searchIndex(spark, idx, "bkey", hexOf("absent"))
      .count() == 0L)
  }

  test("facade lifecycle over a binary column: key and bloom kinds") {
    val lake = GraftLake(spark, lakeDir)
    lake.index(KeyKind, "bkey")
    lake.index(BloomKind, "bkey")
    val viaKey = lake.search(KeyKind, "bkey", hexOf("key-012"), 10, Seq("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    val viaBloom = lake.search(BloomKind, "bkey", hexOf("key-012"), 10, Seq("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaKey == Set(12L) && viaBloom == Set(12L))
    // prefix mode through the kind ("%" suffix convention)
    val pre = lake.search(KeyKind, "bkey", hexOf("key-03") + "%", 100, Seq("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(pre == (30L to 39L).toSet)
  }
}
