package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.VersionedTable

/** A `_log/` written before the log moved to JSON arrays must read
  * exactly as it did: `src/test/resources/vtable-legacy` holds a
  * 12-version table written in the older string forms ("p>l" renames,
  * "name>expr" checks, "c:lo:hi" stats) with a checkpoint at v10, a
  * deletion vector, two `batch` tags, rename/drop/check schema state,
  * and v2 trimmed to the oldest entry shape (no `op`/`dvs`/`xs`/
  * `rows`). Every expected value below was recorded by the writer of
  * that log. */
class VersionedTableLegacyLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A private copy of the fixture table (reads never write, but the
    * append test below does). */
  private def fixture(): String = {
    val src = Paths.get(getClass.getResource("/vtable-legacy/_log").toURI)
      .getParent
    val dst = Files.createTempDirectory("vlegacy")
    val files = Files.walk(src)
    try files.forEach { f =>
      val to = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to)
      else Files.copy(f, to)
    } finally files.close()
    dst.toString
  }

  private def rows(p: String, v: Long): (Seq[String], String) = {
    val df = VersionedTable.read(spark, p, Some(v)).get
    (df.columns.toSeq,
      df.collect().map(_.toSeq.mkString(",")).sorted.mkString(";"))
  }

  private val abc = Seq("k", "pay", "tag")
  private val ren = Seq("k", "amount", "tag")
  private val dropped = Seq("k", "amount")
  private val expectedReads: Map[Long, (Seq[String], String)] = Map(
    1L -> (abc, "1,10,a;2,20,b;3,30,c;4,40,d"),
    2L -> (abc, "1,10,a;2,20,b;3,30,c;4,40,d;5,50,e;6,60,f"),
    3L -> (abc, "1,10,a;2,20,b;3,30,c;4,40,d;5,50,e;6,60,f;7,70,g;8,80,h"),
    4L -> (abc, "1,10,a;3,30,c;4,40,d;5,50,e;6,60,f;7,70,g;8,80,h"),
    5L -> (abc, "1,10,a;3,30,c;4,40,d;5,50,e;6,60,f;7,70,g;8,80,h"),
    6L -> (ren, "1,10,a;3,30,c;4,40,d;5,50,e;6,60,f;7,70,g;8,80,h"),
    7L -> (ren, "1,10,a;3,30,c;4,40,d;5,50,e;6,60,f;7,70,g;8,80,h;9,90,i"),
    8L -> (dropped, "1,10;3,30;4,40;5,50;6,60;7,70;8,80;9,90"),
    9L -> (dropped, "1,10;3,30;4,40;5,50;6,60;7,70;8,80;9,90"),
    10L -> (dropped, "1,10;3,33;4,40;5,50;6,60;7,70;8,80;9,90"),
    11L -> (dropped, "1,10;10,100;3,33;4,40;5,50;6,60;7,70;8,80;9,99"),
    12L -> (dropped,
      "1,10;10,100;11,110;3,33;4,40;5,50;6,60;7,70;8,80;9,99"))

  private val payCheck = Seq("pay_nonneg" -> "pay >= 0")
  private val amountCheck = Seq("amount_pos" -> "amount > 0")
  private val expectedSchema: Map[Long, VersionedTable.SchemaState] = {
    import VersionedTable.SchemaState
    val renamed = Seq("pay" -> "amount")
    (1L to 4L).map(_ -> SchemaState(Nil, Nil)).toMap ++ Map(
      5L -> SchemaState(Nil, Nil, payCheck),
      6L -> SchemaState(renamed, Nil),
      7L -> SchemaState(renamed, Nil),
      8L -> SchemaState(renamed, Seq("tag"))) ++
      (9L to 12L).map(_ -> SchemaState(renamed, Seq("tag"), amountCheck))
  }

  test("every version reads the rows, columns and schema state the " +
      "legacy writer recorded") {
    val p = fixture()
    assert(VersionedTable.currentVersion(spark, p) == 12L)
    (1L to 12L).foreach { v =>
      assert(rows(p, v) == expectedReads(v), s"read at v$v")
      assert(VersionedTable.snapshot(spark, p, Some(v)).schema ==
        expectedSchema(v), s"schema state at v$v")
    }
    assert(VersionedTable.read(spark, p).map(_.count()).contains(10L))
    // the v10 checkpoint carries the live deletion vector
    assert(VersionedTable.snapshot(spark, p).groups.count(_.dv.isDefined) == 1)
  }

  test("history and headBatchId match the legacy writer's, including " +
      "the trimmed entry with no op") {
    val p = fixture()
    val got = VersionedTable.history(spark, p).drop("ts_ms").collect()
      .map(_.toSeq.mkString(",")).toSeq
    assert(got == Seq(
      "12,append,12,1,false",
      "11,merge_pruned,null,5,true",
      "10,merge_dv,null,5,true",
      "9,add_check,null,4,true",
      "8,drop_column,null,4,true",
      "7,append,null,1,false",
      "6,rename_column,null,3,true",
      "5,add_check,null,3,true",
      "4,delete_keys,null,3,true",
      "3,append,7,1,false",
      "2,null,null,1,false",
      "1,append,null,1,false"))
    assert(VersionedTable.headBatchId(spark, p).contains(12L))
    // the mixed physical schemas keep the indexed read on its fallback
    assert(VersionedTable.readIndexed(spark, p, "k").isEmpty)
  }

  test("writers continue a legacy log: the legacy check still gates, " +
      "new entries land in the array form, and both forms read back") {
    val p = fixture()
    import spark.implicits._
    val err = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, p, Seq((20L, -1L)).toDF("k", "amount"),
        12L, statsCol = Some("k"))
    }
    assert(err.getMessage.contains("amount_pos"), err.getMessage)
    val v13 = VersionedTable.commit(spark, p,
      Seq((20L, 200L)).toDF("k", "amount"), 12L, statsCol = Some("k"))
    assert(v13 == 13L)
    assert(new String(Files.readAllBytes(Paths.get(p, "_log",
      "v00000013.json")), "UTF-8").contains("\"xs\":[[[\"amount\",200,200]]]"))
    assert(rows(p, 13L) == (dropped,
      "1,10;10,100;11,110;20,200;3,33;4,40;5,50;6,60;7,70;8,80;9,99"))
    assert(rows(p, 12L) == expectedReads(12L))
    assert(VersionedTable.headBatchId(spark, p).isEmpty)
  }
}
