package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.VersionedTable

/** The local filesystem under its own `countlog:` scheme, counting the
  * metadata calls that touch a table's `_log/` directory. Bound only to
  * that scheme, so no `file:` path of any other suite reaches it. */
class CountingLogFileSystem extends RawLocalFileSystem {
  import CountingLogFileSystem._
  override def getUri: URI = URI.create("countlog:///")
  override def getScheme: String = "countlog"

  private def inLog(p: Path) =
    p.getName == "_log" || Option(p.getParent).exists(_.getName == "_log")

  override def listStatus(p: Path): Array[FileStatus] = {
    if (inLog(p)) listings.incrementAndGet()
    super.listStatus(p)
  }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (inLog(p)) creates.incrementAndGet()
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    if (inLog(dst)) renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object CountingLogFileSystem {
  val listings, creates, renames = new AtomicLong
}

/** Every table verb lists `_log/` exactly once: it resolves one
  * snapshot and runs its gates, reads and commit against it. The
  * entry publish and, at a checkpoint boundary, the checkpoint write
  * (one temp create + one rename) are the only other log writes. */
class VersionedTableListingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import CountingLogFileSystem._

  /** (listings, creates, renames) under `_log/` while `f` runs. */
  private def counted[T](f: => T): (T, (Long, Long, Long)) = {
    Seq(listings, creates, renames).foreach(_.set(0))
    val out = f
    (out, (listings.get, creates.get, renames.get))
  }

  test("read, mergeDv, deleteKeys, addCheck, optimize and restore " +
      "each list the log once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countlog.impl", classOf[CountingLogFileSystem].getName)
    val p = "countlog://" +
      java.nio.file.Files.createTempDirectory("vlisting").toString
    import spark.implicits._
    def head() = VersionedTable.currentVersion(spark, p)
    (0 until 7).foreach { i =>
      VersionedTable.commit(spark, p,
        (1L to 4L).map(k => (i * 10 + k, k)).toDF("k", "pay"), i.toLong,
        statsCol = Some("k"))
    }
    assert(head() == 7L)

    val (df, readOps) = counted(VersionedTable.read(spark, p))
    assert(readOps == ((1L, 0L, 0L)))
    assert(df.get.count() == 28)

    val (_, mergeOps) = counted(VersionedTable.mergeDv(spark, p,
      Seq((11L, 100L), (99L, 9L)).toDF("k", "pay"), "k"))
    assert(mergeOps == ((1L, 0L, 0L)) && head() == 8L)

    val (_, deleteOps) = counted(VersionedTable.deleteKeys(spark, p,
      Seq(21L).toDF("k"), "k"))
    assert(deleteOps == ((1L, 0L, 0L)) && head() == 9L)

    // v10 is a checkpoint boundary: the checkpoint folds the snapshot
    // addCheck already holds, so the only extra log work is its write
    val (_, checkOps) = counted(VersionedTable.addCheck(spark, p,
      "pay_in", "pay IN (1, 2, 3, 4, 9, 100)"))
    assert(checkOps == ((1L, 1L, 1L)) && head() == 10L)
    assert(new java.io.File(new URI(p).getPath, "_log/chk-v00000010.json")
      .exists)

    val (_, optimizeOps) = counted(VersionedTable.optimize(spark, p,
      statsCol = Some("k")))
    assert(optimizeOps == ((1L, 0L, 0L)) && head() == 11L)

    val (_, restoreOps) = counted(VersionedTable.restore(spark, p, 9L))
    assert(restoreOps == ((1L, 0L, 0L)) && head() == 12L)
    assert(VersionedTable.read(spark, p).get.as[(Long, Long)].collect()
      .toSet == VersionedTable.read(spark, p, Some(9L)).get
      .as[(Long, Long)].collect().toSet)
    assert(VersionedTable.snapshot(spark, p).schema.checks.isEmpty,
      "restore rewinds the check added after v9")
  }
}
