package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** The segment loader of `Tables.df`: a base file with fewer row groups
  * than its planned input splits is read from a copy cut into one
  * contiguous file per core. The sf0.001 files are far below the default
  * split size, so the suite runs in its own session with split sizes
  * lowered until every base table qualifies; the confs stay in that
  * session. */
class SegmentsSpec extends AnyFunSuite {
  import SparkSuite._

  private lazy val seg = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    s.conf.set("spark.sql.files.openCostInBytes", "1024")
    s
  }

  private def roots(df: DataFrame): Seq[String] = scanRoots(df).head

  private def rows(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** The loader's read of base table `name` and the direct read of its
    * file. */
  private def read(dir: String, name: String): (DataFrame, DataFrame) = {
    val loaded = Tables.df(seg, dir, name)
    val raw = seg.read.parquet(s"$dir/$name.parquet")
    (loaded, if (name == "events") Tables.withNormalizedTs(raw) else raw)
  }

  /** File name → mtime of a copy's data files. */
  private def files(copy: String): Map[String, Long] =
    new File(copy).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap

  test("every base table read through a segment copy equals the direct read") {
    for (name <- Tables.names) {
      val (loaded, direct) = read(Sf, name)
      assert(roots(loaded).head.contains("/graft_segments/"), s"$name was not segmented: ${roots(loaded)}")
      assert(loaded.schema == direct.schema, name)
      assert(rows(loaded) == rows(direct), name)
    }
  }

  test("lineitem's scan has one non-empty input partition per core") {
    val parts = Tables.df(seg, Sf, "lineitem").rdd
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(parts.count(_ > 0) == spark.sparkContext.defaultParallelism, parts.mkString(","))
  }

  test("a second read reuses the copy without writing it again") {
    val first = roots(Tables.df(seg, Sf, "orders")).head
    val before = files(new java.net.URI(first).getPath)
    val second = roots(Tables.df(seg, Sf, "orders")).head
    assert(second == first)
    assert(files(new java.net.URI(second).getPath) == before)
  }

  test("a source with a new mtime or size gets a fresh copy") {
    val dir = Files.createTempDirectory("segments").toFile
    val src = new File(dir, "supplier.parquet")
    val copies = scala.collection.mutable.LinkedHashSet.empty[String]
    def readCheck(): Unit = {
      val (loaded, direct) = read(dir.getPath, "supplier")
      copies += roots(loaded).head
      assert(rows(loaded) == rows(direct))
    }
    try {
      Files.copy(new File(s"$Sf/supplier.parquet").toPath, src.toPath)
      readCheck()
      assert(src.setLastModified(src.lastModified + 10000))
      readCheck()
      // same mtime, new size: the source rewritten with half its rows
      val (mtime, size) = (src.lastModified, src.length)
      val out = new File(dir, "out")
      seg.read.parquet(src.getPath).where("s_suppkey % 2 = 0").coalesce(1).write.parquet(out.getPath)
      Files.move(out.listFiles().find(_.getName.endsWith(".parquet")).get.toPath, src.toPath,
        StandardCopyOption.REPLACE_EXISTING)
      assert(src.setLastModified(mtime) && src.length != size)
      readCheck()
      assert(copies.size == 3, copies.mkString("\n"))
    } finally {
      copies.foreach(c => FileUtils.deleteDirectory(new File(new java.net.URI(c).getPath).getParentFile))
      FileUtils.deleteDirectory(dir)
    }
  }

  test("a copy made while the session has an RLS policy on the table still holds every row") {
    val dir = Files.createTempDirectory("segments").toFile
    var copy: Option[String] = None
    try {
      Files.copy(new File(s"$Sf/supplier.parquet").toPath, new File(dir, "supplier.parquet").toPath)
      rules.RlsRule.install(seg)
      seg.conf.set(s"${rules.RlsRule.ConfPrefix}supplier", "s_name = 'Supplier#000000001'")
      val (filtered, _) = read(dir.getPath, "supplier")
      copy = Some(roots(filtered).head)
      assert(filtered.count() == 1, "the policy applies to the loaded read")
      rules.RlsRule.clearPolicies(seg)
      val (loaded, direct) = read(dir.getPath, "supplier")
      assert(roots(loaded).head == copy.get)
      assert(rows(loaded) == rows(direct))
    } finally {
      rules.RlsRule.clearPolicies(seg)
      copy.foreach(c => FileUtils.deleteDirectory(new File(new java.net.URI(c).getPath).getParentFile))
      FileUtils.deleteDirectory(dir)
    }
  }

  test("a file that already has enough row groups is read in place") {
    val dir = Files.createTempDirectory("segments").toFile
    try {
      // one row group per row: 25 row groups against the splits of a file
      // of under 25 KB
      val out = new File(dir, "out")
      seg.read.parquet(s"$Sf/nation.parquet").coalesce(1).write
        .option("parquet.block.row.count.limit", "1")
        .parquet(out.getPath)
      val part = out.listFiles().find(_.getName.endsWith(".parquet")).get
      val src = new File(dir, "nation.parquet")
      Files.move(part.toPath, src.toPath)
      val loaded = Tables.df(seg, dir.getPath, "nation")
      assert(new java.net.URI(roots(loaded).head).getPath == src.getPath, s"${src.length} bytes")
      assert(loaded.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ > 0) > 1)
      assert(rows(loaded) == rows(seg.read.parquet(src.getPath)))
    } finally FileUtils.deleteDirectory(dir)
  }
}
