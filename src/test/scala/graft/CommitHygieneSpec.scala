package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** What commits leave behind under a table root: no committer
  * `_SUCCESS` markers (the manifest is the commit marker), and no
  * checksum beside the `_latest` pointer that no longer matches it. */
class CommitHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def filesUnder(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.toList finally walk.close()
  }

  test("write, mergeVectorized and compact leave no _SUCCESS marker " +
      "under the table root") {
    val root = Fixtures.tempDir("graft-nosuccess") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(2))
    vt.mergeVectorized(Seq((7L, "u7"), (500L, "n500")).toDF("k", "v"),
      Seq("k"))
    vt.compact()
    val markers = filesUnder(root)
      .filter(_.getFileName.toString == "_SUCCESS")
    assert(markers.isEmpty, s"success markers left: ${markers.mkString(", ")}")
    assert(vt.read().count() === 101L)
  }

  test("a commit removes a stale ._latest.crc beside the pointer") {
    val root = Fixtures.tempDir("graft-latest-crc") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a")).toDF("k", "v")) // v0
    val crc = Paths.get(root, "._latest.crc")
    Files.write(crc, Array[Byte](1, 2, 3))
    vt.write(Seq((2L, "b")).toDF("k", "v"), SaveMode.Append) // v1
    assert(!Files.exists(crc), "the pointer swap must drop its old checksum")
    assert(new String(Files.readAllBytes(Paths.get(root, "_latest")),
      "UTF-8").trim === "1")
  }
}
