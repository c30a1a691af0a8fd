package graft.lakehouse

import java.nio.file.Files

/** Logical conflict resolution for maintenance commits: OPTIMIZE /
  * clustering / ANALYZE rebase over concurrent appends (inheriting the
  * newcomers) instead of failing the whole pass — at 100 TB maintenance
  * always races ingest, and a strict physical base check would mean it
  * never lands. A concurrent touch to an INPUT file stays a real,
  * loudly-failed conflict. */
class ConflictRebaseSpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("crb_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_crb", "lh_crb").lakehouses.head
  }

  test("a maintenance commit pinned to a stale base rebases over a " +
      "concurrent append: both the rewrite and the appended rows land") {
    TableIO.writeTable(spark, lh, "rb1",
      (1 to 40).map(i => (i, s"s$i")).toDF("k", "s")) // v1
    val dir = Catalog.tablePath(lh, "rb1")
    val m1 = Versioned.readManifest(dir, 1).get
    assert(m1.entries.size > 1, "need multiple files to compact")
    // concurrent writer lands an append AFTER the maintenance op read v1
    TableIO.appendTable(spark, lh, "rb1",
      Seq((999, "late")).toDF("k", "s")) // v2
    // the maintenance op (a compaction of v1's files) still holds base=1
    val affected = m1.entries
    val scan = Versioned.scanOf(dir, m1, affected)
    val commit = TableIO.commitMaintenance(dir, 1L, m1, affected,
      metaOf = identity, op = "OPTIMIZE", stage = { target =>
        TableIO.scanSpec(spark, scan).coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(target)
        Map.empty
      })
    // rebased onto v2 and committed as v3
    assert(commit.version == 3L)
    val m3 = Versioned.readManifest(dir, 3).get
    // v1's compacted inputs are gone; the concurrent append's file survives
    assert(m3.files.intersect(m1.files).isEmpty,
      "compacted inputs should be replaced")
    val v2Added = Versioned.readManifest(dir, 2).get.files
      .filterNot(m1.files.contains)
    assert(v2Added.forall(m3.files.contains),
      "the concurrent append's file must be inherited through the rebase")
    // and no rows were lost on either side
    val rows = TableIO.selectTable(spark, lh, "rb1")
    assert(rows.count() == 41)
    assert(rows.filter($"k" === 999).count() == 1)
    TableIO.dropTable(spark, lh, "rb1")
  }

  test("a concurrent touch to an INPUT file is a real conflict — the " +
      "maintenance commit fails loudly instead of resurrecting rows") {
    TableIO.writeTable(spark, lh, "rb2",
      (1 to 30).map(i => (i, s"s$i")).toDF("k", "s")) // v1
    val dir = Catalog.tablePath(lh, "rb2")
    val m1 = Versioned.readManifest(dir, 1).get
    // concurrent writer DELETES rows — rewriting some of v1's files
    TableIO.deleteFromTable(spark, lh, "rb2", "k <= 5") // v2
    val affected = m1.entries
    val scan = Versioned.scanOf(dir, m1, affected)
    intercept[Versioned.ConcurrentWriteException] {
      TableIO.commitMaintenance(dir, 1L, m1, affected,
        metaOf = identity, op = "OPTIMIZE", stage = { target =>
          TableIO.scanSpec(spark, scan).coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(target)
          Map.empty
        })
    }
    // the delete's result is intact
    assert(TableIO.selectTable(spark, lh, "rb2").count() == 25)
    TableIO.dropTable(spark, lh, "rb2")
  }

  test("public compactTable keeps working under interleaved appends " +
      "(threaded): nothing lost, maintenance lands") {
    TableIO.writeTable(spark, lh, "rb3",
      (1 to 20).map(i => (i, s"s$i")).toDF("k", "s"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() =>
      try (1 to 5).foreach { i =>
        TableIO.appendTable(spark, lh, "rb3",
          Seq((1000 + i, s"a$i")).toDF("k", "s"))
      } catch { case t: Throwable => errors.add(t) })
    val compactor = new Thread(() =>
      try (1 to 3).foreach { _ =>
        TableIO.compactTable(spark, lh, "rb3")
      } catch { case t: Throwable => errors.add(t) })
    appender.start(); compactor.start()
    appender.join(120000); compactor.join(120000)
    assert(errors.isEmpty, s"concurrent maintenance failed: ${errors.peek()}")
    assert(TableIO.selectTable(spark, lh, "rb3").count() == 25)
    TableIO.dropTable(spark, lh, "rb3")
  }

  test("conflicts are caught in three places only: the shared retry " +
      "helper, adopt's CONVERT race, and ingest's ledger consolidation") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"sources not found under $root")
    val catchSite =
      """case\s+\w+\s*:\s*(Versioned\.)?ConcurrentWriteException\b""".r
    val walk = Files.walk(root)
    val sites =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toSeq.flatMap { f =>
          val src = new String(Files.readAllBytes(f), "UTF-8")
          catchSite.findAllMatchIn(src).map { hit =>
            // the enclosing member: the last object-level def before it
            val name = """\n  (?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
              .findAllMatchIn(src.substring(0, hit.start)).toSeq
              .lastOption.map(_.group(1)).getOrElse("?")
            s"${f.getFileName}:$name"
          }
        }
      finally walk.close()
    assert(sites.sorted == Seq("Ingest.scala:consolidate",
      "TableIO.scala:adopted", "Versioned.scala:retryOnConflict"),
      s"ConcurrentWriteException caught at: ${sites.sorted.mkString(", ")}")
  }
}
