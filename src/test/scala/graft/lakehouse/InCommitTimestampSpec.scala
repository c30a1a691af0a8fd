package graft.lakehouse

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

/** In-commit timestamps (Delta ICT): the commit clock is table STATE in
  * the manifest, not a filesystem mtime — time travel survives tools that
  * rewrite modification times, and the recorded clock is monotonic. */
class InCommitTimestampSpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("ict_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_ict", "lh_ict").lakehouses.head
  }

  test("every commit records a monotonic in-commit timestamp in its manifest") {
    TableIO.writeTable(spark, lh, "ict1", Seq(1).toDF("k"))
    TableIO.appendTable(spark, lh, "ict1", Seq(2).toDF("k"))
    TableIO.appendTable(spark, lh, "ict1", Seq(3).toDF("k"))
    val tdir = Catalog.tablePath(lh, "ict1")
    val vs = Versioned.committedVersions(tdir)
    val stamps = vs.map(v => Versioned.readManifest(tdir, v).get
      .meta.get(Versioned.CommitTsKey).map(_.toLong))
    assert(stamps.forall(_.isDefined), s"missing ICT in $stamps")
    val ts = stamps.flatten
    assert(ts == ts.sorted && ts.distinct == ts,
      s"in-commit timestamps must be strictly increasing: $ts")
    TableIO.dropTable(spark, lh, "ict1")
  }

  test("manifestMetaOnly (the header-only probe behind commitTimeMs) " +
      "agrees with the fully-parsed manifest on every version, delta " +
      "manifests included") {
    TableIO.writeTable(spark, lh, "ict4", (1 to 50).map(i => (i, i)).toDF("k", "v"))
    // appends onto an existing base delta-encode their manifests
    TableIO.appendTable(spark, lh, "ict4", Seq((51, 51)).toDF("k", "v"))
    TableIO.appendTable(spark, lh, "ict4", Seq((52, 52)).toDF("k", "v"))
    val tdir = Catalog.tablePath(lh, "ict4")
    Versioned.committedVersions(tdir).foreach { v =>
      val header = Versioned.manifestMetaOnly(tdir, v).get
      val full = Versioned.readManifest(tdir, v).get.meta
      // readManifest strips BasedOnKey (an encoding detail); everything
      // else must agree — in particular CommitTsKey
      assert(header - Versioned.BasedOnKey == full, s"v$v")
      assert(header.get(Versioned.CommitTsKey) ==
        full.get(Versioned.CommitTsKey), s"v$v")
    }
    TableIO.dropTable(spark, lh, "ict4")
  }

  test("TIMESTAMP AS OF and DESCRIBE HISTORY survive marker-mtime rewrites") {
    TableIO.writeTable(spark, lh, "ict2", (1 to 40).map(i => (i, s"v$i")).toDF("k", "s"))
    val tdir = Catalog.tablePath(lh, "ict2")
    val v1 = Versioned.latestVersion(tdir).get
    val t1 = Versioned.commitTimeMs(tdir, v1).get
    Thread.sleep(5)
    TableIO.writeTable(spark, lh, "ict2", Seq((999, "new")).toDF("k", "s"))
    val v2 = Versioned.latestVersion(tdir).get
    val t2 = Versioned.commitTimeMs(tdir, v2).get
    assert(t2 > t1)
    // a backup/copy tool rewrites every marker mtime — ICT must not care
    Versioned.committedVersions(tdir).foreach { v =>
      Files.setLastModifiedTime(
        Paths.get(tdir).resolve(s"${Versioned.MarkerPrefix}$v"),
        FileTime.fromMillis(0L))
    }
    assert(Versioned.commitTimeMs(tdir, v1).contains(t1),
      "commit time must come from the manifest, not the marker mtime")
    assert(Versioned.commitTimeMs(tdir, v2).contains(t2))
    assert(TableIO.selectTableAsOf(spark, lh, "ict2", t1).count() == 40)
    assert(TableIO.selectTableAsOf(spark, lh, "ict2", t2).count() == 1)
    TableIO.dropTable(spark, lh, "ict2")
  }

  test("a stale carried-forward stamp is replaced, never inherited") {
    TableIO.writeTable(spark, lh, "ict3", Seq(1).toDF("k"))
    val tdir = Catalog.tablePath(lh, "ict3")
    val m1 = Versioned.readManifest(tdir, Versioned.latestVersion(tdir).get).get
    // maintenance-style commit that naively forwards the full old meta
    Versioned.commitFiles(tdir, m1.schemaJson, inherit = m1.entries,
      expectedBase = Versioned.latestVersion(tdir),
      meta = m1.meta, op = "TOUCH")
    val v2 = Versioned.latestVersion(tdir).get
    val m2 = Versioned.readManifest(tdir, v2).get
    assert(m2.meta(Versioned.CommitTsKey).toLong >
      m1.meta(Versioned.CommitTsKey).toLong,
      "commitFiles must stamp its OWN clock over a carried-forward one")
    TableIO.dropTable(spark, lh, "ict3")
  }
}
