package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The fixture memo lets go of stopped sessions. The check stops a Spark
  * session, so it runs in a JVM of its own ([[QFixturesEvictionCheck]]):
  * stopping the test JVM's shared session would break every later suite. */
class QFixturesSpec extends AnyFunSuite {
  test("a stopped session's memoized frames are gone once a new session asks") {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val dir = Files.createTempDirectory("qfixtures").toString
    val cmd = (javaBin.toString +: jvmOpts.toSeq) ++ Seq("-Xmx512m",
      "-cp", System.getProperty("java.class.path"),
      "graft.QFixturesEvictionCheck", dir)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, out)
    // one memoized session before the stop; after a new session asked,
    // only the new one
    assert(out.linesIterator.contains("memoized sessions: 1 -> 1"), out)
  }
}

/** Memoizes a fixture frame in one session, stops it, asks again from a
  * new session, and prints how many sessions the memo holds before and
  * after. */
object QFixturesEvictionCheck {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def session(): SparkSession = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val first = session()
    first.range(3).write.parquet(s"$dir/t.parquet")
    QFixtures.t(first, dir, "t")
    val before = QFixtures.memoizedSessions
    first.stop()
    val second = session()
    assert(QFixtures.t(second, dir, "t").count() == 3)
    println(s"memoized sessions: $before -> ${QFixtures.memoizedSessions}")
    second.stop()
  }
}
