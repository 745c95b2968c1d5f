package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. One session per JVM
  * (Test / fork := true gives the suite its own), small shuffle partition
  * count so tiny-data tests don't pay 32-task scheduling overhead.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"
  def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)
  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = SparkEntry.localSession(cpus = 4)

  private val tempDirs = new ConcurrentLinkedQueue[File]()

  // Hadoop runs Spark's shutdown hooks (stopping the session) at priority
  // 40 and higher priorities first, so the directories go after the
  // session that writes into them has stopped.
  private lazy val deleteTempDirsAtExit: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => tempDirs.forEach(d => FileUtils.deleteQuietly(d)), 20)

  /** A new directory in the system temp directory, named `prefix` plus a
    * random suffix, deleted with its contents when the JVM exits.
    */
  def tempDir(prefix: String): String = {
    deleteTempDirsAtExit
    val dir = Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir.toString
  }
}
