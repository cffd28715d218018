package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, one context). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local("4")
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  def spark: SparkSession = SparkSpec.spark

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp dir, deleted with everything in it when the suite ends. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try {
      tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      tempDirs.clear()
    } finally super.afterAll()
}
