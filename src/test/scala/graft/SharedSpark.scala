package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** One SparkSession per suite, configured exactly like Verify/Bench
  * (UTC, nanos legacy conf set at build — never mutated later). */
trait SharedSpark extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(self.getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val tempDirs = mutable.ArrayBuffer.empty[Path]

  /** A fresh temp directory that [[afterAll]] deletes with everything
    * under it. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.synchronized { tempDirs += d }
    d
  }

  // walkFileTree does not follow symbolic links: a link to a fixture
  // file or directory is deleted as a link, never descended into
  private def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(p: Path,
                               a: BasicFileAttributes): FileVisitResult = {
          Files.deleteIfExists(p)
          FileVisitResult.CONTINUE
        }
        override def postVisitDirectory(d: Path,
                                        e: IOException): FileVisitResult = {
          Files.deleteIfExists(d)
          FileVisitResult.CONTINUE
        }
      })
      ()
    }

  override def afterAll(): Unit = {
    // the session is shared across suites in one JVM — do not stop it;
    // Spark cleans up at exit
    try tempDirs.synchronized { tempDirs.foreach(deleteRecursively) }
    finally super.afterAll()
  }
}
