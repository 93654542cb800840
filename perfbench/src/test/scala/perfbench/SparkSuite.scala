package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One local session per suite, with its scratch space in a temp dir. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val work: java.io.File = java.nio.file.Files.createTempDirectory("perfbench-test").toFile
  lazy val spark: SparkSession = Main.session(work)

  override def afterAll(): Unit = {
    spark.stop()
    scala.reflect.io.Directory(work).deleteRecursively()
  }
}
