package ocrspark

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

import ocrspark.bench.Measure

/** A suite that runs on Spark. Its session comes from
  * [[Measure.session]] like every other session in the project, so
  * each suite starts from a fresh context with the production SQL conf
  * and none inherits a conf an earlier suite set. Every directory the
  * suite writes lives under [[root]]; both go away in `afterAll`. */
trait SparkSuite extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = Measure.session(4, 4)

  val sfDir = "/root/testdata/sf0.001"

  protected val root: Path =
    Files.createTempDirectory(getClass.getSimpleName.toLowerCase)

  override def afterAll(): Unit =
    try {
      spark.stop()
      FileUtils.deleteQuietly(root.toFile)
    } finally super.afterAll()
}
