package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, reused across suites within the
  * same JVM via getOrCreate).
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** A checkout of the reference EcoWatt-ETL repository: its input CSVs and
    * its own star-schema outputs. Not vendored here.
    */
  val RefData = "/root/reference/data"
  val RefGolden = "/root/reference/extracted"

  /** True only when both reference directories exist; checks the paths and
    * opens nothing.
    */
  def hasReference: Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(RefData)) &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(RefGolden))
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  def approx(a: Double, b: Double, relTol: Double = 1e-6): Boolean =
    math.abs(a - b) <= relTol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
