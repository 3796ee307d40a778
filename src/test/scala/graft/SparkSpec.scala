package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // Force external sorters to spill every 100k rows so specs can cover
    // the spill-reader regime (reused row buffers) without huge inputs.
    // Context-level conf: it cannot be flipped per-test.
    .config("spark.shuffle.spill.numElementsForceSpillThreshold", "100000")
    .getOrCreate()
}
