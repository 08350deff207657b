package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session — tests
  * run in a forked JVM, see build.sbt), built with the engine's confs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // keep the shared session alive
}

object SparkSpec {
  lazy val session: SparkSession = Engine.start(Engine.builder(4)
    .appName("graft-tests")
    // bucketed-table specs saveAsTable; keep the warehouse out of the repo
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString))
}
