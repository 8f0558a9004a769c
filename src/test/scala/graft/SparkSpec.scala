package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — the same builder Verify and
  * Bench use (ANSI off, graft extensions, UTC), at two cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // shared across suites; stopped by the JVM at exit
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.plans.GraftExtensions.builder(2)
    .appName("graft-test")
    .getOrCreate()
}
