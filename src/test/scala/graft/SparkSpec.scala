package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. One session per suite run
  * (getOrCreate reuses across suites in the same JVM fork).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // keep the shared session alive for sibling suites; JVM exit cleans up
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.builder("4")
    .appName("graft-test")
    .getOrCreate()
}
