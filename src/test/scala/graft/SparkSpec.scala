package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for unit specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = {} // session shared across suites
}

object SparkSpec {
  /** Four cores: PlanShapeSpec pins its shuffle counts at 4 partitions. */
  lazy val session: SparkSession = GraftSession.local(4)
}
