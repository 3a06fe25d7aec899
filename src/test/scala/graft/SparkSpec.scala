package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for the suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()

  /** Run `body` with the session conf `key` set to `value` (unset on None),
    * then restore what the session held before: every spec shares one
    * session. */
  def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val conf = spark.conf
    def put(v: Option[String]): Unit = v.fold(conf.unset(key))(conf.set(key, _))
    val before = conf.getOption(key)
    put(value)
    try body finally put(before)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse-").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
