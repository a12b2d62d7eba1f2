package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session —
  * ScalaTest runs suites sequentially in the forked test JVM).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Run `body` with the state store provider set (None = Spark's default).
    * The provider is read at query START, so it is set per test and
    * restored in a finally: the shared session must not leak it into
    * unrelated suites.
    */
  def withStateStore[T](provider: Option[String])(body: => T): T = {
    val key = SparkSpec.ProviderKey
    val prev = spark.conf.getOption(key)
    provider.foreach(spark.conf.set(key, _))
    if (provider.isEmpty) spark.conf.unset(key)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}
