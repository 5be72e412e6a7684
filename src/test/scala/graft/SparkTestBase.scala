package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, BeforeAndAfterEach}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the ScalaTest suites (one JVM, reused). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll
    with BeforeAndAfterEach {

  lazy val spark: SparkSession = SparkTestBase.session

  /** Reset graft confs to defaults before each suite. */
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    spark.conf.set(GraftSession.IntervalJoinAlgorithm, "superintervals")
  }

  /** The broadcast threshold picks the interval-join distribution mode, so
    * a test's pin of it must not reach the next test. */
  override def beforeEach(): Unit = {
    super.beforeEach()
    spark.conf.unset(SparkTestBase.Threshold)
  }

  /** Pin an interval-join distribution mode through the broadcast
    * threshold: "partitioned" disables broadcast by size (keyed joins
    * partition; a keyless one declines or, under autoBin=auto, bins), any
    * other mode restores the default threshold, under which the small test
    * tables broadcast. */
  def pinMode(mode: String): Unit =
    if (mode == "partitioned") spark.conf.set(SparkTestBase.Threshold, "-1")
    else spark.conf.unset(SparkTestBase.Threshold)
}

object SparkTestBase {
  val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
