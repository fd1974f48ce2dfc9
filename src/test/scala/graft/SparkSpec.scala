package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + fixtures for all suites (one JVM, one session). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = graft.core.Tables.localSession(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with SQL confs temporarily set, restoring (or unsetting)
    * each key afterwards — the shared-session equivalent of
    * SQLHelper.withSQLConf. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) =>
      // an optional conf without a value reads as null
      k -> (try Option(spark.conf.get(k)) catch { case _: Exception => None })
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Seeded random-walk price fixture mirroring the reference's test
    * fixture (tests/test_plugins.py:11-21): 1.3 + cumsum(N(0,1)*5e-4),
    * 4-hour timestamps from 2020-01-01. */
  def randomWalk(n: Int, seed: Long = 7L, base: Double = 1.3,
                 vol: Double = 5e-4): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    var acc = base
    val t0 = java.time.Instant.parse("2020-01-01T00:00:00Z")
    (0 until n).map { i =>
      acc += rnd.nextGaussian() * vol
      (java.sql.Timestamp.from(t0.plusSeconds(i * 4L * 3600L)), acc, i)
    }.toDF("DATE_TIME", "typical_price", "rn")
  }
}

class SmokeSpec extends AnyFunSuite {
  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(SparkSpec.spark).count() > 0)
  }
  test("every query has a result and every oracle key exists in queries") {
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle for unknown query $k")
    }
  }
}
