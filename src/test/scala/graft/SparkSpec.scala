package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

  /** Run `body` with the session conf `kvs` set on the shared session,
    * then restore each key, unsetting one that was not set. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The persisted RDDs `body` leaves behind that its result frame does
    * not scan: blocks no caller can reach to free. */
  def leakedRdds(body: => org.apache.spark.sql.DataFrame): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = body
    val scanned = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    (spark.sparkContext.getPersistentRDDs.keySet -- before -- scanned).toSet
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
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
}
