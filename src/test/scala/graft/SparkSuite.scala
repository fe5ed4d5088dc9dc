package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (guide: one lazy SparkSession, not one per
  * test). UTC + small shuffle partitions to mirror the harness. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // BenchSession's streaming contract: one classloader for every
      // cloned streaming session, so repeated runOnce ticks reuse
      // generated code. Nothing else of BenchSession is taken, so the
      // pinned plan shapes keep this suite's config.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
