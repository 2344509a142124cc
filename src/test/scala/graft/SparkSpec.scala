package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for engine specs (one per suite, local[4]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with the size-gated operators' driver-or-cluster switch
    * forced to the distributed path (`on`) or left to input size. */
  def withScalePaths[A](on: Boolean = true)(body: => A): A = {
    spark.conf.set(graft.ops.ScalePath.Conf, on)
    try body finally spark.conf.unset(graft.ops.ScalePath.Conf)
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
