package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StateStores

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's default test execution).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` on the RocksDB state store setup
    * ([[StateStores.useRocksDB]]), as `DedupApp` and the benchmarks deploy
    * it, then restores every session key that setup sets.
    */
  def withRocksDB[A](body: => A): A =
    SparkSpec.restoring(spark, StateStores.RocksDBConf.map(_._1)) {
      StateStores.useRocksDB(spark)
      body
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // config-driven injection path, exercised by GraftExtensionsSpec
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"/tmp/graft-warehouse-${System.nanoTime()}")
      .config("spark.ui.enabled", "false")
      // a whole-stage compile error fails the test instead of running the
      // stage interpreted while every assertion passes
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // streaming checkpoints as Graft.init sets them up
    graft.io.SpawnFreeLocalFs.register(s)
    s
  }

  /** Runs `body`, then puts the session conf `keys` back as they were
    * before it (set to the old value, or unset).
    */
  def restoring[A](spark: SparkSession, keys: Seq[String])(body: => A): A = {
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
