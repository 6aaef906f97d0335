package graft

/** VERDICT r2 "what's wrong #1" as an executable contract: after running
  * every SparkEntry query and calling `CacheScope.release()`, NO cached
  * blocks may remain in the JVM. Operators either scope their own cache
  * (connected components unpersists its edge table) or register what
  * they persist with CacheScope (barriers, and every per-round
  * localCheckpoint RDD of connected components) — there is no third,
  * leaking category.
  */
class CacheHygieneSpec extends SparkSpec {

  test("every query's barriers are released — no cached RDDs survive") {
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sf).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => fail(s"$name failed: ${e.getMessage}") }
    }
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected live barriers before release (the test would be vacuous)")
    CacheScope.release()
    // Dataset persists and the registered localCheckpoint RDDs (the
    // dedup_clusters rounds) drop synchronously; the bounded GC wait
    // only covers blocks left to the ContextCleaner.
    def persisted = spark.sparkContext.getPersistentRDDs
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (persisted.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(250)
    }
    assert(persisted.isEmpty,
      s"leaked cached RDDs: ${persisted.values.map(_.toString).take(10).mkString("; ")}")
  }

  test("dedup_clusters: release() drops every round's checkpoint at once, no GC wait") {
    // connected components checkpoints each label round; a superseded
    // round that CacheScope does not know about stays persisted until the
    // GC-driven ContextCleaner reaches it, so assert right after release()
    val sf = "/root/testdata/sf0.001"
    CacheScope.release() // no memoized dedup_clusters from an earlier test
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def checkpoints = spark.sparkContext.getPersistentRDDs.filter {
      case (id, rdd) => !before(id) && rdd.isCheckpointed
    }
    SparkEntry.queries("dedup_clusters")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    assert(checkpoints.size >= 2,
      "expected several checkpointed CC rounds before release (the test would be vacuous)")
    CacheScope.release()
    assert(checkpoints.isEmpty,
      s"round checkpoints survived release(): ${checkpoints.values.mkString("; ")}")
  }

  test("using CacheScope leaves the MapPartitionsRDD log level alone") {
    // silencing the "lineage has been truncated" WARN is a dev-main choice
    // (DevSession); a user session that merely loads CacheScope keeps its
    // own logging
    import org.apache.logging.log4j.LogManager
    CacheScope.barrier(spark.range(10).toDF()).count()
    CacheScope.release()
    assert(LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD").getLevel ==
      LogManager.getRootLogger.getLevel)
  }
}
