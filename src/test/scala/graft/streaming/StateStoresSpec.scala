package graft.streaming

import org.apache.spark.scheduler.{SparkListenerApplicationEnd, TestListenerBus}
import org.apache.spark.sql.execution.streaming.state.StateStore
import graft.SparkSpec
import graft.model.{ExceptionInfo, LogEvent}

/** A stopped context leaves no RocksDB state store open: Spark never
  * closes the providers it loaded, and a JVM that exits with them open
  * (and their maintenance running) can die in native teardown.
  */
class StateStoresSpec extends SparkSpec {

  /** Providers loaded in this JVM; the map is private to `StateStore`. */
  private def loadedProviders(): Int = {
    val m = StateStore.getClass.getDeclaredMethod("loadedProviders")
    m.setAccessible(true)
    m.invoke(StateStore).asInstanceOf[scala.collection.Map[_, _]].size
  }

  private def rec(id: String, i: Int): LogRecord =
    LogRecord(Some("k"), Some(LogEvent(
      exception = Some(ExceptionInfo(Some(id), Some("boom"), None)), version = 1,
      source_host = Some("h"), message = Some("m"), thread_name = Some("t"),
      timestamp = None, level = Some("ERROR"), logger_name = Some("l"))),
      86400L * 1000000 + i * 1000000L)

  test("application end closes every loaded RocksDB state store and stops maintenance") {
    val out = withRocksDB {
      StateStores.useRocksDB(spark) // a second call on the context adds no listener
      DedupFrames.dedupStreaming(spark, Seq((0 until 8).map(i => rec(s"E${i % 3}", i))))
    }
    assert(out.size == 3)
    val sc = spark.sparkContext
    assert(TestListenerBus.listenersOf[StateStores.CloseOnStop](sc).size == 1)
    assert(loadedProviders() > 0 && StateStore.isMaintenanceRunning,
      s"${loadedProviders()} providers loaded, maintenance ${StateStore.isMaintenanceRunning}")
    TestListenerBus.post(sc, SparkListenerApplicationEnd(System.currentTimeMillis()))
    assert(loadedProviders() == 0)
    assert(!StateStore.isMaintenanceRunning)
  }
}
