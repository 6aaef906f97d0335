package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.Kernels

/** `SparkSessionExtensions` injection point — the config-driven twin of
  * [[Graft.init]]: sessions created with
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * get every native function in [[graft.functions.Kernels.All]] as a SQL
  * function without any library call, which is how a shared cluster
  * (Thrift server, notebook gateway, spark-submit with `--conf`) picks
  * the engine up. Injected functions land in the session's own registry
  * at build time — no temp-function mutation, visible to pure-SQL users.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Kernels.All.foreach(k => ext.injectFunction((k.id, k.info, k.build)))
}
