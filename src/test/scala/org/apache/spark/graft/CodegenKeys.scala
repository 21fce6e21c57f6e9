package org.apache.spark.graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Counts the classes Spark compiles while a block runs, starting from an
  * empty codegen cache. The cache (`CodeGenerator`'s private `cache`, sized
  * by the static `spark.sql.codegen.cache.maxEntries`) is emptied by
  * reflection, so every whole-stage class the block needs is compiled once
  * and counted. Under a non-evicting cache the count is the block's cache
  * keys; under the default 100-entry cache it also counts the classes the
  * block evicts and compiles again. In `local` mode the driver and the
  * executor each key a whole-stage class, so a stage counts twice. */
object CodegenKeys {

  /** Empties the codegen cache. */
  def clear(): Unit = {
    val f = CodeGenerator.getClass.getDeclaredField("cache")
    f.setAccessible(true)
    f.get(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }

  /** The block's result and the classes compiled while it ran, from an
    * empty cache. */
  def count[T](body: => T): (T, Long) = {
    clear()
    val before = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    val out = body
    (out, CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - before)
  }
}
