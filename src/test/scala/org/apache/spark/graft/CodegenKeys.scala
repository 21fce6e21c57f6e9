package org.apache.spark.graft

import java.lang.reflect.Field

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Counts the codegen-cache keys a block needs: the classes Spark compiles
  * while it runs, from an empty cache that evicts nothing. The cache
  * (`CodeGenerator`'s private `cache`, sized by the static
  * `spark.sql.codegen.cache.maxEntries`: four Guava LRU segments of
  * `maxEntries / 4`) is emptied, and its segments made non-evicting for the
  * block, by reflection. So no class is compiled twice, and the count does
  * not depend on how this JVM's class-loader hashes spread the keys over
  * the segments. In `local` mode the driver and the executor each key a
  * whole-stage class, so a stage counts twice. */
object CodegenKeys {

  private def field(c: Class[_], name: String): Field = {
    val f = c.getDeclaredField(name)
    f.setAccessible(true)
    f
  }

  /** The block's result and its codegen-cache keys. The segment bounds are
    * restored, and the cache emptied, afterwards. */
  def keys[T](body: => T): (T, Long) = {
    val cache = field(CodeGenerator.getClass, "cache").get(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]]
    val guava = field(classOf[NonFateSharingCache[_, _]], "cache").get(cache)
    val local = field(guava.getClass.getSuperclass, "localCache").get(guava)
    val segments = field(local.getClass, "segments").get(local).asInstanceOf[Array[AnyRef]]
    val bound = field(segments.head.getClass, "maxSegmentWeight")
    val bounds = segments.map(bound.getLong)
    cache.invalidateAll()
    segments.foreach(bound.setLong(_, Long.MaxValue))
    try {
      val before = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
      val out = body
      (out, CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - before)
    } finally {
      segments.zip(bounds).foreach { case (s, b) => bound.setLong(s, b) }
      cache.invalidateAll()
    }
  }
}
