package org.apache.spark.regridbench

import org.apache.spark.SparkContext
import org.apache.spark.util.NonFateSharingCache

/** The listener bus delivers events asynchronously; its drain call is
  * Spark-private, so this one-line bridge lives in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Empties the cache of classes compiled by Spark's code generator, so
  * the next plans compile all their generated classes again. The cache
  * is a private member of `CodeGenerator`, reached by reflection. */
object CodegenCache {
  def invalidate(): Unit = {
    val cls = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    val cache = cls.getDeclaredMethod("cache")
    cache.setAccessible(true)
    cache.invoke(cls.getField("MODULE$").get(null))
      .asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
