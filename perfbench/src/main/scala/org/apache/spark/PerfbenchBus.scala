package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** The two Spark internals the benchmark reaches: the listener bus
  * (`private[spark]`) and the codegen class cache (private to
  * `CodeGenerator`). This object is the one place that touches them.
  */
object PerfbenchBus {

  /** Waits until every queued listener event has been delivered, so the
    * benchmark reads complete job, stage and task counts.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drops every compiled class from the codegen cache, so the next
    * query compiles its generated code again as on a fresh JVM.
    */
  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
