package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Access to Spark internals the benchmark needs. */
object Internals {
  /** Drain the package-private listener bus: the benchmark does this at each
    * op boundary so a job, stage or task is counted in the op that ran it.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Empty Spark's JVM-wide cache of compiled generated classes, so the next
    * set-up round compiles its generated code again.
    */
  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
