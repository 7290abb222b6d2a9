package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark internals the tracer reads, which are visible only from inside
  * the `org.apache.spark` package.
  */
object Internals {
  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Cumulative whole-stage codegen compile time of this JVM, in ns. */
  def codegenCompileNs: Long = CodeGenerator.compileTime

  /** The execution id and query execution of an ended SQL execution. */
  def executionEnd(e: SparkListenerEvent): Option[(Long, QueryExecution)] = e match {
    case x: SparkListenerSQLExecutionEnd => Option(x.qe).map(x.executionId -> _)
    case _ => None
  }
}
