package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.artifact.ArtifactManager
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Bridge to the `private[sql]` / `private[spark]` session internals the
  * bounded-stream runner needs (the Scala modifiers are not bytecode
  * visibility, so an object inside `org.apache.spark.sql` reaches them;
  * the same pattern as the test-side `Lit`). */
object SessionBridge {

  /** A copy of `s`: runtime confs, temp views, functions and
    * QueryExecutionListeners, on a new session id. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Whether `s` holds session-scoped artifacts (classes, jars, files,
    * archives): those are served to tasks only under artifact isolation.
    * The two members are `protected` to Scala but public methods in the
    * bytecode, so they are read through `getMethod`. */
  def hasSessionArtifacts(s: SparkSession): Boolean = {
    val am = s.asInstanceOf[classic.SparkSession].artifactManager
    def member(name: String): AnyRef = classOf[ArtifactManager].getMethod(name).invoke(am)
    member("sessionArtifactAdded").asInstanceOf[java.util.concurrent.atomic.AtomicBoolean]
      .get() ||
      !member("sparkContextRelativePaths").asInstanceOf[java.util.List[_]].isEmpty
  }

  /** Block until every event posted so far on the context's listener
    * bus was delivered to every listener. */
  def drainListeners(s: SparkSession): Unit = s.sparkContext.listenerBus.waitUntilEmpty()

  /** Unregister, from the context's listener bus, the streaming listener
    * bus that delivers to `marker`. Every session's StreamingQueryManager
    * registers one such bus for the life of the SparkContext; a session
    * that is used for one stream only would otherwise leave it behind. */
  def detachStreamingBus(s: SparkSession, marker: StreamingQueryListener): Unit = {
    val bus = s.sparkContext.listenerBus
    bus.findListenersByClass[StreamingQueryListenerBus]()
      .filter(_.listeners.contains(marker))
      .foreach(bus.removeListener)
  }
}
