package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one owner of the engine's cached state, and so of its lifetime.
  * Everything the pipeline writes once and reads back — layouts, fitted
  * models, staged pages, resolved tables, pins — is memoized here, in one
  * of the two scopes Spark SQL itself draws (its SharedState and
  * SessionState):
  *
  *   - application scope, shared by every session of one SparkContext:
  *     layout paths and input fingerprints (`Layout`), footer row counts
  *     (`Tables.rowCount`), the IVF quantizer, the PQ codebooks and the
  *     fit sample they share (`SemiStructuredOps`), the bucketed-table
  *     database (`CurationOps`, whose catalog is the application's) and
  *     the paged source and sink directories (`SourceOps`);
  *   - session scope, per `SparkSession`: analyzed relations (a DataFrame
  *     is bound to the session that analyzed it), the one-split strategy
  *     install and the pin registry (`functions.Checkpoints`).
  *
  * One `onApplicationEnd` listener per application drops both scopes, so
  * a second application in the same JVM starts empty and writes its
  * layouts under its own application id. Callers pass a memo name, a key
  * and a compute function; they choose no lifetime and put no
  * application id into a key. Each memo name has its own map, so one
  * memo's compute function may fill another (a layout write fits its
  * quantizer), never its own. Entries hold what the callers computed —
  * DataFrames, paths, arrays — and nothing else.
  */
object SessionState {

  /** One scope's memos, a map per memo name. */
  final class Scope private[SessionState] () {
    private val memos = new ConcurrentHashMap[String, ConcurrentHashMap[Any, AnyRef]]()

    /** The value memoized under (`name`, `key`), computed on first use. */
    def apply[V](name: String, key: Any)(compute: => V): V =
      memos.computeIfAbsent(name, _ => new ConcurrentHashMap[Any, AnyRef]())
        .computeIfAbsent(key, _ => compute.asInstanceOf[AnyRef]).asInstanceOf[V]

    private[SessionState] def size: Int = {
      var n = 0
      memos.values.forEach(m => n += m.size)
      n
    }
  }

  private final class App {
    val scope = new Scope
    val sessions = new ConcurrentHashMap[SparkSession, Scope]()
  }

  private val apps = new ConcurrentHashMap[SparkContext, App]()

  private def app(sc: SparkContext): App =
    apps.computeIfAbsent(sc, c => {
      c.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          apps.remove(c)
      })
      new App
    })

  /** Memos shared by every session of `s`'s application. */
  def application(s: SparkSession): Scope = app(s.sparkContext).scope

  /** Memos of session `s` alone. */
  def session(s: SparkSession): Scope =
    app(s.sparkContext).sessions.computeIfAbsent(s, _ => new Scope)

  /** The application's own directory under `/tmp/<root>`. Everything the
    * engine writes outside a query's result goes under one of these, so a
    * run removes its leftovers by application id.
    */
  def appDir(s: SparkSession, root: String): String =
    s"/tmp/$root/${s.sparkContext.applicationId}"

  /** Entries held for `sc`'s application, sessions included; 0 once it
    * has ended.
    */
  private[graft] def entries(sc: SparkContext): Int =
    Option(apps.get(sc)).fold(0) { a =>
      var n = a.scope.size
      a.sessions.values.forEach(x => n += x.size)
      n
    }
}
