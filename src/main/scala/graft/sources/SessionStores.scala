package graft.sources

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** The ONE build-once primitive behind every derived store: the
  * per-key lock, the "already built" check, the key, the scoped file
  * path, cleanup when a session stops, and the process-exit hook.
  *
  * KEYING RULE — the key follows where the state lives:
  *
  *   - FILES (parquet/text under the process scope): keyed by PATH,
  *     built once per process (`builtPath`/`servedPath`). The files
  *     outlive any session, so a second session serves them as-is.
  *   - CATALOG TABLES: keyed by (SparkContext, table name), built once
  *     per context (`servedTable`). The in-memory catalog dies with its
  *     context, so a restarted session re-registers the table instead
  *     of serving a name the new catalog never heard of.
  *   - PERSISTED DataFrames and DRIVER VALUES: keyed by (session, key),
  *     living for the session (`memo`). Entries of stopped sessions are
  *     dropped (DataFrames unpersisted) on the next access, so the map
  *     never pins a dead session; `release` drops one session's entries
  *     on demand. A `version` argument rebuilds (and unpersists the old
  *     value) when a store's change witness moves.
  *
  * A key's `build` runs under that key's lock only — a multi-minute
  * index build never blocks an already-built store's serve — and never
  * inside `ConcurrentHashMap.computeIfAbsent`, so one build may freely
  * serve other keys. A build that throws leaves the key unbuilt.
  *
  * PROCESS SCOPING: store files live under a per-process UUID directory
  * so two concurrent JVMs (each overwriting on build) never race each
  * other's files; a JVM shutdown hook deletes every scope directory
  * handed out (the UUID guarantees it only ever deletes THIS process's
  * copies).
  *
  * STALENESS GUARD (catalog tables): with a PERSISTENT metastore, a new
  * JVM can see `tableExists = true` for a table whose files live under
  * a PREVIOUS process's scope directory (possibly already deleted); a
  * table whose location is not under THIS process's scope is dropped
  * and rebuilt.
  */
private[graft] object SessionStores {

  private val processScope: String = java.util.UUID.randomUUID().toString.take(8)

  /** One store, keyed by (owner, name): the owner is the session or
    * context its value lives with, `Process` for files.
    */
  private final class Slot {
    var built = false
    var version: Any = None
    var value: Any = null
  }
  private object Process
  private val slots = new java.util.concurrent.ConcurrentHashMap[(AnyRef, String), Slot]()
  private val scopeDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scopeDirs.forEach { d =>
        try deleteRecursively(new java.io.File(d))
        catch { case _: Exception => } // best effort — process is dying
      }
    }, "graft-session-store-cleanup"))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete(): Unit
  }

  private def stopped(owner: AnyRef): Boolean = owner match {
    case s: SparkSession => s.sparkContext.isStopped
    case sc: SparkContext => sc.isStopped
    case _ => false
  }

  private def unpersist(value: Any): Unit = value match {
    case d: Dataset[_] =>
      try d.unpersist(): Unit
      catch { case _: Exception => } // a stopped context holds no blocks
    case _ =>
  }

  /** Remove (and unpersist) every entry whose key matches. */
  private def drop(p: ((AnyRef, String)) => Boolean): Unit =
    slots.entrySet().removeIf { e =>
      p(e.getKey) && { unpersist(e.getValue.value); true }
    }: Unit

  /** The build-once core: `build` runs at most once per (owner, key)
    * and again only when `version` moves.
    */
  private def once[T](owner: AnyRef, key: String, version: Any)(build: => T): T = {
    drop(k => stopped(k._1))
    val slot = slots.computeIfAbsent((owner, key), _ => new Slot)
    slot.synchronized {
      if (!slot.built || slot.version != version) {
        if (slot.built) unpersist(slot.value)
        slot.built = false
        slot.value = build
        slot.version = version
        slot.built = true
      }
      slot.value.asInstanceOf[T]
    }
  }

  /** md5 tag of the RAW dir string: two distinct corpus dirs that
    * sanitize identically (`/a/b` vs `/a_b`) must not collide on one
    * table name and serve data from the wrong corpus.
    */
  def tagOf(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** Target path for one store under this process's scope directory of
    * `family` (e.g. `graft_index`); the scope dir is registered for
    * end-of-process deletion.
    */
  def scopedPath(family: String, name: String): String = {
    val d = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/$family/$processScope"
    scopeDirs.add(d)
    s"$d/$name"
  }

  /** `scopedPath` of the `name` store derived from corpus `dir`. */
  def pathOf(family: String, name: String, dir: String): String =
    scopedPath(family, s"${name}_${tagOf(dir)}")

  /** FILES kind: run `build` (which must write under `path`) at most
    * once per process; returns `path`.
    */
  def builtPath(path: String)(build: => Unit): String = {
    once(Process, path, None)(build)
    path
  }

  /** A `builtPath` parquet store, read. */
  def servedPath(spark: SparkSession, path: String)(build: => Unit): DataFrame =
    spark.read.parquet(builtPath(path)(build))

  /** CATALOG kind: serve table `tbl`, running `build` (which must create
    * it) at most once per SparkContext — with the staleness guard above.
    */
  def servedTable(spark: SparkSession, tbl: String)(build: => Unit): DataFrame = {
    once(spark.sparkContext, tbl, None) {
      val stale = spark.catalog.tableExists(tbl) &&
        !spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
          .filter(col("col_name") === "Location")
          .collect().headOption.exists(_.getString(1).contains(s"/$processScope/"))
      if (stale) spark.sql(s"DROP TABLE IF EXISTS $tbl")
      if (stale || !spark.catalog.tableExists(tbl)) build
    }
    spark.table(tbl)
  }

  /** SESSION kind: the value `build` computes for `key`, once per
    * (session, key, version) — a new `version` rebuilds and unpersists
    * the value it replaces.
    */
  def memo[T](spark: SparkSession, key: String, version: Any = None)(build: => T): T =
    once(spark, key, version)(build)

  /** Drop (and unpersist) every session memo whose key matches, in all
    * sessions — for state rewritten in place.
    */
  def forget(matches: String => Boolean): Unit =
    drop(k => k._1.isInstanceOf[SparkSession] && matches(k._2))

  /** Drop (and unpersist) every memo of session `spark`. */
  def release(spark: SparkSession): Unit = drop(_._1 eq spark)
}
