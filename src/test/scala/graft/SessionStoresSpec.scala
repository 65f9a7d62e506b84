package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SessionStores

class SessionStoresSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Serve one store from 4 threads racing its first touch; returns what
    * each thread served and how many times the store was built.
    */
  private def race[T](serve: (() => Unit) => T): (Seq[T], Int) = {
    val builds = new AtomicInteger(0)
    def build(): Unit = {
      builds.incrementAndGet()
      Thread.sleep(200) // widen the race window
    }
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map(_ => pool.submit(
        new Callable[T] { def call(): T = serve(() => build()) }))
      (futures.map(_.get()), builds.get())
    } finally pool.shutdown()
  }

  test("servedPath builds exactly once under concurrent first access") {
    // every session store rides this (the path kind, then the session
    // memo kind): if two queries race the first touch, a double build is
    // at best wasted minutes and at worst a torn overwrite under a
    // concurrent read
    val path = SessionStores.scopedPath("graft_test_store", "concurrent_" + System.nanoTime())
    val (counts, pathBuilds) = race { build =>
      SessionStores.servedPath(spark, path) {
        build()
        (0L until 100L).toDF("v").write.mode("overwrite").parquet(path)
      }.count()
    }
    assert(counts.forall(_ === 100L))
    assert(pathBuilds === 1, s"path store built $pathBuilds times")
    val key = "concurrent_" + System.nanoTime()
    val (values, memoBuilds) = race { build =>
      SessionStores.memo(spark, key) { build(); new Object }
    }
    assert(memoBuilds === 1, s"session memo built $memoBuilds times")
    assert(values.forall(_ eq values.head), "racing callers got different values")
  }

  test("servedPath keyed per path: distinct stores build independently") {
    // the path kind, then the session memo kind: distinct keys build
    // independently, repeats serve the built value
    val a = SessionStores.scopedPath("graft_test_store", "a_" + System.nanoTime())
    val b = SessionStores.scopedPath("graft_test_store", "b_" + System.nanoTime())
    val va = SessionStores.servedPath(spark, a) {
      Seq(1L).toDF("v").write.mode("overwrite").parquet(a)
    }.as[Long].head()
    val vb = SessionStores.servedPath(spark, b) {
      Seq(2L).toDF("v").write.mode("overwrite").parquet(b)
    }.as[Long].head()
    assert(va === 1L && vb === 2L)

    val k = "keyed_" + System.nanoTime()
    val m1 = SessionStores.memo(spark, k + "_1")(new Object)
    assert(SessionStores.memo(spark, k + "_1")(new Object) eq m1)
    assert(!(SessionStores.memo(spark, k + "_2")(new Object) eq m1))

    // a memo whose build serves another memo must not deadlock or trip
    // a recursive-update guard (run off-thread so a hang fails the test)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val nested = pool.submit(new Callable[String] {
        def call(): String = SessionStores.memo(spark, k + "_outer") {
          SessionStores.memo(spark, k + "_inner")("inner") + "+outer"
        }
      }).get(30, TimeUnit.SECONDS)
      assert(nested === "inner+outer")
      assert(SessionStores.memo(spark, k + "_inner")("rebuilt") === "inner")
    } finally pool.shutdown()

    // a new version rebuilds and unpersists the value it replaces
    val v1 = SessionStores.memo(spark, k + "_versioned", version = 1)(
      Seq(1L).toDF("v").persist())
    v1.count()
    val v2 = SessionStores.memo(spark, k + "_versioned", version = 2)(
      Seq(2L).toDF("v").persist())
    assert(!(v2 eq v1))
    assert(v1.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    SessionStores.forget(_ == k + "_versioned")
    assert(v2.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("catalog stores serve again after a session restart in the same JVM") {
    // a child JVM: every suite shares SparkTestSession, which must never
    // be seen stopped
    val dir = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val log = java.io.File.createTempFile("graft_restart", ".log")
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvm ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.SessionRestartProbe", dir)
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(log).start()
    val finished = p.waitFor(60, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    val out = scala.io.Source.fromFile(log).getLines().toSeq
    def tail = out.filterNot(_.trim.startsWith("at ")).takeRight(20).mkString("\n")
    assert(finished, "restart probe exceeded its 60 s budget:\n" + tail)
    assert(p.exitValue() === 0 && out.contains("RESTART_OK"), "restart probe failed:\n" + tail)
  }
}

/** Child-JVM body of the restart test: build every catalog-backed store
  * over a small synthetic corpus in one session, stop it, and serve them
  * all again from a fresh session in the same JVM. Exits non-zero unless
  * both sessions serve identical row counts.
  */
object SessionRestartProbe {
  private def session(): SparkSession =
    graft.util.EngineSession.builder("local[2]", "2").appName("graft-restart").getOrCreate()

  private def serveAll(s: SparkSession, dir: String): Seq[(String, Long)] = {
    val (li, ord) = graft.sources.ColocatedStore.orderJoinTables(s, dir, buckets = 4)
    Seq(
      "postings" -> graft.sources.IndexStore.postings(s, dir).count(),
      "positional" -> graft.sources.IndexStore.positionalPostings(s, dir).count(),
      "tf" -> graft.sources.TermStatsStore.tf(s, dir).count(),
      "stats" -> graft.sources.TermStatsStore.stats(s, dir).count(),
      "colocated" -> (li.count() + ord.count()),
      "streamed_index" -> s.table(graft.queries.TextQueries.StreamedIndex.table(s, dir)).count())
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val s1 = session()
    import s1.implicits._
    (0L until 30L).map(i => (i, s"src${i % 3}", s"the cat sat on mat $i spark index ${i % 5}"))
      .toDF("doc_id", "source", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (0L until 40L).map(i => (i % 10, i)).toDF("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (0L until 10L).map(i => (i, i * 2)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val first = serveAll(s1, dir)
    s1.stop()
    val s2 = session()
    val second = try serveAll(s2, dir) finally s2.stop()
    println(s"first=$first second=$second")
    if (first != second || first.exists(_._2 == 0L)) sys.exit(1)
    println("RESTART_OK")
    sys.exit(0)
  }
}
