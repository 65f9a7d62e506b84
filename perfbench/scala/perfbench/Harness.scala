package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{BooleanQuery, Dedup, Graph, InvertedIndex}
import graft.sources.{Corpus, IndexStore, Tables, TermStatsStore, VectorStore}
import graft.util.EngineSession

/** Drives one workload through the engine's public layer functions from
  * one client thread and writes every set-up time, timed operation,
  * answer and (when tracing) span and Spark counter to a JSON-lines file.
  * `run.py` checks the answers and turns the records into metrics.
  *
  * Arguments are `key=value`: workload, input, work, out, seconds, trace,
  * cores, setups.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val h = new Harness(conf, entry)
    try h.run() finally h.close()
  }
}

final class Harness(conf: Map[String, String], entry: Long) {
  private val workload = conf("workload")
  private val input = conf("input")
  private val work = conf("work")
  private val seconds = conf("seconds").toDouble
  private val traced = conf("trace") == "1"
  private val cores = conf("cores").toInt
  private val setups = conf("setups").toInt
  private val out = new PrintWriter(Files.newBufferedWriter(Paths.get(conf("out"))))

  private val tr = new Tracer
  // one (wall ms, nanoTime) pair to place spans on the listeners' clock
  private val clockMs = System.currentTimeMillis()
  private val clockNs = System.nanoTime()
  private val listeners = ArrayBuffer[(LayerListener, PlanListener)]()
  private var spark: SparkSession = _
  private var copies = 0

  private def emit(kind: String, fields: (String, Any)*): Unit =
    out.println(Json(Map("type" -> kind) ++ fields))

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def close(): Unit = {
    if (spark != null) stopSession()
    listeners.foreach { case (l, p) =>
      l.stages.values.foreach(r => emit("stage", r.toMap.toSeq: _*))
      l.jobs.foreach { case (job, span) => emit("job", "job" -> job, "span" -> span) }
      p.plans.values.foreach { case (start, end, ms) =>
        emit("plan", "start_ms" -> start, "end_ms" -> end, "ms" -> ms)
      }
    }
    tr.spans.foreach { s =>
      emit("span", "id" -> s.id, "parent" -> s.parent, "request" -> s.request,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)
    }
    emit("clock", "ms" -> clockMs, "ns" -> clockNs)
    emit("rss", "peak_mb" -> peakRssMb)
    out.close()
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  // ------------------------------------------------------------ session

  private def startSession(): Unit = {
    spark = tr("util.session") {
      EngineSession.builder(s"local[$cores]", cores.toString)
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
    }
    if (traced) {
      val l = new LayerListener
      val p = new PlanListener
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(p)
      listeners += ((l, p))
    }
  }

  /** Stopping drains the listener bus, so the listeners are complete. */
  private def stopSession(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** A private copy of an input directory: the engine's stores are memoised
    * per process and corpus path, so each build needs a path of its own.
    */
  private def fresh(sub: String): String = {
    copies += 1
    val src = Paths.get(input, sub)
    val dst = Paths.get(work, s"copy$copies")
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
    dst.toString
  }

  // ---------------------------------------------------------------- run

  def run(): Unit = {
    tr.on = traced
    val w: Workload = workload match {
      case "index_build" => new IndexBuild
      case "query_serve" => new QueryServe
      case "dedup_curate" => new DedupCurate
      case "graph_fixpoint" => new GraphFixpoint
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    for (i <- 0 until setups) {
      if (spark != null) stopSession()
      val t0 = if (i == 0) entry else System.nanoTime()
      startSession()
      w.setup()
      emit("setup", "i" -> i, "s" -> secondsSince(t0))
    }
    if (traced) {
      tr.on = false
      loop(w, "untraced", seconds / 2)
      tr.on = true
      w.probes()
      loop(w, "traced", seconds / 2)
    } else loop(w, "timed", seconds)
    w.verify()
  }

  /** Closed loop, one client: the next operation starts when the previous
    * one has returned. Runs at least `w.minOps` operations and stops only
    * after a whole round, so every run sees the same operation mix.
    */
  private def loop(w: Workload, phase: String, budget: Double): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < w.minOps || secondsSince(t0) < budget || i % w.round != 0) {
      w.op(phase, i)
      i += 1
    }
  }

  /** Times `body` as one operation and records its answer or its error. */
  private def timed(phase: String, kind: String, id: Int)(body: => Any): Unit = {
    val t0 = System.nanoTime()
    val res = try Right(tr.request(kind)(body)) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Right(answer) =>
        emit("op", "phase" -> phase, "kind" -> kind, "id" -> id, "ms" -> ms, "answer" -> answer)
      case Left(e) =>
        emit("op", "phase" -> phase, "kind" -> kind, "id" -> id, "ms" -> ms,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** An operator call (construct) followed by its result action. */
  private def call(name: String)(construct: => DataFrame): Array[Row] = {
    val df = tr(name)(construct)
    tr(s"$name.action")(df.collect())
  }

  private def docs(dir: String): DataFrame = tr("sources.corpus")(Corpus.documents(spark, dir))

  private def storeBytes(dfs: DataFrame*): Long =
    dfs.flatMap(_.inputFiles).distinct.map(f => new File(new java.net.URI(f)).length()).sum

  private def digest(rows: Array[Row], f: Row => Long): Seq[Long] = {
    val xs = rows.map(f)
    Seq(xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
  }

  private sealed trait Workload {
    def minOps: Int = 2
    def round: Int = 1
    def setup(): Unit
    def op(phase: String, i: Int): Unit
    def probes(): Unit = ()
    def verify(): Unit = ()
  }

  /** The text-layer probes of the traced run: the tokenizer and the
    * shingle-hash kernels, each timed over the whole corpus.
    */
  private def textProbes(dir: String): Unit = {
    val d = Corpus.documents(spark, dir)
    tr("functions.tokenize") {
      d.select(sum(size(Text.tokenize(col("text"))))).collect()
    }
    tr("plans.shingle_hash") {
      Dedup.hashValues(d.select(col("doc_id"), Text.tokenize(col("text")).as("ts"))
          .select(col("doc_id"), Text.shinglesFromTokens(col("ts"), 3).as("sh")))
        .select(sum(size(col("hv")))).collect()
    }
  }

  // ------------------------------------------------------- index_build

  private final class IndexBuild extends Workload {
    private val built = ArrayBuffer[String]()

    private def buildStores(dir: String): Unit = {
      tr("sources.postings.build")(IndexStore.postings(spark, dir))
      tr("sources.positional.build")(IndexStore.positionalPostings(spark, dir))
      tr("sources.termstats.build") {
        TermStatsStore.stats(spark, dir)
        TermStatsStore.scalars(spark, dir)
      }
    }

    def setup(): Unit = buildStores(fresh("warm"))

    override def probes(): Unit = textProbes(s"$input/corpus")

    def op(phase: String, i: Int): Unit = {
      val dir = fresh("corpus")
      built += dir
      timed(phase, "index_build", i)(buildStores(dir))
    }

    override def verify(): Unit = built.zipWithIndex.foreach { case (dir, i) =>
      val sample = Files.readAllLines(Paths.get(input, "df_sample.txt")).asScala.toSeq
      val post = IndexStore.postings(spark, dir)
      val pos = IndexStore.positionalPostings(spark, dir)
      val stats = TermStatsStore.stats(spark, dir)
      val sc = TermStatsStore.scalars(spark, dir).collect().head
      val stores = Seq(post, pos, TermStatsStore.tf(spark, dir), stats,
        TermStatsStore.docLengths(spark, dir), TermStatsStore.scalars(spark, dir))
      emit("check", "kind" -> "index_build", "id" -> i, "answer" -> Map(
        "postings_rows" -> post.count(),
        "positional_rows" -> pos.count(),
        "stats_rows" -> stats.count(),
        "df_sample" -> stats.filter(col("term").isin(sample: _*)).select("term", "df")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
        "n_docs" -> sc.getAs[Long]("n_docs"),
        "avgdl" -> sc.getAs[Double]("avgdl"),
        "n_corpus" -> sc.getAs[Long]("n_corpus"),
        "store_bytes" -> storeBytes(stores: _*)))
    }
  }

  // ------------------------------------------------------- query_serve

  private final class QueryServe extends Workload {
    private val queries: IndexedSeq[Array[String]] =
      Files.readAllLines(Paths.get(input, "queries.tsv")).asScala.map(_.split("\t")).toIndexedSeq
    private var dir: String = _

    override def round: Int = queries.length.min(20)
    override def minOps: Int = round

    def setup(): Unit = {
      dir = fresh("corpus")
      val stores = Seq(
        tr("sources.postings.build")(IndexStore.postings(spark, dir)),
        tr("sources.positional.build")(IndexStore.positionalPostings(spark, dir)),
        tr("sources.termstats.build") {
          TermStatsStore.scalars(spark, dir)
          TermStatsStore.stats(spark, dir)
        },
        tr("sources.vectors.build") {
          VectorStore.ivf(spark, dir)
          VectorStore.vectors(spark, dir)
        })
      emit("store", "bytes" -> storeBytes(stores ++ Seq(TermStatsStore.tf(spark, dir),
        TermStatsStore.docLengths(spark, dir), VectorStore.ivf(spark, dir)._1): _*))
      // untimed warm-up: the first query on each store (the boolean kinds
      // share the lookup's postings scan)
      Seq("lookup", "phrase", "bm25", "topk", "ivf")
        .foreach(kind => answer(queries.find(_(1) == kind).get))
    }

    private def answer(q: Array[String]): Any = {
      def postings = tr("sources.postings.serve")(IndexStore.postings(spark, dir))
      def ids(rows: Array[Row]) = digest(rows, _.getLong(0))
      def ranked(rows: Array[Row]) = rows.map(r => Seq(r.getLong(0), r.getDouble(1))).toSeq
      q(1) match {
        case "lookup" => ids(call("operators.lookup")(InvertedIndex.lookup(postings, q(2))))
        case "and" => ids(call("operators.bool")(BooleanQuery.and(postings, Seq(q(2), q(3)))))
        case "or" => ids(call("operators.bool")(BooleanQuery.or(postings, Seq(q(2), q(3)))))
        case "andnot" =>
          ids(call("operators.bool")(BooleanQuery.andNot(postings, q(2), Seq(q(3)))))
        case "phrase" =>
          val pos = tr("sources.positional.serve")(IndexStore.positionalPostings(spark, dir))
          digest(call("operators.phrase")(InvertedIndex.phraseQuery(pos, Seq(q(2), q(3)))),
            r => r.getLong(0) * 1000 + r.getLong(1))
        case "bm25" =>
          ranked(call("operators.bm25")(TermStatsStore.bm25(spark, dir, Seq(q(2), q(3)), 10)))
        case "topk" =>
          ranked(call("operators.vector_topk")(VectorStore.topK(spark, dir, q(2).toLong, 10)))
        case "ivf" =>
          ranked(call("operators.vector_topk")(VectorStore.ivfTopK(spark, dir, q(2).toLong, 10)))
      }
    }

    def op(phase: String, i: Int): Unit = {
      val q = queries(i % queries.length)
      timed(phase, q(1), q(0).toInt)(answer(q))
    }
  }

  // ------------------------------------------------------ dedup_curate

  private final class DedupCurate extends Workload {
    private def pass(dir: String): Map[String, Any] = {
      val d = docs(dir)
      val exact = call("operators.dedup_exact")(Dedup.exact(d).filter(col("is_dup")))
      val near = tr("operators.dedup_near")(Dedup.nearDuplicates(d))
      val pairs = tr("operators.dedup_near.action")(near.collect())
      val clusters = call("operators.dedup_clusters")(Dedup.clusters(near))
      Map(
        "exact" -> exact.map(r => Seq(r.getAs[Long]("doc_id"), r.getAs[Long]("canonical_id"))).toSeq,
        "near" -> pairs.map(r => Seq(r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
        "clusters" -> clusters.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq)
    }

    def setup(): Unit = pass(s"$input/warm")

    override def probes(): Unit = textProbes(s"$input/corpus")

    def op(phase: String, i: Int): Unit =
      timed(phase, "dedup", i)(pass(s"$input/corpus"))
  }

  // ---------------------------------------------------- graph_fixpoint

  private final class GraphFixpoint extends Workload {
    private val iters = conf("iters").split(",").map(_.toInt)
    private def pass(dir: String): Map[String, Any] = {
      val (edges, nodes) = tr("sources.graph") {
        (Tables.tbl(spark, dir, "edges"), Tables.tbl(spark, dir, "nodes"))
      }
      val pr = call("operators.pagerank")(Graph.pageRank(edges, nodes, iters(0)))
      val hits = call("operators.hits")(Graph.hits(edges, nodes, iters(1)))
      val lpa = call("operators.lpa")(Graph.labelPropagation(edges, nodes, iters(2)))
      Map(
        "pagerank" -> pr.map(r => Seq(r.getLong(0), r.getDouble(1))).toSeq,
        "hits" -> hits.map(r => Seq(r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq,
        "lpa" -> lpa.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq)
    }

    def setup(): Unit = pass(s"$input/warm")

    def op(phase: String, i: Int): Unit =
      timed(phase, "graph", i)(pass(s"$input/corpus"))
  }
}
