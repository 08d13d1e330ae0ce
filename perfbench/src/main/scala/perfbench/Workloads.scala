package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

import graft.SparkEntry
import graft.ckpt.IcebergLikeStore
import graft.graph._
import graft.sources.PageSynth

/**
 * Wall time of every public engine call of one run, by layer. Each call runs
 * under its own job group, so the [[Trace]] listeners attribute its jobs,
 * stages and tasks to it. Nested calls (a checkpoint save inside
 * `PageRank.run`) restore the outer group when they return.
 */
final class Calls(sc: SparkContext) {
  val walls = mutable.LinkedHashMap.empty[String, Double]

  def apply[T](group: String, key: String = null)(body: => T): T = {
    val prev = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try body
    finally {
      val k = Option(key).getOrElse(group)
      walls(k) = walls.getOrElse(k, 0.0) + (System.nanoTime() - t0) / 1e9
      prev match {
        case Some(p) => sc.setJobGroup(p, p)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def wall(k: String): Double = walls.getOrElse(k, 0.0)
}

/** The store's rank checkpointer, with every save timed as the `ckpt` layer. */
final class TimedCheckpointer(inner: PageRank.Checkpointer, calls: Calls)
    extends PageRank.Checkpointer {
  val saveMs = mutable.ArrayBuffer.empty[Double]

  def save(iter: Int, ranks: DataFrame, metrics: Seq[IterMetrics]): DataFrame = {
    val t0 = System.nanoTime()
    val out = calls("ckpt")(inner.save(iter, ranks, metrics))
    saveMs += (System.nanoTime() - t0) / 1e6
    out
  }

  def latest(): Option[(Int, DataFrame, Seq[IterMetrics])] = inner.latest()
}

/** What one timed run leaves for its check, its metrics and its clean-up. */
trait Done {
  /** Σ |E| × supersteps over the PageRank calls of the run, and their wall. */
  def edgeSteps: Double
  def pagerankSeconds: Double
  /** Mismatches against the references; empty when the outputs are right. */
  def check(): Seq[String]
  /** Per-layer metrics of a traced run (layers this workload does not run
    * are reported as 0 by the caller). */
  def layers(span: String => Span): Map[String, Double]
  def release(): Unit
}

/** One benchmark workload: inputs and references (untimed), then runs. A
  * warm-up run makes the same public calls as a timed run, with fewer
  * supersteps where the workload iterates. */
trait Workload {
  def prepare(spark: SparkSession): Unit
  /** Input sizes made by [[prepare]], for the run record. */
  def sizes: Map[String, Long]
  def run(spark: SparkSession, calls: Calls, warm: Boolean): Done
}

object Workloads {
  val Cores = 4
  /** Supersteps of an iterating call in a warm-up run. */
  val WarmSteps = 5
  private val MB = 1048576.0

  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "crawl-pipeline" => new CrawlPipeline(seed, work)
    case "graph-queries"  => new GraphQueries(seed, work)
    case other            => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def edgeArrays(df: DataFrame): (Array[Long], Array[Long]) = {
    val rows = df.select(col("src").cast("long"), col("dst").cast("long")).collect()
    (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }

  /** Ranks match the reference within relative 1e-6, sum to 1 ± 1e-9, and
    * took the reference's superstep count. */
  private def checkRanks(res: PageRankResult, ref: Reference.Ranks): Seq[String] = {
    val got = res.ranks.select(col("vid"), col("rank")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val errs = mutable.ArrayBuffer.empty[String]
    if (res.iterations != ref.steps)
      errs += s"pagerank ran ${res.iterations} supersteps, reference ${ref.steps}"
    if (got.size != ref.ids.length)
      errs += s"pagerank returned ${got.size} vertices, reference ${ref.ids.length}"
    val total = got.values.sum
    if (math.abs(total - 1.0) > 1e-9) errs += s"pagerank ranks sum to $total"
    val bad = ref.ids.indices.count { i =>
      got.get(ref.ids(i)).forall(g => math.abs(g - ref.rank(i)) > 1e-6 * math.abs(ref.rank(i)))
    }
    if (bad > 0) errs += s"pagerank: $bad ranks differ from the reference by more than 1e-6 relative"
    errs.toSeq
  }

  /** The metrics every PageRank call reports: its own result plus its span. */
  private def pagerankLayers(res: PageRankResult, wall: Double, ckptS: Double,
                             s: Span): Map[String, Double] = {
    val steps = res.metrics.map(_.wallMs.toDouble)
    Map(
      "pagerank.s" -> wall,
      "pagerank.prologue_s" -> (wall - steps.sum / 1000.0 - ckptS),
      "pagerank.supersteps" -> res.iterations.toDouble,
      "pagerank.superstep_ms.p50" -> Stats.quantile(steps, 0.5),
      "pagerank.superstep_ms.p95" -> Stats.quantile(steps, 0.95),
      "pagerank.final_l1" -> res.metrics.lastOption.map(_.l1).getOrElse(0.0),
      "pagerank.jobs" -> s.jobs.toDouble,
      "pagerank.stages" -> s.stages.toDouble,
      "pagerank.task_s" -> s.taskMs / 1000.0,
      "pagerank.cpu_util" -> s.cpuNs / 1e9 / (wall * Cores),
      "pagerank.plan_ms" -> s.planMs.toDouble,
      "pagerank.broadcast_mb" -> s.broadcastBytes / MB,
      "pagerank.broadcast_build_ms" -> s.broadcastMs.toDouble,
      "pagerank.shuffle_write_mb" -> s.shuffleWrite / MB,
      "pagerank.spill_mb" -> s.spill / MB,
      "pagerank.task_skew" -> s.taskSkew)
  }

  // ---------------------------------------------------------------------------

  /** The paper's path: committed pages → outlink extraction → edge table →
    * PageRank to L1 < 1e-6 with durable snapshots → resume read. */
  final class CrawlPipeline(seed: Long, work: String) extends Workload {
    val nPages = 48000L
    val ckptEvery = 5
    private val pagesRoot = s"$work/pages-store"
    private var refEdges = 0L
    private var refChecksum = 0L
    private var rawOutlinks = 0L
    private var refRanks: Reference.Ranks = _
    private var runNo = 0

    def prepare(spark: SparkSession): Unit = {
      new IcebergLikeStore(spark, pagesRoot)
        .commit("pages", PageSynth.pages(spark, nPages, seed).toDF())
      // the expected edge table straight from the generator's link lists,
      // without html or Spark: ids are xxhash64 (seed 42) of the url bytes
      def id(url: String): Long = {
        val b = url.getBytes(StandardCharsets.UTF_8)
        XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      }
      val hubs = PageSynth.hubIds(nPages, 4)
      val links = (0L until nPages).flatMap { p =>
        val u = id(PageSynth.url(p, 97))
        PageSynth.targets(p, nPages, seed, hubs).map(t => (u, id(PageSynth.url(t, 97))))
      }
      rawOutlinks = links.length
      val distinct = links.filter { case (u, l) => u != l }.distinct
      val (src, dst) = (distinct.map(_._1).toArray, distinct.map(_._2).toArray)
      refEdges = src.length
      refChecksum = checksum(src, dst)
      refRanks = Reference.pageRank(src, dst, eps = 1e-6, maxIter = 200)
    }

    def sizes: Map[String, Long] =
      Map("pages" -> nPages, "outlinks" -> rawOutlinks, "edges" -> refEdges,
        "vertices" -> refRanks.ids.length.toLong)

    private def checksum(src: Array[Long], dst: Array[Long]): Long =
      src.indices.foldLeft(0L)((acc, i) => acc + PageSynth.mix2(src(i), dst(i)))

    def run(spark: SparkSession, calls: Calls, warm: Boolean): Done = {
      runNo += 1
      // a fresh store root per run: the same root would resume from the
      // previous run's final snapshot and time a single superstep
      val root = s"$work/store-$runNo"
      val store = new IcebergLikeStore(spark, root)
      val pagesStore = new IcebergLikeStore(spark, pagesRoot)
      calls("ingest") {
        store.commit("edges", GraphOps.edgesFromPages(pagesStore.read("pages")))
      }
      val ck = new TimedCheckpointer(store.rankCheckpointer(), calls)
      val res = calls("pagerank") {
        PageRank.run(spark, store.read("edges"),
          PageRankConfig(eps = 1e-6, ckptEvery = ckptEvery, maxIter = if (warm) WarmSteps else 200), ck)
      }
      val resumed = calls("ckpt_resume") {
        val (it, ranks, _) = store.rankCheckpointer().latest().get
        (it, ranks.collect())
      }
      new Done {
        val edgeSteps: Double = refEdges.toDouble * res.iterations
        val pagerankSeconds: Double = calls.wall("pagerank")

        def check(): Seq[String] = {
          val errs = mutable.ArrayBuffer.empty[String]
          val (src, dst) = edgeArrays(store.read("edges"))
          if (src.length != refEdges) errs += s"committed ${src.length} edges, expected $refEdges"
          if (checksum(src, dst) != refChecksum) errs += "committed edge checksum differs"
          errs ++= checkRanks(res, refRanks)
          val hist = store.history("ranks")
          val chain = hist.map(_.snapshotId)
          if (chain != (chain.length - 1 to 0 by -1))
            errs += s"ranks snapshot chain is broken: ${chain.mkString(",")}"
          val saves = (res.iterations + ckptEvery - 1) / ckptEvery
          if (hist.length != saves) errs += s"${hist.length} rank snapshots, expected $saves"
          val latest = resumed._2.map(r => r.getLong(0) -> r.getDouble(1)).toMap
          val returned = res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
          if (resumed._1 != res.iterations - 1 || latest != returned)
            errs += "latest rank snapshot differs from the returned ranks"
          errs.toSeq
        }

        def layers(span: String => Span): Map[String, Double] = {
          val ing = span("ingest")
          val hist = store.history("ranks")
          val ingestS = calls.wall("ingest")
          pagerankLayers(res, calls.wall("pagerank"), calls.wall("ckpt"), span("pagerank")) ++ Map(
            "ingest.s" -> ingestS,
            "ingest.pages_per_s" -> nPages / ingestS,
            "ingest.task_s" -> ing.taskMs / 1000.0,
            "ingest.shuffle_write_mb" -> ing.shuffleWrite / MB,
            "ingest.edge_yield" -> refEdges.toDouble / rawOutlinks,
            "ckpt.saves" -> ck.saveMs.length.toDouble,
            "ckpt.save_ms.p50" -> Stats.median(ck.saveMs.toSeq),
            "ckpt.s" -> calls.wall("ckpt"),
            "ckpt.bytes_mb" -> hist.flatMap(_.files).map(_.bytes).sum / MB,
            "ckpt.files" -> hist.map(_.files.size).sum.toDouble,
            "ckpt.resume_s" -> calls.wall("ckpt_resume"))
        }

        def release(): Unit = {
          GraphOps.freeCheckpoint(res.ranks)
          deleteTree(root)
        }
      }
    }
  }

  /** The keyed graph queries of `SparkEntry` on a small document corpus. */
  final class GraphQueries(seed: Long, work: String) extends Workload {
    val nDocs = 5000L
    /** The fixed-k PageRank family, three other fixed-k drivers (MIS lazy
      * chain, BFS, Katz) and the CC `runLaid` path: engine paths only this
      * workload reaches. A single query varies by 20-30% between runs, so a
      * run times eight and reports their sum; a pass over all 27 graph
      * queries takes about 60 s at local[4], too long for one run. */
    val Names: Seq[String] = Seq("q_pr_iter2", "q_pr_iter3", "q_ppr_iter3", "q_wpr_iter2",
      "q_mis_iter3", "q_bfs_iter4", "q_katz_iter3", "q_cc")
    /** Supersteps of the fixed-k PageRank-family queries. */
    private val PrSteps = Map("q_pr_iter2" -> 2, "q_pr_iter3" -> 3, "q_ppr_iter3" -> 3, "q_wpr_iter2" -> 2)
    private val docsDir = s"$work/docs"
    private val oracleDir = s"$work/oracle"
    private var nEdges = 0L
    private var digests: Map[String, String] = _
    private var runNo = 0

    def prepare(spark: SparkSession): Unit = {
      import spark.implicits._
      // the corpus the graph queries read: contiguous doc ids (the link
      // graph is a function of doc_id and |docs|), text from the page source
      val (n, s) = (nDocs, seed)
      spark.range(0, n, 1, Cores).map { id =>
        val p = PageSynth.page(id, n, s, 97, PageSynth.hubIds(n, 4))
        (id, p.text, p.lang, p.url, p.text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$docsDir/documents.parquet")
      nEdges = graft.operators.DocGraph.edges(spark, docsDir).count()
      Files.createDirectories(Paths.get(oracleDir))
      val sql = SparkEntry.oracleSql
      Json.write(s"$oracleDir/oracle_sql.json", Names.map(n => n -> sql(n)).toMap)
    }

    def sizes: Map[String, Long] = Map("docs" -> nDocs, "edges" -> nEdges)

    def run(spark: SparkSession, calls: Calls, warm: Boolean): Done = {
      runNo += 1
      val results = Names.map { q =>
        // building the frame is timed too: drivers lay out and iterate eagerly
        val (cols, rows) = calls("queries", s"query.$q") {
          val df = SparkEntry.queries(q)(spark, docsDir)
          (df.schema.fieldNames.toSeq, df.collect())
        }
        spark.catalog.clearCache()
        (q, cols, rows)
      }
      val runId = runNo
      new Done {
        val edgeSteps: Double = PrSteps.values.sum.toDouble * nEdges
        val pagerankSeconds: Double = PrSteps.keys.map(q => calls.wall(s"query.$q")).sum

        def check(): Seq[String] = {
          val got = results.map { case (q, cols, rows) => q -> digest(cols, rows) }.toMap
          if (digests == null) {
            // the first checked run is exported for the DuckDB oracle
            // compare; every later run must reproduce it exactly
            digests = got
            results.foreach { case (q, cols, rows) => export(q, cols, rows) }
            Nil
          } else
            Names.filter(q => got(q) != digests(q)).map(q => s"$q result differs from run 1 (run $runId)")
        }

        def layers(span: String => Span): Map[String, Double] = {
          val s = span("queries")
          val wall = Names.map(q => calls.wall(s"query.$q")).sum
          Names.map(q => s"query.$q.s" -> calls.wall(s"query.$q")).toMap ++ Map(
            "queries.jobs" -> s.jobs.toDouble,
            "queries.stages" -> s.stages.toDouble,
            "queries.plan_ms" -> s.planMs.toDouble,
            "queries.task_s" -> s.taskMs / 1000.0,
            "queries.cpu_util" -> s.cpuNs / 1e9 / (wall * Cores))
        }

        def release(): Unit = ()
      }
    }

    /** SHA-1 of the rows with columns by name and rows sorted. */
    private def digest(cols: Seq[String], rows: Array[Row]): String = {
      val idx = cols.zipWithIndex.sortBy(_._1).map(_._2)
      val lines = rows.map(r => idx.map(i => String.valueOf(r.get(i))).mkString("\u0001")).sorted
      val md = java.security.MessageDigest.getInstance("SHA-1")
      lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }

    /** Rows as JSON (columns + row arrays) for the oracle compare. */
    private def export(q: String, cols: Seq[String], rows: Array[Row]): Unit = {
      val data = rows.map(r => r.toSeq.map {
        case b: java.math.BigDecimal => b.toPlainString
        case v => v
      })
      Json.write(s"$oracleDir/$q.json", Map("columns" -> cols, "rows" -> data.toSeq))
    }
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
  def string(v: Any): String = mapper.writeValueAsString(v)
}
