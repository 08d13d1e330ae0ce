package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run of one workload, in one JVM:
 *
 *  1. set-up: start a SparkSession at `local[4]`, make the inputs from the
 *     seed and the references (both excluded from `setup_s`), then one
 *     untimed warm-up run (JIT, per-JVM memos, first layout);
 *  2. timed runs, one after the other, until `seconds` have passed; each is
 *     checked against the references outside its timed bracket;
 *  3. with `--trace 1`, every second run is traced: the listeners of
 *     [[Trace]] are attached for it alone, and the traced runs give the
 *     per-layer metrics and `trace_overhead`.
 *
 * Prints one record per run, then the result object as the last line:
 * `{"attempted":…,"failed":…,"errors":[…],"metrics":{name: value}}`.
 *
 * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
 */
object Main {
  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Workloads.Cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Workloads.Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def uptime(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** One timed run, as measured. */
  final case class RunRecord(traced: Boolean, wallS: Double, prS: Double, edgeSteps: Double,
                             cachePeakMb: Double, errors: Seq[String], contention: Contention,
                             layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val wl = Workloads(name, seed, work)

    // ---- set-up: session start + one warm-up run ---------------------------
    val t0 = System.nanoTime()
    val spark = session(work)
    val p0 = System.nanoTime()
    wl.prepare(spark)
    val prepareS = (System.nanoTime() - p0) / 1e9
    wl.run(spark, new Calls(spark.sparkContext), warm = true).release()
    spark.catalog.clearCache()
    val setupS = (System.nanoTime() - t0) / 1e9 - prepareS

    println("perfbench-setup " + Json.string(Map("setup_s" -> setupS, "prepare_s" -> prepareS,
      "inputs" -> wl.sizes, "jvm_uptime_s" -> uptime())))

    // ---- timed runs --------------------------------------------------------
    val blocks = new BlockBytes(spark)
    blocks.attach()
    val tracer = new Trace(spark)
    val records = mutable.ArrayBuffer.empty[RunRecord]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // another run starts only when a run of the median length still ends
    // by the deadline, so a run measures about `seconds` whatever the size
    def more: Boolean =
      records.isEmpty || (trace && !records.exists(_.traced)) ||
        System.nanoTime() + Stats.median(records.map(_.wallS).toSeq) * 1e9 <= deadline
    while (more) {
      val traced = trace && records.length % 2 == 1
      if (traced) { tracer.reset(); tracer.attach() }
      blocks.start()
      val gc0 = Jvm.gcSeconds()
      val calls = new Calls(spark.sparkContext)
      val r0 = System.nanoTime()
      val cpu0 = Jvm.cpuSeconds()
      val (done, cont) = Contention.around {
        try Right(wl.run(spark, calls, warm = false))
        catch { case e: Throwable => Left(e) }
      }
      val wall = (System.nanoTime() - r0) / 1e9
      val cpu = Jvm.cpuSeconds() - cpu0
      val gc = Jvm.gcSeconds() - gc0
      val peak = blocks.peak()
      spark.sparkContext.clearJobGroup()
      val rec = done match {
        case Left(e) =>
          RunRecord(traced, wall, 0, 0, peak / 1048576.0, Seq(s"run threw: $e"), cont, Map.empty)
        case Right(d) =>
          val errs =
            try d.check()
            catch { case e: Throwable => Seq(s"check threw: $e") }
          val layers =
            if (!traced) Map.empty[String, Double]
            else d.layers(g => tracer.take(g))
          d.release()
          spark.catalog.clearCache()
          val leak = blocks.held() / 1048576.0
          RunRecord(traced, wall, d.pagerankSeconds, d.edgeSteps, peak / 1048576.0, errs, cont,
            if (traced) layers ++ Map("jvm.gc_s" -> gc, "cache_leak_mb" -> leak) else layers)
      }
      if (traced) tracer.detach()
      spark.catalog.clearCache()
      records += rec
      println("perfbench-run " + Json.string(Map(
        "traced" -> rec.traced, "wall_s" -> rec.wallS, "cpu_s" -> cpu, "pagerank_s" -> rec.prS,
        "cache_peak_mb" -> rec.cachePeakMb, "load" -> rec.contention.load,
        "steal_pct" -> rec.contention.stealPct, "busy_pct" -> rec.contention.busyPct,
        "errors" -> rec.errors, "jvm_uptime_s" -> uptime())))
    }
    spark.stop()

    // ---- result ------------------------------------------------------------
    val plain = records.filterNot(_.traced)
    val ok = plain.filter(_.errors.isEmpty)
    def med(rs: Iterable[RunRecord])(f: RunRecord => Double): Double = Stats.median(rs.map(f).toSeq)
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> setupS,
        "run_s" -> med(ok)(_.wallS),
        "edges_per_s" -> med(ok)(r => r.edgeSteps / r.prS),
        "ok_frac" -> ok.length.toDouble / plain.length,
        "cache_peak_mb" -> med(ok)(_.cachePeakMb))
      else {
        val tr = records.filter(r => r.traced && r.errors.isEmpty)
        val names = tr.flatMap(_.layers.keys).distinct
        names.map(n => n -> med(tr)(_.layers(n))).toMap ++
          Map("trace_overhead" -> med(tr)(_.wallS) / med(ok)(_.wallS))
      }
    val errors = records.flatMap(_.errors).distinct
    println(Json.string(Map(
      "attempted" -> records.length,
      "failed" -> records.count(_.errors.nonEmpty),
      "errors" -> errors,
      "metrics" -> metrics)))
  }
}
