package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point, one workload per JVM:
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *                  --cores C --scratch DIR --data DIR --trace-dir DIR
 *                  [--scale full|smoke]
 *
 * `run.py` builds the classpath and starts this; run that instead.
 *
 * A run sets the workload up [[SetupReps]] times (the median is `setup_s`),
 * then measures it untraced for `--seconds`. With `--trace 1` it then sets
 * up once more and measures again with spans and the [[Layers]] listener
 * on; it prints the per-layer metrics of that traced phase and writes the
 * spans, a per-layer self-time table and the tracing overhead (traced
 * minus untraced, for every end-to-end metric) to `--trace-dir`.
 *
 * The last stdout line is the result:
 * {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}
 */
object Main {
  val SetupReps = 3

  /** End-to-end metrics: every workload reports each of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "items_per_s" -> "1/s",
    "op_p50_ms" -> "ms",
    "op_p90_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  /** Per-layer metrics: a traced run reports each of them; a layer the
    * workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "warc_extract.s" -> "s", "warc_extract.records" -> "count",
    "warc_extract.mb_in" -> "MB", "warc_extract.task_cpu_s" -> "s",
    "warc_extract.bad_members" -> "count",
    "boundaries.sample_s" -> "s",
    "build.s" -> "s", "build.task_cpu_s" -> "s", "build.gc_s" -> "s",
    "build.shuffle_write_mb" -> "MB", "build.shuffle_read_mb" -> "MB",
    "build.spill_mb" -> "MB", "build.task_skew" -> "ratio",
    "zipnum_write.bytes" -> "B", "zipnum_write.blocks" -> "count",
    "zipnum_write.bytes_per_record" -> "B",
    "merge.s" -> "s", "merge.task_cpu_s" -> "s", "merge.rows_in" -> "count",
    "merge.rows_out" -> "count", "merge.keep_ratio" -> "ratio",
    "merge.shuffle_write_mb" -> "MB",
    "zipnum_index.load_ms" -> "ms", "zipnum_index.prune_us" -> "us",
    "zipnum_index.blocks_in_range_p50" -> "count",
    "zipnum_index.blocks_in_range_p99" -> "count",
    "zipnum_index.slices" -> "count",
    "zipnum_read.bytes_read" -> "B", "zipnum_read.rows_per_block_read" -> "count",
    "zipnum_scan.plan_ms" -> "ms",
    "lookup.spark_jobs" -> "count", "lookup.driver_floor_ms" -> "ms",
    "lookup.repeat_share" -> "ratio",
    "battery.jobs" -> "count", "battery.stages" -> "count",
    "battery.tasks" -> "count", "battery.planning_s" -> "s",
    "battery.driver_floor_s" -> "s", "battery.task_cpu_s" -> "s",
    "battery.gc_s" -> "s", "battery.shuffle_write_mb" -> "MB",
    "battery.spill_mb" -> "MB", "battery.input_mb" -> "MB"
  ) ++ QueryBattery.Families.map(f => s"battery.family.${f}_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val cores = need("cores").toInt
    val scratch = new File(need("scratch"))
    val t0 = System.nanoTime()
    val spark = session(cores, scratch)
    System.err.println(f"[perfbench] session: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    try run(spark, opt, need, cores, scratch)
    finally {
      val t1 = System.nanoTime()
      spark.stop()
      System.err.println(f"[perfbench] stop: ${(System.nanoTime() - t1) / 1e9}%.2f s")
    }
  }

  /** The session `graft.Bench` uses (AQE on, codegen cache 10000, shuffle
    * compression off). Spark's own scratch space is SPARK_LOCAL_DIRS,
    * which run.py points into the run's scratch directory. */
  def session(cores: Int, scratch: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.shuffle.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(spark: SparkSession, opt: Map[String, String],
                  need: String => String, cores: Int, scratch: File): Unit = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val layers = new Layers(sc)
    sc.addSparkListener(layers)
    val ctx = new Ctx(spark, cores, need("seed").toLong, need("seconds").toDouble,
      opt.getOrElse("scale", "full"), scratch, new File(need("data")), tracer, layers)
    val workload = need("workload")
    val w: Workload = workload match {
      case "index-pipeline" => new IndexPipeline(ctx)
      case "range-lookup" => new RangeLookup(ctx)
      case "query-battery" => new QueryBattery(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    opt.get("record-fingerprints").foreach { out =>
      val lines = w.asInstanceOf[QueryBattery].record(opt.get("oracle-dir").map(new File(_)))
      val header = "# gate\trows\tsha256 of the sorted rendered rows; each matched the " +
        "graft.Verify output that passed tools/selfcheck.py at sf0.001\n"
      Files.write(new File(out).toPath,
        (header + lines.mkString("\n") + "\n").getBytes(UTF_8))
      System.err.println(s"[perfbench] recorded ${lines.size} fingerprints to $out")
      return
    }

    def timedSetUp(): Double = {
      val t0 = System.nanoTime()
      tracer.op("setup")(w.setUp())
      release(spark)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $workload set-up: $s%.2f s")
      s
    }
    val setupS = Stats.median((1 to SetupReps).map(_ => timedSetUp()))
    val measured = measureNoting(w)
    val untraced = measured.e2e +
      ("setup_s" -> setupS) + ("peak_rss_mb" -> Proc.peakRssMb())

    val metrics: Seq[(String, Double, String)] =
      if (need("trace") != "1")
        EndToEnd.map { case (n, u) => (n, untraced(n), u) }
      else {
        tracer.enabled = true
        val tracedSetup = timedSetUp()
        val setupSpans = tracer.take()
        layers.reset()
        val traced = w.measure(traced = true)
        tracer.enabled = false
        val tracedE2e = traced.e2e + ("setup_s" -> tracedSetup) +
          ("peak_rss_mb" -> Proc.peakRssMb())
        writeTrace(new File(need("trace-dir")), setupSpans ++ tracer.take(),
          untraced, tracedE2e)
        PerLayer.map { case (n, u) => (n, traced.layers.getOrElse(n, 0.0), u) }
      }

    val (attempted, failed) = w.tally.counts
    val (passed, wrong) = w.tally.checkCounts
    System.err.println(s"[perfbench] output checks: $passed passed, $wrong failed; " +
      s"operations: $attempted attempted, $failed failed")
    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  /** Measure untraced, and report on stderr how much CPU time other
    * tenants of the host took meanwhile (steal, from /proc/stat): a phase
    * with more than a few percent of steal reads markedly slower. */
  private def measureNoting(w: Workload): Measured = {
    val t0 = System.nanoTime()
    val (steal0, total0) = Proc.cpuTicks()
    val m = w.measure(traced = false)
    val (steal1, total1) = Proc.cpuTicks()
    System.err.println(f"[perfbench] measure: ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
      f"CPU steal ${100.0 * (steal1 - steal0) / math.max(1L, total1 - total0)}%.1f%%")
    m
  }

  /** Drop everything set-up cached: cached RDDs and tables, and (through
    * a GC, which lets Spark's ContextCleaner run) the shuffle files of
    * jobs that are gone. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def writeTrace(dir: File, spans: Seq[Span], untraced: Map[String, Double],
                         traced: Map[String, Double]): Unit = {
    dir.mkdirs()
    def write(name: String, text: String): Unit =
      Files.write(new File(dir, name).toPath, text.getBytes(UTF_8))
    write("spans.json", Trace.spansJson(spans))
    val table = Trace.formatTable(Trace.table(spans))
    val overhead = EndToEnd.map { case (n, u) =>
      f"$n%-14s untraced ${untraced(n)}%14.4f traced ${traced(n)}%14.4f " +
        f"overhead ${traced(n) - untraced(n)}%+12.4f $u"
    }.mkString("\n")
    write("layers.txt", table + "\n")
    write("overhead.txt", overhead + "\n")
    System.err.println(s"[perfbench] per-layer self time:\n$table\n" +
      s"[perfbench] tracing overhead (traced - untraced):\n$overhead\n" +
      s"[perfbench] trace written to $dir")
  }
}
