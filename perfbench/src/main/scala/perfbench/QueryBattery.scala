package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/**
 * `query-battery`: the analytics path. A fixed battery of `SparkEntry`
 * oracle gates runs over the sf0.001 tables shipped in `data/`, each
 * materialized through the `noop` sink as `graft.Bench` does, in an order
 * the seed permutes. Per-query walls are short, so the fixed per-query
 * cost (planning, AQE re-planning, job scheduling) dominates.
 *
 * The battery holds gates from every family that reads only its input
 * tables. Gates that stage fixtures under the library's fixed scratch
 * directory (every WARC and streaming gate, and the ZipNum round trips)
 * would write outside the benchmark's checkout and are left out.
 *
 * Output check: before the first measured pass, one untimed pass collects
 * each gate's result and compares its fingerprint with
 * `battery-fingerprints.tsv`, recorded from a run whose results matched
 * the DuckDB oracle (`tools/selfcheck.py`).
 */
object QueryBattery {

  /** gate → family; the family subtotals of the traced run use it. */
  val Gates: Seq[(String, String)] = Seq(
    "relational" -> Seq("q01_agg", "q14_topk_group"),
    "cdx" -> Seq("q04_day_cap", "q49_http_paged"),
    "text" -> Seq("q60_tfidf", "q85_dsir", "q94_collocation"),
    "ann" -> Seq("q124_ann_pq_rerank"),
    "media" -> Seq("q112_png_decode")
  ).flatMap { case (family, names) => names.map(_ -> family) }

  val Families: Seq[String] = Gates.map(_._2).distinct

  def gates(ctx: Ctx): Seq[(String, String)] =
    if (ctx.smoke) Gates.filter(g => Set("q01_agg", "q49_http_paged", "q60_tfidf")(g._1))
    else Gates

  /** Order-independent digest of a result: columns sorted by name, each row
    * rendered as text, rows sorted. Returns "rows<TAB>sha256". */
  def fingerprint(df: DataFrame, rows: Array[Row]): String = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    def cell(v: Any): String = v match {
      case null => "\\N"
      case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("{", ",", "}")
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("<", ",", ">")
      case other => other.toString
    }
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    s"${rows.length}\t${md.digest().map(b => f"$b%02x").mkString}"
  }

  def readFingerprints(f: File): Map[String, String] =
    new String(Files.readAllBytes(f.toPath), UTF_8).split("\n").toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(g, n, h) = l.split("\t"); g -> s"$n\t$h" }.toMap

  /** Sums the phase times of `QueryExecution.tracker` over every finished
    * query execution. */
  final class Planning extends QueryExecutionListener {
    @volatile var ns = 0L
    private def add(qe: QueryExecution): Unit = synchronized {
      ns += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }
}

final class QueryBattery(ctx: Ctx) extends Workload {
  import QueryBattery._

  val tally = new Tally
  private val battery = gates(ctx)
  private val family = battery.toMap
  private lazy val fingerprints = readFingerprints(new File(ctx.dataDir, "battery-fingerprints.tsv"))
  private val sfDir = new File(ctx.scratch, "sf0.001")
  private val rnd = new java.util.Random(ctx.seed)
  private val spark: SparkSession = ctx.spark
  private val entry = SparkEntry.queries

  private def shuffled(): Seq[String] = {
    val names = new java.util.ArrayList[String]()
    battery.foreach(g => names.add(g._1))
    java.util.Collections.shuffle(names, rnd)
    scala.jdk.CollectionConverters.ListHasAsScala(names).asScala.toSeq
  }

  private def materialize(g: String): Unit =
    entry(g)(spark, sfDir.getPath).write.format("noop").mode("overwrite").save()

  /** Stage the tables into the run's scratch area and run two untimed
    * passes over the battery (planning and job submission keep getting
    * faster for several passes as the JIT compiles them). */
  def setUp(): Unit = {
    ctx.tracer.span("stage")(Fs.copyDir(new File(ctx.dataDir, "sf0.001"), {
      Fs.delete(sfDir); sfDir
    }))
    (shuffled() ++ shuffled()).foreach { g =>
      try { ctx.tracer.span("battery.warm")(materialize(g)); tally.ok() }
      catch { case e: Exception => tally.fail(s"$g: $e") }
    }
  }

  private var checked = false

  /** Collect every gate once and compare its fingerprint with the recorded
    * one. */
  private def check(): Unit = battery.foreach { case (g, _) =>
    try {
      val df = entry(g)(spark, sfDir.getPath)
      val got = fingerprint(df, df.collect())
      val want = fingerprints.get(g)
      tally.check(want.contains(got),
        s"$g: result fingerprint $got, recorded ${want.getOrElse("none")}")
    } catch { case e: Exception => tally.fail(s"$g: $e") }
  }

  /** Collect every gate once and return its fingerprint lines. With
    * `oracleDir` (a `graft.Verify` output directory that passed
    * `tools/selfcheck.py`), every fingerprint must equal that of the
    * gate's verified output. */
  def record(oracleDir: Option[File]): Seq[String] = {
    Fs.copyDir(new File(ctx.dataDir, "sf0.001"), { Fs.delete(sfDir); sfDir })
    battery.map { case (g, _) =>
      val df = entry(g)(spark, sfDir.getPath)
      val fp = fingerprint(df, df.collect())
      oracleDir.foreach { d =>
        val verified = spark.read.parquet(new File(d, g).getPath)
        val want = fingerprint(verified, verified.collect())
        require(fp == want, s"$g: fingerprint $fp differs from the verified output's $want")
      }
      s"$g\t$fp"
    }
  }

  def measure(traced: Boolean): Measured = {
    if (!checked) { check(); checked = true }
    val planning = new Planning
    if (traced) spark.listenerManager.register(planning)
    val walls = Seq.newBuilder[(String, Double)]
    val start = System.nanoTime()
    def timeUp = System.nanoTime() - start >= ctx.seconds * 1e9
    var done = 0
    // stop at the first gate boundary after --seconds: whole passes would
    // make the measured time jump by a pass
    while (done == 0 || !timeUp) {
      shuffled().iterator.takeWhile(_ => done == 0 || !timeUp).foreach { g =>
        val t0 = System.nanoTime()
        try {
          ctx.tracer.op("battery.query")(materialize(g))
          walls += ((g, (System.nanoTime() - t0) / 1e6))
          tally.ok()
        } catch { case e: Exception => tally.fail(s"$g: $e") }
        done += 1
      }
    }
    val elapsed = (System.nanoTime() - start) / 1e9
    if (traced) spark.listenerManager.unregister(planning)
    val ws = walls.result()
    require(ws.nonEmpty, "no gate completed")
    // a gate's wall is the median of its runs (as graft.Bench takes a
    // gate's min over reps), so one disturbed run does not move the
    // percentiles across gates
    val ms = ws.groupBy(_._1).values.map(runs => Stats.median(runs.map(_._2))).toSeq
    val e2e = Map(
      "items_per_s" -> ws.size / elapsed,
      "op_p50_ms" -> Stats.median(ms),
      "op_p90_ms" -> Stats.pct(ms, 90))
    Measured(e2e, if (traced) layerMetrics(ws, planning) else Map.empty)
  }

  /** Per-layer metrics per battery pass (completed gates / battery size). */
  private def layerMetrics(ws: Seq[(String, Double)],
                           planning: Planning): Map[String, Double] = {
    ctx.layers.drain()
    val c = ctx.layers.layer("battery.query")
    val n = ws.size.toDouble / battery.size
    val mb = 1024.0 * 1024.0
    val wallS = ws.map(_._2).sum / 1e3
    Map(
      "battery.jobs" -> c.jobs / n,
      "battery.stages" -> c.stages / n,
      "battery.tasks" -> c.tasks / n,
      "battery.planning_s" -> planning.ns / 1e9 / n,
      "battery.driver_floor_s" -> (wallS - c.runNs / 1e9 / ctx.cores) / n,
      "battery.task_cpu_s" -> c.cpuNs / 1e9 / n,
      "battery.gc_s" -> c.gcMs / 1e3 / n,
      "battery.shuffle_write_mb" -> c.shuffleWriteBytes / mb / n,
      "battery.spill_mb" -> c.spillBytes / mb / n,
      "battery.input_mb" -> c.inputBytes / mb / n
    ) ++ Families.map { f =>
      s"battery.family.${f}_s" -> ws.filter(w => family(w._1) == f).map(_._2).sum / 1e3 / n
    }
  }
}
