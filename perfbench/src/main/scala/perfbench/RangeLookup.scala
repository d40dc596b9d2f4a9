package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.operators.{Boundaries, ClusterOps}
import graft.sources.zipnum.ZipNumIndex

/**
 * `range-lookup`: the read path. Set-up builds one ZipNum cluster (default
 * 3000 lines per block) of CDX lines drawn from [[KeySpace]]; then
 * `Clients` threads each issue lookups in a closed loop — the next one
 * only after the previous answer arrived, as Wayback callers wait for
 * their CDX answer. The mix is 70% exact URL, 20% host prefix and 10%
 * absent keys; half of each kind goes through `ClusterOps.range` (the
 * `cluster-range` verb), half through the `zipnum` DataSource V2 scan.
 * Hosts are picked with Zipf popularity, so keys repeat.
 */
object RangeLookup {
  val Clients = 2
  /** Lookups each client issues in every set-up, to warm the read paths. */
  val WarmLookups = 20
  /** Host-prefix lookups cycle through hosts spanning < 1, 1–3 and 3–30
    * blocks, so every run reads the same spread of range sizes. */
  val PrefixBlocks: Seq[(Int, Int)] = Seq((0, 1), (1, 3), (3, 30))

  /** Every client cycles through this pattern of kinds (7 exact, 2 prefix,
    * 1 absent), so every run asks the same mix. */
  val Pattern: Array[Kind] =
    Array(Exact, Exact, Prefix, Exact, Absent, Exact, Exact, Prefix, Exact, Exact)

  /** Kind of a client's i-th lookup, and whether it goes through the scan:
    * over 20 lookups every slot of the pattern takes each path once. */
  def schedule(i: Int): (Kind, Boolean) = (Pattern(i % 10), (i + i / 10) % 2 == 1)

  final case class Size(nHosts: Int, nUrls: Int)
  def size(ctx: Ctx): Size =
    if (ctx.smoke) Size(nHosts = 40, nUrls = 2000) else Size(nHosts = 3000, nUrls = 80000)

  sealed trait Kind { def name: String }
  case object Exact extends Kind { val name = "exact" }
  case object Prefix extends Kind { val name = "prefix" }
  case object Absent extends Kind { val name = "absent" }

  /** One lookup: its key range [start, end) and the rows it must return. */
  final case class Lookup(kind: Kind, key: String, start: String, end: String,
                          expected: () => IndexedSeq[String])

  final case class Sample(lookup: Lookup, viaScan: Boolean, got: Option[IndexedSeq[String]],
                          ms: Double, op: Long, repeated: Boolean)

  /** The cluster's CDX lines; serializable, so tasks can generate them. */
  final class Lines(ks: KeySpace) extends Serializable {
    def captures(h: Int, j: Int): Int = 1 + ks.mod(h, j, 60, 3)

    /** Captures of URL (h, j): 1–3 CDX lines. */
    def url(h: Int, j: Int): IndexedSeq[String] = {
      val key = ks.urlkey(h, j)
      val url = ks.url(h, j)
      (0 until captures(h, j)).map { i =>
        val ts = ks.timestamp14(ks.mod(h, j, 61 + i, 365), ks.mod(h, j, 70 + i, 86400))
        val len = 400 + ks.mod(h, j, 80 + i, 4000)
        val off = ks.mod(h, j, 90 + i, 1 << 30)
        s"$key $ts $url text/html 200 ${ks.digest(h * 1000003L + j, i)} - - $len $off " +
          s"crawl-${ks.mod(h, j, 99 + i, 64)}.warc.gz"
      }
    }

    def host(h: Int): IndexedSeq[String] = (0 until ks.hostSize(h)).flatMap(url(h, _))
  }
}

final class RangeLookup(ctx: Ctx) extends Workload {
  import RangeLookup._

  val tally = new Tally
  private val sz = size(ctx)
  private val ks = new KeySpace(ctx.seed, sz.nHosts, sz.nUrls, 1.1)
  private val dir = new File(ctx.scratch, "cluster")
  private val gen = new Lines(ks)

  private def sorted(lines: IndexedSeq[String]): IndexedSeq[String] =
    lines.sorted(graft.util.KeyOrder)

  /** Hosts of each prefix size class that has any. */
  private val prefixHosts: IndexedSeq[IndexedSeq[Int]] = {
    val perBlock = graft.sources.zipnum.ZipNumFormat.DefaultLinesPerBlock
    val lines = (0 until ks.nHosts).map(h => (0 until ks.hostSize(h)).map(gen.captures(h, _)).sum)
    PrefixBlocks.toIndexedSeq.map { case (lo, hi) =>
      (0 until ks.nHosts).filter(h => lines(h) >= lo * perBlock && lines(h) < hi * perBlock)
    }.filter(_.nonEmpty)
  }

  /** A client's i-th lookup, with seeded random keys: exact and absent
    * keys on a host drawn by popularity, prefixes on a host of the next
    * size class. */
  private def next(rnd: java.util.Random, i: Int): (Lookup, Boolean) = {
    val (kind, viaScan) = schedule(i)
    val h = ks.popularHost(rnd)
    val lookup = if (kind == Exact) {
      val j = rnd.nextInt(ks.hostSize(h))
      val key = ks.urlkey(h, j)
      Lookup(Exact, key, key + " ", key + "!", () => sorted(gen.url(h, j)))
    } else if (kind == Prefix) {
      val hosts = prefixHosts(i / 5 % prefixHosts.size) // 2 prefixes per 10
      val p = hosts(rnd.nextInt(hosts.size))
      val key = ks.hostKey(p)
      // ')' + 1 = '*': every key of the host starts with "tld,host)"
      Lookup(Prefix, key, key, key.dropRight(1) + "*", () => sorted(gen.host(p)))
    } else {
      val key = ks.hostKey(h) + s"/absent/${rnd.nextInt(1 << 20)}"
      Lookup(Absent, key, key + " ", key + "!", () => IndexedSeq.empty)
    }
    (lookup, viaScan)
  }

  /** Generate the lines inside tasks (one per host group) and build. */
  def setUp(): Unit = {
    val spark = ctx.spark
    val groups = 64
    val (g0, nHosts) = (gen, ks.nHosts)
    val lines = spark.sparkContext.parallelize(0 until groups, groups)
      .flatMap(g => (g until nHosts by groups).iterator.flatMap(g0.host))
    Fs.delete(dir)
    ctx.tracer.span("build") {
      val bounds = Boundaries.sample(lines, ctx.cores)
      ClusterOps.build(spark, lines, dir.getPath, bounds)
    }
    // warm both read paths (the JIT keeps speeding lookups up for a few
    // hundred of them); warm answers are checked like measured ones
    loop(seed = ctx.seed + 1000, perClient = WarmLookups, deadline = Long.MaxValue,
      traced = false)
  }

  /** Run one lookup through one of the two read paths. */
  private def fetch(l: Lookup, viaScan: Boolean, traced: Boolean): IndexedSeq[String] = {
    val t = ctx.tracer
    val got: IndexedSeq[String] =
      if (!viaScan)
        t.span("lookup.range")(ClusterOps.range(ctx.spark, Some(l.start), Some(l.end),
          Seq(dir.getPath)).toIndexedSeq)
      else t.span("lookup.scan") {
        val df = ctx.spark.read.format("zipnum").load(dir.getPath)
        val q = l.kind match {
          case Prefix => df.where(col("urlkey").startsWith(l.key))
          case _ => df.where(col("urlkey") === l.key)
        }
        if (traced) t.span("zipnum_scan.plan")(q.queryExecution.executedPlan)
        q.collect().toIndexedSeq.map(rowLine)
      }
    got
  }

  private def verify(l: Lookup, viaScan: Boolean, got: IndexedSeq[String]): Unit = {
    val want = l.expected()
    tally.check(got == want,
      s"${l.kind.name} lookup '${l.key}' via ${if (viaScan) "scan" else "range"}: " +
        s"${got.size} rows, expected ${want.size}")
  }

  private def rowLine(r: Row): String =
    (0 until r.length).map(i => if (r.isNullAt(i)) "-" else r.get(i).toString).mkString(" ")

  /** Traced only: time the index layer's public calls for one lookup. */
  private def probeIndex(l: Lookup): (Int, Int, Long) = {
    val t = ctx.tracer
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    val idx = t.span("zipnum_index.load")(ZipNumIndex.load(dir.getPath, conf))
    val pruned = t.span("zipnum_index.prune")(idx.prune(Some(l.start), Some(l.end)))
    val slices = t.span("zipnum_index.slices")(idx.slices(pruned))
    (pruned.size, slices.size, slices.map(_.length).sum)
  }

  /** The closed loop: every client issues its next lookup when the last
    * one returned, until `deadline` or until it issued `perClient`. Answers
    * are checked after the loop, so checking does not slow the clients.
    * Returns the samples, the index probes (traced only) and the loop's
    * wall time in seconds. */
  private def loop(seed: Long, perClient: Int, deadline: Long, traced: Boolean)
      : (Seq[Sample], Seq[(Int, Int, Long, Int)], Double) = {
    val samples = new ConcurrentLinkedQueue[Sample]
    val probes = new ConcurrentLinkedQueue[(Int, Int, Long, Int)]
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val t0 = System.nanoTime()
    val clients = (0 until Clients).map { c =>
      new Thread(s"lookup-client-$c") {
        override def run(): Unit = {
          val rnd = new java.util.Random(seed * 31 + c + 1)
          var i = 0
          while (i < perClient && System.nanoTime() < deadline) {
            val (l, viaScan) = next(rnd, i)
            val repeated = !seen.add(l.key)
            var op = 0L
            val s = System.nanoTime()
            val got =
              try Some(ctx.tracer.op("lookup") {
                op = ctx.tracer.currentOp
                fetch(l, viaScan, traced)
              }) catch { case e: Exception => tally.fail(s"lookup '${l.key}': $e"); None }
            samples.add(Sample(l, viaScan, got, (System.nanoTime() - s) / 1e6, op, repeated))
            if (traced) {
              val (blocks, slices, bytes) = ctx.tracer.op("probe")(probeIndex(l))
              probes.add((blocks, slices, bytes, got.map(_.size).getOrElse(0)))
            }
            i += 1
          }
        }
      }
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    val ss = samples.asScala.toSeq
    ss.foreach(s => s.got.foreach(verify(s.lookup, s.viaScan, _)))
    (ss, probes.asScala.toSeq, elapsed)
  }

  def measure(traced: Boolean): Measured = {
    val (ss, probes, elapsed) = loop(ctx.seed, Int.MaxValue,
      System.nanoTime() + (ctx.seconds * 1e9).toLong, traced)
    require(ss.nonEmpty, "no lookup completed")
    val ms = ss.map(_.ms)
    val e2e = Map(
      "items_per_s" -> ss.size / elapsed,
      "op_p50_ms" -> Stats.median(ms),
      "op_p90_ms" -> Stats.pct(ms, 90))
    System.err.println(f"[perfbench] range-lookup: ${ss.size} lookups, " +
      f"repeated keys ${100.0 * ss.count(_.repeated) / ss.size}%.1f%%, " +
      ss.groupBy(_.lookup.kind.name).map { case (k, v) => s"$k=${v.size}" }.mkString(" "))
    Measured(e2e, if (traced) layerMetrics(ss, probes) else Map.empty)
  }

  private def layerMetrics(ss: Seq[Sample], probes: Seq[(Int, Int, Long, Int)])
      : Map[String, Double] = {
    ctx.layers.drain()
    val spans = ctx.tracer.all
    def spanMs(name: String) = spans.filter(_.name == name).map(_.durNs / 1e6)
    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val perOp = ss.map(s => (s, ctx.layers.op(s.op)))
    val blocks = probes.map(_._1.toDouble)
    val blocksRead = probes.map(_._1).sum
    Map(
      "zipnum_index.load_ms" -> median(spanMs("zipnum_index.load")),
      "zipnum_index.prune_us" -> median(spanMs("zipnum_index.prune")) * 1e3,
      "zipnum_index.blocks_in_range_p50" -> Stats.median(blocks),
      "zipnum_index.blocks_in_range_p99" -> Stats.pct(blocks, 99),
      "zipnum_index.slices" -> probes.map(_._2).sum.toDouble / probes.size,
      "zipnum_read.bytes_read" -> probes.map(_._3).sum.toDouble / probes.size,
      "zipnum_read.rows_per_block_read" ->
        (if (blocksRead == 0) 0.0 else probes.map(_._4).sum.toDouble / blocksRead),
      "zipnum_scan.plan_ms" -> median(spanMs("zipnum_scan.plan")),
      "lookup.spark_jobs" -> perOp.map(_._2.jobs.toDouble).sum / ss.size,
      "lookup.driver_floor_ms" ->
        Stats.median(perOp.map { case (s, c) => s.ms - c.runNs / 1e6 }),
      "lookup.repeat_share" -> ss.count(_.repeated).toDouble / ss.size)
  }
}
