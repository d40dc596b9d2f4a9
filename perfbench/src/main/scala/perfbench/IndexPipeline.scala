package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import graft.operators.{BoundaryPartitioner, Boundaries, ClusterOps, WarcExtract}
import graft.sources.zipnum.ZipNumFormat

/**
 * `index-pipeline`: the write path. Two crawl generations of gzip WARC
 * files (one gzip member per record) go through WARC→CDX extraction, a
 * sampled-boundary cluster build per generation, and the zero-shuffle
 * global-CDX merge of the two clusters.
 *
 * Generation A captures every URL 1–2 times on its crawl day. Generation B
 * re-captures a third of A's URLs 1–2 more times on the same day and adds
 * fresh URLs of its own, so the merge's day cap (DayLimit admits
 * DayLimit + 1 captures per URL and day) drops rows and the merged row
 * count has a closed form.
 */
object IndexPipeline {

  /** The merge's day cap: admits DayLimit + 1 captures per (urlkey, day). */
  val DayLimit = 2

  final case class Size(nHosts: Int, nUrls: Int, nNew: Int,
                        filesA: Int, filesB: Int)

  def size(ctx: Ctx): Size =
    if (ctx.smoke) Size(nHosts = 40, nUrls = 1500, nNew = 300, filesA = 2, filesB = 1)
    else Size(nHosts = 2000, nUrls = 24000, nNew = 4800, filesA = 8, filesB = 4)

  /** The two generations' captures, as pure functions of the URL index. */
  final class Crawl(val ks: KeySpace, val size: Size) {
    val total: Int = ks.urlCount + size.nNew

    /** (host, path index) of URL `u`; fresh URLs take paths past the end
      * of their host's generation-A paths. */
    def hostPath(u: Int): (Int, Int) =
      if (u < ks.urlCount) { val h = ks.hostOf(u); (h, u - ks.hostStart(h)) }
      else {
        val v = u - ks.urlCount
        val h = v % ks.nHosts
        (h, ks.hostSize(h) + v / ks.nHosts)
      }

    def capturesA(u: Int): Int = if (u < ks.urlCount) 1 + ks.mod(u, 21, 0, 2) else 0
    def capturesB(u: Int): Int =
      if (u >= ks.urlCount || ks.mod(u, 23, 0, 3) == 0) 1 + ks.mod(u, 22, 0, 2)
      else 0
    def day(u: Int): Int = ks.mod(u, 20, 0, 5)
    /** generation g's capture i of URL u, seconds into its crawl day */
    def second(u: Int, g: Int, i: Int): Int = ks.mod(u, 30, 0, 80000) + (g * 3 + i) * 61

    def files(g: Int): Int = if (g == 0) size.filesA else size.filesB
    def captures(g: Int, u: Int): Int = if (g == 0) capturesA(u) else capturesB(u)

    /** Records in generation g's files accepted by `file`. */
    def records(g: Int, file: Int => Boolean): Long =
      (0 until total).iterator.filter(u => file(u % files(g)))
        .map(u => captures(g, u).toLong).sum

    /** Rows the global-CDX merge keeps when generation A contributes the
      * files accepted by `fileA` and generation B those accepted by
      * `fileB`: min(captures, DayLimit + 1) per URL, since all of a URL's
      * captures fall on one day. */
    def expectedMerged(fileA: Int => Boolean, fileB: Int => Boolean): Long =
      (0 until total).iterator.map { u =>
        val n = (if (fileA(u % size.filesA)) capturesA(u) else 0) +
          (if (fileB(u % size.filesB)) capturesB(u) else 0)
        math.min(n, DayLimit + 1).toLong
      }.sum

    private val words = Array("archive", "crawl", "capture", "index", "web",
      "page", "link", "text", "html", "news", "blog", "image", "video",
      "search", "record", "the", "of", "and", "to", "in", "for", "on", "data")

    private def body(u: Int, g: Int, i: Int): String = {
      val n = 40 + ks.mod(u, g, 40 + i, 80)
      val sb = new StringBuilder(n * 7 + 64)
      sb ++= s"<html><body><p>u$u g$g c$i</p><p>"
      (0 until n).foreach { k =>
        sb ++= words(ks.mod(u, k, 50 + g * 4 + i, words.length)); sb += ' '
      }
      sb ++= "</p></body></html>\n"
      sb.toString
    }

    /** One WARC response record, framed as its own gzip member. */
    def member(u: Int, g: Int, i: Int): Array[Byte] = {
      val (h, j) = hostPath(u)
      val ts = ks.timestamp14(day(u), second(u, g, i))
      val date = s"${ts.take(4)}-${ts.slice(4, 6)}-${ts.slice(6, 8)}T" +
        s"${ts.slice(8, 10)}:${ts.slice(10, 12)}:${ts.slice(12, 14)}Z"
      val payload = body(u, g, i).getBytes(UTF_8)
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(US_ASCII) ++ payload
      val id = f"${ks.mix(u, g, i) & 0xffffffffffffL}%012x"
      val head = s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: ${ks.url(h, j)}\r\nWARC-Date: $date\r\n" +
        s"WARC-Record-ID: <urn:uuid:00000000-0000-4000-8000-$id>\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n"
      ZipNumFormat.gzipMember(head.getBytes(US_ASCII) ++ http)
    }

    /** Write generation g's file f: its URLs in index order. */
    def writeFile(g: Int, f: Int, out: File): Unit = {
      val os = new BufferedOutputStream(new FileOutputStream(out), 1 << 16)
      try {
        var u = f
        while (u < total) {
          (0 until captures(g, u)).foreach(i => os.write(member(u, g, i)))
          u += files(g)
        }
      } finally os.close()
    }
  }

  final case class Inputs(a: Seq[String], b: Seq[String], bytes: Long)

  /** Write both generations with one writer thread per core. */
  def generate(ctx: Ctx, crawl: Crawl): Inputs = {
    val dir = ctx.freshDir("warc")
    val jobs = for (g <- 0 to 1; f <- 0 until crawl.files(g))
      yield (g, f, new File(dir, s"gen${"AB"(g)}-$f.warc.gz"))
    val pool = Executors.newFixedThreadPool(ctx.cores)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(jobs) { case (g, f, out) =>
        Future(crawl.writeFile(g, f, out))
      }, Duration.Inf)
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
    val paths = jobs.map { case (g, _, out) => (g, out.getPath) }
    Inputs(paths.filter(_._1 == 0).map(_._2), paths.filter(_._1 == 1).map(_._2),
      jobs.map(_._3.length()).sum)
  }

  def cdxLine(r: WarcExtract.CdxRow): String =
    Seq(r.urlkey, r.timestamp, r.original_url, r.mimetype,
      r.statuscode.map(_.toString).getOrElse("-"), r.digest, "-", "-",
      r.compressed_size.toString, r.offset.toString, r.filename).mkString(" ")

  /** What one pipeline run produced. */
  final case class Run(wallNs: Long, recordsA: Long, recordsB: Long,
                       badMembers: Long, merged: File, inputs: Seq[File])

  /** A checked pipeline run: merged rows, blocks and bytes on disk. */
  final case class Iter(run: Run, rows: Long, blocks: Int, bytes: Long)

  /** extract → sample → build, per generation; then the global-CDX merge. */
  def pipeline(ctx: Ctx, a: Seq[String], b: Seq[String], out: File): Run = {
    val spark = ctx.spark
    val t = ctx.tracer
    def extract(paths: Seq[String]): (RDD[String], Long, Long) =
      t.span("warc_extract") {
        val ex = WarcExtract.extract(spark, paths, soft = true)
        val lines = ex.rows.rdd.map(cdxLine).persist(StorageLevel.MEMORY_ONLY)
        val n = lines.count()
        (lines, n, ex.badMembers.value.longValue)
      }
    def build(lines: RDD[String], dir: File): Unit = {
      val bounds = t.span("boundaries.sample")(Boundaries.sample(lines, ctx.cores))
      t.span("build")(ClusterOps.build(spark, lines, dir.getPath, bounds))
      lines.unpersist(blocking = false)
    }
    val (dirA, dirB, merged) =
      (new File(out, "a"), new File(out, "b"), new File(out, "merged"))
    val t0 = System.nanoTime()
    val (nA, nB, bad) = t.op("pipeline") {
      val (la, na, badA) = extract(a)
      val (lb, nb, badB) = extract(b)
      build(la, dirA)
      build(lb, dirB)
      t.span("merge")(ClusterOps.merge(spark, Seq(dirA.getPath, dirB.getPath),
        merged.getPath, nShards = ctx.cores, globalCdx = true,
        dayLimit = DayLimit))
      (na, nb, badA + badB)
    }
    Run(System.nanoTime() - t0, nA, nB, bad, merged, Seq(dirA, dirB))
  }

  /** Reads the merged cluster with plain JDK gzip, independently of the
    * library's reader. Returns (rows, blocks, problems). */
  def inspect(ctx: Ctx, run: Run): (Long, Int, Seq[String]) = {
    val problems = Seq.newBuilder[String]
    val dir = run.merged
    def read(name: String): Seq[String] =
      new String(java.nio.file.Files.readAllBytes(new File(dir, name).toPath), UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty)
    val shards = read("manifest.txt")
    var rows = 0L
    var prev: String = null
    shards.foreach { s =>
      val in = new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(new File(dir, s)), 1 << 16)
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().foreach { l =>
        if (prev != null && graft.util.KeyOrder.gt(prev, l))
          problems += s"merged output out of order: '${prev.take(60)}' > '${l.take(60)}'"
        prev = l
        rows += 1
      } finally src.close()
    }
    // every block must lie inside its shard's merge-boundary range
    val bounds = Boundaries.fromClusterSummaries(run.inputs.map(_.getPath),
      ctx.cores, ctx.spark.sparkContext.hadoopConfiguration)
    val part = new BoundaryPartitioner(bounds)
    val blocks = read("ALL.summary").map(_.split('\t'))
    blocks.foreach { f =>
      val key = f.dropRight(3).mkString("\t")
      val shard = "\\d+".r.findFirstIn(f(f.length - 3)).get.toInt
      if (shard != part.getPartition(key))
        problems += s"block '${key.take(60)}' in shard $shard is outside its merge-boundary range"
    }
    (rows, blocks.size, problems.result().take(5))
  }
}

final class IndexPipeline(ctx: Ctx) extends Workload {
  import IndexPipeline._

  val tally = new Tally
  private val sz = size(ctx)
  private val crawl = new Crawl(new KeySpace(ctx.seed, sz.nHosts, sz.nUrls, 1.1), sz)
  private val all: Int => Boolean = _ => true
  private val first: Int => Boolean = _ == 0
  private val expA = crawl.records(0, all)
  private val expB = crawl.records(1, all)
  private val expMerged = crawl.expectedMerged(all, all)
  private var inputs: Inputs = _

  /** Check one pipeline run into the tally; returns (rows, blocks). */
  private def checked(r: Run, wantA: Long, wantB: Long, wantMerged: Long): (Long, Int) = {
    val (rows, blocks, problems) = inspect(ctx, r)
    tally.check(r.recordsA == wantA && r.recordsB == wantB && r.badMembers == 0,
      s"extracted ${r.recordsA}+${r.recordsB} records (${r.badMembers} bad " +
        s"members), generated $wantA+$wantB")
    tally.check(rows == wantMerged, s"merged $rows rows, closed form says $wantMerged")
    tally.check(problems.isEmpty, problems.mkString("; "))
    (rows, blocks)
  }

  /** Write the inputs, then run one untimed pipeline over the first file of
    * each generation. */
  def setUp(): Unit = {
    inputs = ctx.tracer.span("generate")(generate(ctx, crawl))
    val dir = ctx.freshDir("warm")
    val warm = pipeline(ctx, inputs.a.take(1), inputs.b.take(1), dir)
    checked(warm, crawl.records(0, first), crawl.records(1, first),
      crawl.expectedMerged(first, first))
    Fs.delete(dir)
  }

  def measure(traced: Boolean): Measured = {
    val iters = Seq.newBuilder[Iter]
    val start = System.nanoTime()
    var i = 0
    while (i == 0 || System.nanoTime() - start < ctx.seconds * 1e9) {
      val out = ctx.freshDir(s"iter$i")
      try {
        val r = pipeline(ctx, inputs.a, inputs.b, out)
        val (rows, blocks) = checked(r, expA, expB, expMerged)
        iters += Iter(r, rows, blocks, Fs.bytesUnder(r.merged))
      } catch { case e: Exception => tally.fail(s"pipeline: $e") }
      Fs.delete(out)
      i += 1
    }
    val its = iters.result()
    require(its.nonEmpty, "no pipeline run completed")
    val walls = its.map(_.run.wallNs / 1e6)
    val records = its.map(it => it.run.recordsA + it.run.recordsB)
    val e2e = Map(
      "items_per_s" -> records.sum / (its.map(_.run.wallNs).sum / 1e9),
      "op_p50_ms" -> Stats.median(walls),
      "op_p90_ms" -> Stats.pct(walls, 90))
    Measured(e2e, if (traced) layerMetrics(its, records) else Map.empty)
  }

  private def layerMetrics(its: Seq[Iter], records: Seq[Long]): Map[String, Double] = {
    ctx.layers.drain()
    val n = its.size.toDouble
    val spans = ctx.tracer.all
    def spanS(name: String) = spans.filter(_.name == name).map(_.durNs).sum / 1e9 / n
    def per(f: Iter => Double) = its.map(f).sum / n
    val ex = ctx.layers.layer("warc_extract")
    val bd = ctx.layers.layer("build")
    val mg = ctx.layers.layer("merge")
    val mb = 1024.0 * 1024.0
    val rowsIn = records.sum / n
    val rowsOut = per(_.rows.toDouble)
    Map(
      "warc_extract.s" -> spanS("warc_extract"),
      "warc_extract.records" -> rowsIn,
      "warc_extract.mb_in" -> inputs.bytes / mb,
      "warc_extract.task_cpu_s" -> ex.cpuNs / 1e9 / n,
      "warc_extract.bad_members" -> per(_.run.badMembers.toDouble),
      "boundaries.sample_s" -> spanS("boundaries.sample"),
      "build.s" -> spanS("build"),
      "build.task_cpu_s" -> bd.cpuNs / 1e9 / n,
      "build.gc_s" -> bd.gcMs / 1e3 / n,
      "build.shuffle_write_mb" -> bd.shuffleWriteBytes / mb / n,
      "build.shuffle_read_mb" -> bd.shuffleReadBytes / mb / n,
      "build.spill_mb" -> bd.spillBytes / mb / n,
      "build.task_skew" -> bd.skew,
      "zipnum_write.bytes" -> per(_.bytes.toDouble),
      "zipnum_write.blocks" -> per(_.blocks.toDouble),
      "zipnum_write.bytes_per_record" -> per(_.bytes.toDouble) / rowsOut,
      "merge.s" -> spanS("merge"),
      "merge.task_cpu_s" -> mg.cpuNs / 1e9 / n,
      "merge.rows_in" -> rowsIn,
      "merge.rows_out" -> rowsOut,
      "merge.keep_ratio" -> rowsOut / rowsIn,
      "merge.shuffle_write_mb" -> mg.shuffleWriteBytes / mb / n)
  }
}
