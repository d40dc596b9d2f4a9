package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Cdx
import graft.operators.{Boundaries, BoundaryPartitioner, ClusterOps, SortedMerge}
import graft.sources.zipnum.{ZipNumIndex, ZipNumReader}
import graft.util.KeyOrder

/** Local filesystem under a `countopen://` scheme that counts the input
  * streams it has open and the opens of each file, so a test can see which
  * shard handles a reader holds. */
class CountingOpenFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "countopen"
  override def getUri: java.net.URI = java.net.URI.create("countopen:///")
  override def open(f: org.apache.hadoop.fs.Path,
                    bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    val in = super.open(f, bufferSize)
    CountingOpenFs.opens.merge(f.toUri.getPath, 1,
      (a: Integer, b: Integer) => Int.box(a + b))
    CountingOpenFs.maxLive.accumulateAndGet(
      CountingOpenFs.live.incrementAndGet(), math.max)
    new org.apache.hadoop.fs.FSDataInputStream(in) {
      private val closed = new java.util.concurrent.atomic.AtomicBoolean
      override def close(): Unit = {
        super.close()
        if (closed.compareAndSet(false, true))
          CountingOpenFs.live.decrementAndGet()
      }
    }
  }
}

object CountingOpenFs {
  val live = new java.util.concurrent.atomic.AtomicInteger
  val maxLive = new java.util.concurrent.atomic.AtomicInteger
  /** path -> number of opens */
  val opens = new java.util.concurrent.ConcurrentHashMap[String, Integer]

  def reset(): Unit = { live.set(0); maxLive.set(0); opens.clear() }
}

class ClusterOpsSpec extends AnyFunSuite with SparkTestSession {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), prefix).toString

  private def mkLines(n: Int, site: Int => Int = _ % 5): Seq[String] =
    (0 until n).map { i =>
      f"org,s${site(i)}%d)/p/$i%05d 201201${i % 28 + 1}%02d000000 http://s${site(i)}.org/p/$i text/html 200 DIGEST$i%05dXX - - ${i + 10} ${i * 100} c/f.warc.gz"
    }

  test("BoundaryPartitioner: AlphaPartitioner bucket semantics") {
    val p = new BoundaryPartitioner(IndexedSeq("d", "m"))
    assert(p.numPartitions == 3)
    assert(p.getPartition("a") == 0)
    assert(p.getPartition("d") == 1)  // boundary key goes right
    assert(p.getPartition("d x") == 1)
    assert(p.getPartition("m") == 2)
    assert(p.getPartition("z") == 2)
  }

  test("SortedMerge.mergeIterators is a stable k-way sorted merge") {
    val m = SortedMerge.mergeIterators(Seq(
      Iterator("a", "c", "e"), Iterator("b", "c", "f"), Iterator.empty))
    assert(m.toSeq == Seq("a", "b", "c", "c", "e", "f"))
  }

  test("build: same input + same boundaries ⇒ byte-identical shards") {
    val lines = mkLines(500)
    val rdd = spark.sparkContext.parallelize(scala.util.Random.shuffle(lines), 7)
    val interior = IndexedSeq("org,s1", "org,s2", "org,s3")
    val d1 = tmp("build1") + "/c"
    val d2 = tmp("build2") + "/c"
    ClusterOps.build(spark, rdd, d1, interior, linesPerBlock = 40)
    ClusterOps.build(spark, rdd, d2, interior, linesPerBlock = 40)
    def shardBytes(d: String): Map[String, Seq[Byte]] =
      new java.io.File(d).listFiles().map(f =>
        f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    assert(shardBytes(d1) == shardBytes(d2))
    // all lines present and globally sorted across partition-ordered read
    val back = ZipNumReader.lines(spark, d1).toLocalIterator.toSeq
    assert(back == lines.sorted)
    // 4 shards from 3 interior boundaries (all ranges non-empty here)
    val idx = ZipNumIndex.load(d1, spark.sparkContext.hadoopConfiguration)
    assert(idx.blocks.map(_.part).distinct.size == 4)
  }

  test("merge: zero-shuffle union of two clusters equals sorted union") {
    val a = mkLines(300, _ % 3)
    val b = mkLines(200, i => i % 3 + 2) // overlapping + disjoint keys
    val da = tmp("ma") + "/c"
    val db = tmp("mb") + "/c"
    val interior = IndexedSeq("org,s1", "org,s3")
    ClusterOps.build(spark, spark.sparkContext.parallelize(a, 3), da, interior,
      linesPerBlock = 50)
    ClusterOps.build(spark, spark.sparkContext.parallelize(b, 3), db, interior,
      linesPerBlock = 50)
    val out = tmp("mout") + "/c"
    ClusterOps.merge(spark, Seq(da, db), out, nShards = 3)
    val back = ZipNumReader.lines(spark, out).toLocalIterator.toSeq
    assert(back == (a ++ b).sorted)
  }

  test("merge shuffles ZERO bytes — listener-verified, not just named") {
    val a = mkLines(300, _ % 3)
    val b = mkLines(200, i => i % 3 + 2)
    val da = tmp("za") + "/c"
    val db = tmp("zb") + "/c"
    val interior = IndexedSeq("org,s1", "org,s3")
    ClusterOps.build(spark, spark.sparkContext.parallelize(a, 3), da, interior,
      linesPerBlock = 50)
    ClusterOps.build(spark, spark.sparkContext.parallelize(b, 3), db, interior,
      linesPerBlock = 50)
    // builds above DO shuffle — drain their events, then listen
    org.apache.spark.sql.graftshim.ListenerShim.drain(spark.sparkContext)
    val moved = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) moved.addAndGet(
          m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = tmp("zout") + "/c"
      ClusterOps.merge(spark, Seq(da, db), out, nShards = 3)
      // snapshot BEFORE the verification count — Dataset.count() itself
      // exchanges per-partition partials (that's the count's shuffle,
      // not the merge's)
      org.apache.spark.sql.graftshim.ListenerShim.drain(spark.sparkContext)
      val mergeMoved = moved.get
      assert(ZipNumReader.lines(spark, out).count() == 500)
      assert(mergeMoved == 0,
        s"the zero-shuffle merge moved $mergeMoved bytes through a shuffle")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("merge of FIVE clusters (odd count exercises the balanced tree)") {
    val sets = (0 until 5).map(j => mkLines(60, i => (i + j) % 5))
    val interior = IndexedSeq("org,s2")
    val dirs = sets.zipWithIndex.map { case (lines, j) =>
      val d = tmp(s"m5_$j") + "/c"
      ClusterOps.build(spark, spark.sparkContext.parallelize(lines, 2), d,
        interior, linesPerBlock = 20)
      d
    }
    val out = tmp("m5out") + "/c"
    ClusterOps.merge(spark, dirs, out, nShards = 2)
    val back = ZipNumReader.lines(spark, out).toLocalIterator.toSeq
    assert(back == sets.flatten.sorted)
  }

  test("merge --global-cdx applies streaming day-cap over the sorted run") {
    // 10 same-key same-day captures, dayLimit=2 → 3 admitted (the
    // reference's pre-increment guard admits limit+1)
    val lines = (0 until 10).map(i =>
      f"org,cap)/x 2012010100$i%02d00 http://cap.org/x text/html 200 DIGESTLONG - - 1 $i c/f.warc.gz")
    val d = tmp("cap") + "/c"
    ClusterOps.build(spark, spark.sparkContext.parallelize(lines, 2), d,
      IndexedSeq.empty, linesPerBlock = 4)
    val out = tmp("capout") + "/c"
    ClusterOps.merge(spark, Seq(d), out, nShards = 1, globalCdx = true,
      dayLimit = 2)
    val back = ZipNumReader.lines(spark, out).collect().toSeq.sorted
    assert(back.size == 3)
    // digest truncated to 3 chars by the global rules
    assert(back.forall(_.contains(" DIG ")))
  }

  test("range: k-way merged dump across clusters, bounded and sorted") {
    val a = mkLines(100, _ % 2)
    val b = mkLines(100, i => i % 2 + 1)
    val da = tmp("ra") + "/c"
    val db = tmp("rb") + "/c"
    ClusterOps.build(spark, spark.sparkContext.parallelize(a, 2), da,
      IndexedSeq("org,s1"), linesPerBlock = 30)
    ClusterOps.build(spark, spark.sparkContext.parallelize(b, 2), db,
      IndexedSeq("org,s1"), linesPerBlock = 30)
    val got = ClusterOps.range(spark, Some("org,s1"), Some("org,s2"),
      Seq(da, db)).toSeq
    val expected = (a ++ b).filter(l => l >= "org,s1" && l < "org,s2").sorted
    assert(got == expected)
  }

  private def inRange(start: Option[String], end: Option[String])(l: String) =
    start.forall(KeyOrder.gteq(l, _)) && end.forall(KeyOrder.lt(l, _))

  /** Two multi-shard clusters with overlapping keys; returns (lines, dirs). */
  private def twoClusters(name: String): (Seq[String], Seq[String]) = {
    val a = mkLines(300, _ % 3)
    val b = mkLines(200, i => i % 3 + 1)
    val dirs = Seq(a, b).zipWithIndex.map { case (lines, j) =>
      val d = tmp(s"$name$j") + "/c"
      ClusterOps.build(spark, spark.sparkContext.parallelize(lines, 3), d,
        IndexedSeq("org,s1", "org,s2"), linesPerBlock = 20)
      d
    }
    (a ++ b, dirs)
  }

  /** Exact key, multi-block prefix, absent key, open-ended ranges. */
  private val rangeCases: Seq[(Option[String], Option[String])] = Seq(
    (Some("org,s1)/p/00007 "), Some("org,s1)/p/00007!")),
    (Some("org,s2)"), Some("org,s2*")),
    (Some("org,s1)/p/99999 "), Some("org,s1)/p/99999!")),
    (Some("org,s1)/p/00150"), None),
    (None, Some("org,s0)/p/00100")),
    (None, None))

  test("range runs on the driver: zero Spark jobs, output equals brute force") {
    val (lines, dirs) = twoClusters("rj")
    // one exact hit, a prefix over several 20-line blocks, an absent key
    val sizes = rangeCases.map { case (s, e) => lines.count(inRange(s, e)) }
    assert(sizes.take(3) == Seq(1, 167, 0) && sizes.drop(3).forall(_ > 0),
      sizes)
    org.apache.spark.sql.graftshim.ListenerShim.drain(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      rangeCases.foreach { case (s, e) =>
        val got = ClusterOps.range(spark, s, e, dirs).toSeq
        assert(got == lines.filter(inRange(s, e)).sorted(KeyOrder), (s, e))
      }
      org.apache.spark.sql.graftshim.ListenerShim.drain(spark.sparkContext)
      assert(jobs.get == 0, s"range submitted ${jobs.get} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("range merges clusters in KeyOrder (supplementary vs U+E000+ keys)") {
    def cdx(k: String) =
      s"$k 20120101000000 http://x.org/ text/html 200 DIGESTXX - - 10 0 f.warc.gz"
    val smiley = "\uD83D\uDE00"
    val a = Seq("a", "a\uE000", "a\uFFFD", s"a$smiley/1", "b").map(cdx)
    val b = Seq(s"a$smiley", "a\uE001", "a\uFFFD/2", "c").map(cdx)
    val dirs = Seq(a, b).zipWithIndex.map { case (lines, j) =>
      val d = tmp(s"rk$j") + "/c"
      ClusterOps.build(spark, spark.sparkContext.parallelize(lines, 1), d,
        IndexedSeq.empty, linesPerBlock = 2)
      d
    }
    Seq[(Option[String], Option[String])](
      (None, None), (Some("a\uE000"), None), (Some("a\uE001"), Some("c")),
      (Some(s"a$smiley"), None)).foreach { case (s, e) =>
      val got = ClusterOps.range(spark, s, e, dirs).toSeq
      assert(got == (a ++ b).filter(inRange(s, e)).sorted(KeyOrder), (s, e))
    }
  }

  /** [[twoClusters]], plus its dirs under the `countopen://` scheme. */
  private def countedClusters(name: String)
      : (Seq[String], Seq[String], Seq[String]) = {
    spark.sparkContext.hadoopConfiguration.setClass("fs.countopen.impl",
      classOf[CountingOpenFs], classOf[org.apache.hadoop.fs.FileSystem])
    val (lines, local) = twoClusters(name)
    (lines, local, local.map(d => s"countopen://$d"))
  }

  test("range holds one slice per cluster open and close() releases them") {
    val conf = spark.sparkContext.hadoopConfiguration
    val (lines, local, dirs) = countedClusters("rc")
    // every cluster spans several shards, so a full scan reads several
    // slices from each
    assert(local.forall { d =>
      val idx = ZipNumIndex.load(d, conf)
      idx.slices(idx.blocks).size >= 2
    })
    CountingOpenFs.reset()
    val all = ClusterOps.range(spark, None, None, dirs).toSeq
    assert(all == lines.sorted(KeyOrder))
    assert(CountingOpenFs.live.get == 0, "exhaustion closes every handle")
    assert(CountingOpenFs.maxLive.get <= dirs.size,
      s"${CountingOpenFs.maxLive.get} handles open at once for ${dirs.size} clusters")

    CountingOpenFs.reset()
    val it = ClusterOps.range(spark, Some("org,s1"), None, dirs)
    assert(it.take(3).size == 3)
    assert(CountingOpenFs.live.get == dirs.size)
    it.close()
    assert(CountingOpenFs.live.get == 0, "close() releases the open shards")
    assert(!it.hasNext)
    it.close() // idempotent
  }

  test("cluster-range loads each summary once; stderr and stdout as before") {
    val conf = spark.sparkContext.hadoopConfiguration
    val (lines, local, dirs) = countedClusters("ra")
    val (s, e) = (Some("org,s1)"), Some("org,s2)"))
    val expectedErr = dirs.map { d =>
      val idx = ZipNumIndex.load(d, conf)
      s"$d: ${idx.prune(s, e).size}/${idx.blocks.size} blocks in range"
    }
    CountingOpenFs.reset()
    val out = new java.io.ByteArrayOutputStream
    val err = new java.io.ByteArrayOutputStream
    val (sysOut, sysErr) = (System.out, System.err)
    System.setOut(new java.io.PrintStream(out, true, "UTF-8"))
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try ClusterOps.rangeFromArgs(spark, Array(s.get, e.get) ++ dirs)
    finally { System.setOut(sysOut); System.setErr(sysErr) }
    assert(out.toString("UTF-8") ==
      lines.filter(inRange(s, e)).sorted(KeyOrder).map(_ + "\n").mkString)
    assert(err.toString("UTF-8").split("\n").toSeq
      .filter(_.endsWith("blocks in range")) == expectedErr)
    assert(local.map(d => CountingOpenFs.opens.get(s"$d/ALL.summary")) ==
      Seq(1, 1), "each ALL.summary is read once")
    assert(CountingOpenFs.live.get == 0)
  }

  test("Boundaries.sample is deterministic; quantiles are sorted distinct") {
    val rdd = spark.sparkContext.parallelize(mkLines(1000), 4)
    val b1 = Boundaries.sample(rdd, 4)
    val b2 = Boundaries.sample(rdd, 4)
    assert(b1 == b2 && b1.size == 3 && b1 == b1.sorted)
  }

  test("legacy CDX-10 build --surt-output re-keys with fresh SURTs") {
    // CDX-10: N b a m s k r M V g (no compressed_size)
    val legacy = Seq(
      "example.com/A 20120101000000 http://WWW.Example.com/A text/html 200 DIG - - 123 f.arc.gz",
      "other.org/ 20120102000000 http://Other.ORG:80/ text/html 200 DIG - - 456 f.arc.gz")
    val d = tmp("surt") + "/c"
    ClusterOps.build(spark, spark.sparkContext.parallelize(legacy, 1), d,
      IndexedSeq.empty, linesPerBlock = 10, surtOutput = true)
    val keys = ZipNumReader.lines(spark, d).collect().map(_.split(" ")(0)).toSet
    assert(keys == Set("com,example)/a", "org,other)/"))
  }
}
