package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Perf diagnostic main — NOT part of the library surface. Runs named
  * gate queries (or micro-probes) under the Bench session config with
  * min-of-3 in ONE JVM plus per-query job/stage counts from a listener:
  * the stable A/B harness for plan work, since cross-process
  * GRAFT_BENCH_ONLY pairings move ±10-40% with host phase while
  * same-JVM min-of-3 deltas reproduce (the round-13 method — see
  * SCALE.md "Single-exchange colocation").
  *
  *   sbt "runMain graft.tools.Diag q88_bigram_fluency q84_dup_fraction"
  *
  * No args = a standing probe set: scan/hash micro-benchmarks (the
  * md5-fusion evidence) + the queries tuned in round 13. */
object Diag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_CPUS as Bench reads it; unset = the host's processor count
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.shuffle.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def tbl(n: String) = spark.read.parquet(s"$sfDir/$n.parquet")
    def cents(c: org.apache.spark.sql.Column) = (c * 100).cast("long")

    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    val stageCount = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); stageCount.addAndGet(j.stageInfos.size)
        }
      })

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def time(name: String)(f: => Unit): Unit = {
      f // untimed warmup
      val j0 = jobCount.get; val s0 = stageCount.get
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      Thread.sleep(50) // listener events are async
      val jobs = (jobCount.get - j0) / 3.0
      val stages = (stageCount.get - s0) / 3.0
      println(f"[diag] $name%-28s ${ts.min}%.3f s  jobs=$jobs%.1f stages=$stages%.1f")
    }
    def q(name: String): Unit =
      time(name) { noop(graft.SparkEntry.queries(name)(spark, sfDir)) }

    noop(tbl("lineitem").agg(count(lit(1)))) // session warmup

    if (args.nonEmpty) args.foreach(q)
    else {
      val vals = tbl("lineitem")
        .select(cents(col("l_extendedprice")).as("price_cents"))
        .where(col("price_cents").isNotNull)
        .select(col("price_cents").cast("long").as("v"))
      time("scan+cents baseline") { noop(vals) }
      time("builtin md5+conv chain") {
        noop(vals.select(
          conv(substring(md5(col("v").cast("string")), 1, 12), 16, 10)
            .cast("long").as("hv"), col("v")))
      }
      time("fused md5_prefix48") {
        noop(vals.select(graft.operators.Sketches.hash48Col(col("v"))
          .as("hv"), col("v")))
      }
      Seq("q74_kmv_quantiles", "q85_dsir", "q88_bigram_fluency",
        "q91_nb_quality", "q94_collocation", "q84_dup_fraction",
        "q83_gopher_quality", "q81_semdedup", "q70_cosine_neardup",
        "q36_embed_neardup", "q108_dsir_select", "q114_bm25").foreach(q)
    }
    spark.stop()
  }
}
