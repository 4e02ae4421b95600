package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet

import graft.Bench

/** One cluster-size level of the scaling benchmark, meant to run inside a
  * `taskset -c 0-(N-1)` pinned JVM so that N advertised cores are N real
  * cores (driver-side WAND threads included — `local[N]` alone only caps
  * Spark task threads).
  *
  *   taskset -c 0-31 sbt "runMain graft.bench.LevelBench 300000 32"
  *   taskset -c 0-7  sbt "runMain graft.bench.LevelBench 300000 8"
  *
  * The input corpus is materialized once at a deterministic path and shared
  * by both levels (identical input, per the scaling protocol). Prints one
  * JSON line.
  */
object LevelBench {
  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toLong).getOrElse(300000L)
    val cpus = args.lift(1).map(_.toInt).getOrElse(32)
    // warm full-scale passes before the timed one (0 = the rounds-2..4
    // cold-JVM protocol). A cold JVM's first full-scale build pays JIT at
    // scale + heap growth — measured on this box at ~40% of an 8-core
    // build's wall (cold 97-120 s vs 50-70 s warmed in one JVM, identical
    // code and window). That one-time cost is a CONSTANT that hits both
    // levels of a pair, so it biases the efficiency ratio toward the
    // constant's share of wall — and at the criterion's real scale (10^12
    // docs) it is zero. warm=1 reports the steady-state leg, the same
    // discipline the query windows have always used.
    val warmBuilds = args.lift(2).map(_.toInt).getOrElse(0)

    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-level-$cpus")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", // shuffle spill on tmpfs: measure cores, not the virtual disk
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark-local"
        else System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // shared deterministic input (created by whichever level runs first)
    val base = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp"
    val pagesPath = s"$base/graft-bench-pages-$nDocs/pages.parquet"
    if (!new java.io.File(pagesPath).exists())
      graft.corpus.SynthWebText.pages(spark, nDocs, numPartitions = 32)
        .write.mode("overwrite").parquet(pagesPath)

    // JIT/classloader warmup + page-cache warm of the input
    Bench.engineBench(spark, 2000L, cpus, repeats = 1)
    GraftParquet.read(spark, pagesPath).selectExpr("sum(octet_length(html))").collect()
    // untimed full-scale warm pass(es); the timed leg below then measures
    // steady state (each pass builds into its own fresh temp root)
    (1 to warmBuilds).foreach { _ =>
      Bench.engineBench(spark, nDocs, cpus, repeats = 1, pagesPath = pagesPath)
    }

    // host weather bracketing the timed window (same probes as Bench.main):
    // a level run whose numbers disagree with its pair partner should carry
    // its own steal/bandwidth evidence
    val steal0 = Bench.stealTicks()
    val wall0 = System.nanoTime()
    val membw0 = Bench.membwGbps()

    // 12 repeats keep the timed query window in steady state (~300 queries):
    // at 3 repeats the 4N level finished its 75 queries in <0.5 s wall and
    // fixed pool/scheduling overheads dominated the throughput reading
    val r = Bench.engineBench(spark, nDocs, cpus, repeats = 12,
      pagesPath = pagesPath)

    val steal1 = Bench.stealTicks()
    val stealRate = if (steal0 < 0 || steal1 < 0) -1.0
      else (steal1 - steal0) / ((System.nanoTime() - wall0) / 1e9)
    val membw1 = Bench.membwGbps()
    val m = r.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }.mkString(",")
    println(s"""{"level":$cpus,"nDocs":$nDocs,"warm_builds":$warmBuilds,$m,""" +
      f""""steal_ticks_per_sec":$stealRate%.1f,""" +
      f""""membw_gbps_pre":$membw0%.1f,"membw_gbps_post":$membw1%.1f,""" +
      s""""checksum":"${r.resultsChecksum}"}""")
    spark.stop()
  }
}
