package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload and prints its report as one
  * line prefixed `PERFBENCH ` (see perfbench/run.py, which owns the
  * command-line contract):
  * {{{
  *   Main --workload serve|batch --seed N --seconds S --trace 0|1
  *        --work DIR --data SFDIR
  * }}}
  */
object Main {
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val work = new java.io.File(opts("work")).getAbsolutePath
    val tracer = new Tracer(opts.get("trace").contains("1"))
    Jvm.install()
    val steal0 = graft.Bench.stealTicks()
    val t0 = System.nanoTime()

    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (tracer.enabled) spark.sparkContext.addSparkListener(Tracer.listener(tracer))
    val rep = new Report(workload)
    rep.ctx("session_s", Report.secsSince(t0))
    try {
      workload match {
        case "serve" => Serve.run(spark, rep, tracer, seed, seconds, work)
        case "batch" => Batch.run(spark, rep, tracer, seed, seconds, work, opts("data"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      rep.layer("jvm.heap_live_mb") = (Jvm.heapLiveMb, "MB")
      if (tracer.enabled) {
        // let the listener bus deliver the last task-end events
        Thread.sleep(500)
        val self = tracer.selfNanosByLayer
        Seq("index", "streaming", "ice", "query", "krep", "ops").foreach { l =>
          rep.layer(s"trace.self_${l}_s") = (self.getOrElse(l, 0L) / 1e9, "s")
        }
        rep.layer("trace.uncovered_frac") = (tracer.uncoveredFrac, "frac")
        rep.layer("trace.spans") = (tracer.all.size.toDouble, "count")
        val out = java.nio.file.Paths.get(work, s"trace-$workload-$seed.jsonl")
        tracer.writeTo(out)
        rep.ctx("trace_file", out.toString)
      }
    } catch {
      case e: Throwable =>
        rep.fail(s"run aborted: $e")
        e.printStackTrace()
    }
    val wall = Report.secsSince(t0)
    val steal1 = graft.Bench.stealTicks()
    val (gcN, gcMs) = Jvm.gcTotals()
    rep.ctx("wall_s", wall)
    rep.ctx("steal_ticks_s", if (steal0 < 0 || steal1 < 0) -1.0 else (steal1 - steal0) / wall)
    rep.ctx("gc_count", gcN)
    rep.ctx("gc_pause_ms", gcMs)
    rep.ctx("gc_max_pause_ms", Jvm.maxPauseMillis())
    rep.ctx("jvm_flags", Jvm.flags)
    rep.ctx("nproc", Runtime.getRuntime.availableProcessors())
    rep.ctx("cpus", Cpus)
    rep.ctx("work_on_tmpfs", Jvm.onTmpfs(work))
    rep.ctx("spark_version", spark.version)
    println("PERFBENCH " + rep.json)
    spark.stop()
  }
}
