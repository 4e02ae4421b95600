package graft.app

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet

import graft.corpus.{Page, SynthWebText}
import graft.index.{IndexBuilder, IndexConfig}

/** Resumable index-build entry point (spark-submit-able; north rule).
  *
  * {{{
  *   spark-submit --class graft.app.IndexBuild ... \
  *     <indexRoot> [--pages <parquetPathOfPages> | --synth <nDocs>] \
  *     [--partitions P] [--blockSize B] [--docsPerSegment S]
  * }}}
  *
  * Rerunning after a crash resumes from the last committed snapshot — only
  * uncommitted steps execute.
  */
object IndexBuild {
  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map("synth" -> "50000"))
    val root = opts("root")
    val spark = withDefaultMaster(SparkSession.builder()
      .appName("graft-index-build")
      .config("spark.sql.shuffle.partitions",
        opts.getOrElse("partitions", "32")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val partitions = opts.getOrElse("partitions", "32").toInt
    val pages: Dataset[Page] = opts.get("pages") match {
      case Some(path) => GraftParquet.read(spark, path).as[Page]
      case None =>
        SynthWebText.pages(spark, opts("synth").toLong, numPartitions = partitions)
    }
    val cfg = IndexConfig(
      blockSize = opts.getOrElse("blockSize", "128").toInt,
      docsPerSegment = opts.getOrElse("docsPerSegment", (1L << 16).toString).toLong,
      partitions = partitions)

    val t0 = System.nanoTime()
    val ran = new IndexBuilder(spark, root, cfg).build(pages)
    val secs = (System.nanoTime() - t0) / 1e9
    println(s"[index-build] root=$root stepsRun=${ran.mkString(",")} " +
      f"elapsed=$secs%.1fs")
    spark.stop()
  }

  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case ("--pages") :: v :: rest => parse(rest, acc - "synth" + ("pages" -> v))
      case ("--synth") :: v :: rest => parse(rest, acc + ("synth" -> v))
      case ("--partitions") :: v :: rest => parse(rest, acc + ("partitions" -> v))
      case ("--blockSize") :: v :: rest => parse(rest, acc + ("blockSize" -> v))
      case ("--docsPerSegment") :: v :: rest => parse(rest, acc + ("docsPerSegment" -> v))
      case v :: rest if !v.startsWith("--") => parse(rest, acc + ("root" -> v))
      case other => sys.error(s"unknown arg: $other")
    }
}
