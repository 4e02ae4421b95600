package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.query.{ScoredDoc, TopKAggregator}

class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("TopKAggregator == ORDER BY score DESC, docId ASC LIMIT k") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // include deliberate score ties to exercise the docId ASC tie-break
    val docs = (0L until 5000L).map(i =>
      ScoredDoc(i, math.rint(rnd.nextDouble() * 100) / 10.0))
    val ds = spark.createDataset(docs).repartition(8)

    val viaSort = ds.orderBy($"score".desc, $"docId".asc).limit(25).collect().toSeq
    val viaAgg = ds.select(new TopKAggregator(25).toColumn).head().toSeq
    assert(viaAgg == viaSort)
  }

  test("fused minhash/band/shingle/simhash kernels == HOF formulations") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // edge cases on purpose: empty, 1-2 tokens (below shingle width),
    // punctuation-only, case folding, digits/underscores, multibyte UTF-8
    // (non-word bytes split tokens), long repetitive text
    val texts = Seq(
      "", "one", "two tokens", "   ", "!!! ??? ...",
      "Spark WINDOW the Table MERGE join", "a1_b2 c3 d4_e5 f6 g7",
      "naïve café über — resumé π∑ tokens here",
      Seq.fill(50)("alpha beta gamma delta").mkString(" "),
      "the quick brown fox jumps over the lazy dog the quick brown fox")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val old = df.select($"id",
        HofOracles.shingleHashesPoly($"text").as("hs"),
        TextOps.shingles($"text", 3).as("sh_old"),
        HofOracles.hashedTermFreqsPoly($"text").as("htf"))
      .select($"id",
        HofOracles.minhashPolyFromHashes($"hs", k = 32).as("sig_old"),
        $"sh_old",
        HofOracles.simhash31FromHashedTf($"htf").as("simhash_old"))
      .select($"id", $"sig_old", $"sh_old", $"simhash_old",
        array((0 until 8).map(b =>
          HofOracles.bandHashPoly($"sig_old", b, 4)): _*).as("bands_old"))
    val fused = df.select($"id",
      TextOps.minhashShingleSigPoly($"text", k = 32).as("sig_new"),
      TextOps.shinglesKernel($"text", 3).as("sh_new"),
      kernels.simhash31($"text").as("simhash_new"))
      .select($"id", $"sig_new", $"sh_new", $"simhash_new",
        TextOps.bandHashesPolyAll($"sig_new", bands = 8, rows = 4).as("bands_new"))
    val joined = old.join(fused, "id").collect()
    assert(joined.length == texts.length)
    joined.foreach { r =>
      assert(r.getSeq[Long](r.fieldIndex("sig_old")) ==
        r.getSeq[Long](r.fieldIndex("sig_new")), s"sig mismatch id=${r.getLong(0)}")
      assert(r.getSeq[String](r.fieldIndex("sh_old")) ==
        r.getSeq[String](r.fieldIndex("sh_new")), s"shingles mismatch id=${r.getLong(0)}")
      assert(r.getLong(r.fieldIndex("simhash_old")) ==
        r.getLong(r.fieldIndex("simhash_new")), s"simhash mismatch id=${r.getLong(0)}")
      assert(r.getSeq[Long](r.fieldIndex("bands_old")) ==
        r.getSeq[Long](r.fieldIndex("bands_new")), s"band mismatch id=${r.getLong(0)}")
    }
  }

  test("fused kernels are null-intolerant: NULL text gives NULL, not an empty value") {
    import spark.implicits._
    val df = Seq((0L, null: String), (1L, "")).toDF("id", "text")
    val rows = df.select($"id",
        TextOps.shinglesKernel($"text", 3).as("sh"),
        TextOps.minhashShingleSigPoly($"text", k = 32).as("sig"),
        kernels.simhash31($"text").as("simhash"))
      .select($"id", $"sh", $"sig", $"simhash",
        TextOps.bandHashesPolyAll($"sig", bands = 8, rows = 4).as("bands"))
      .orderBy($"id").collect()
    val Array(nul, empty) = rows
    (1 to 4).foreach(c => assert(nul.isNullAt(c), s"column ${nul.schema(c).name}"))
    // the empty string is a value: no shingles, all-P signature, 0 simhash
    assert(empty.getSeq[String](1).isEmpty)
    assert(empty.getSeq[Long](2) == Seq.fill(32)(TextOps.HashP))
    assert(empty.getLong(3) == 0L)
    assert(!empty.isNullAt(4))
  }

  test("minhash/jaccard band joins move bare ids — signatures join back post-dedup") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Join, LogicalPlan}
    import spark.implicits._
    // tiny documents fixture with planted near-duplicates so the banded
    // join yields candidates
    val texts = Seq(
      "spark window table merge join filter scan batch stream value alpha beta",
      "spark window table merge join filter scan batch stream value alpha gamma",
      "completely different words here about nothing in particular today folks",
      "spark window table merge join filter scan batch stream value alpha beta",
      "unrelated content full of other terms like zeta eta theta iota kappa mu")
    val dir = java.nio.file.Files.createTempDirectory("graft-minhash-fixture-").toString
    try {
      (0 until 20).map(i => (i.toLong, texts(i % texts.length)))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      for (qname <- Seq("minhash_pairs", "ngram_jaccard")) {
        val df = graft.app.EntryQueries.queries(qname)(spark, dir)
        val plan = df.queryExecution.optimizedPlan
        val dedups: Seq[LogicalPlan] = plan.collect {
          case d: Deduplicate => d
          case a: Aggregate if a.groupingExpressions.nonEmpty &&
            a.groupingExpressions.flatMap(_.references.map(_.name)).toSet ==
              Set("id_a", "id_b") => a
        }
        assert(dedups.nonEmpty, s"$qname: no bare-pair dedup in plan")
        dedups.foreach { d =>
          assert(d.output.map(_.name).toSet == Set("id_a", "id_b"),
            s"$qname: pair dedup carries extra columns: ${d.output.map(_.name).mkString(",")}")
          // every join at or below the dedup is the band join — it must not
          // ship signature or shingle payloads through its exchange
          d.collect { case j: Join => j }.foreach { j =>
            val names = j.output.map(_.name)
            assert(!names.exists(n => n.startsWith("sig") || n.startsWith("sh") ||
                n.startsWith("sa") || n.startsWith("sb")),
              s"$qname: band join carries payloads: ${names.mkString(",")}")
          }
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
      }
      // functional: identical planted texts are found with exact j_bps 10000
      val j = graft.app.EntryQueries.queries("ngram_jaccard")(spark, dir)
        .as[(Long, Long, Long)].collect()
      assert(j.contains((0L, 3L, 10000L)), s"identical pair missing: ${j.take(20).toSeq}")
      assert(j.forall { case (a, b, bps) => a < b && bps >= 0 && bps <= 10000 })
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    } finally {
      graft.Bench.deleteRec(dir)
    }
  }

  test("multimodal feature extraction is deterministic and batched") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = spark.createDataset(Seq(
      (1L, "<html>x</html>"), (2L, "plain words"), (3L, "")))
      .toDF("id", "txt")
      .select($"id", encode($"txt", "UTF-8").as("payload"))
    val feats = MultiModal.extractFeatures(df, "id", "payload")
      .collect().sortBy(_.id)
    assert(feats.map(_.format).toSeq == Seq("html", "raw", "raw"))
    assert(feats.map(_.n_bytes).toSeq == Seq(14L, 11L, 0L))
    assert(feats.forall(f => f.width >= 64 && f.height >= 64))
    // rerun → identical (pure)
    val again = MultiModal.extractFeatures(df, "id", "payload")
      .collect().sortBy(_.id)
    assert(again.toSeq == feats.toSeq)
  }

  test("frame sampling shape: every 64 bytes, 16-byte frames") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val payload = Array.tabulate[Byte](200)(_.toByte)
    val df = Seq((9L, payload)).toDF("id", "payload")
    val frames = MultiModal.sampleFrames(df, "id", "payload").collect()
    // range(0, 184, 64) → offsets 0, 64, 128 → 3 frames
    assert(frames.length == 3)
    assert(frames.map(_.getInt(1)).sorted.toSeq == Seq(0, 1, 2))
    assert(frames.forall(_.getAs[Array[Byte]](2).length == 16))
  }

  test("simhash64 (xxhash64 library variant): near-dups close, unrelated far") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = "spark window table merge join filter scan batch stream value " * 8
    val nearDup = base.replace("batch", "group") // one term swapped
    val unrelated = "alpha beta gamma delta epsilon zeta eta theta iota " * 8
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated), (4L, base))
      .toDF("id", "text")
      .select($"id", HofOracles.hashedTermFreqs($"text").as("htf"))
      .persist()
      .select($"id", HofOracles.simhash64FromHashedTf($"htf").as("sh"))
    val sh = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(1L) == sh(4L), "identical text must hash identically")
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)),
      "near-dup must be closer than unrelated text")
    assert(hamming(sh(1L), sh(2L)) <= 16)
  }

  test("exact cosine matches hand computation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 1.0f, 2.0f)))
      .toDF("a", "b")
    val sim = df.select(AnnOps.cosine($"a", $"b")).head().getDouble(0)
    assert(math.abs(sim - 8.0 / 9.0) < 1e-12)
  }
}
