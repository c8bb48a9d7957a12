package graft

import graft.dedup.Dedup
import graft.functions.HashExprs
import graft.similarity.Ann
import graft.text.TextOps
import org.apache.spark.sql.{functions => F}
import scala.util.Random

class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  test("null and empty texts flow through text + dedup ops without errors") {
    val docs = Seq(
      (1L, "normal document with several words here"),
      (2L, ""),
      (3L, null.asInstanceOf[String]),
      (4L, "    "),
      (5L, "§±!@#$%^&*()")
    ).toDF("doc_id", "text")

    val stats = docs.select(F.col("doc_id") +:
      TextOps.qualityStats(F.col("text"), Seq("the")).map { case (n, c) => c.as(n) }: _*)
    assert(stats.count() == 5)

    val lang = docs.select(TextOps.langId(F.col("text")).as("l")).collect()
    assert(lang.length == 5)

    val fp = docs.select(F.col("doc_id"),
      TextOps.winnowFingerprints(F.col("text")).as("fp")).collect()
    assert(fp.length == 5)

    // pair ops: degenerate docs either hash-group or drop out cleanly
    assert(Dedup.exact(docs, "doc_id", "text").count() >= 3)
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5).count() == 0)
    assert(Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).count() == 0)
    assert(Dedup.minhashLsh(docs, "doc_id", "text", k = 3,
      numHashes = 32, bands = 8, threshold = 0.5).count() == 0)
  }

  test("new pipeline ops: degenerate inputs flow through cleanly") {
    import graft.dedup.Decontaminate
    import graft.text.Curate
    val docs = Seq(
      (1L, "normal document with several words here"),
      (2L, ""),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val emptyEval = docs.where(F.lit(false))
    // empty eval corpus: nothing is contaminated, everything survives
    assert(Decontaminate.overlap(docs, "doc_id", "text",
      emptyEval, "doc_id", "text", k = 3).count() == 0)
    assert(Decontaminate.clean(docs, "doc_id", "text",
      emptyEval, "doc_id", "text", k = 3).count() == 3)
    // empty existing corpus: incremental keeps all first-seen rows
    // (null text hash-groups like any other value)
    assert(Dedup.incrementalNew(docs, docs.where(F.lit(false)),
      "doc_id", "text").count() == 3)
    // single shard: everything lands in shard 0
    val oneShard = docs.select(Curate.shardKey(F.col("doc_id"), 1).as("s"))
      .as[Long].collect().toSet
    assert(oneShard == Set(0L))
    // profile over degenerate docs: one row each, no errors
    assert(TextOps.docProfile(docs, "doc_id", "text", Seq("the")).count() == 3)
    // boilerplate report on a corpus with no repeated ngrams
    assert(Dedup.boilerplateShingles(docs, "doc_id", "text",
      k = 3, minDocs = 2).count() == 0)
  }

  test("embedding LSH pairs and split LM score: degenerate inputs flow cleanly") {
    import graft.similarity.Ann
    import graft.text.Curate
    // zero vectors and an empty corpus: no pairs, no errors
    val vecs = Seq(
      (1L, Seq.fill(8)(0.0f)),
      (2L, Seq.fill(8)(0.0f)),
      (3L, (1 to 8).map(_.toFloat))).toDF("vec_id", "embedding")
    assert(Ann.cosinePairsLsh(vecs, "vec_id", "embedding", threshold = 0.5,
      nPlanes = 12, bands = 4).count() == 0,
      "zero-norm vectors have cosine 0 to everything")
    assert(Ann.cosinePairsLsh(vecs.where(F.lit(false)), "vec_id", "embedding",
      threshold = 0.5, nPlanes = 12, bands = 4).count() == 0)
    // LM score over empty/null docs: empty docs contribute no tokens
    val docs = Seq((1L, "a a b"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val lm = Curate.unigramLogProb(docs, "doc_id", "text", headK = 1)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(lm == Map(1L -> 3L), s"got $lm")
  }

  test("round-7 ops: degenerate inputs flow cleanly, results partition-invariant") {
    import graft.text.Curate
    import graft.similarity.Ann
    val docs = (1L to 40L).map { i =>
      val text =
        if (i % 13 == 0) null.asInstanceOf[String]
        else if (i % 7 == 0) ""
        else s"the document number ${i % 5} has some plain words in the body"
      (i, text)
    }.toDF("doc_id", "text")
    val stop = Seq("the", "in", "has", "some")
    // pipelineReport: null/empty texts drop at the quality stage (no
    // crash, no null packs), and the report is bit-identical across
    // input partitionings — the determinism claim, exercised
    def report(parts: Int) =
      Curate.pipelineReport(docs.repartition(parts), "doc_id", "text",
        budget = 16, nShards = 2, stop = stop)
        .orderBy("shard", "pack_id").collect().toSeq.map(_.toSeq)
    val r1 = report(1)
    assert(r1.nonEmpty && r1 == report(7))
    // incremental near-dup: empty batch and empty existing both fine
    val empty = docs.where(F.lit(false))
    val bandedDocs = Dedup.minhashBanded(docs, "doc_id", "text", 3, 16, 4)
    val bandedEmpty = Dedup.minhashBanded(empty, "doc_id", "text", 3, 16, 4)
    assert(Dedup.incrementalNearDupPairs(empty, docs, bandedDocs,
      "doc_id", "text", 3, 16, 4, 0.5).count() == 0)
    assert(Dedup.incrementalNearDupPairs(docs, empty, bandedEmpty,
      "doc_id", "text", 3, 16, 4, 0.99).count() > 0,
      "within-batch exact dups found even with no existing corpus")
    // capped embedding LSH on an empty frame: no pairs, no errors
    val noVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Ann.cosinePairsLsh(noVecs, "vec_id", "embedding", threshold = 0.5,
      bucketCap = Some(10L)).count() == 0)
    // header decode: empty blob is an unknown row, not a crash
    import graft.multimodal.BinaryMeta
    val blobs = Seq((1L, Array.empty[Byte]), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "blob")
    val meta = BinaryMeta.decodeMeta(blobs, "doc_id").collect()
    assert(meta.length == 2 && meta.forall(_.getString(4) == "unknown"))
  }

  test("round-8 multimodal pixel plumbing: degenerate inputs flow cleanly") {
    import graft.multimodal.BinaryMeta
    // non-PNG / null / empty blobs: null-stats rows, never a crash
    val junk = Seq((1L, "definitely not a png".getBytes),
      (2L, null.asInstanceOf[Array[Byte]]),
      (3L, Array.empty[Byte])).toDF("doc_id", "blob")
    val stats = BinaryMeta.decodePixelStats(junk, "doc_id").collect()
    assert(stats.length == 3 && stats.forall(_.isNullAt(1)))
    // negative / null ids are filtered by the generator, not encoded
    val ids = Seq(Some(5L), Some(-3L), None).toDF("doc_id")
    val blobs = BinaryMeta.syntheticPngBlobs(ids, "doc_id")
    val out = BinaryMeta.decodePixelStats(blobs, "id")
      .as[(Long, Option[Int], Option[Int], Option[Int], Option[Long], Option[Long], Option[Long])]
      .collect()
    assert(out.map(_._1).toSeq == Seq(5L))
    // id 5: 6x6 RGB (5%16+1, 5%12+1, odd -> 3 channels), decoded stats
    // equal the closed form the oracle uses
    val n = 6L * 6 * 3
    val expSum = (0L until n).map(s => (s * 31 + 5) % 256).sum
    assert(out.head._5.contains(n) && out.head._6.contains(expSum))
  }

  test("round-8 second-half ops: degenerate inputs flow cleanly") {
    import graft.multimodal.BinaryMeta
    import graft.text.Curate
    // audio plumbing: junk / null / empty blobs -> null stats (per-
    // clip path) and zero rows (segment explode path), never a crash
    val junk = Seq((1L, "not riff".getBytes),
      (2L, null.asInstanceOf[Array[Byte]]),
      (3L, Array.empty[Byte])).toDF("doc_id", "blob")
    val astats = BinaryMeta.decodeAudioStats(junk, "doc_id").collect()
    assert(astats.length == 3 && astats.forall(_.isNullAt(1)))
    assert(BinaryMeta.decodeAudioSegments(junk, "doc_id", 32).count() == 0)
    // resize on junk: null-stats rows
    val rstats = BinaryMeta.resizePixelStats(junk, "doc_id", 4, 4).collect()
    assert(rstats.length == 3 && rstats.forall(_.isNullAt(1)))
    // chunking: empty frame and all-empty texts produce no chunks
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Curate.chunkTokens(noDocs, "doc_id", "text", 8, 4).count() == 0)
    val blank = Seq((1L, ""), (2L, "   "), (3L, "...")).toDF("doc_id", "text")
    assert(Curate.chunkTokens(blank, "doc_id", "text", 8, 4).count() == 0)
    // gopher profile: nulls coalesce through the tokenizer contract
    val gp = Curate.gopherProfile(
      Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(gp.length == 2, "null text must not drop or crash rows")
    // leakage-free split with NO pairs: every doc self-represents
    val solo = Curate.leakageFreeSplit(
      spark.range(50).toDF("id"),
      "id", Seq.empty[(Long, Long)].toDF("id1", "id2"),
      Seq("train" -> 0.9, "val" -> 0.1))
      .select("id", "group_id").as[(Long, Long)].collect()
    assert(solo.length == 50 && solo.forall(r => r._1 == r._2))
    // PQ on a batch of zero queries: empty result, no failure
    val emb = (0 until 40).map(i =>
      (i.toLong, Seq.fill(8)(((i * 7 + 3) % 17).toFloat))).toDF("vec_id", "embedding")
    assert(Ann.pqTopK(emb.where(F.lit(false)), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3, m = 2, ksub = 4, iters = 1)
      .count() == 0)
  }

  test("round-8 third-session ops: degenerate inputs flow cleanly") {
    import graft.multimodal.GifCodec
    import graft.text.Curate
    import graft.streaming.Events
    import graft.dedup.Dedup
    // semantic dedup on a tiny corpus (fewer rows than cells): trains
    // on what exists, returns the exact pair set
    val tiny = (0 until 6).map(i =>
      (i.toLong, Seq.fill(8)(((i % 2) * 10 + 1).toFloat))).toDF("vec_id", "embedding")
    val p = Ann.semanticPairs(tiny, "vec_id", "embedding", threshold = 0.99,
      nCells = 16, nProbe = 16)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val exact = Ann.cosinePairs(tiny, "vec_id", "embedding", 0.99)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(p == exact && p.nonEmpty)
    // keepBest with an EMPTY pair table: everyone survives as self
    val m = Dedup.keepBest(tiny.toDF("doc_id", "v"), "doc_id",
      Seq.empty[(Long, Long)].toDF("id1", "id2"),
      tiny.select(F.col("vec_id").as("id"), F.lit(1).as("score")))
      .as[(Long, Long)].collect()
    assert(m.length == 6 && m.forall(r => r._1 == r._2))
    // temperature rates: single group -> share 1.0 regardless of alpha
    val one = Seq((1L, "g", "w w w")).toDF("id", "grp", "text")
    val tr = Curate.temperatureRates(one, "grp", "text", 0.3, 10)
      .select("temp_share").as[Double].head()
    assert(tr == 1.0)
    // sliding agg over zero events: empty, no failure
    val noEv = Seq.empty[(java.sql.Timestamp, String, Double, Long)]
      .toDF("ts", "event_type", "value", "user_id")
    assert(Events.slidingAgg(noEv).count() == 0)
    // GIF stats on junk rows through the sniffing decode path
    val junk = Seq((1L, "GIF89a".getBytes), // header only, no image
      (2L, null.asInstanceOf[Array[Byte]]),
      (3L, GifCodec.encode(3, 2, _ => 7))).toDF("doc_id", "blob")
    val stats = graft.multimodal.BinaryMeta.decodePixelStats(junk, "doc_id")
      .orderBy("id").collect()
    assert(stats.length == 3 && stats(0).isNullAt(1) && stats(1).isNullAt(1)
      && !stats(2).isNullAt(1))
  }

  test("round-8 closing ops: degenerate inputs flow cleanly") {
    import graft.text.Curate
    import graft.streaming.Events
    import graft.multimodal.WavCodec
    // applyMixture with an empty rate table keeps nothing; with a
    // rate-1.0 table keeps everything
    val docs = Seq((1L, "g", "w"), (2L, "g", "w w")).toDF("id", "grp", "text")
    val none = Curate.applyMixture(docs, "id", "grp",
      Seq.empty[(String, Double)].toDF("group", "rate"))
    assert(none.count() == 0)
    val all = Curate.applyMixture(docs, "id", "grp",
      Seq(("g", 1.0)).toDF("group", "rate"))
    assert(all.count() == 2)
    // rolling users over zero events: empty, no failure
    val noEv = Seq.empty[(java.sql.Timestamp, String, Double, Long)]
      .toDF("ts", "event_type", "value", "user_id")
    assert(Events.rollingActiveUsers(noEv).count() == 0)
    // time bins on junk / zero-frame clips
    assert(WavCodec.decodeTimeBins("junk".getBytes, 4).isEmpty)
    assert(WavCodec.decodeTimeBins(null, 4).isEmpty)
    assert(WavCodec.decodeTimeBins(WavCodec.encode(8000, 1, 0, _ => 0), 4)
      .contains(Seq.empty))
    // range search with an empty query batch: empty result
    val emb = (0 until 10).map(i =>
      (i.toLong, Seq.fill(4)((i + 1).toFloat))).toDF("vec_id", "embedding")
    assert(Ann.cosineRange(emb.where(F.lit(false)), "vec_id", "embedding",
      emb, "vec_id", "embedding", radius = 0.5).count() == 0)
  }

  test("round-12 ops: degenerate inputs flow cleanly") {
    import graft.text.{Classify, Search}
    import graft.similarity.Ann
    val docs = Seq((1L, "alpha beta gamma alpha"), (2L, ""),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // query terms absent from the corpus / tokenizing to nothing:
    // empty ranked lists, never an error
    assert(Search.bm25TopK(docs, "doc_id", "text",
      Seq(0 -> "zzz qqq"), k = 5).count() == 0)
    assert(Search.bm25TopK(docs, "doc_id", "text",
      Seq(0 -> "!!! ..."), k = 5).count() == 0)
    // persisted index on the tiny corpus: unknown-term probe is empty;
    // an EMPTY appended batch changes nothing (stats stay additive),
    // and the served result still equals the inline query
    val dir = java.nio.file.Files.createTempDirectory("bm25rob").toString
    val table = "graft_bm25_rob_" + java.lang.Long.toHexString(System.nanoTime())
    Search.bm25Build(docs, "doc_id", "text", table, s"$dir/stats", nBuckets = 2)
    assert(Search.bm25QueryIndex(spark, table, s"$dir/stats",
      Seq(0 -> "zzz"), k = 5).count() == 0)
    Search.bm25IndexAppend(docs.where(F.lit(false)), "doc_id", "text",
      table, s"$dir/stats", nBuckets = 2)
    val viaIdx = Search.bm25QueryIndex(spark, table, s"$dir/stats",
      Seq(0 -> "alpha"), k = 5)
      .as[(Int, Long, Double, Int)].collect().toSeq
    val inline = Search.bm25TopK(docs, "doc_id", "text",
      Seq(0 -> "alpha"), k = 5)
      .as[(Int, Long, Double, Int)].collect().toSeq
    assert(viaIdx == inline && viaIdx.nonEmpty)
    // fusion with one arm empty degrades to the other arm's order
    val armA = Seq((0, 10L, 1L), (0, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    assert(Search.rrfFuse(Seq(armA, armA.where(F.lit(false))), k = 5)
      .count() == 2)
    // NB with an all-OOV test doc falls back to the prior argmax; an
    // empty test frame yields an empty result, no errors
    val tr = Seq((1L, "x x y", "a"), (2L, "y z", "b")).toDF("id", "text", "y")
    val te = Seq((3L, "qq ww", "a")).toDF("id", "text", "y")
    val nb = Classify.naiveBayes(tr, te, "id", "text", "y").collect()
    assert(nb.length == 1 && !nb(0).isNullAt(2))
    assert(Classify.naiveBayes(tr, te.where(F.lit(false)),
      "id", "text", "y").count() == 0)
    // composed IVFPQ with an empty query batch: empty, no failure
    val emb = (0 until 40).map(i =>
      (i.toLong, Seq.fill(8)(((i * 5 + 1) % 13).toFloat))).toDF("vec_id", "embedding")
    assert(Ann.ivfpqTopK(emb.where(F.lit(false)), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3, nCells = 4, nProbe = 2,
      m = 2, ksub = 4, iters = 1).count() == 0)
  }

  test("round-13 ops: degenerate inputs flow cleanly") {
    import graft.harmonize.Profile
    import graft.streaming.Events
    import graft.operators.Scd
    // outlier audit: empty frame and all-null column yield empty /
    // absent rows, never an error; a single-value column is its own
    // quartile with collapsed fences
    val e = Seq.empty[(Option[Double], Option[Double])].toDF("a", "b")
    assert(Profile.numericOutliers(e, Seq("a", "b")).count() == 0)
    val withNull = Seq((Some(1.0), None: Option[Double]),
      (Some(2.0), None)).toDF("a", "b")
    val cols = Profile.numericOutliers(withNull, Seq("a", "b"))
      .select("column").as[String].collect().toSet
    assert(cols == Set("a"), s"all-null column must drop out: $cols")
    // key-skew on an empty frame: empty result
    assert(Profile.keySkew(e, Seq("a")).count() == 0)
    // attribution: either side empty -> no pairs; lastTouch of no
    // pairs -> empty
    val c0 = Seq((1L, new java.sql.Timestamp(1700000000000L), 10L))
      .toDF("user_id", "ts", "event_id")
    assert(Events.attributionPairs(c0, c0.where(F.lit(false))).count() == 0)
    assert(Events.lastTouchAttribution(
      Events.attributionPairs(c0.where(F.lit(false)), c0)).count() == 0)
    // seasonal anomalies: empty events -> empty; one single day ->
    // never flagged (n=1 degenerate baseline)
    val ets = Seq(("click", new java.sql.Timestamp(1700006400000L)))
      .toDF("event_type", "ts")
    assert(Events.seasonalAnomalies(ets.where(F.lit(false))).count() == 0)
    val one = Events.seasonalAnomalies(ets).collect()
    assert(one.length == 1 && !one(0).getBoolean(6))
    // SCD2 lookup: empty facts -> empty; empty dimension -> all-null
    // attributes (left join), never a drop
    val dim = Scd.scd2Init(Seq((1L, "A")).toDF("k", "seg"), "k", Seq("seg"))
    val facts = Seq((10L, 1L, 5L)).toDF("fid", "k", "at_us")
    assert(Scd.scd2Lookup(facts.where(F.lit(false)), "k", "at_us",
      dim, "k", Seq("seg")).count() == 0)
    val noDim = Scd.scd2Lookup(facts, "k", "at_us",
      dim.where(F.lit(false)), "k", Seq("seg")).collect()
    assert(noDim.length == 1 && noDim(0).isNullAt(3))
  }

  test("graph ranks: an empty edge list is a documented IllegalArgumentException") {
    import graft.operators.Graph
    val noEdges = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("node")
    // the seed sum over zero nodes is null, not 0: reading it raw was
    // an NPE before the require could name the problem
    val ppr = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(noEdges, seeds).collect()
    }
    assert(ppr.getMessage.contains("no seed present"), ppr.getMessage)
    val pr = intercept[IllegalArgumentException](Graph.pageRank(noEdges).collect())
    assert(pr.getMessage.contains("empty edge list"), pr.getMessage)
  }

  test("property: AsOfJoin both directions equal brute force on random data (seeded)") {
    import graft.operators.AsOfJoin
    val rnd = new Random(17)
    val left = (0 until 120).map(i =>
      (i.toLong, s"k${rnd.nextInt(6)}", rnd.nextInt(50).toLong)).toSeq
    val right = (0 until 80).map(i =>
      (s"k${rnd.nextInt(8)}", rnd.nextInt(50).toLong, s"p$i")).toSeq
    val lDf = left.toDF("event_id", "k", "t")
    val rDf = right.toDF("k", "rt", "payload")
    // deterministic tie-break inside equal (k, rt) groups: keep max payload
    val rBest = rDf.groupBy("k", "rt").agg(F.max("payload").as("payload"))
    val bestMap = right.groupBy(r => (r._1, r._2)).map { case (k, rs) =>
      k -> rs.map(_._3).max }
    def brute(dir: String): Map[Long, Option[String]] = left.map { case (id, k, t) =>
      val cands = bestMap.filter { case ((rk, rt), _) =>
        rk == k && (if (dir == "backward") rt <= t else rt >= t) }
      id -> (if (cands.isEmpty) None
             else Some(cands.minBy { case ((_, rt), _) =>
               if (dir == "backward") -rt else rt }._2))
    }.toMap
    for (dir <- Seq("backward", "forward")) {
      val got = AsOfJoin(lDf, rBest, key = "k", leftTime = "t", rightTime = "rt",
        payload = Seq("payload"), direction = dir)
        .select("event_id", "payload").as[(Long, Option[String])]
        .collect().toMap
      assert(got == brute(dir), s"direction=$dir")
    }
  }

  test("property: attribution pairs + last-touch equal brute force on random data (seeded)") {
    import graft.streaming.Events
    val rnd = new Random(29)
    val base = 1700000000000L
    def ts(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    // random clicks/conversions over 12 users and a 2-day span; the
    // 6 h window leaves a genuine mix of multi-touch, single-touch,
    // out-of-window, and clickless conversions
    val clicks = (0 until 150).map(i =>
      (rnd.nextInt(12).toLong, ts(rnd.nextInt(2880)), 1000L + i))
    val convs = (0 until 60).map(i =>
      (rnd.nextInt(14).toLong, ts(rnd.nextInt(2880)), 2000L + i))
    val cDf = clicks.toDF("user_id", "ts", "event_id")
    val pDf = convs.toDF("user_id", "ts", "event_id")
    val gapMs = 6L * 3600 * 1000
    val brutePairs = (for {
      (cu, cts, cid) <- clicks
      (pu, pts, pid) <- convs
      if cu == pu && pts.getTime >= cts.getTime &&
        pts.getTime - cts.getTime <= gapMs
    } yield (cid, pid)).toSet
    val gotPairs = Events.attributionPairs(cDf, pDf, "6 hours")
      .select("click_id", "conv_id").as[(Long, Long)].collect().toSet
    assert(gotPairs == brutePairs && brutePairs.nonEmpty,
      s"pairs drift: extra=${gotPairs -- brutePairs} missing=${brutePairs -- gotPairs}")
    // last-touch: per conversion the max-(click_ts, click_id) click,
    // with the candidate count
    val byConv = brutePairs.groupBy(_._2)
    val clickTs = clicks.map(c => c._3 -> c._2.getTime).toMap
    val bruteLt = byConv.map { case (pid, ps) =>
      val best = ps.map(_._1).maxBy(cid => (clickTs(cid), cid))
      pid -> ((best, ps.size.toLong))
    }
    val gotLt = Events.lastTouchAttribution(
        Events.attributionPairs(cDf, pDf, "6 hours"))
      .select("conv_id", "click_id", "n_candidates")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(gotLt == bruteLt, "last-touch argmax/candidate-count drift")
  }

  test("property: GifCodec LZW decoder equals the compressing encoder on random streams (seeded)") {
    import graft.multimodal.GifCodec
    // the TextOpsSpec test-side compressor, reused property-style:
    // random alphabets and run-heavy patterns across minCode widths
    def compress(indices: Array[Int], minCode: Int): Array[Byte] = {
      val clear = 1 << minCode
      var width = minCode + 1
      var encNext = clear + 2
      var decNext = clear + 2
      var emitted = 0
      val dict = scala.collection.mutable.HashMap[Vector[Int], Int]()
      val out = new java.io.ByteArrayOutputStream()
      var acc = 0L; var bits = 0
      def put(code: Int): Unit = {
        acc |= code.toLong << bits; bits += width
        while (bits >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; bits -= 8 }
        emitted += 1
        if (emitted >= 2 && decNext < 4096) {
          decNext += 1
          if (decNext < 4096 && decNext == (1 << width) && width < 12) width += 1
        }
      }
      def codeOf(s: Vector[Int]): Int = if (s.length == 1) s(0) else dict(s)
      put(clear); emitted = 0
      var cur = Vector(indices(0))
      for (k <- 1 until indices.length) {
        val ext = cur :+ indices(k)
        if (ext.length == 1 || dict.contains(ext)) cur = ext
        else {
          put(codeOf(cur))
          if (encNext < 4096) { dict(ext) = encNext; encNext += 1 }
          cur = Vector(indices(k))
        }
      }
      put(codeOf(cur))
      put(clear + 1)
      if (bits > 0) out.write((acc & 0xff).toInt)
      out.toByteArray
    }
    def container(w: Int, h: Int, minCode: Int, lzw: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def w8(v: Int): Unit = bos.write(v & 0xff)
      def w16(v: Int): Unit = { w8(v); w8(v >> 8) }
      bos.write("GIF89a".getBytes("US-ASCII"))
      w16(w); w16(h); w8(0x80 | (minCode - 1)); w8(0); w8(0)
      for (i <- 0 until (1 << minCode)) { val g = i * 31 % 256; w8(g); w8(g); w8(g) }
      w8(0x2c); w16(0); w16(0); w16(w); w16(h); w8(0)
      w8(minCode)
      var off = 0
      while (off < lzw.length) {
        val len = math.min(255, lzw.length - off)
        w8(len); bos.write(lzw, off, len); off += len
      }
      w8(0); w8(0x3b)
      bos.toByteArray
    }
    val rnd = new Random(29)
    for (i <- 0 until 12) {
      val minCode = 2 + rnd.nextInt(7) // 2..8
      val w = 5 + rnd.nextInt(60)
      val h = 5 + rnd.nextInt(40)
      val n = w * h
      val alpha = 1 << minCode
      // mix random symbols with runs (runs drive dictionary growth)
      val idx = new Array[Int](n)
      var j = 0
      while (j < n) {
        if (rnd.nextBoolean()) { idx(j) = rnd.nextInt(alpha); j += 1 }
        else {
          val run = 1 + rnd.nextInt(20)
          val v = rnd.nextInt(alpha)
          var r = 0
          while (r < run && j < n) { idx(j) = v; j += 1; r += 1 }
        }
      }
      val blob = container(w, h, minCode, compress(idx, minCode))
      val vals = idx.map(v => (v * 31 % 256).toLong)
      val got = GifCodec.decodeStats(blob)
      assert(got.contains(graft.multimodal.PngCodec.PixelStats(
        w, h, 3, 3L * n, 3L * vals.sum, 3L * vals.map(v => v * v).sum)),
        s"case $i (minCode=$minCode ${w}x$h): got $got")
    }
  }

  test("property: GifCodec round-trips random dims and values exactly (seeded)") {
    import graft.multimodal.{GifCodec, PngCodec}
    val rnd = new Random(11)
    for (i <- 0 until 20) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(30)
      val seed = rnd.nextInt(1 << 20)
      val value: Int => Int = s => ((s.toLong * 2654435761L + seed) % 256).toInt & 0xff
      val blob = GifCodec.encode(w, h, value)
      val n = w * h
      val vals = (0 until n).map(s => value(s).toLong)
      val got = GifCodec.decodeStats(blob)
      assert(got.contains(PngCodec.PixelStats(
        w, h, 3, 3L * n, 3L * vals.sum, 3L * vals.map(v => v * v).sum)),
        s"case $i ($w x $h seed=$seed): got $got")
    }
  }

  test("property: JpegCodec round-trips random dims and block values exactly (seeded)") {
    import graft.multimodal.{JpegCodec, PngCodec}
    val rnd = new Random(13)
    for (i <- 0 until 20) {
      val w = 1 + rnd.nextInt(48)
      val h = 1 + rnd.nextInt(36)
      val seed = rnd.nextInt(1 << 20)
      val bw = (w + 7) / 8
      val value: Int => Int = b => ((b.toLong * 2654435761L + seed) % 256).toInt & 0xff
      val blob = JpegCodec.encode(w, h, value)
      var s = 0L
      var sq = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = value((y / 8) * bw + (x / 8)).toLong
        s += v; sq += v * v
      }
      val got = JpegCodec.decodeStats(blob)
      assert(got.contains(PngCodec.PixelStats(w, h, 1, w.toLong * h, s, sq)),
        s"case $i ($w x $h seed=$seed): got $got")
    }
  }

  test("property: winnowMins equals brute force on random arrays (seeded)") {
    val rnd = new Random(7)
    val cases = (0 until 30).map { _ =>
      val n = rnd.nextInt(41)
      (Seq.fill(n)(rnd.nextLong() / 2), 1 + rnd.nextInt(6))
    }
    cases.zipWithIndex.foreach { case ((xs, w), i) =>
      val res = Seq(Tuple1(xs)).toDF("hs")
        .select(HashExprs.winnowMins($"hs", w).as("m")).as[Seq[Long]].head()
      val want =
        if (xs.isEmpty) Seq.empty[Long]
        else if (xs.length < w) Seq(xs.min)
        else (0 to xs.length - w).map(j => xs.slice(j, j + w).min).distinct.sorted
      assert(res == want, s"case $i: n=${xs.length} w=$w")
    }
  }

  test("property: indelSim equals brute-force 2*LCS/(m+n) (seeded)") {
    val rnd = new Random(23)
    def lcs(a: String, b: String): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
                   else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length)
    }
    val alpha = "abcAB "
    val cases = (0 until 40).map { _ =>
      def s() = Seq.fill(rnd.nextInt(12))(alpha(rnd.nextInt(alpha.length))).mkString
      (s(), s())
    } :+ ("", "") :+ ("", "x")
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(HashExprs.indelSim($"a", $"b").as("s")).as[Double].head()
      val want = if (a.isEmpty && b.isEmpty) 1.0
                 else 2.0 * lcs(a, b) / (a.length + b.length)
      assert(math.abs(got - want) < 1e-12, s"case $i: '$a' vs '$b'")
    }
  }

  test("property: sortedIntersectCount equals set intersection size (seeded)") {
    val rnd = new Random(11)
    (0 until 30).foreach { i =>
      val a = Seq.fill(rnd.nextInt(20))(rnd.nextLong() % 31).distinct.sorted
      val b = Seq.fill(rnd.nextInt(20))(rnd.nextLong() % 31).distinct.sorted
      val got = Seq((a, b)).toDF("a", "b")
        .select(HashExprs.sortedIntersectCount($"a", $"b").as("c")).as[Long].head()
      assert(got == a.toSet.intersect(b.toSet).size.toLong, s"case $i")
    }
  }
}
