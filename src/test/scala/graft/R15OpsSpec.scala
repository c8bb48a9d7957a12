package graft

import org.apache.spark.sql.{functions => F}

/** Round-15 operator specs: sorted-neighborhood record linkage
  * (scale contract + agreement with blocking), the Versioned
  * staging-commit race guard, and the table-diff null-key sentinel.
  */
class R15OpsSpec extends SparkSpec {
  import spark.implicits._

  private def srcA = Seq(
    (1L, "alpha corp", "k1"),
    (2L, "betta inc", "k1"),
    (3L, "gamma llc", "k2"),
    (4L, "delta gmbh", "k2")).toDF("id_a", "name_a", "blk")
    .withColumn("skey", F.col("name_a"))
  private def srcB = Seq(
    (11L, "alpha corp.", "k1"),
    (13L, "gama llc", "k2")).toDF("id_b", "name_b", "blk")
    .withColumn("skey", F.col("name_b"))

  test("linkSortedNeighborhood: identical links to blocked linkage when blocks are small") {
    import graft.harmonize.Linkage
    val blocked = Linkage.linkByName(srcA, srcB, Seq("blk"),
      "id_a", "name_a", "id_b", "name_b", maxDist = 3)
      .select("id_b", "id_a", "lev").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sorted = Linkage.linkSortedNeighborhood(srcA, srcB,
      "skey", "skey", "id_a", "name_a", "id_b", "name_b",
      window = 4, maxDist = 3)
      .select("id_b", "id_a", "lev").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(blocked == Set((11L, 1L, 1), (13L, 3L, 1)))
    assert(sorted == blocked,
      "window linkage must find the same links as blocking on small blocks")
  }

  test("linkSortedNeighborhood: string ids link natively (no silent long-cast nulls)") {
    import graft.harmonize.Linkage
    // same records as the small-block fixture but with STRING ids on
    // both sides — before the native-typed id carry, cast("long")
    // nulled these and every link came back with null ids
    val a = srcA.withColumn("id_a", F.concat(F.lit("A-"), F.col("id_a")))
    val b = srcB.withColumn("id_b", F.concat(F.lit("B-"), F.col("id_b")))
    val got = Linkage.linkSortedNeighborhood(a, b,
      "skey", "skey", "id_a", "name_a", "id_b", "name_b",
      window = 4, maxDist = 3)
      .select("id_b", "id_a", "lev").collect().map(r =>
        (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("B-11", "A-1", 1), ("B-13", "A-3", 1)), s"$got")
    // mixed types too: string master ids, long batch ids
    val mixed = Linkage.linkSortedNeighborhood(a, srcB,
      "skey", "skey", "id_a", "name_a", "id_b", "name_b",
      window = 4, maxDist = 3)
      .select("id_b", "id_a", "lev").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(mixed == Set((11L, "A-1", 1), (13L, "A-3", 1)), s"$mixed")
  }

  test("linkSortedNeighborhood: candidate count is window-bounded on an oversized block") {
    import graft.harmonize.Linkage
    // one degenerate "block": every record shares the same leading
    // sort-key region. Blocking on it would generate |A|x|B| pairs;
    // the window contract caps candidates at n*(window-1) TOTAL.
    val n = 200
    val bigA = (1 to n).map(i => (i.toLong, f"name$i%04d"))
      .toDF("id_a", "name_a").withColumn("skey", F.col("name_a"))
    val bigB = (1 to n).map(i => (1000L + i, f"name$i%04d"))
      .toDF("id_b", "name_b").withColumn("skey", F.col("name_b"))
    val w = 5
    // maxDist large enough that NO candidate is score-filtered: the
    // output n_candidates sum is then the full surviving pair count
    val out = Linkage.linkSortedNeighborhood(bigA, bigB,
      "skey", "skey", "id_a", "name_a", "id_b", "name_b",
      window = w, maxDist = 1000)
    val rows = out.collect()
    // every B record links (its twin is rank-adjacent: equal key,
    // side tie-break) ...
    assert(rows.length == n)
    rows.foreach(r => assert(r.getAs[Long]("id_b") - 1000L ==
      r.getAs[Long]("id_a"), "nearest neighbor in sort order must win"))
    // ... and total candidates stay <= 2n*(w-1) (each of the 2n merged
    // records sees at most w-1 higher-ranked partners) — the
    // oversized block CANNOT go quadratic (|A|x|B| would be 40000)
    val totalCand = rows.map(_.getAs[Long]("n_candidates")).sum
    assert(totalCand <= 2L * n * (w - 1),
      s"candidates $totalCand exceed the window bound ${2L * n * (w - 1)}")
  }

  test("linkSortedNeighborhood: catches matches across a key-sort boundary that blocking misses") {
    import graft.harmonize.Linkage
    // names that NO equality block key would co-locate (they differ
    // in their last characters, so any truncation/equality block on
    // the dirty value space can separate them): the sorted window
    // pairs them purely by rank adjacency
    val a = Seq((1L, "alpha")).toDF("id_a", "name_a")
      .withColumn("skey", F.col("name_a"))
    val b = Seq((2L, "alphb")).toDF("id_b", "name_b")
      .withColumn("skey", F.col("name_b"))
    val out = Linkage.linkSortedNeighborhood(a, b, "skey", "skey",
      "id_a", "name_a", "id_b", "name_b", window = 2, maxDist = 2)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 1L)))
  }

  test("linkSortedNeighborhoodMulti: a reverse-key second pass catches prefix-dirty names") {
    import graft.harmonize.Linkage
    // "aaaa0001".."aaaa0004" vs dirty twins; twin of record 2 has a
    // corrupted FIRST character ("zaaa0002") — under the forward key
    // it sorts to the far end of the merged order, so single-pass SNM
    // misses it; its REVERSE ("2000aaaz") stays adjacent to
    // "2000aaaa", so the suffix pass catches it
    val a = Seq((1L, "aaaa0001"), (2L, "aaaa0002"), (3L, "aaaa0003"),
      (4L, "aaaa0004"), (5L, "bbbb0005"), (6L, "cccc0006"),
      (7L, "dddd0007"), (8L, "eeee0008")).toDF("id_a", "name_a")
      .withColumn("k1", F.col("name_a"))
      .withColumn("k2", F.reverse(F.col("name_a")))
    val b = Seq((12L, "zaaa0002"), (13L, "aaaa0003"))
      .toDF("id_b", "name_b")
      .withColumn("k2", F.reverse(F.col("name_b")))
    def links(df: org.apache.spark.sql.DataFrame) =
      df.select("id_b", "id_a").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = links(Linkage.linkSortedNeighborhood(a, b, "k1", "name_b",
      "id_a", "name_a", "id_b", "name_b", window = 3, maxDist = 1))
    val multi = links(Linkage.linkSortedNeighborhoodMulti(a, b,
      Seq("k1" -> "name_b", "k2" -> "k2"),
      "id_a", "name_a", "id_b", "name_b", window = 3, maxDist = 1))
    assert(single == Set((13L, 3L)), s"single-pass found $single")
    assert(multi == Set((12L, 2L), (13L, 3L)),
      s"multi-pass must add the prefix-dirty link, got $multi")
  }

  test("linkByNameIndex: partition-pruned serve equals direct blocked linkage") {
    import graft.harmonize.Linkage
    val a = Seq((1L, "alpha corp", "k1"), (2L, "betta inc", "k1"),
      (3L, "gamma llc", "k2"), (4L, "delta gmbh", "k3"))
      .toDF("id_a", "name_a", "blk")
    val path = java.nio.file.Files.createTempDirectory("eridx").toString + "/idx"
    Linkage.linkIndexBuild(a, path, Seq("blk"), "id_a", "name_a")
    // a batch touching ONLY block k1: the scan must partition-prune
    val b = Seq((11L, "alpha corp.", "k1")).toDF("id_b", "name_b", "blk")
    val served = Linkage.linkByNameIndex(spark, path, b, Seq("blk"),
      "id_a", "name_a", "id_b", "name_b", maxDist = 3)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("blk"),
      s"served read must carry a partition filter on blk:\n$plan")
    val direct = Linkage.linkByName(a, b, Seq("blk"),
      "id_a", "name_a", "id_b", "name_b", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == direct && got == Set((11L, 1L, 1)))
  }

  test("streaming ER ingest: per-batch links against the index equal the one-shot linkage") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.harmonize.Linkage
    import graft.streaming.StreamingLinkage
    implicit val sq = spark.sqlContext
    val a = Seq((1L, "alpha corp", "k1"), (2L, "betta inc", "k1"),
      (3L, "gamma llc", "k2"), (4L, "delta gmbh", "k3"))
      .toDF("id_a", "name_a", "blk")
    val root = java.nio.file.Files.createTempDirectory("erstream").toString
    Linkage.linkIndexBuild(a, s"$root/idx", Seq("blk"), "id_a", "name_a")
    val b1 = Seq((11L, "alpha corp.", "k1"), (12L, "betta ink", "k1"))
    val b2 = Seq((13L, "gama llc", "k2"), (14L, "zzzz", "k3"))
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingLinkage.erIngest(
      stream.toDF().toDF("id_b", "name_b", "blk"), s"$root/idx",
      s"$root/links", Seq("blk"),
      "id_a", "name_a", "id_b", "name_b", maxDist = 3)
    try {
      stream.addData(b1: _*)
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val live = spark.read.parquet(s"$root/links")
    val got = live.select("id_b", "id_a", "lev", "n_candidates").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val oneShot = Linkage.linkByName(a,
        (b1 ++ b2).toDF("id_b", "name_b", "blk"), Seq("blk"),
        "id_a", "name_a", "id_b", "name_b", maxDist = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == oneShot && got.nonEmpty, s"live=$got oneShot=$oneShot")
    // unlinkable record (14) dropped on both paths; lineage stamped
    assert(!got.exists(_._1 == 14L))
    assert(live.select("ingest_batch").as[Long].collect().toSet == Set(0L, 1L))
  }

  test("Versioned: a same-version loser must not clobber the winner's committed data") {
    import graft.sources.Versioned
    val root = java.nio.file.Files.createTempDirectory("vtab15").toString + "/t"
    Versioned.commit(Seq((1L, "a")).toDF("k", "s"), root)
    // simulate the race: both writers computed next=2; the "winner"
    // commits (data + marker) first...
    Versioned.commit(Seq((2L, "winner")).toDF("k", "s"), root)
    // ...the loser, having computed the SAME target version, tries to
    // promote ITS v_2 (commitAs is exactly that stale-writer retry
    // surface). It must fail loudly AND leave the winner's rows
    // untouched — under the pre-r15 SaveMode.Overwrite it would have
    // silently replaced the committed data before erroring.
    val e = intercept[IllegalStateException] {
      Versioned.commitAs(Seq((2L, "loser")).toDF("k", "s"), root, 2L)
    }
    assert(e.getMessage.contains("concurrent commit"))
    assert(Versioned.read(spark, root, version = Some(2L))
      .select("s").as[String].collect().toSeq == Seq("winner"))
    Versioned.vacuum(spark, root, keep = 2)
    val stale = new java.io.File(root).listFiles()
      .filter(_.getName.contains(".tmp-"))
    assert(stale.isEmpty, s"staging leftovers: ${stale.mkString(",")}")
  }

  test("labelPropagation/kCore/modularity: self-loops and multi-edges canonicalize") {
    import graft.operators.Graph
    // canonical triangle + pendant
    val clean = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"))
      .toDF("a", "b")
    // same graph with a self-loop, a reversed duplicate, and an exact
    // duplicate — the operators must normalize to identical results
    val dirty = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
      ("b", "b"), ("c", "a"), ("a", "b")).toDF("a", "b")
    def lp(df: org.apache.spark.sql.DataFrame) =
      Graph.labelPropagation(df, iters = 3).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    assert(lp(dirty) == lp(clean))
    def kc(df: org.apache.spark.sql.DataFrame) =
      Graph.kCore(df, k = 2, rounds = 4).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kc(dirty) == kc(clean))
    assert(kc(clean) == Set(("a", 2L), ("b", 2L), ("c", 2L)))
    val comm = Seq(("a", "g1"), ("b", "g1"), ("c", "g1"), ("d", "g2"))
      .toDF("node", "community")
    def mod(df: org.apache.spark.sql.DataFrame) =
      Graph.modularity(df, comm).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    assert(mod(dirty) == mod(clean))
    // m=4, g1: intra=3, degree_sum=2+2+3=7 -> q = 4*4*3 - 49 = -1
    assert(mod(clean).find(_._1 == "g1").get._5 == 4L * 4 * 3 - 49)
  }

  test("linkPredictionAA: table-exact Adamic-Adar ranks low-degree evidence first") {
    import graft.operators.Graph
    // z is a common neighbor of (u,v) with degree 2; hub h is a
    // common neighbor of (u2,v2) with degree 4: CN ties at 1 but AA
    // must rank the low-degree witness pair FIRST (1/ln2 > 1/ln4)
    val pairs = Seq(
      ("u", "z"), ("v", "z"),
      ("u2", "h"), ("v2", "h"), ("x1", "h"), ("x2", "h")).toDF("a", "b")
    val out = Graph.linkPredictionAA(pairs, maxPivotDegree = 10, k = 3)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    val tbl = Graph.aaTable(10, 1000000L).toMap
    val top = out.head
    assert((top._1, top._2) == ("u", "v"))
    assert(top._5 == tbl(2), s"aa_num ${top._5} != table 1/ln2 ${tbl(2)}")
    // the hub-witnessed pairs carry the down-weighted 1/ln4 evidence
    val hubPair = out.find(p => p._1 == "u2" && p._2 == "v2").get
    assert(hubPair._5 == tbl(4))
    assert(top._5 > hubPair._5)
  }

  test("tableDiff: rows with NULL keys are counted via presence sentinels") {
    import graft.operators.Diff
    val before = Seq[(java.lang.Long, String)]((1L, "x"), (null, "y"))
      .toDF("k", "v")
    val after = Seq[(java.lang.Long, String)]((1L, "x"), (null, "z"))
      .toDF("k", "v")
    val m = Diff.tableDiff(before, after, Seq("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the <=> join PAIRS the null-key rows; key-nullness detection
    // would have dropped them from every bucket
    assert(m("rows_before") == 2L && m("rows_after") == 2L)
    assert(m("changed") == 1L && m("unchanged") == 1L)
    assert(m("col:v") == 1L)
    assert(m("added") == 0L && m("removed") == 0L)
  }

  test("streaming PCA-composed ANN ingest: live index equals the one-shot frozen-train build") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingSearch
    import graft.similarity.Pca
    implicit val sq = spark.sqlContext
    def vec(i: Long): Seq[Float] =
      Seq.tabulate(12)(j => ((i * (j + 5) * 41) % 103) / 50.0f - 1.0f)
    val initial = (0L until 16L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val b1 = (16L until 22L).map(i => (i, vec(i)))
    val b2 = (22L until 28L).map(i => (i, vec(i)))
    val path = java.nio.file.Files.createTempDirectory("pcastream").toString
    Pca.pcaIvfpqBuild(initial, "vec_id", "embedding", path,
      kDim = 8, nCells = 4, m = 4, ksub = 4, iters = 2)
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamingSearch.annIngestPca(
      stream.toDF().toDF("vec_id", "embedding"), path, "vec_id", "embedding")
    try {
      stream.addData(b1: _*)
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // live loop (project through PERSISTED params, encode frozen) must
    // equal a one-shot build over the union whose PCA basis AND
    // quantizers trained on the same initial slice
    val union = initial.unionAll((b1 ++ b2).toDF("vec_id", "embedding"))
    val ref = java.nio.file.Files.createTempDirectory("pcastreamref").toString
    Pca.pcaIvfpqBuild(union, "vec_id", "embedding", ref,
      kDim = 8, nCells = 4, m = 4, ksub = 4, iters = 2,
      trainCorpus = Some(initial))
    val queries = union.where($"vec_id" < 3)
    def res(p: String) =
      Pca.pcaIvfpqQueryIndex(spark, p, queries, "vec_id", "embedding",
        union, "vec_id", "embedding", k = 3, nProbe = 2, rerank = 4)
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    val live = res(path)
    assert(live.nonEmpty && live == res(ref),
      "live streamed composed index must equal the one-shot frozen-train build")
    // per-batch lineage for the crash/replay cleanup contract
    assert(spark.read.parquet(s"$path/codes").select("ingest_batch")
      .as[Long].collect().toSet == Set(-1L, 0L, 1L))
  }

  test("fdErrorAudit: hand-computed g3 error, ppm truncation, threshold verdicts") {
    import graft.harmonize.Discovery
    // det=1 maps to {a,a,b} (keep 2, delete 1); det=2 maps to {c}
    // -> g3 = 1 of 4 rows = 250000 ppm
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "c"))
      .toDF("x", "y")
    def audit(ppm: Long) =
      Discovery.fdErrorAudit("t", df, "x", Seq("y"), ppm).collect().head
    val r = audit(300000L)
    assert(r.getAs[Long]("n_rows") == 4L)
    assert(r.getAs[Long]("error_rows") == 1L)
    assert(r.getAs[Long]("error_ppm") == 250000L)
    assert(r.getAs[Int]("afd_holds") == 1)
    assert(audit(200000L).getAs[Int]("afd_holds") == 0)
    assert(audit(250000L).getAs[Int]("afd_holds") == 1, "boundary is inclusive")
    // an exact FD carries zero error
    val exact = Discovery.fdErrorAudit("t",
      Seq((1L, "a"), (2L, "b")).toDF("x", "y"), "x", Seq("y"), 0L)
      .collect().head
    assert(exact.getAs[Long]("error_rows") == 0L &&
      exact.getAs[Int]("afd_holds") == 1)
    // multi-dep single call returns one row per dependent
    val multi = Discovery.fdErrorAudit("t",
      Seq((1L, "a", 5L), (1L, "b", 5L)).toDF("x", "y", "z"),
      "x", Seq("y", "z"), 0L)
    assert(multi.count() == 2)
  }

  test("phraseTopK: overlapping occurrences, repeated-token phrases, index equality") {
    import graft.text.Search
    val docs = Seq(
      (1L, "a a a b"),        // "a a": starts 0,1 -> tf 2 (overlap counts)
      (2L, "a b a b a"),      // "a a": none; "a b": starts 0,2 -> tf 2
      (3L, "x a a y a a z"),  // "a a": starts 1,4 -> tf 2
      (4L, "b b b")).toDF("doc_id", "text")
    val qs = Seq(0 -> "a a", 1 -> "a b", 2 -> "a b a")
    val got = Search.phraseTopK(docs, "doc_id", "text", qs, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(got == Set(
      (0, 1L, 2L, 1), (0, 3L, 2L, 2),        // tf tie -> doc_id order
      (1, 2L, 2L, 1), (1, 1L, 1L, 2),
      (2, 2L, 2L, 1)),                        // "a b a" starts 0,2 in doc 2
      s"got $got")
    // served index must equal the inline result and prune to the terms
    val table = "graft_phrase_spec_idx"
    Search.phraseBuild(docs, "doc_id", "text", table, nBuckets = 2)
    val served = Search.phraseQueryIndex(spark, table, qs, k = 10)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.toLowerCase.contains("in(term"),
      s"term filter must push into the postings scan:\n$plan")
    assert(served.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
      r.getInt(3))).toSet == got)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("PNG Adam7: interlaced decode equals progressive decode (stats, raster, resize)") {
    import graft.multimodal.PngCodec
    // odd dimensions exercise the empty/partial pass edge cases; both
    // gray and RGB; dimensions below 8 skip whole passes
    for ((w, h, ch) <- Seq((9, 7, 1), (9, 7, 3), (5, 3, 3), (1, 1, 1),
      (8, 8, 3), (3, 9, 1), (16, 2, 3))) {
      val value = (s: Long) => ((s * 31 + 7) % 256).toInt
      val prog = PngCodec.encode(w, h, ch, value)
      val adam = PngCodec.encodeAdam7(w, h, ch, value)
      val ps = PngCodec.decodeStats(prog)
      val as = PngCodec.decodeStats(adam)
      assert(as.isDefined && as == ps, s"stats mismatch at ${(w, h, ch)}")
      val pr = PngCodec.decodePixels(prog).get
      val ar = PngCodec.decodePixels(adam).get
      assert(ar.data.toSeq == pr.data.toSeq, s"raster mismatch at ${(w, h, ch)}")
      assert(PngCodec.resizeStats(adam, 4, 4) == PngCodec.resizeStats(prog, 4, 4))
    }
    // garbage safety: truncating the interlaced payload must yield
    // None, not a throw or a partial answer
    val adam = PngCodec.encodeAdam7(9, 7, 3, s => (s % 256).toInt)
    assert(PngCodec.decodeStats(adam.take(adam.length - 9)).isEmpty)
    // interlace byte beyond Adam7 is malformed
    val bad = adam.clone()
    // IHDR interlace byte = sig(8) + len(4) + type(4) + 12 data bytes
    bad(8 + 4 + 4 + 12) = 2
    assert(PngCodec.decodeStats(bad).isEmpty)
  }

  test("GIF interlace: 4-pass stream decodes to the display-order raster") {
    import graft.multimodal.GifCodec
    for ((w, h) <- Seq((9, 11), (5, 1), (7, 4), (3, 16))) {
      val value = (s: Int) => (s * 13 + 5) % 256
      val prog = GifCodec.encode(w, h, value)
      val intl = GifCodec.encodeInterlaced(w, h, value)
      assert(GifCodec.decodeStats(intl).isDefined &&
        GifCodec.decodeStats(intl) == GifCodec.decodeStats(prog),
        s"stats mismatch at ${(w, h)}")
      // row ORDER matters beyond stats: frame extraction reads rows —
      // compare the indexed rasters directly
      val pi = GifCodec.decodeIndexed(prog).get._4.toSeq
      val ii = GifCodec.decodeIndexed(intl).get._4.toSeq
      assert(ii == pi, s"raster order mismatch at ${(w, h)}")
    }
    val intl = GifCodec.encodeInterlaced(9, 11, s => s % 256)
    assert(GifCodec.decodeStats(intl.take(intl.length - 5)).isEmpty)
  }

  test("AsOfJoin: duplicate right timestamps resolve to a deterministic payload") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, "k", 100L)).toDF("id", "k", "t")
    // three right rows at the SAME (key, time): the max payload tuple
    // must win backward — and keep winning on a differently-ordered
    // physical input
    val right = Seq(("k", 90L, "b"), ("k", 90L, "c"), ("k", 90L, "a"))
      .toDF("k", "rt", "v")
    val got = AsOfJoin(left, right.repartition(3), "k", "t", "rt", Seq("v"))
      .select("v").as[String].collect().toSeq
    assert(got == Seq("c"), s"expected max payload 'c', got $got")
    val gotN = AsOfJoin.nearest(left, right.orderBy(F.rand(7)), "k", "t", "rt",
      Seq("v")).select("v").as[String].collect().toSeq
    assert(gotN == Seq("c"), s"nearest expected 'c', got $gotN")
  }

  test("Drift.ksDrift: hand-computed KS and TV on a 4-value fixture") {
    import graft.harmonize.Drift
    // a: {1,1,2,3}  b: {2,3,3,4}   (n_a = n_b = 4)
    // cum a: 1->2, 2->3, 3->4, 4->4 ; cum b: 1->0, 2->1, 3->3, 4->4
    // |cumA*4 - cumB*4| max at v=1: |8-0|=8 -> ks = 8/16 = 0.5
    // per-value |ca*4-cb*4|: v1 |8|, v2 |0|, v3 |-4|... wait ca(2)=1,cb(2)=1 -> 0;
    // v3: ca=1,cb=2 -> 4; v4: ca=0,cb=1 -> 4  => tv = (8+0+4+4)/(2*16) = 0.5
    val a = Seq(1.0, 1.0, 2.0, 3.0).toDF("x")
    val b = Seq(2.0, 3.0, 3.0, 4.0).toDF("x")
    val r = Drift.ksDrift("t", a, b, "x").head()
    assert(r.getLong(1) == 4L && r.getLong(2) == 4L)
    assert(r.getLong(3) == 500000L, s"ks_ppm ${r.getLong(3)}")
    assert(r.getLong(4) == 500000L, s"tv_ppm ${r.getLong(4)}")
  }

  test("Drift.ksDrift: self-comparison is exactly zero; nulls drop; partition-count-invariant") {
    import graft.harmonize.Drift
    val xs = Seq[java.lang.Double](5.0, 1.0, null, 3.0, 3.0, 9.0, 2.0, 7.0)
      .toDF("x")
    val r = Drift.ksDrift("self", xs, xs, "x").head()
    assert(r.getLong(1) == 7L && r.getLong(2) == 7L, "null must not count")
    assert(r.getLong(3) == 0L && r.getLong(4) == 0L)
    // the two-pass offsets must agree regardless of layout: force many
    // partitions on one side and few on the other, tiny parts count
    val a = (1 to 40).map(_.toDouble).toDF("x").repartition(7)
    val b = (21 to 60).map(_.toDouble).toDF("x").coalesce(1)
    val got = Drift.ksDrift("p", a, b, "x", parts = 5).head()
    // D at v=20: cumA=20, cumB=0 -> 20*40 = 800 over 1600 -> 0.5
    assert(got.getLong(3) == 500000L, s"ks ${got.getLong(3)}")
  }

  test("Drift.chi2Drift: hand-computed contributions and novel-category detection") {
    import graft.harmonize.Drift
    // a: x,x,y   b: x,y,y,z  -> totals na=3 nb=4 n=7
    // cat x: rt=3, E_a_micro = 3*3*1e6 div 7 = 1285714; dev_a = 3e6-1285714
    //   = 1714286; contrib_a = dev^2 div E = 2285715... compute in test
    val a = Seq("x", "x", "y").toDF("c")
    val b = Seq("x", "y", "y", "z").toDF("c")
    val rows = Drift.chi2Drift("t", a, b, "c")
      .orderBy("category").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("x", "y", "z"))
    def eMicro(rt: Long, side: Long, n: Long) = rt * side * 1000000L / n
    def contrib(o: Long, rt: Long, side: Long, n: Long): Long = {
      val e = eMicro(rt, side, n); val dev = o * 1000000L - e
      dev * dev / e
    }
    val x = rows(0)
    assert(x.getLong(2) == 2L && x.getLong(3) == 1L)
    assert(x.getLong(4) == contrib(2, 3, 3, 7) + contrib(1, 3, 4, 7))
    val z = rows(2) // novel category on side b: o_a = 0 still contributes
    assert(z.getLong(2) == 0L && z.getLong(3) == 1L)
    assert(z.getLong(4) == contrib(0, 1, 3, 7) + contrib(1, 1, 4, 7))
  }

  test("ValueMatcher.editDistanceJoin: exact vs brute force incl. short-short and short-long pairs") {
    import graft.harmonize.ValueMatcher
    val vals = Seq("abc", "abd", "xyz", "abcdefgh", "abcdefghij",
      "Supplier#000000001", "Supplier#000000002", "Supplier#000000013",
      "totally different!!")
    val df = vals.toDF("v")
    val got = ValueMatcher.editDistanceJoin(df, "v", df, "v", k = 2)
      .where(F.col("source") < F.col("target"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    val brute = df.as("a").crossJoin(df.as("b"))
      .where(F.col("a.v") < F.col("b.v"))
      .withColumn("lev", F.levenshtein(F.col("a.v"), F.col("b.v")))
      .where(F.col("lev") <= 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    assert(got == brute, s"got=$got\nbrute=$brute")
    // the two cases the gram pigeonhole alone cannot see:
    assert(got.contains(("abc", "abd", 1)))             // both short
    assert(got.contains(("abcdefgh", "abcdefghij", 2))) // short vs long
  }

  test("Skyline: strict domination, duplicates survive, null dims drop, partition-invariant, 3D") {
    import graft.operators.Skyline
    // front = {(1,5), (3,3), (5,1)}; (1,5) duplicated — both survive
    // (strict domination); (3,4) dominated by (3,3); (6,6) by all
    val pts = Seq((1L, 1.0, 5), (2L, 1.0, 5), (3L, 3.0, 3), (4L, 3.0, 4),
      (5L, 5.0, 1), (6L, 6.0, 6)).toDF("id", "x", "y")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    val got = ids(Skyline.skyline(pts, Seq("x", "y")))
    assert(got == Set(1L, 2L, 3L, 5L), s"$got")
    // partition layout must not change the answer
    assert(ids(Skyline.skyline(pts.repartition(7), Seq("x", "y"))) == got)
    // a null dimension excludes the row (dominance undefined)
    val withNull = pts.unionByName(
      Seq((7L, null.asInstanceOf[java.lang.Double], 0))
        .toDF("id", "x", "y").select(F.col("id"), F.col("x").cast("double"),
          F.col("y").cast("int")))
    assert(ids(Skyline.skyline(withNull, Seq("x", "y"))) == got)
    // 3D: (1,1,9) and (9,9,1) are incomparable; (2,2,9) dominated
    val d3 = Seq((1L, 1, 1, 9), (2L, 9, 9, 1), (3L, 2, 2, 9))
      .toDF("id", "a", "b", "c")
    assert(ids(Skyline.skyline(d3, Seq("a", "b", "c"))) == Set(1L, 2L))
  }

  test("text readability: hand-computed Flesch milli-units; empty-doc guards floor at 1") {
    import graft.functions.HashExprs
    import graft.text.TextOps
    // syllable kernel: vowel GROUPS, min 1 per token
    val syl = Seq((Seq("hello", "world", "it", "works", "yes"), 6L),
      (Seq("rhythm"), 1L), (Seq("aeiouy"), 1L), (Seq("xyzzy"), 2L),
      (Seq.empty[String], 0L))
    for ((ts, want) <- syl) {
      val got = Seq(Tuple1(ts)).toDF("t")
        .select(HashExprs.syllableCount(F.col("t"))).head().getLong(0)
      assert(got == want, s"$ts -> $got")
    }
    // flesch_milli = 206835 - (1015*w) div s - (84600*syl) div w
    // doc1: w=5 s=2 syl=6 -> 206835 - 2537 - 101520 = 102778
    // empty doc: all guards floor at 1 -> 206835 - 1015 - 84600 = 121220
    val df = Seq((1L, "Hello world. It works! yes"), (2L, ""))
      .toDF("doc_id", "text")
    val toks = TextOps.tokens(F.col("text"))
    val got = df.select(F.col("doc_id"),
        F.greatest(F.lit(1L), F.size(toks).cast("long")).as("w"),
        F.greatest(F.lit(1L),
          F.regexp_count(F.col("text"), F.lit("[.!?]+")).cast("long")).as("s"),
        F.greatest(F.lit(1L), HashExprs.syllableCount(toks)).as("syl"))
      .select(F.col("doc_id"), F.col("w"), F.col("s"), F.col("syl"),
        F.expr("CAST(206835 - (1015 * w) div s - (84600 * syl) div w AS BIGINT)")
          .as("f"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, 5L, 2L, 6L, 102778L), (2L, 1L, 1L, 1L, 121220L)),
      s"$got")
  }

  test("Graph.clusteringCoefficient: triangle+pendant hand graph; degree-1 excluded; zero-lcc kept") {
    import graft.operators.Graph
    // triangle {1,2,3}, pendant 4 on 3, plus 4-5 so 4 reaches deg 2
    // with NO triangle (lcc exactly 0, still reported)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val got = Graph.clusteringCoefficient(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // node1: deg2 tri1 -> 2*1e6/2 = 1000000; node3: deg3 tri1 ->
    // 2e6 div 6 = 333333; node4: deg2 tri0 -> 0; node5 deg1 excluded
    assert(got == Map(
      1L -> ((2L, 1L, 1000000L)), 2L -> ((2L, 1L, 1000000L)),
      3L -> ((3L, 1L, 333333L)), 4L -> ((2L, 0L, 0L))), s"$got")
  }

  test("Urls.canonical: RFC 3986 normalization + crawl-key extras; nulls for non-URLs; codegen path") {
    import graft.functions.Urls
    val cases = Seq(
      // case/www/trailing-dot host, zero-padded default port, dot
      // segments, unreserved percent decode, sorted query, fragment
      "HTTP://WWW.Example.COM.:080/a/./b/../c/%7euser/?b=2&a=1#frag" ->
        "http://example.com/a/c/~user/?a=1&b=2",
      "https://x.org:8443" -> "https://x.org:8443/",
      "https://x.org:443/p" -> "https://x.org/p",
      "http://a.b?x=1" -> "http://a.b/?x=1",
      // userinfo stripped; reserved escape uppercased; bad escape kept
      "http://u:pw@Host.net/%2fesc%g1" -> "http://host.net/%2Fesc%g1",
      "http://h.i/../../x" -> "/x stays rooted",
      "http://h.i/p?&&" -> "http://h.i/p",
      "ftp://x/" -> null, "not a url" -> null, "http://" -> null,
      "http:///path" -> null)
    for ((in, want0) <- cases) {
      val want = if (want0 == "/x stays rooted") "http://h.i/x" else want0
      assert(Urls.canonicalize(in) == want, s"in=$in")
    }
    // idempotent: canonical output canonicalizes to itself
    for ((in, _) <- cases; c = Urls.canonicalize(in); if c != null)
      assert(Urls.canonicalize(c) == c, s"not idempotent: $in -> $c")
    // the Column path (codegen'd expression) agrees with the kernel
    val urls = cases.map(_._1)
    val got = urls.toDF("u").select(Urls.canonical(F.col("u")).as("c"))
      .collect().map(r => Option(r.getString(0)).orNull).toSeq
    val want = cases.map { case (in, w) =>
      if (w == "/x stays rooted") "http://h.i/x" else w }
    assert(got == want, s"$got")
    assert(Seq[String](null).toDF("u")
      .select(Urls.canonical(F.col("u"))).head().isNullAt(0))
  }

  test("BmpCodec: 24bpp round-trip both row orders, padding, 8bpp palette, garbage safety, sniffing") {
    import graft.multimodal.{BmpCodec, BinaryMeta}
    def s(x: Int, y: Int, c: Int) = (x * 83 + y * 29 + c * 7) % 256
    // odd width forces row padding (5*3=15 -> 16-byte rows)
    for (topDown <- Seq(false, true); (w, h) <- Seq((5, 3), (2, 2), (1, 1))) {
      val px = BmpCodec.decodePixels(BmpCodec.encode(w, h, s, topDown))
        .getOrElse(fail(s"decode failed w=$w h=$h topDown=$topDown"))
      assert(px.width == w && px.height == h && px.channels == 3)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        assert(px.sample(x, y, c) == s(x, y, c),
          s"($x,$y,$c) topDown=$topDown")
    }
    val st = BmpCodec.decodeStats(BmpCodec.encode(2, 2, s)).get
    val vals = for (y <- 0 to 1; x <- 0 to 1; c <- 0 to 2) yield s(x, y, c)
    assert(st.nSamples == 12L && st.sumVal == vals.map(_.toLong).sum &&
      st.sumSq == vals.map(v => v.toLong * v).sum)
    // 8bpp palette: hand-build header + BGRA palette + one padded row
    val pal8 = {
      val hdr = BmpCodec.encode(1, 1, (_, _, _) => 0) // template header
      val b = new java.io.ByteArrayOutputStream()
      def p32(v: Int) = (0 to 3).foreach(i => b.write((v >> (8 * i)) & 0xff))
      def p16(v: Int) = (0 to 1).foreach(i => b.write((v >> (8 * i)) & 0xff))
      b.write('B'); b.write('M'); p32(0); p32(0); p32(54 + 8) // data offset
      p32(40); p32(2); p32(1); p16(1); p16(8); p32(0); p32(0)
      p32(0); p32(0); p32(2); p32(0) // clrUsed = 2
      // palette: idx0 = BGRA(10,20,30,_) -> RGB(30,20,10); idx1 = (1,2,3)
      Seq(10, 20, 30, 0, 1, 2, 3, 0).foreach(b.write)
      Seq(0, 1, 0, 0).foreach(b.write) // row [idx0, idx1] + 2 pad bytes
      val bytes = b.toByteArray; require(hdr(0) == 'B'); bytes
    }
    val p8 = BmpCodec.decodePixels(pal8).getOrElse(fail("8bpp decode"))
    assert((0 to 2).map(p8.sample(0, 0, _)) == Seq(30, 20, 10))
    assert((0 to 2).map(p8.sample(1, 0, _)) == Seq(3, 2, 1))
    // garbage: truncated data, RLE compression, non-BMP all -> None
    val good = BmpCodec.encode(4, 4, s)
    assert(BmpCodec.decodePixels(good.dropRight(8)).isEmpty)
    val rle = good.clone(); rle(30) = 1 // biCompression = BI_RLE8
    assert(BmpCodec.decodePixels(rle).isEmpty)
    assert(BmpCodec.decodePixels("BMnot really".getBytes).isEmpty)
    // the sniffing stats path routes 'BM' payloads through BmpCodec
    val df = Seq((1L, BmpCodec.encode(2, 2, s))).toDF("img_id", "blob")
    val row = BinaryMeta.decodePixelStats(df, "img_id").head()
    assert(row.getLong(4) == 12L && row.getLong(5) == st.sumVal)
  }

  test("StreamingLinkage.goldenIngest: incremental vote state == one-shot survivorship; replay guard") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.harmonize.Linkage
    import graft.streaming.StreamingLinkage
    implicit val sq = spark.sqlContext
    val aM = srcA.select(F.col("id_a"), F.col("name_a"),
      F.col("name_a").as("nm"), F.col("blk"))
    val base = java.nio.file.Files.createTempDirectory("golden").toString
    val idx = base + "/idx"; val votes = base + "/votes"
    Linkage.linkIndexBuild(aM, idx, Seq("blk"), "id_a", "name_a")
    StreamingLinkage.goldenSeed(aM, "id_a", Seq("nm", "blk"), votes)
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingLinkage.goldenIngest(
      stream.toDF().toDF("id_b", "name_b", "blk")
        .withColumn("nm", F.col("name_b")),
      idx, votes, Seq("blk"), "id_a", "name_a", "id_b", "name_b",
      maxDist = 3, attrs = Seq("nm", "blk"),
      checkpointDir = Some(base + "/ckpt"))
    try {
      stream.addData((11L, "alpha corp.", "k1")); q.processAllAvailable()
      stream.addData((13L, "gama llc", "k2")); q.processAllAvailable()
    } finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val served = key(Linkage.goldenFromVotes(
      graft.sources.Versioned.read(spark, votes).drop("last_batch"), "id_a"))
    val bAll = srcB.withColumn("nm", F.col("name_b"))
    val oneShot = key(Linkage.goldenRecords(aM, bAll,
      Linkage.linkByName(aM, bAll, Seq("blk"), "id_a", "name_a",
        "id_b", "name_b", maxDist = 3),
      "id_a", "id_b", Seq("nm", "blk")))
    assert(served == oneShot, s"served=$served\noneShot=$oneShot")
    // linked cluster 1 carries the dirty vote but master still wins 1-1
    assert(served.contains((1L, "nm", "alpha corp", 1L, 2L)))
    // replay guard: a batch id at/below the high-water mark is a no-op
    val vBefore = graft.sources.Versioned.currentVersion(spark, votes)
    val dummy = Seq((1L, 0, "nm", "zzz")).toDF("__cid", "__m", "attribute", "value")
      .groupBy("__cid", "attribute", "value")
      .agg(F.count(F.lit(1)).as("n_votes"), F.max("__m").as("__mm"))
    assert(!StreamingLinkage.goldenMergeBatch(spark, votes, dummy, 1L))
    assert(graft.sources.Versioned.currentVersion(spark, votes) == vBefore)
  }

  private def warcBytes(typ: String, uri: String,
      payload: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder("WARC/1.0\r\n")
    h ++= s"WARC-Type: $typ\r\n"
    if (uri.nonEmpty) h ++= s"WARC-Target-URI: $uri\r\n"
    h ++= "WARC-Date: 2024-01-01T00:00:00Z\r\n"
    h ++= s"WARC-Record-ID: <urn:uuid:$typ-1>\r\n"
    h ++= "Content-Type: application/http; msgtype=response\r\n"
    h ++= s"Content-Length: ${payload.length}\r\n\r\n"
    h.toString.getBytes("US-ASCII") ++ payload ++
      "\r\n\r\n".getBytes("US-ASCII")
  }

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bo)
    g.write(b); g.close(); bo.toByteArray
  }

  test("Warc: framing round-trip, http split, per-record and whole-file gzip, garbage safety") {
    import graft.sources.Warc
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8" +
      "\r\nServer: x\r\n\r\n<html>hello crawl</html>").getBytes("US-ASCII")
    val raw = warcBytes("warcinfo", "", "software: test\r\n".getBytes) ++
      warcBytes("request", "http://ex.org/p", "GET /p HTTP/1.1\r\n".getBytes) ++
      warcBytes("response", "http://ex.org/p", http)
    val (recs, bad) = Warc.parseRecords(raw)
    assert(!bad && recs.map(_.warcType) == Seq("warcinfo", "request", "response"))
    assert(recs(2).targetUri == "http://ex.org/p" &&
      recs(2).payload.sameElements(http))
    val (st, ct, body) = Warc.httpSplit(recs(2).payload)
    assert(st == 200 && ct == "text/html; charset=utf-8" &&
      new String(body, "US-ASCII") == "<html>hello crawl</html>")
    // whole-file gzip and concatenated per-record members both inflate
    assert(Warc.parseRecords(Warc.gunzipAll(gz(raw)))._1.size == 3)
    val members = gz(warcBytes("response", "http://a", http)) ++
      gz(warcBytes("response", "http://b", http))
    val (m, mb) = Warc.parseRecords(Warc.gunzipAll(members))
    assert(!mb && m.map(_.targetUri) == Seq("http://a", "http://b"))
    // garbage: truncated payload keeps the framed prefix, flags tail
    val cut = raw.dropRight(http.length / 2 + 4)
    val (p, pb) = Warc.parseRecords(cut)
    assert(pb && p.map(_.warcType) == Seq("warcinfo", "request"))
    assert(Warc.parseRecords("not a warc at all".getBytes)._1.isEmpty)
    // non-http response payload: status -1, body = whole payload
    val (s2, _, b2) = Warc.httpSplit("plain bytes".getBytes)
    assert(s2 == -1 && new String(b2) == "plain bytes")
  }

  test("Warc.readWarc + httpResponses: one row per record through binaryFile; responses split") {
    import graft.sources.Warc
    val http = ("HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n\r\n" +
      "gone").getBytes("US-ASCII")
    val dir = java.nio.file.Files.createTempDirectory("warc")
    java.nio.file.Files.write(dir.resolve("a.warc"),
      warcBytes("warcinfo", "", "x\r\n".getBytes) ++
        warcBytes("response", "http://ex.org/1", http))
    java.nio.file.Files.write(dir.resolve("b.warc.gz"),
      gz(warcBytes("response", "http://ex.org/2", http)))
    val df = Warc.readWarc(spark, dir.toString)
    assert(df.count() == 3)
    assert(df.where(F.col("malformed_tail")).count() == 0)
    val resp = Warc.httpResponses(df).orderBy("target_uri").collect()
    assert(resp.length == 2)
    assert(resp.map(_.getAs[Int]("http_status")).toSeq == Seq(404, 404))
    assert(resp.map(_.getAs[String]("target_uri")).toSeq ==
      Seq("http://ex.org/1", "http://ex.org/2"))
    assert(new String(resp.head.getAs[Array[Byte]]("body")) == "gone")
  }

  test("Linkage.goldenRecords: majority beats master, master breaks ties, value-asc last, absent attrs, float refusal") {
    import graft.harmonize.Linkage
    val a = Seq((1L, "Alpha", "NYC"), (2L, "Beta", null), (3L, null, "C"))
      .toDF("id_a", "name", "city")
    val b = Seq((11L, "Alfa", "Boston"), (12L, "Alfa", "Boston"),
      (13L, "Bela", null), (14L, "a", null), (15L, "b", null))
      .toDF("id_b", "name", "city")
    val links = Seq((11L, 1L), (12L, 1L), (13L, 2L), (14L, 3L), (15L, 3L))
      .toDF("id_b", "id_a")
    val got = Linkage.goldenRecords(a, b, links, "id_a", "id_b",
        Seq("name", "city")).collect()
      .map(r => ((r.getLong(0), r.getString(1)),
        (r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got((1L, "name")) == (("Alfa", 2L, 2L)))  // majority > master
    assert(got((1L, "city")) == (("Boston", 2L, 2L)))
    assert(got((2L, "name")) == (("Beta", 1L, 2L)))  // master breaks 1-1
    assert(!got.contains((2L, "city")), "all-null attr must be absent")
    assert(got((3L, "name")) == (("a", 1L, 2L)))     // non-master tie: asc
    assert(got((3L, "city")) == (("C", 1L, 1L)))
    val e = intercept[IllegalArgumentException] {
      Linkage.goldenRecords(a.withColumn("f", F.lit(1.5)),
        b.withColumn("f", F.lit(1.0)), links, "id_a", "id_b", Seq("f"))
    }
    assert(e.getMessage.contains("STRING or integral"))
  }

  test("Profile.semanticTypes: every detector fires; 90% threshold; empty/mixed verdicts; string-only contract") {
    import graft.harmonize.Profile
    val df = Seq(
      // (email, uuid, url, mixed, allnull)
      ("a.b+c@ex-1.org", "0123abcd-0000-AAAA-ffff-0123456789ab",
        "https://x.org/p?q=1", "42", null),
      ("x@y.io", "deadbeef-1111-2222-3333-444455556666",
        "http://a.b", "oops", null),
      ("u_9%z@m.co.uk", "00000000-0000-0000-0000-000000000000",
        "https://h", "", null)
    ).toDF("email", "uuid", "url", "mixed", "allnull")
      .withColumn("allnull", F.col("allnull").cast("string"))
    val got = Profile.semanticTypes(df,
        Seq("email", "uuid", "url", "mixed", "allnull"))
      .collect().map(r => r.getString(0) -> r.getString(r.length - 1)).toMap
    assert(got == Map("email" -> "email", "uuid" -> "uuid",
      "url" -> "url", "mixed" -> "text", "allnull" -> "empty"), s"$got")
    // 90% threshold is an integer compare: 9/10 integers -> integer,
    // 8/10 -> text (8*10 < 10*9)
    def mk(nInt: Int, nTxt: Int) = ((1 to nInt).map(_.toString) ++
      (1 to nTxt).map(i => s"w$i")).toDF("c")
    assert(Profile.semanticTypes(mk(9, 1), Seq("c"))
      .head().getString(12) == "integer")
    assert(Profile.semanticTypes(mk(8, 2), Seq("c"))
      .head().getString(12) == "text")
    // non-string columns are refused loudly, not silently rendered
    val e = intercept[IllegalArgumentException] {
      Profile.semanticTypes(Seq(1.5).toDF("d"), Seq("d"))
    }
    assert(e.getMessage.contains("must be STRING"))
  }

  test("Events.acf: hand-computed lags over a densified calendar; constant series yields NULL") {
    import graft.streaming.Events
    val day = 24L * 3600 * 1000
    val base = 1700006400000L
    def t(d: Long) = new java.sql.Timestamp(base + d * day)
    // type a: 2 events on days 0/2/4, NOTHING on days 1/3 — densify
    // must fill x=0 or the lag pairing silently misaligns.
    // x = [2,0,2,0,2], n=5, S=6, d = 5x-6 = [4,-6,4,-6,4], den=120
    // lag1: 4(-6)*4 = -96 -> -800000 ppm exactly
    // lag2: 16+36+16 = 68  -> 68e6 div 120 = 566666 (truncated)
    val rows = (Seq(0L, 2L, 4L).flatMap(d => Seq(("a", t(d)), ("a", t(d)))) ++
      Seq(0L, 1L, 2L).map(d => ("c", t(d)))).toDF("event_type", "ts")
    val got = Events.acf(rows, maxLag = 2).orderBy("event_type", "lag")
      .collect()
    val a = got.filter(_.getString(0) == "a").map(r =>
      (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    assert(a == Seq((0L, 5L, Some(1000000L)), (1L, 5L, Some(-800000L)),
      (2L, 5L, Some(566666L))), s"$a")
    // constant series: den = 0 -> NULL at every lag, never a crash
    val c = got.filter(_.getString(0) == "c")
    assert(c.length == 3 && c.forall(_.isNullAt(3)))
  }

  test("Drift.histDrift: union bounds, max-value clamp to last bucket, constant column") {
    import graft.harmonize.Drift
    // union bounds [0,4], bins=4 -> bucket = clamp(floor(x), 3)
    val a = Seq(0.0, 1.0, 2.0, 4.0).toDF("x")
    val b = Seq(4.0, 4.0).toDF("x")
    val rows = Drift.histDrift("t", a, b, "x", bins = 4)
      .orderBy("category").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq(("0", 1L, 0L), ("1", 1L, 0L), ("2", 1L, 0L),
      ("3", 1L, 2L)), s"$rows")
    // constant column degenerates to one bucket, never a div-by-zero
    val c = Drift.histDrift("c", Seq(5.0, 5.0).toDF("x"),
      Seq(5.0).toDF("x"), "x", bins = 8).collect()
    assert(c.length == 1 && c.head.getString(1) == "0" &&
      c.head.getLong(2) == 2L && c.head.getLong(3) == 1L)
  }

  test("Drift.embeddingDrift: hand-computed micro means/gaps; floor-on-negative semantics") {
    import graft.harmonize.Drift
    // a: [1, -0.5], [0.5, 0.25]  b: [0, 1]  (all exactly representable)
    // dim0: sa=1500000 ca=2 -> mean 750000; sb=0 cb=1 -> 0;
    //       gap = (1500000*1 - 0*2) div (2*1) = 750000
    // dim1: sa=-250000 -> mean -(250000 div 2) = -125000; sb=1000000;
    //       gap = (-250000 - 2000000) div 2 = -1125000
    val a = Seq(Array(1.0f, -0.5f), Array(0.5f, 0.25f)).toDF("e")
    val b = Seq(Array(0.0f, 1.0f)).toDF("e")
    val rows = Drift.embeddingDrift("t", a, b, "e").orderBy("dim").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq
    assert(rows == Seq((0L, 2L, 1L, 750000L, 0L, 750000L),
      (1L, 2L, 1L, -125000L, 1000000L, -1125000L)), s"$rows")
    // floor, not trunc, on the value fix: 0.1f as double is
    // 100000.00149… micro -> 100000, but -0.1f floors to -100001 —
    // the semantics both engines share (trunc would give -100000)
    val neg = Drift.embeddingDrift("n", Seq(Array(0.1f, -0.1f)).toDF("e"),
        Seq(Array(0.0f, 0.0f)).toDF("e"), "e").orderBy("dim").collect()
      .map(r => (r.getLong(4), r.getLong(6))).toSeq
    assert(neg == Seq((100000L, 100000L), (-100001L, -100001L)), s"$neg")
    // ragged vectors: a dimension one side never populates reports
    // NULL mean/gap (guarded divisor), never a divide-by-zero
    val rag = Drift.embeddingDrift("r",
        Seq(Array(1.0f, 2.0f), Array(1.0f)).toDF("e"),
        Seq(Array(3.0f)).toDF("e"), "e").orderBy("dim").collect()
    assert(rag.length == 2)
    val d1 = rag(1)
    assert(d1.getLong(2) == 1L && d1.getLong(3) == 0L &&
      d1.getLong(4) == 2000000L && d1.isNullAt(5) && d1.isNullAt(6))
  }

  test("StreamingDrift.chi2Ingest: per-batch reports equal the batch operator; novel category + lineage") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDrift
    import graft.harmonize.Drift
    implicit val sq = spark.sqlContext
    val refRaw = Seq("x", "x", "x", "y", "y", "z").toDF("c")
    val refCounts = refRaw.select(F.col("c").as("category"))
      .groupBy("category").agg(F.count(F.lit(1)).as("cnt"))
    val dir = java.nio.file.Files.createTempDirectory("driftrep").toString + "/rep"
    val stream = MemoryStream[String]
    val q = StreamingDrift.chi2Ingest(stream.toDF().toDF("c"), refCounts, "c",
      dir, checkpointDir = Some(java.nio.file.Files
        .createTempDirectory("driftrep_ckpt").toString))
    val b0 = Seq("x", "y", "y")
    val b1 = Seq("x", "w", "w", "z") // 'w' is novel vs the reference
    try {
      stream.addData(b0: _*); q.processAllAvailable()
      stream.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(dir)
    assert(got.select("ingest_batch").distinct().as[Long].collect().toSet
      == Set(0L, 1L))
    // the streamed counts-join path must emit EXACTLY the batch
    // operator's rows (tagged-union path) for each micro-batch
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("category", "cnt_a", "cnt_b", "contrib_ppm").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) Long.MinValue else r.getLong(3))).toSet
    def oneShot(b: Seq[String]) =
      key(Drift.chi2Drift("ref_vs_batch", refRaw, b.toDF("c"), "c"))
    assert(key(got.where(F.col("ingest_batch") === 0L)) == oneShot(b0))
    assert(key(got.where(F.col("ingest_batch") === 1L)) == oneShot(b1))
    // novel category surfaces with a zero reference cell, not a drop
    assert(got.where(F.col("ingest_batch") === 1L &&
      F.col("category") === "w" && F.col("cnt_a") === 0L).count() == 1)
  }

  test("StreamingDrift.histIngest: frozen bounds, out-of-range clamps to edge buckets") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDrift
    implicit val sq = spark.sqlContext
    // frozen reference histogram over bounds [0,4), 4 buckets
    val refCounts = Seq(("0", 2L), ("1", 1L), ("3", 1L))
      .toDF("category", "cnt")
    val dir = java.nio.file.Files.createTempDirectory("histrep").toString + "/r"
    val stream = MemoryStream[Double]
    val q = StreamingDrift.histIngest(stream.toDF().toDF("x"), refCounts,
      "x", mn = 0.0, mx = 4.0, bins = 4, dir,
      checkpointDir = Some(java.nio.file.Files
        .createTempDirectory("histrep_ckpt").toString))
    try {
      // -5 clamps to bucket 0, 99 clamps to bucket 3 — novel tails
      // surface as edge-bucket mass, never dropped rows
      stream.addData(-5.0, 0.5, 3.9, 99.0)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(dir).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map("0" -> ((2L, 2L)), "1" -> ((1L, 0L)),
      "3" -> ((1L, 2L))), s"$got")
  }

  test("Drift: KS/TV symmetry; chi2 side-swap mirrors counts; golden layout-invariance") {
    import graft.harmonize.{Drift, Linkage}
    val a = Seq(1.0, 2.0, 2.0, 5.0, 7.0, 7.0, 9.0).toDF("x")
    val b = Seq(2.0, 3.0, 5.0, 5.0, 8.0).toDF("x")
    // KS and TV are symmetric distances — swapping sides must only
    // swap the count columns, never move the statistics
    val ab = Drift.ksDrift("ab", a, b, "x").head()
    val ba = Drift.ksDrift("ba", b, a, "x").head()
    assert(ab.getLong(3) == ba.getLong(3) && ab.getLong(4) == ba.getLong(4))
    assert(ab.getLong(1) == ba.getLong(2) && ab.getLong(2) == ba.getLong(1))
    // chi2: swapping sides swaps cnt_a/cnt_b per category; the total
    // per-category contribution is symmetric in the 2xk table
    val ca = Seq("x", "x", "y").toDF("c"); val cb = Seq("x", "y", "z").toDF("c")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    val f = m(Drift.chi2Drift("f", ca, cb, "c"))
    val g = m(Drift.chi2Drift("g", cb, ca, "c"))
    assert(f.keySet == g.keySet)
    for (k <- f.keySet) {
      assert(f(k)._1 == g(k)._2 && f(k)._2 == g(k)._1, s"$k")
      assert(f(k)._3 == g(k)._3, s"contrib asymmetric at $k")
    }
    // goldenRecords: physical layout must not change the vote outcome
    val ga = Seq((1L, "Alpha"), (2L, "Beta")).toDF("id_a", "name")
    val gb = Seq((11L, "Alfa"), (12L, "Alfa"), (13L, "Bela"))
      .toDF("id_b", "name")
    val links = Seq((11L, 1L), (12L, 1L), (13L, 2L)).toDF("id_b", "id_a")
    def gset(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame,
             l: org.apache.spark.sql.DataFrame) =
      Linkage.goldenRecords(x, y, l, "id_a", "id_b", Seq("name"))
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(gset(ga, gb, links) ==
      gset(ga.repartition(5), gb.repartition(3), links.coalesce(1)))
  }

  test("ValueMatcher.editDistanceJoin: two distinct domains, cross short-long, k=0 equality join") {
    import graft.harmonize.ValueMatcher
    val src = Seq("abcdefgh", "Supplier#000000001", "zzz").toDF("s")
    val tgt = Seq("abcdefghij", "Supplier#000000021", "zzz", "unrelated string")
      .toDF("t")
    val got = ValueMatcher.editDistanceJoin(src, "s", tgt, "t", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    // short source vs long target (pigeonhole fires from target side),
    // long-long digit pair, and both-short exact pair excluded by
    // source =!= target? no — cross-domain equal values ARE distinct
    // rows; the operator drops only identical (source,target) strings
    assert(got == Set(("abcdefgh", "abcdefghij", 2),
      ("Supplier#000000001", "Supplier#000000021", 1)), s"$got")
    // k = 0 degenerates to an equality join minus identity pairs:
    // nothing survives (the only shared value IS the identity)
    val eq = ValueMatcher.editDistanceJoin(src, "s", tgt, "t", k = 0)
    assert(eq.count() == 0)
  }

  /** editDistanceJoin against the quadratic definition, plus whether the
    * result was planned through q-gram signatures. */
  private def editJoinVsBrute(src: Seq[String], tgt: Seq[String], k: Int)
      : (Set[(String, String, Int)], Set[(String, String, Int)], Boolean) = {
    import graft.harmonize.ValueMatcher
    val a = src.toDF("s"); val b = tgt.toDF("t")
    val joined = ValueMatcher.editDistanceJoin(a, "s", b, "t", k)
    val usesGrams = joined.queryExecution.analyzed
      .find(_.output.exists(_.name == "gram")).isDefined
    val got = joined.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val brute = a.distinct().crossJoin(b.distinct())
      .where(F.col("s") =!= F.col("t"))
      .withColumn("lev", F.levenshtein(F.col("s"), F.col("t")))
      .where(F.col("lev") <= k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    (got, brute, usesGrams)
  }

  test("editDistanceJoin: a dense-id domain takes the length-band plan, exact vs brute force") {
    // every Customer#%09d value shares the hot prefix grams, so the
    // signature joins would emit more rows than the length band
    val rnd = new scala.util.Random(31)
    val ids = (1 to 300).map(i => f"Customer#$i%09d")
    def typo(s: String): String = {
      val i = 9 + rnd.nextInt(s.length - 9)
      val d = ('0' + rnd.nextInt(10)).toChar
      rnd.nextInt(3) match {
        case 0 => s.updated(i, d)
        case 1 => s.patch(i, "", 1)
        case _ => s.patch(i, d.toString, 0)
      }
    }
    val src = ids.map(v => rnd.nextInt(3) match {
      case 0 => v
      case 1 => typo(v)
      case _ => typo(typo(v))
    })
    val (got, brute, usesGrams) = editJoinVsBrute(src, ids, k = 2)
    assert(!usesGrams, "dense ids must not be planned through gram signatures")
    assert(brute.size > 300, s"${brute.size}")
    assert(got == brute, s"missing=${brute -- got}\nextra=${got -- brute}")
  }

  test("editDistanceJoin: a Zipfian word domain keeps the prefix-filter plan, exact vs brute force") {
    // rare words keep rare grams in every signature: about 9.2k
    // prefix-plan rows against an 18.1k length-band census
    val rnd = new scala.util.Random(37)
    val vocab = (1 to 5000).map(_ =>
      (1 to 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    // Zipf(1) draw over the vocabulary by inverse CDF
    val cdf = vocab.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail
    def word(): String = {
      val u = rnd.nextDouble() * cdf.last
      vocab(math.min(cdf.indexWhere(_ >= u), vocab.size - 1))
    }
    val tgt = Seq.fill(300)(Seq.fill(3 + rnd.nextInt(3))(word()).mkString(" ")).distinct
    val src = tgt.map { v =>
      if (rnd.nextBoolean()) v
      else v.updated(rnd.nextInt(v.length), ('a' + rnd.nextInt(26)).toChar)
    }
    val (got, brute, usesGrams) = editJoinVsBrute(src, tgt, k = 2)
    assert(usesGrams, "a Zipfian gram universe must keep prefix filtering")
    assert(brute.size > 100, s"${brute.size}")
    assert(got == brute, s"missing=${brute -- got}\nextra=${got -- brute}")
  }

  test("Drift.ksDrift: empty side errors loudly") {
    import graft.harmonize.Drift
    val a = Seq(1.0).toDF("x")
    val e = intercept[IllegalArgumentException] {
      Drift.ksDrift("t", a, a.where(F.lit(false)), "x")
    }
    assert(e.getMessage.contains("both sides need rows"))
  }
}
