package graft

import org.apache.spark.sql.{functions => F}

/** Round-14 operator specs: crash-path recovery for Versioned tables,
  * degree-ordered triangle counting, and per-row join salting.
  */
class R14OpsSpec extends SparkSpec {
  import spark.implicits._

  test("Versioned: commit recovers from a crashed writer's partial v_N dir") {
    import graft.sources.Versioned
    val root = java.nio.file.Files.createTempDirectory("vtab14").toString + "/t"
    assert(Versioned.commit(Seq((1L, "a")).toDF("k", "s"), root) == 1L)
    // simulate a writer that crashed AFTER a partial v_2 data write
    // but BEFORE creating its commit marker: the directory exists,
    // the version is invisible, and the next commit recomputes
    // next = 2 — it must clobber the orphan, not wedge permanently
    val partial = java.nio.file.Paths.get(root, "v_2")
    java.nio.file.Files.createDirectories(partial)
    java.nio.file.Files.write(partial.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    val v2 = Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    assert(v2 == 2L)
    assert(Versioned.read(spark, root).count() == 2)
  }

  test("Versioned: vacuum reclaims marker-less orphan dirs below the kept version") {
    import graft.sources.Versioned
    val root = java.nio.file.Files.createTempDirectory("vtab14o").toString + "/t"
    Versioned.commit(Seq((1L, "a")).toDF("k", "s"), root)
    Versioned.commit(Seq((2L, "b")).toDF("k", "s"), root)
    // simulate a PRIOR vacuum that crashed between its marker delete
    // and data delete: v_1's marker is gone, its data dir survives —
    // invisible forever, and invisible to a markers-only drop list
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_commits", "1"))
    assert(Versioned.currentVersion(spark, root).contains(2L))
    assert(Versioned.vacuum(spark, root) == Seq(1L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v_1")),
      "orphaned v_1 data dir must be reclaimed")
    assert(Versioned.read(spark, root).count() == 1)
    // an orphan ABOVE the kept version (an in-flight writer's next
    // version) is left alone
    val inflight = java.nio.file.Paths.get(root, "v_3")
    java.nio.file.Files.createDirectories(inflight)
    assert(Versioned.vacuum(spark, root).isEmpty)
    assert(java.nio.file.Files.exists(inflight),
      "in-flight v_3 must survive vacuum")
  }

  test("triangles: degree orientation kills the hub's 2-path blowup") {
    import graft.operators.Graph
    // star around hub "m" with leaves on BOTH sides of it in id
    // order, so the naive canonical middle-vertex join pivots on the
    // hub: 20 in-edges x 20 out-edges = 400 2-path candidates. One
    // real triangle {a01, a02, m} keeps the answer non-trivial.
    val lo = (1 to 20).map(i => (f"a$i%02d", "m"))
    val hi = (1 to 20).map(i => ("m", f"z$i%02d"))
    val pairs = (lo ++ hi :+ (("a01", "a02"))).toDF("a", "b")
    val naiveCandidates = pairs.as("e1")
      .join(pairs.as("e2"), F.col("e1.b") === F.col("e2.a")).count()
    assert(naiveCandidates >= 400, s"hub pivot should blow up: $naiveCandidates")
    val o = Graph.orientByDegree(pairs)
    val orientedCandidates = o.as("e1")
      .join(o.as("e2"),
        F.col("e1.src") === F.col("e2.src") &&
          (F.struct(F.col("e1.ddeg"), F.col("e1.dst")) <
            F.struct(F.col("e2.ddeg"), F.col("e2.dst")))).count()
    // every edge points INTO the hub (highest degree), so the hub
    // pivots zero 2-paths; only a01's two out-edges form one
    assert(orientedCandidates <= 2,
      s"orientation should bound candidates by out-degrees: $orientedCandidates")
    val t = Graph.triangleParticipation(pairs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t == Map("a01" -> 1L, "a02" -> 1L, "m" -> 1L))
  }

  test("triangles: Pins.scoped leaves no cache growth across calls") {
    import graft.operators.{Graph, Pins}
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    // compare id SETS, not sizes: the shared-JVM ContextCleaner may
    // concurrently drop OTHER suites' entries mid-test
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (_ <- 1 to 2)
      assert(Pins.scoped(Graph.triangleParticipation(pairs).count()) == 3)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"scoped triangle pins must not accumulate: $leaked")
  }

  test("iterative graph rounds release their pins (only final frames stay)") {
    import graft.operators.Graph
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val srcs = Seq(Tuple1(1L)).toDF("node")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(Graph.shortestHops(pairs, srcs, rounds = 4).count() == 5)
    assert(Graph.shortestPaths(pairs.withColumn("cost", F.lit(2L)),
      srcs, rounds = 4).count() == 5)
    assert(Graph.kCore(pairs, k = 1, rounds = 3).count() == 5)
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    // each call may leave exactly its RETURNED pinned frame (releasing
    // that one would lose the result — its lineage was truncated);
    // every intermediate round pin and support cache must be gone via
    // Pins.release — plain Dataset.unpersist left 11 extras here
    // (localCheckpoint blocks are invisible to the CacheManager)
    assert(after.size <= 3, s"round pins leaked: ${after.size} new cached RDDs")
  }

  test("Pins.release reaches a pin through DERIVED frames") {
    import graft.operators.{Graph, Pins}
    // harmonicCentrality returns an aggregate OVER its final pinned
    // round — the doc promises Pins.release(result) still finds the
    // LogicalRDD leaf inside the derived plan and frees the blocks
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Graph.harmonicCentrality(pairs, seeds, rounds = 2)
    assert(out.count() == 2)
    Pins.release(out)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"derived-frame release must free the pin: $leaked")
  }

  test("tableDiff refuses mismatched schemas; benford drops an all-sub-1 column") {
    import graft.operators.Diff
    import graft.harmonize.Profile
    val a = Seq((1L, "x")).toDF("k", "s")
    val b = Seq((1L, "x", 2.0)).toDF("k", "s", "v")
    intercept[IllegalArgumentException] {
      Diff.tableDiff(a, b, Seq("k"))
    }
    // every value below 1: no significant first digit -> empty report
    val sub1 = Seq(0.2, 0.9, 0.0).toDF("amt")
    assert(Profile.benford(sub1, "amt").count() == 0)
  }

  test("collocations: min-count floor prunes, k truncates under the total order") {
    import graft.text.Curate
    val docs = Seq((1L, "a b a b a b c d")).toDF("id", "text")
    // "a b" x3 and "b a" x2 survive minCount=2; k=1 keeps only the
    // top-scoring row under (score desc, bigram asc)
    val got = Curate.collocations(docs, "text", minCount = 2, k = 1).collect()
    assert(got.length == 1)
    assert(got.head.getString(0) == "a b")
  }

  test("validate: one-scan check counts, null predicate counts as violation") {
    import graft.harmonize.Profile
    val df = Seq((1L, Option(5.0)), (2L, Option(-1.0)), (3L, None))
      .toDF("id", "v")
    val got = Profile.validate(df, Seq(
        "id_positive" -> (F.col("id") > 0),
        "v_positive" -> (F.col("v") > 0)))
      .orderBy("check").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // v_positive: -1.0 fails, NULL cannot pass (conservative) -> 2
    assert(got.toSeq == Seq(("id_positive", 3L, 0L, true),
      ("v_positive", 3L, 2L, false)))
  }

  test("tableDiff: add/remove/change counts with null-safe per-column attribution") {
    import graft.operators.Diff
    val before = Seq((1L, "x", Option(10.0)), (2L, "y", None),
      (3L, "z", Option(3.0)), (4L, "w", Option(4.0))).toDF("k", "s", "v")
    val after = Seq((1L, "x", Option(10.0)), (2L, "y", None),
      (3L, "z", None), (5L, "q", Option(5.0))).toDF("k", "s", "v")
    // 1,2 unchanged (null <=> null holds), 3 changed (v 3.0 -> null),
    // 4 removed, 5 added; only v drives the change
    val got = Diff.tableDiff(before, after, Seq("k")).orderBy("kind")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("added", 1L), ("changed", 1L), ("col:s", 0L),
      ("col:v", 1L), ("removed", 1L), ("rows_after", 4L),
      ("rows_before", 4L), ("unchanged", 2L)))
  }

  test("benford: per-mille shares by floor division, sub-1 values excluded") {
    import graft.harmonize.Profile
    // 10 values: digit 1 x5 (incl. 1.0 and 19999.5 — floor keeps the
    // leading 1), digit 9 x4 (incl. 9999.99 — floor must NOT round to
    // 10000), digit 3 x1; 0.7 excluded (below 1)
    val df = Seq(1.0, 12.5, 150.0, 1999.0, 19999.5,
      9.1, 99.0, 950.0, 9999.99, 30.0, 0.7).toDF("amt")
    val got = Profile.benford(df, "amt").orderBy("digit").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, 5L, 500L, 301L), (3, 1L, 100L, 125L),
      (9, 4L, 400L, 46L)))
  }

  test("textrank shape: adjacency pageRank puts the hub word first") {
    import graft.operators.Graph
    import graft.text.TextOps
    // "hub x hub y hub z" x4 closed with a final hub -> star graph
    // hub-{x,y,z} with all symmetrized weights equal (without the
    // close, z's last occurrence has no successor and its edge
    // weighs one less); centrality must put hub first
    val docs = Seq((1L, ("hub x hub y hub z " * 4) + "hub"))
      .toDF("doc_id", "text")
    val bg = docs.select(
        F.explode(TextOps.shingles(TextOps.tokens(F.col("text")), 2)).as("bg"))
      .select(F.substring_index(F.col("bg"), " ", 1).as("w1"),
        F.substring_index(F.col("bg"), " ", -1).as("w2"))
      .where(F.col("w1") =!= F.col("w2"))
      .groupBy("w1", "w2").agg(F.count(F.lit(1)).as("c"))
    val edges = bg
      .select(F.col("w1").as("src"), F.col("w2").as("dst"), F.col("c"))
      .unionAll(bg.select(F.col("w2").as("src"), F.col("w1").as("dst"),
        F.col("c")))
      .groupBy("src", "dst").agg(F.sum("c").as("w"))
      .where(F.col("w") >= 3)
    val ranks = Graph.pageRank(edges, iters = 5)
      .orderBy(F.col("rank").desc, F.col("node").asc).collect()
      .map(r => (r.getString(0), r.getDecimal(1).doubleValue()))
    assert(ranks.length == 4)
    assert(ranks.head._1 == "hub")
    assert(ranks.tail.forall(_._2 < ranks.head._2))
    // spokes are symmetric -> identical ranks
    assert(ranks.tail.map(_._2).distinct.length == 1)
  }

  test("collocations: scaled-integer PMI ranks glued pairs above frequent ones") {
    import graft.text.Curate
    // T = 12 tokens; x:4 y:3 z:2 w:2 q:1. Surviving bigrams (>= 2):
    //   "z w" 2*12e6 div (2*2) = 6_000_000  (z,w ONLY co-occur — top)
    //   "x y" 3*12e6 div (4*3) = 3_000_000  (most frequent, NOT top)
    //   "y x" 2*12e6 div (3*4) = 2_000_000
    // "x q"/"w z" fall to the min-count floor
    val docs = Seq((1L, "x y x y x y"), (2L, "z w z w"), (3L, "x q"))
      .toDF("doc_id", "text")
    val got = Curate.collocations(docs, "text", minCount = 2, k = 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(
      ("z w", 2L, 2L, 2L, 6000000L),
      ("x y", 3L, 4L, 3L, 3000000L),
      ("y x", 2L, 3L, 4L, 2000000L)))
  }

  test("linkPrediction: CN + PA features, adjacency excluded, hub cap drops pivots") {
    import graft.operators.Graph
    // square 1-2-3-4 plus pendant 4-5. Non-adjacent pairs:
    //   (2,4): common {1,3} cn=2, pa=deg2*deg4=2*3=6  -> ranks first
    //   (1,3): common {2,4} cn=2, pa=2*2=4
    //   (1,5)/(3,5): common {4} cn=1, pa=2*1=2, tie -> a asc
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L))
      .toDF("a", "b")
    def scored(p: org.apache.spark.sql.DataFrame, cap: Int) =
      graft.operators.Pins.scoped(Graph.linkPrediction(p, maxPivotDegree = cap, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = scored(pairs, 10)
    assert(got == Seq((2L, 4L, 2L, 6L), (1L, 3L, 2L, 4L),
      (1L, 5L, 1L, 2L), (3L, 5L, 1L, 2L)))
    // cap 2 excludes pivot 4 (deg 3): (2,4) keeps its cn via pivots
    // 1 and 3; (1,3) drops to cn 1 (pivot 2 only); the pendant pairs
    // existed only through the excluded hub
    assert(scored(pairs, 2) == Seq((2L, 4L, 2L, 6L), (1L, 3L, 1L, 4L)))
    // a self-loop must not let its node count itself as a common
    // neighbor of its own incident pairs (or inflate degrees)
    assert(scored(pairs.unionAll(Seq((4L, 4L)).toDF("a", "b")), 10) == got)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"scoped edge-list pins must not accumulate: $leaked")
  }

  test("keywords: Pins.scoped releases the internal tf pin") {
    import graft.operators.Pins
    import graft.text.TextOps
    val docs = Seq((1L, "alpha beta beta gamma"), (2L, "alpha delta"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(Pins.scoped(TextOps.keywords(docs, "doc_id", "text", 2).count()) == 4)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"released keyword pins must not accumulate: $leaked")
  }

  test("harmonicCentrality: lcm-scaled reciprocals, self excluded, budget bounds reach") {
    import graft.operators.Graph
    // path 1-2-3-4-5 with seeds {1, 5}; disconnected pair 10-11 has
    // no seed, so it never appears. scale = lcm(1..4) = 12:
    //   node 2: d(1,2)=1 -> 12, d(5,2)=3 -> 4   => n_reach 2, h_num 16
    //   node 3: 6 + 6 = 12; node 1: only seed 5 at d=4 -> 3 (its own
    //   d=0 row is excluded — seeds never count themselves)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a", "b")
    val seeds = Seq(1L, 5L).toDF("node")
    val got = Graph.harmonicCentrality(pairs, seeds, rounds = 4)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 3L), (2L, 2L, 16L), (3L, 2L, 12L),
      (4L, 2L, 16L), (5L, 1L, 3L)))
    // rounds=2: the far seed is beyond budget, endpoints see one seed
    val g2 = Graph.harmonicCentrality(pairs, seeds, rounds = 2)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // scale = lcm(1..2) = 2: d=1 -> 2, d=2 -> 1
    assert(g2.toSeq == Seq((2L, 1L, 2L), (3L, 2L, 2L), (4L, 1L, 2L)))
  }

  test("connectedComponents: generic edge lists get min-reachable-id labels") {
    import graft.operators.Graph
    // chain 1-2-3, pair 10-11, isolated-by-edge 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L)).toDF("a", "b")
    val got = Graph.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("labelPropagation: disjoint cliques converge to their min labels") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("a", "b")
    val got = Graph.labelPropagation(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L), s"$got")
  }

  test("saltedJoin: rowSalt splits duplicate-identical rows; content hash cannot") {
    import graft.operators.Skew
    // pathological corpus: 64 VERBATIM copies of the same row — the
    // content-hash salt maps them all to one (key, salt) reducer
    val dupes = Seq.fill(64)((1L, "same")).toDF("k", "lv").repartition(4)
    val contentSalts = dupes
      .select(Skew.saltColumn(dupes, 8, rowSalt = false).as("s"))
      .distinct().count()
    assert(contentSalts == 1L, "identical rows share a content-hash salt")
    val rowSalts = dupes
      .select(Skew.saltColumn(dupes, 8, rowSalt = true).as("s"))
      .distinct().count()
    assert(rowSalts == 8L,
      s"row salting must spread duplicates across all salts: $rowSalts")
    // and the join result still equals the plain join
    val right = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "rv")
    val plain = dupes.join(right, "k").count()
    assert(Skew.saltedJoin(dupes, right, "k", salts = 8, rowSalt = true)
      .count() == plain)
  }

  test("exact-hash index: persisted probe equals the inline corpus re-hash; append feeds the next batch") {
    import graft.dedup.Dedup
    spark.sql("DROP TABLE IF EXISTS eh_idx_spec")
    val existing = Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
    val incoming = Seq((10L, "aaa"), (11L, "ccc"), (12L, "ccc"), (13L, "ddd"))
      .toDF("doc_id", "text")
    Dedup.exactHashIndexBuild(existing, "text", "eh_idx_spec", nBuckets = 2)
    val inline = Dedup.incrementalNew(incoming, existing, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val viaIdx = Dedup.incrementalNewIdx(incoming, spark.table("eh_idx_spec"),
      "doc_id", "text").select("doc_id").as[Long].collect().toSet
    assert(viaIdx == inline && viaIdx == Set(11L, 13L))
    // append the kept batch under lineage id 0: the NEXT batch's probe
    // must reject batch-0 texts without any corpus re-hash
    Dedup.exactHashIndexAppend(
      incoming.where(F.col("doc_id").isin(11L, 13L)), "text",
      "eh_idx_spec", ingestBatch = 0L, nBuckets = 2)
    val next = Seq((20L, "ccc"), (21L, "eee")).toDF("doc_id", "text")
    val kept2 = Dedup.incrementalNewIdx(next, spark.table("eh_idx_spec"),
      "doc_id", "text").select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(21L))
    // lineage recorded: bootstrap rows -1, appended rows 0
    assert(spark.table("eh_idx_spec").select("ingest_batch")
      .distinct().as[Long].collect().toSet == Set(-1L, 0L))
  }

  test("streaming exact ingest: per-batch probe of the persisted hash index, no corpus re-hash") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    implicit val sq = spark.sqlContext
    for (t <- Seq("stream_eh_corpus", "stream_eh_idx")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc))
        java.nio.file.Files.walk(loc).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    StreamingDedup.exactBootstrap(Seq((1L, "seed text")).toDF("doc_id", "text"),
      "stream_eh_corpus", "stream_eh_idx", "doc_id", "text", nBuckets = 2)
    val perBatch = scala.collection.mutable.Map[Long, Set[Long]]()
    val stream = MemoryStream[(Long, String)]
    val q = StreamingDedup.exactIngest(
      stream.toDF().toDF("doc_id", "text"),
      "stream_eh_corpus", "stream_eh_idx", "doc_id", "text", nBuckets = 2,
      checkpointDir = Some(java.nio.file.Files
        .createTempDirectory("stream_eh_ckpt").toString)) { (kept, batchId) =>
      perBatch.synchronized {
        perBatch(batchId) = kept.select("doc_id").as[Long].collect().toSet
      }
    }
    try {
      // batch 0: one bootstrap dup, one in-batch dup pair, one fresh
      stream.addData((10L, "seed text"), (11L, "alpha"), (12L, "alpha"))
      q.processAllAvailable()
      // batch 1: dup of batch 0's kept text + fresh
      stream.addData((20L, "alpha"), (21L, "beta"))
      q.processAllAvailable()
    } finally q.stop()
    assert(perBatch(0L) == Set(11L), s"batch0=${perBatch.get(0L)}")
    assert(perBatch(1L) == Set(21L), s"batch1=${perBatch.get(1L)}")
    // corpus = bootstrap + kept rows only, lineage per batch; the
    // index holds exactly the distinct hashes
    assert(spark.table("stream_eh_corpus").select("doc_id")
      .as[Long].collect().toSet == Set(1L, 11L, 21L))
    assert(spark.table("stream_eh_idx").count() == 3)
    assert(spark.table("stream_eh_corpus").select("ingest_batch")
      .distinct().as[Long].collect().toSet == Set(-1L, 0L, 1L))
  }

  test("MisraGries: guaranteed heavy hitters survive, weights lower-bound, merge-safe") {
    import graft.functions.MisraGriesAgg
    // 60x"a", 30x"b", 10 singletons; capacity 4 => any key with count
    // > 2N/4 = 50 must survive regardless of partitioning/merge order
    val toks = Seq.fill(60)("a") ++ Seq.fill(30)("b") ++ (1 to 10).map(i => s"s$i")
    val df = scala.util.Random.shuffle(toks).toDF("tok").repartition(7)
    val mg = df.groupBy().agg(MisraGriesAgg.misraGries(F.col("tok"), 4).as("mg"))
      .select(F.explode(F.col("mg")).as("e"))
      .select(F.col("e.key").as("k"), F.col("e.n").as("n"))
      .as[(String, Long)].collect().toMap
    assert(mg.contains("a"), s"guaranteed hitter lost: $mg")
    assert(mg.size <= 4)
    // weights are lower bounds, within N/(capacity+1) of the truth
    assert(mg("a") <= 60L && mg("a") >= 60L - 100L / 5)
    mg.get("b").foreach(nb => assert(nb <= 30L))
  }

  test("topTokensApprox equals topTokens; gate emits all-true") {
    import graft.text.Curate
    val docs = Seq(
      ("en", "the cat sat on the mat the cat"),
      ("en", "the dog ate the cat food"),
      ("fr", "le chat le chien le chat")).toDF("lang", "text")
    val exact = Curate.topTokens(docs, "lang", "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(3)) -> (r.getString(1), r.getLong(2))).toMap
    val approx = Curate.topTokensApprox(docs, "lang", "text", k = 3, capacity = 16)
      .collect().map(r => (r.getString(0), r.getLong(3)) -> (r.getString(1), r.getLong(2))).toMap
    assert(approx == exact, s"approx=$approx exact=$exact")
    val gate = Curate.topTokensApproxGate(docs, "lang", "text", k = 3, capacity = 16)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(gate == Map("en" -> ((3L, true)), "fr" -> ((3L, true))))
  }

  test("sourceOverlap: sketch matrix tracks exact overlap; gate all-true") {
    import graft.harmonize.Profile
    // A∩B = {v1..v5} of |A|=10, |B|=10 → J=1/3, cont=0.5 each;
    // C is disjoint from both
    val rows =
      (1 to 10).map(i => ("A", s"v$i")) ++
      (6 to 15).map(i => ("B", s"v$i")) ++
      (1 to 8).map(i => ("C", s"w$i"))
    val df = rows.toDF("src", "value")
    val est = Profile.sourceOverlap(df, "src", "value", numHashes = 512)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(4), r.getDouble(5)))).toMap
    val (jAB, cA, cB) = est(("A", "B"))
    assert(math.abs(jAB - 1.0 / 3) < 0.12, s"jaccard(A,B)=$jAB")
    assert(math.abs(cA - 0.5) < 0.15 && math.abs(cB - 0.5) < 0.15)
    val (jAC, _, _) = est(("A", "C"))
    assert(jAC < 0.1, s"disjoint pair should estimate ~0: $jAC")
    val gate = Profile.sourceOverlapGate(df, "src", "value",
      numHashes = 512, tol = 0.15)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(gate.size == 3 && gate.values.forall(_ == ((true, true, true))), s"$gate")
  }

  test("inclusion: Pins.scoped releases the pinned distinct union") {
    import graft.harmonize.Discovery
    import graft.operators.Pins
    val a = Seq("x", "y", "z").toDF("v")
    val b = Seq("x", "y").toDF("v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val m = Pins.scoped(Discovery.inclusion(Seq(("A", a, "v"), ("B", b, "v")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap)
    assert(m(("B", "A")) == 2L && m(("A", "B")) == 2L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"released inclusion pin must not accumulate: $leaked")
  }

  test("kCore: clique survives with its degree, pendant chain peels over rounds") {
    import graft.operators.Graph
    // 4-clique {1,2,3,4} with a pendant chain 4-5-6: the chain needs
    // MULTIPLE rounds to peel under k=2 (6 drops in round 1, exposing
    // 5, which drops in round 2) — a one-round implementation fails
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val got = Graph.kCore(edges, k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"$got")
    // k above the max degree: everything peels, empty core
    assert(Graph.kCore(edges, k = 4, rounds = 4).count() == 0)
  }

  test("linkByName: per-B integer argmax, unlinked B dropped, blocking respected") {
    import graft.harmonize.Linkage
    val a = Seq((1L, "alpha", "x"), (2L, "alphA", "x"), (3L, "alpha", "y"))
      .toDF("id_a", "name_a", "blk")
    val b = Seq((10L, "alpha", "x"),   // ties ids 1,2 at lev 0/1 -> id 1
                (11L, "zzzzzzzz", "x"), // nothing within maxDist -> dropped
                (12L, "alpha", "z"))    // no block partner -> dropped
      .toDF("id_b", "name_b", "blk")
    val got = Linkage.linkByName(a, b, Seq("blk"),
      "id_a", "name_a", "id_b", "name_b", maxDist = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getLong(3))))
      .toMap
    assert(got == Map(10L -> ((1L, 0, 2))), s"$got")
    intercept[IllegalArgumentException] {
      Linkage.linkByName(a, b, Seq(), "id_a", "name_a", "id_b", "name_b", 2)
    }
  }

  test("mergeCdc: update, insert, delete, and latest-per-key compaction in one pass") {
    import graft.operators.Scd
    val target = Seq((1L, "n1", 10.0), (2L, "n2", 20.0), (3L, "n3", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (1L, 5L, "U", 11.0), (1L, 9L, "U", 12.0),  // compaction: seq 9 wins
      (2L, 7L, "D", 0.0),                        // delete
      (9L, 3L, "U", 99.0)                        // insert (unknown key)
    ).toDF("k", "seq", "op", "bal")
    val got = Scd.mergeCdc(target, changes, "k", "seq", "op", Seq("bal"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getDouble(2)))).toMap
    assert(got == Map(
      1L -> ((Some("n1"), 12.0)),   // updated to the LATEST change
      3L -> ((Some("n3"), 30.0)),   // untouched
      9L -> ((None, 99.0))          // inserted, non-update cols null
    ), s"$got")
  }

  test("shortestHops: min-hop labels on a path, isolated seed reports 0, budget bounds reach") {
    import graft.operators.Graph
    // path 1-2-3-4-5 plus isolated seed 99 (no edges)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val seeds = Seq(1L, 99L).toDF("node")
    val got = Graph.shortestHops(edges, seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // rounds = 2: node 4 (hop 3) and 5 (hop 4) are beyond the budget
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 99L -> 0), s"$got")
    val full = Graph.shortestHops(edges, seeds, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(full == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4, 99L -> 0))
  }

  test("scd1Ingest: streaming batches merge type-1 through versioned commits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.Versioned
    import graft.operators.Scd
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("scd1s").toString + "/dim"
    Versioned.commit(Seq((1L, "n1", 10.0), (2L, "n2", 20.0))
      .toDF("k", "name", "bal"), root)
    val versions = scala.collection.mutable.Map[Long, Long]()
    val stream = MemoryStream[(Long, Long, String, Double)]
    val q = Scd.scd1Ingest(
      stream.toDF().toDF("k", "seq", "op", "bal"), root,
      "k", "seq", "op", Seq("bal"),
      checkpointDir = Some(java.nio.file.Files
        .createTempDirectory("scd1s_ckpt").toString)) { (b, v) =>
      versions.synchronized { versions(b) = v }
    }
    try {
      // batch 0: update k=1 twice (seq 9 wins) and insert k=9
      stream.addData((1L, 5L, "U", 11.0), (1L, 9L, "U", 12.0), (9L, 3L, "U", 99.0))
      q.processAllAvailable()
      // batch 1: delete k=2
      stream.addData((2L, 12L, "D", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(versions.toMap == Map(0L -> 2L, 1L -> 3L))
    val fin = Versioned.read(spark, root)
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), r.getDouble(2))).toSet
    assert(fin == Set((1L, Some("n1"), 12.0), (9L, None, 99.0)), s"$fin")
  }

  test("intervalOverlap: exact pairs once each, invariant to grid width") {
    import graft.operators.RangeJoin
    val l = Seq((1L, "k", 0L, 100L), (2L, "k", 50L, 60L), (3L, "k", 200L, 300L),
      (4L, "z", 0L, 100L))
      .toDF("a_id", "key", "a_s", "a_e")
    val r = Seq((10L, "k", 90L, 210L), (11L, "k", 100L, 150L), (12L, "z", 400L, 500L))
      .toDF("b_id", "key", "b_s", "b_e")
    // half-open truth: (1,10) overlap [90,100); (3,10) [200,210);
    // 1-11 touch at 100 but [0,100) ∩ [100,150) = ∅; z-key pair disjoint
    val expected = Set((1L, 10L), (3L, 10L))
    for (w <- Seq(7L, 64L, 1000L)) {
      val got = RangeJoin.intervalOverlap(l, r, "key",
        "a_s", "a_e", "b_s", "b_e", widthUs = w)
        .select("a_id", "b_id")
        .collect().map(row => (row.getLong(0), row.getLong(1)))
      assert(got.length == got.distinct.length, s"width $w emitted duplicates")
      assert(got.toSet == expected, s"width $w: ${got.toSet}")
    }
  }

  test("intervalOverlap: empty half-open intervals match nothing") {
    import graft.operators.RangeJoin
    // [100,100) is empty yet passes the naive predicate vs [50,200);
    // it must be dropped, and its descending grid range never built
    val l = Seq((1L, "k", 100L, 100L), (2L, "k", 90L, 110L))
      .toDF("a_id", "key", "a_s", "a_e")
    val r = Seq((10L, "k", 50L, 200L), (11L, "k", 120L, 120L))
      .toDF("b_id", "key", "b_s", "b_e")
    val got = RangeJoin.intervalOverlap(l, r, "key",
      "a_s", "a_e", "b_s", "b_e", widthUs = 64L)
      .select("a_id", "b_id")
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(got == Set((2L, 10L)), s"$got")
  }

  test("prefilteredJoin: equals the plain join, probe rows drop before the shuffle") {
    import graft.operators.BloomJoin
    import graft.functions.HashExprs
    val big = (0L until 10000L).map(i => (i % 500, i)).toDF("k", "payload")
    val small = Seq((3L, "a"), (7L, "b"), (490L, "c")).toDF("k", "name")
    val got = BloomJoin.prefilteredJoin(big, small, "k")
      .select("k", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val plain = big.join(small, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == plain && got.size == 60, s"${got.size} vs ${plain.size}")
    // the predicate itself drops (most of) the non-matching probe rows
    // BEFORE any join: 60 true rows survive plus at most a few false
    // positives at fpp 0.01
    val bloom = small.stat.bloomFilter("k", 3, 0.01)
    val bos = new java.io.ByteArrayOutputStream(); bloom.writeTo(bos)
    val kept = big.where(HashExprs.mightContainLong(F.col("k"), bos.toByteArray)).count()
    assert(kept >= 60 && kept < 1000, s"prefilter kept $kept of 10000")
    // non-long keys fail fast at plan time, not deep in codegen
    val strKeyed = Seq(("x", 1L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      BloomJoin.prefilteredJoin(strKeyed, strKeyed, "k")
    }
    assert(e.getMessage.contains("LONG"), e.getMessage)
  }

  test("streamIntervalOverlap: watermarked stream-stream twin equals batch intervalOverlap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Events
    import graft.operators.RangeJoin
    implicit val sq = spark.sqlContext
    val base = 1700000000000L // ms; away from the epoch watermark edge
    def t(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    val aLen = 30L * 60000000L; val bLen = 10L * 60000000L
    // user 1: error at 0 overlaps views at 5 (inside) and at -8
    // (tail reaches 2 min in); view at 31 starts past the window.
    // user 2's view only overlaps user 2's error
    val errs = Seq((1L, t(0), 100L), (2L, t(40), 101L))
    val views = Seq((1L, t(5), 200L), (1L, t(-8), 201L), (1L, t(31), 202L),
      (2L, t(45), 203L))
    val ab = errs.toDF("user_id", "ts", "event_id")
    val bb = views.toDF("user_id", "ts", "event_id")
    val batch = RangeJoin.intervalOverlap(
      ab.select(F.col("event_id").as("a_id"), F.col("user_id"),
        F.unix_micros(F.col("ts")).as("a_s"),
        (F.unix_micros(F.col("ts")) + aLen).as("a_e")),
      bb.select(F.col("event_id").as("b_id"), F.col("user_id"),
        F.unix_micros(F.col("ts")).as("b_s"),
        (F.unix_micros(F.col("ts")) + bLen).as("b_e")),
      "user_id", "a_s", "a_e", "b_s", "b_e", widthUs = 15L * 60000000L)
      .select(F.col("a_id"), F.col("b_id"),
        (F.least(F.col("a_e"), F.col("b_e")) -
          F.greatest(F.col("a_s"), F.col("b_s"))).as("overlap_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == Set((100L, 200L, 10L * 60000000L),
      (100L, 201L, 2L * 60000000L), (101L, 203L, 10L * 60000000L)), s"$batch")
    val as = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val bs = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = Events.streamIntervalOverlap(
      as.toDF().toDF("user_id", "ts", "event_id"),
      bs.toDF().toDF("user_id", "ts", "event_id"), aLen, bLen)
    val q = out.writeStream.format("memory")
      .queryName("stream_overlap").outputMode("append").start()
    try {
      as.addData(errs: _*)
      q.processAllAvailable()
      bs.addData(views: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_overlap")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch, s"stream $got != batch $batch")
  }

  test("personalizedPageRank: zero outside the seed's reach, mass conserved") {
    import graft.operators.Graph
    // chain a->b->c reachable from seed a; x->y disconnected
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("x", "y", 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("node")
    val got = Graph.personalizedPageRank(edges, seeds, iters = 5)
      .collect().map(r => r.getString(0) ->
        r.getDecimal(1).doubleValue()).toMap
    assert(got("x") == 0.0 && got("y") == 0.0, s"$got")
    assert(got("a") > 0.0 && got("b") > 0.0 && got("c") > 0.0, s"$got")
    // teleport + dangling both return to the seed set: total mass 1
    assert(math.abs(got.values.sum - 1.0) < 1e-6, s"mass ${got.values.sum}")
    // a seed with no presence in the graph is refused
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, Seq("zzz").toDF("node")).collect()
    }
  }

  test("rollingActiveUsersSketchGate: exact counts ride along, gate true at spec scale") {
    import graft.streaming.Events
    val day = 24L * 3600 * 1000L // ms
    val base = 1700006400000L
    def t(d: Long) = new java.sql.Timestamp(base + d * day)
    // day 0: users 1,2; day 1: user 2; day 8: user 3 (outside day 0's
    // 7-day window, inside day 1's... no — window looks BACK from the
    // fan-out: day 8 aggregates days 2..8 -> only user 3)
    val events = Seq((1L, t(0)), (2L, t(0)), (2L, t(1)), (3L, t(8)))
      .toDF("user_id", "ts")
    val got = Events.rollingActiveUsersSketchGate(events, windowDays = 7)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    val d0 = base * 1000L
    assert(got(d0) == ((2L, 2L, true, true)), s"$got")
    assert(got(d0 + day * 1000L) == ((1L, 2L, true, true)), s"$got")
    assert(got(d0 + 8L * day * 1000L) == ((1L, 1L, true, true)), s"$got")
  }

  test("asof nearest: picks the smaller gap either direction, backward on ties") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, "k", 100L), (2L, "k", 205L), (3L, "k", 300L), (4L, "z", 50L))
      .toDF("id", "key", "t")
    val right = Seq(("k", 90L, "a"), ("k", 210L, "b"), ("k", 400L, "c"))
      .toDF("key", "rt", "v")
    val got = AsOfJoin.nearest(left, right, "key", "t", "rt", Seq("v"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(3)), if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(got(1L) == ((Some("a"), 10L)), s"$got")   // backward 10 beats forward 110
    assert(got(2L) == ((Some("b"), 5L)), s"$got")    // forward 5 beats backward 115
    assert(got(3L) == ((Some("b"), 90L)), s"$got")   // backward 90 < forward 100
    assert(got(4L) == ((None, -1L)), s"$got")        // key with no right rows
    // exact tie: left at 150 is 60 from both 90 and 210 -> backward "a"
    val tie = AsOfJoin.nearest(Seq((9L, "k", 150L)).toDF("id", "key", "t"),
      right, "key", "t", "rt", Seq("v"))
      .collect().map(r => (r.getString(3), r.getLong(4))).head
    assert(tie == (("a", 60L)), s"$tie")
  }

  test("sketchIngest: incremental day sketches match exact counts within tolerance") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingStats
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("sks").toString + "/sk"
    val day = 24L * 3600 * 1000L
    val base = 1700006400000L
    def t(d: Long) = new java.sql.Timestamp(base + d * day)
    val versions = scala.collection.mutable.Map[Long, Long]()
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamingStats.sketchIngest(
      stream.toDF().toDF("user_id", "ts"), root,
      checkpointDir = Some(java.nio.file.Files
        .createTempDirectory("sks_ckpt").toString)) { (b, v) =>
      versions.synchronized { versions(b) = v }
    }
    try {
      // batch 0: day 0 sees users 1..40
      stream.addData((1L to 40L).map(u => (u, t(0))): _*)
      q.processAllAvailable()
      // batch 1: day 0 sees users 21..60 (overlap!), day 1 users 1..10
      stream.addData(((21L to 60L).map(u => (u, t(0))) ++
        (1L to 10L).map(u => (u, t(1)))): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(versions.toMap == Map(0L -> 1L, 1L -> 2L))
    val sk = graft.sources.Versioned.read(spark, root)
    assert(sk.count() == 2)
    val est = StreamingStats.rollingFromSketches(sk, windowDays = 7)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1).toDouble, r.getLong(2).toDouble))).toMap
    val d0 = base * 1000L
    // day 0: 60 distinct (union must NOT double-count the overlap);
    // day 1: dau 10, wau = distinct over days 0..1 = 60
    val (dau0, wau0) = est(d0)
    val (dau1, wau1) = est(d0 + day * 1000L)
    assert(math.abs(dau0 - 60) <= 3 && math.abs(wau0 - 60) <= 3, s"$est")
    assert(math.abs(dau1 - 10) <= 1 && math.abs(wau1 - 60) <= 3, s"$est")
  }

  test("shortestPaths: cheaper multi-hop detour wins, round budget bounds hops") {
    import graft.operators.Graph
    // a-b direct costs 10; a-c-b costs 2+3=5 (needs 2 rounds)
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L))
      .toDF("a", "b", "cost")
    val seeds = Seq(1L).toDF("node")
    val r1 = Graph.shortestPaths(edges, seeds, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 0L, 2L -> 10L, 3L -> 2L), s"$r1")
    val r2 = Graph.shortestPaths(edges, seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 0L, 2L -> 5L, 3L -> 2L), s"$r2")
  }

  test("readEvolved + schemaDrift: widened table reads as the union schema, drift audited") {
    import graft.sources.Sources
    val dir = java.nio.file.Files.createTempDirectory("evo").toString + "/t"
    val v1 = Seq((1L, "a")).toDF("k", "s")
    val v2 = Seq((2L, "b", 9.5)).toDF("k", "s", "score")
    v1.write.parquet(dir)
    v2.write.mode("append").parquet(dir)
    val merged = Sources.readEvolved(spark, dir)
    assert(merged.columns.sorted.toSeq == Seq("k", "s", "score"))
    val rows = merged.orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", Some(9.5))), s"${rows.toSeq}")
    val drift = Sources.schemaDrift(v1,
      Seq((1L, 2, 9.5)).toDF("k", "score", "s"))
    assert(drift == Seq(("score", "added", "", "int"),
      ("s", "retyped", "string", "double")), s"$drift")
  }

  test("modularity: two equal cliques score Q=0.5, one-community scores 0") {
    import graft.operators.Graph
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("a", "b")
    val twoComms = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("node", "community")
    val got = Graph.modularity(pairs, twoComms)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // per clique: intra=3, d_c=6 -> q_num = 4*6*3 - 36 = 36;
    // Q = sum/(4m^2) = 72/144 = 0.5 (the two-clique textbook value)
    assert(got == Map(1L -> ((3L, 3L, 6L, 36L)),
      10L -> ((3L, 3L, 6L, 36L))), s"$got")
    // everything in one community: Q = 0 exactly
    val one = twoComms.select(F.col("node"), F.lit(1L).as("community"))
    val q0 = Graph.modularity(pairs, one)
      .collect().map(r => r.getLong(4)).sum
    assert(q0 == 0L, s"$q0")
  }

  test("uniqueCombos: key detection and NULLs grouping as values") {
    import graft.harmonize.Profile
    val df = Seq(
      (1L, Option("a"), "p"), (2L, Option("a"), "q"),
      (3L, None: Option[String], "p"), (4L, None, "q"))
      .toDF("id", "grp", "tag")
    val got = Profile.uniqueCombos(df,
      Seq(Seq("id"), Seq("grp"), Seq("grp", "tag")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4)))).toMap
    assert(got("id") == ((4L, 1L, true, 4L)))
    // two NULL grp rows form ONE duplicate group -> non-unique
    assert(got("grp") == ((2L, 2L, false, 4L)), s"${got("grp")}")
    // (grp, tag) separates them -> unique, NULL grouping as a value
    assert(got("grp+tag") == ((4L, 1L, true, 4L)))
    // >62 distinct columns would overflow the Long grouping-bit
    // weights -> fail fast
    val wide = intercept[IllegalArgumentException] {
      Profile.uniqueCombos(df, (0 until 63).map(i => Seq(s"c$i")))
    }
    assert(wide.getMessage.contains("62"), wide.getMessage)
  }
}
