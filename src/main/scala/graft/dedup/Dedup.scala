package graft.dedup

import graft.operators.Pins
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** Deduplication suite for document corpora.
  *
  * Scale design: nothing here materializes the O(n^2) pair space.
  * - exact: one hash-shuffle groupBy.
  * - jaccardPairs: prefix-filtered inverted-index join (PPJoin-style
  *   candidate generation, Xiao et al., WWW 2008) + exact verification
  *   of the (few) candidates.
  * - minhashLsh: MinHash signatures + banded LSH bucket join
  *   (Broder 1997 / Leskovec MMDS ch.3), candidates verified exactly.
  * - simhashPairs: 64-bit SimHash (Charikar 2002), pigeonhole band
  *   join for hamming <= maxHamming candidates.
  * - embeddingPairs: exact cosine pair join (correctness baseline; the
  *   LSH-bucketed scale path lives in graft.similarity.Ann).
  */
object Dedup {

  /** Exact dedup: keep the smallest id per distinct text hash. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(F.md5(F.col(textCol).cast("binary")).as("text_hash"))
      .agg(F.min(F.col(idCol)).as(idCol), F.count(F.lit(1)).as("n_copies"))

  /** Materialize the deduplicated corpus: the full rows of the winner
    * (min-id) document per distinct text. One hash-shuffle groupBy +
    * a semi join back — the standard "write the clean corpus" step
    * after exact dedup.
    */
  def keepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(exact(df, idCol, textCol).select(F.col(idCol)), Seq(idCol), "left_semi")

  /** Per-row sorted distinct shingle-hash array. Shingles are
    * xxhash64-reduced before dedup so everything downstream moves
    * 8-byte longs instead of strings (collision odds are
    * ~|shingles|^2 / 2^65 — vanishing, and deterministic for a given
    * corpus), and the dedup is per-document — one fused native pass
    * (tokens -> shingle hashes -> sorted distinct set,
    * graft.functions.ShingleHashes), NOT a global distinct shuffle.
    */
  private def shingleHashArr(textCol: Column, k: Int): Column =
    graft.functions.HashExprs.shingleHashes(TextOps.tokens(textCol), k, sortedDistinct = true)

  /** (id, shingle-hash) pairs, distinct within each document. */
  def docShingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(F.col(idCol).as("id"),
      F.explode(shingleHashArr(F.col(textCol), k)).as("sh"))

  /** All pairs (id1 < id2) with shingle-set Jaccard >= threshold —
    * EXACT result, computed without the cross product:
    * 1. global shingle order by (document frequency asc, shingle asc);
    * 2. each doc keeps only its first |d| - ceil(t*|d|) + 1 shingles in
    *    that order (prefix filter — complete by the PPJoin theorem);
    * 3. candidate pairs = docs sharing a prefix shingle;
    * 4. exact intersection counts for candidates only.
    *
    * The returned pair table is persisted and already materialized (the
    * pipeline is multi-pass by nature — document frequencies need a
    * global pass — so the operator runs eagerly and downstream
    * consumers like components() read the small result from cache
    * instead of re-running the pipeline). ONE eager action runs here:
    * the shingle table's cache fills as the single candidate+verify job
    * computes, so no intermediate count jobs pay scheduler passes.
    * The result is persisted through Pins.persist (released by an
    * enclosing Pins.scoped); components() can also drop it early via
    * releaseInput.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int, threshold: Double,
                   dfCap: Option[Long] = None,
                   hotSalt: Option[(Long, Int)] = None): DataFrame = {
    // ONE tokenize+shingle kernel pass over the corpus: the cached
    // per-doc set table feeds everything downstream — the exploded
    // (id, sh) pairs and the doc sizes for candidate generation, and
    // the sorted arrays for merge-scan verification
    val sets = docShingleSets(df, idCol, textCol, k).persist()
    val prefix = prefixTable(sets, threshold, dfCap).persist()
    val out = Pins.persist(verifyJaccard(candidates(prefix, hotSalt), sets, threshold))
    out.count() // the ONLY materializing action: candidates + verify, one job
    prefix.unpersist()
    sets.unpersist()
    out
  }

  /** PPJoin candidate generation (steps 1-3 of jaccardPairs). With
    * `dfCap` set, shingles appearing in more than dfCap documents are
    * excluded from candidate generation — an explicit approximation
    * for boilerplate-heavy corpora where one ubiquitous shingle would
    * otherwise emit O(df^2) candidate pairs (the 100 TB guard).
    * Default None keeps the result exact (PPJoin prefix theorem).
    */
  private[graft] def jaccardCandidates(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double, dfCap: Option[Long] = None,
      hotSalt: Option[(Long, Int)] = None): DataFrame = {
    val sets = docShingleSets(df, idCol, textCol, k).persist()
    val prefix = prefixTable(sets, threshold, dfCap).persist()
    val cands = Pins.persist(candidates(prefix, hotSalt))
    cands.count() // materialize while the set table is cached, then drop it
    prefix.unpersist()
    sets.unpersist()
    cands
  }

  /** Lazy PPJoin prefix plan (id, sh, df) over the cached (id, shs, sz)
    * set table — the exploded shingle pairs, the document-frequency
    * aggregation, and the per-doc sizes all derive from it, so a single
    * downstream action fills one cache and every branch reuses it (no
    * second tokenization pass anywhere).
    *
    * Callers PERSIST it (r20): the prefix table feeds BOTH legs of the
    * candidate self-join — and with hotSalt, both legs of the salted
    * hot join too, FOUR computations of the explode+dfreq+window
    * subtree in one plan (measured: the four duplicated map stages
    * were ~45 s of the 100 s task time behind dedup_components_dist).
    * One cache entry of prefix rows — a fraction of the shingle table
    * by the prefix theorem — replaces three re-runs; the caller
    * releases it right after its materializing action.
    */
  private def prefixTable(sets: DataFrame, threshold: Double,
                          dfCap: Option[Long]): DataFrame = {
    val tok = sets.select(F.col("id"), F.explode(F.col("shs")).as("sh"))
    val sizes = sets.select(F.col("id"), F.col("sz"))
    val dfreq = tok.groupBy("sh").agg(F.count(F.lit(1)).as("df"))
    val ranked = tok.join(dfreq, "sh")
      .withColumn("rk", F.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(F.col("df").asc, F.col("sh").asc)))
    val prefix0 = ranked.join(sizes, "id")
      .where(F.col("rk") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
    dfCap.fold(prefix0)(cap => prefix0.where(F.col("df") <= cap))
      .select("id", "sh", "df")
  }

  /** Candidate pairs (id1 < id2) from the persisted prefix table. */
  private def candidates(prefix: DataFrame, hotSalt: Option[(Long, Int)]): DataFrame = {
    def candJoin(p: DataFrame): DataFrame =
      p.as("a").join(p.as("b"), Seq("sh"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").as("id1"), F.col("b.id").as("id2"))
    // hotSalt = (hotDf, salts): shingles with df above hotDf — heavy
    // hitters the dfCap deliberately lets through — take a SALTED
    // self-join, splitting each hot shingle's posting list across
    // `salts` reducers instead of one straggler task; everything else
    // joins plain. The split is clean because a pair's shared shingle
    // is hot or cold for both sides (df is a property of the shingle).
    // Results are identical to the plain join (spec'd); only the task
    // shape changes.
    val cands = hotSalt match {
      case None => candJoin(prefix.select("id", "sh"))
      case Some((hotDf, salts)) =>
        val cold = prefix.where(F.col("df") <= hotDf).select("id", "sh")
        val hot = prefix.where(F.col("df") > hotDf)
        val hotPairs = graft.operators.Skew.saltedJoin(
            hot.select(F.col("id").as("id1"), F.col("sh")),
            hot.select(F.col("id").as("id2"), F.col("sh")),
            key = "sh", salts = salts)
          .where(F.col("id1") < F.col("id2"))
          .select("id1", "id2")
        candJoin(cold).unionAll(hotPairs)
    }
    cands.distinct()
  }

  /** Per-doc sorted shingle-hash set (id, shs, sz) — built per row
    * from the document text, zero shuffles (the old form re-grouped the
    * exploded pairs, paying a groupBy that per-row arrays make
    * unnecessary). Two-step select keeps the array an attribute so the
    * size() reference does not duplicate the chain.
    */
  private[graft] def docShingleSets(df: DataFrame, idCol: String,
                                    textCol: String, k: Int): DataFrame =
    df.select(F.col(idCol).as("id"), shingleHashArr(F.col(textCol), k).as("shs"))
      .select(F.col("id"), F.col("shs"), F.size(F.col("shs")).cast("long").as("sz"))

  /** Exact Jaccard for candidate pairs: each pair is verified by a
    * merge-scan intersection of the two docs' sorted shingle-hash
    * arrays — O(|a|+|b|) per candidate, no join blow-up proportional
    * to |candidates| x |shingles-per-doc|.
    */
  private[dedup] def verifyJaccard(cands: DataFrame, sets: DataFrame,
                                   threshold: Double): DataFrame = {
    val s1 = sets.select(F.col("id").as("id1"), F.col("shs").as("shs1"), F.col("sz").as("n1"))
    val s2 = sets.select(F.col("id").as("id2"), F.col("shs").as("shs2"), F.col("sz").as("n2"))
    cands.join(s1, "id1").join(s2, "id2")
      .withColumn("ni", graft.functions.HashExprs.sortedIntersectCount(F.col("shs1"), F.col("shs2")))
      .select(F.col("id1"), F.col("id2"),
        (F.col("ni").cast("double") /
          (F.col("n1") + F.col("n2") - F.col("ni")).cast("double")).as("jaccard"))
      .where(F.col("jaccard") >= threshold)
  }

  /** Connected components over a near-dup pair table (id1 < id2):
    * label propagation to the component minimum — each iteration every
    * node takes the min label among itself and its neighbors; converges
    * in O(component diameter) rounds (near-dup clusters are shallow).
    * Driver holds only the did-anything-change flag per round; labels
    * and edges stay distributed. Returns (id, component) where
    * component = min doc id in the cluster.
    */
  /** Edge count below which the component graph is solved with driver
    * union-find: near-dup pair graphs are tiny relative to the corpus
    * (they contain only documents with a duplicate), and an iterative
    * distributed fixpoint pays multiple shuffle jobs per round.
    *
    * The bound is derived from the DRIVER'S heap, not a constant: the
    * collect holds boxed (id1, id2) rows plus a HashMap of up to 2
    * entries per edge — ~300 bytes/edge of generic-boxed driver heap,
    * conservatively. A flat 10M ceiling (the pre-r13 constant) is
    * ~3 GB at the boundary: fine on this 128 GiB box, an OOM on a
    * default 1-4 GiB driver. Budget: at most 1/16 of Runtime
    * .maxMemory at 300 B/edge — 10M edges needs a ~48 GiB driver;
    * a 2 GiB driver caps at ~420k edges and larger graphs take the
    * distributed label-propagation path, which needs no driver
    * residency at all. Hard ceiling 10M regardless (beyond that the
    * single-threaded union-find loop itself is the bottleneck).
    */
  private[graft] def SmallGraphEdges: Long = {
    val budget = Runtime.getRuntime.maxMemory / 16 / 300
    math.min(10L * 1000 * 1000, math.max(100L * 1000, budget))
  }

  def components(pairs: DataFrame, maxIter: Int = 20,
                 releaseInput: Boolean = false,
                 smallGraphLimit: Long = SmallGraphEdges): DataFrame = {
    // persist the pair input: it feeds the size probe plus every
    // propagation round (or the union-find collect) — without this, an
    // expensive upstream pipeline (e.g. jaccardPairs) would rerun per
    // use. An input that arrives ALREADY persisted (jaccardPairs'
    // materialized pair table) is not re-persisted — double caching
    // stores the same rows twice and was the "asked to cache already
    // cached data" churn in the round-2 bench.
    val inputCached =
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val pre = pairs.select(F.col("id1"), F.col("id2"))
    val p = if (inputCached) pre else pre.persist()
    // releaseInput: the output never references the input plan (the
    // union-find rows are driver-built; the distributed labels are
    // their own cached frame), so a terminal consumer can ask this
    // operator — the pipeline boundary — to drop the input's cache.
    def done[A](out: A): A = {
      if (!inputCached) p.unpersist()
      if (releaseInput && inputCached) pairs.unpersist()
      out
    }
    val nPairs = p.count()
    // size probe doubles as the materializing action; undirected edge
    // count is at most 2x the pair count
    if (2 * nPairs <= smallGraphLimit) {
      return done(componentsUnionFind(p))
    }
    // no distinct() on the doubled edge list: the only consumer is the
    // min-aggregate below, which duplicate edges cannot perturb — the
    // distinct was a full extra shuffle of the edge table per build
    //
    // r20: the cached edge frame feeds EVERY propagation round's map
    // stage, so its partition count is derived from the measured edge
    // count (guide §2 — size-adaptive, not the session constant); a
    // toy graph collapses to single-task rounds instead of paying
    // parallelism-many near-empty task launches per round, a huge
    // graph still splits at ~1M rows/task
    val par = p.sparkSession.sparkContext.defaultParallelism
    val pE = Pins.partsForRows(2 * nPairs, par)
    // PINNED, not persisted (r20): a persisted edge frame keeps the
    // caller's ENTIRE pair-pipeline lineage in its logical plan, and
    // every round's action (cache fill + convergence probe + broadcast
    // builds) re-optimizes that whole tree on the driver — measured as
    // ~0.3-0.5 s of between-stage driver time per job across ~30 loop
    // jobs while every stage wall sat under 1 s. The eager
    // localCheckpoint/checkpoint truncates the plan to a leaf once, so
    // per-round planning cost is constant in the upstream's complexity.
    // HASH-partitioned by a, the per-round aggregation key (r21,
    // guide §2.4): the neighbor-min join broadcasts the label side at
    // the measured-small end, so the streamed edge frame keeps this
    // partitioning and every round's groupBy(a) runs exchange-free;
    // at the large end (labels not broadcast) the join re-shuffles
    // either way, so nothing is lost.
    val edges = Pins.pin(
      p.select(F.col("id1").as("a"), F.col("id2").as("b"))
        .unionAll(p.select(F.col("id2").as("a"), F.col("id1").as("b")))
        .repartition(pE, F.col("a")))
    // measured-small label tables join with an explicit broadcast hint
    // (guide §3.1): the per-round label frames are cached/derived
    // frames with no reliable size statistics, so the planner would
    // otherwise sort-merge and re-shuffle the edge frame every round;
    // |labels| ≤ 2·nPairs bounds the broadcast decision by a measured
    // scalar, and big graphs fall back to the planner's choice
    def small(df: DataFrame): DataFrame =
      if (2 * nPairs <= Pins.BroadcastRows) F.broadcast(df)
      else df
    // cached: round 1 references the label frame on three join sides;
    // uncached, each side re-runs the node-distinct
    var labels = edges.select(F.col("a").as("id")).distinct()
      .select(F.col("id"), F.col("id").as("component"))
      .cache()
    // the handle unpersist() must be called on: `labels` becomes a
    // PROJECTION over the round's cached frame below, and unpersisting
    // a projection does not release the underlying cache entry
    var cached = labels
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(small(labels.withColumnRenamed("id", "b2")),
          F.col("b") === F.col("b2"))
        .groupBy(F.col("a").as("id"))
        .agg(F.min("component").as("nmin"))
      // NOT cached: the pointer-jump self-join reads this frame twice,
      // but at the small end every join here is a broadcast and the
      // duplicated subtree is cheaper than an InMemoryRelation
      // materialization barrier (measured 15s -> 38s with a cache);
      // at scale the shuffled exchanges under the self-join are
      // AQE-staged once per side either way
      val relabeled = labels.join(small(neighborMin), Seq("id"), "left")
        .select(F.col("id"), F.col("component").as("prev"),
          F.least(F.col("component"), F.coalesce(F.col("nmin"), F.col("component")))
            .as("component"))
      // pointer jumping: follow component -> component-of-component, so
      // chains collapse in O(log diameter) rounds instead of O(diameter).
      // The round's OLD label rides along as `prev`, so convergence is
      // a narrow filter over the round's own cached frame — no extra
      // next ⋈ labels stage per round (the tiny-stage fixed costs are
      // the whole round cost at the low end; at scale the saved
      // shuffle is label-table-sized)
      val next = relabeled.as("x")
        .join(small(relabeled.select(F.col("id").as("cid"),
            F.col("component").as("cc")).as("y")),
          F.col("x.component") === F.col("y.cid"), "left")
        .select(F.col("x.id").as("id"), F.col("x.prev").as("prev"),
          F.coalesce(F.col("y.cc"), F.col("x.component")).as("component"))
        .cache()
      val changed = next.where(F.col("component") =!= F.col("prev"))
        .limit(1).count()
      // next is materialized by the count above; previous round's cache
      // can go (long chains would otherwise pile up cached label frames)
      cached.unpersist()
      cached = next
      labels = next.select(F.col("id"), F.col("component"))
      converged = changed == 0
      iter += 1
    }
    // With pointer jumping, exhausting maxIter (20) needs a
    // ~2^20-diameter chain — practically unreachable — but a
    // partially-converged labeling silently feeding dedup_canonical
    // would be a correctness bug, so the exit path must not be mute.
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"componentsDistributed: label propagation exhausted maxIter=$maxIter " +
          "before converging; returned components may be PARTIAL " +
          "(some nodes not yet at their component's min label)")
    // The loop's final labels frame is cached, but its LINEAGE still
    // walks through edges (unpersisted next line) and the caller's
    // pair pipeline (dropped when releaseInput) — an executor loss
    // would silently re-run the entire upstream near-dup pipeline to
    // rebuild evicted label partitions. Truncate the lineage before
    // releasing the supports: a reliable checkpoint when the session
    // has a checkpoint dir (the cluster deployment), else an eager
    // localCheckpoint (single-JVM runs, where losing an executor
    // means losing the app anyway).
    val pinned = Pins.pin(labels)
    cached.unpersist()
    Pins.release(edges)
    done(pinned)
  }

  /** Small-graph fast path: classic union-find with path compression
    * and min-id roots, one collect + one createDataFrame. Generic over
    * the id column type (long, string, ... — any atomic orderable
    * type): keys are compared through Comparable, so string doc ids
    * work the same as numeric ones (the distributed path is generic
    * already via F.least/F.min).
    */
  private def componentsUnionFind(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema.fields(0).dataType
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    pairs.collect().foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    import scala.jdk.CollectionConverters._
    val rows = parent.keySet().asScala.toSeq
      .sortWith(lt)
      .map(id => org.apache.spark.sql.Row(id, find(id)))
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("component", idType, nullable = false))))
  }

  /** Canonical-document materialization for near-dup clusters: the full
    * rows of each component's minimum-id document, plus every document
    * that appears in no near-dup pair.
    */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame,
                    releaseInput: Boolean = false,
                    smallGraphLimit: Long = SmallGraphEdges): DataFrame = {
    val comp = components(pairs, releaseInput = releaseInput,
      smallGraphLimit = smallGraphLimit)
    val losers = comp.where(F.col("id") =!= F.col("component"))
      .select(F.col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-ranked cluster canonicalization — [[keepCanonical]] with
    * the survivor chosen by SCORE instead of min id: per near-dup
    * cluster keep the member with the highest score (ties -> min id),
    * the C4/RefinedWeb "keep the longest duplicate" policy generalized
    * to any deterministic quality signal. Returns (id, kept_id) for
    * EVERY input document — cluster members map to their survivor,
    * unpaired documents map to themselves — so the output doubles as
    * the rewrite table for downstream provenance joins.
    *
    * Scale shape: the component map covers only PAIRED documents (the
    * tiny slice of a deduplicated corpus), so the rank window and the
    * winner join run on near-dup rows only; the full corpus is touched
    * once by the final left join on the id hash. `scored` must carry
    * one (id, score) row per document; only paired ids are read.
    */
  def keepBest(df: DataFrame, idCol: String, pairs: DataFrame,
               scored: DataFrame, releaseInput: Boolean = false,
               smallGraphLimit: Long = SmallGraphEdges): DataFrame = {
    val comp = components(pairs, releaseInput = releaseInput,
      smallGraphLimit = smallGraphLimit)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(F.col("score").desc, F.col("id").asc)
    val winners = comp.join(scored, "id")
      .withColumn("rk", F.row_number().over(w))
      .where(F.col("rk") === 1)
      .select(F.col("component"), F.col("id").as("kept_id"))
    val mapped = comp.join(winners, "component")
      .select(F.col("id"), F.col("kept_id"))
    df.select(F.col(idCol).as("id"))
      .join(mapped, Seq("id"), "left")
      .select(F.col("id"),
        F.coalesce(F.col("kept_id"), F.col("id")).as("kept_id"))
  }

  /** Provenance report over a near-dup pair table: every (id1, id2)
    * pair is annotated with a grouping attribute of BOTH documents
    * (source, crawl, domain, shard ...) and counted per unordered
    * attribute pair — which sources duplicate each other, the signal
    * behind source-level mixing weights and cross-source contamination
    * checks. The pair table is near-dup-sized (tiny relative to the
    * corpus); the attribute join ships only (id, group) columns, so at
    * 100 TB the corpus payloads never move. Output:
    * ({group}_1, {group}_2, n_pairs) with group_1 <= group_2.
    */
  def pairGroupReport(pairs: DataFrame, df: DataFrame, idCol: String,
                      groupCol: String): DataFrame = {
    val g1 = df.select(F.col(idCol).as("id1"), F.col(groupCol).as("__g1"))
    val g2 = df.select(F.col(idCol).as("id2"), F.col(groupCol).as("__g2"))
    pairs.select("id1", "id2").join(g1, "id1").join(g2, "id2")
      .select(F.least(F.col("__g1"), F.col("__g2")).as(s"${groupCol}_1"),
        F.greatest(F.col("__g1"), F.col("__g2")).as(s"${groupCol}_2"))
      .groupBy(s"${groupCol}_1", s"${groupCol}_2")
      .agg(F.count(F.lit(1)).as("n_pairs"))
  }

  /** Boilerplate n-gram report: the k-gram shingles occurring in at
    * least `minDocs` DISTINCT documents, with their document
    * frequencies — the corpus-analytics pass behind boilerplate
    * stripping and the dfCap guard (ubiquitous shingles are both a
    * quality and a candidate-blowup signal). One explode + one
    * hash-shuffle groupBy; string shingles are kept (this is a report
    * for humans/filters, not a join key), but each document
    * contributes a shingle once, so the exchange carries per-doc
    * DISTINCT shingles only.
    */
  def boilerplateShingles(df: DataFrame, idCol: String, textCol: String,
                          k: Int, minDocs: Long): DataFrame =
    df.select(F.col(idCol).as("id"),
        F.array_distinct(TextOps.shingles(TextOps.tokens(F.col(textCol)), k)).as("shs"))
      .select(F.col("id"), F.explode(F.col("shs")).as("shingle"))
      .groupBy("shingle")
      .agg(F.count(F.lit(1)).as("n_docs"))
      .where(F.col("n_docs") >= minDocs)

  /** Cross-document duplicated-SPAN accounting — the exact-substring
    * dedup modality (Lee et al. ACL'22, "Deduplicating Training Data
    * Makes Language Models Better", there via suffix arrays): a
    * k-token window occurring in >= minDocs distinct documents marks a
    * duplicated position; maximal runs of consecutive duplicated
    * positions are SPANS, and per document we report the span count
    * plus the number of distinct token positions covered (spans from
    * nearby runs can overlap by up to k-1 tokens, so coverage is the
    * interval-UNION length via a running-max sweep, never a naive
    * sum). Output: (id, n_tokens, n_spans, dup_tokens, dup_ratio) for
    * every document, zeros where nothing repeats.
    *
    * Distinct from [[boilerplateShingles]] (reports the n-grams, not
    * per-doc span structure) and [[dedupParagraphs]] (within-doc
    * repetition): this is the per-document contamination accounting a
    * substring-dedup policy thresholds on.
    *
    * Scale: one shingle explode (the shared kernel), one frequency
    * shuffle on 8-byte xxhash64 shingle HASHES — the k-token window
    * strings (~10x the bytes at k=5) are hashed partition-locally
    * before the exchange and never move, the same trade every other
    * shingle kernel here makes (a 64-bit collision conflating two
    * windows is vanishingly unlikely and only ever adds a duplicated
    * position) — a semi join back on the hash, and two per-doc
    * windows (partitioned by doc id — high-cardinality, even). All
    * arithmetic exact integers; the DuckDB twin replays every stage
    * on the strings themselves, which is the same answer absent a
    * hash collision.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int, minDocs: Long = 2L): DataFrame = {
    val base = df.select(F.col(idCol).as("id"),
      TextOps.tokens(F.col(textCol)).as("__toks"))
    val docs = base.select(F.col("id"),
      F.size(F.col("__toks")).cast("long").as("n_tokens"))
    val win = base
      .select(F.col("id"), F.posexplode(TextOps.shingles(F.col("__toks"), k))
        .as(Seq("pos", "sh")))
      .select(F.col("id"), F.col("pos"), F.xxhash64(F.col("sh")).as("sh"))
    val dup = win.groupBy("sh")
      .agg(F.countDistinct("id").as("nd")).where(F.col("nd") >= minDocs)
      .select("sh")
    val dupPos = win.join(dup, "sh").select("id", "pos")
    // maximal runs of consecutive positions: pos - row_number is
    // constant within a run
    val wOrd = Window.partitionBy("id").orderBy(F.col("pos").asc)
    val spans = dupPos
      .withColumn("grp", F.col("pos") - F.row_number().over(wOrd))
      .groupBy("id", "grp")
      .agg(F.min("pos").as("start"), (F.max("pos") + k).as("end"))
    // interval-union sweep: tokens covered beyond the running max end
    val wSweep = Window.partitionBy("id").orderBy(F.col("start").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = spans
      .withColumn("prev_end", F.coalesce(F.max("end").over(wSweep), F.lit(0L)))
      .withColumn("cov",
        F.greatest(F.col("end") - F.greatest(F.col("start"), F.col("prev_end")),
          F.lit(0L)))
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_spans"), F.sum("cov").as("dup_tokens"))
    docs.join(covered, Seq("id"), "left")
      .na.fill(0L, Seq("n_spans", "dup_tokens"))
      .select(F.col("id"), F.col("n_tokens"), F.col("n_spans"),
        F.col("dup_tokens"),
        F.when(F.col("n_tokens") === 0, 0.0)
          .otherwise(F.round(F.col("dup_tokens").cast("double") /
            F.col("n_tokens").cast("double"), 6)).as("dup_ratio"))
  }

  /** The MATERIALIZATION counterpart of [[duplicatedSpans]] — the
    * Lee et al. ACL'22 rewrite ("drop all but one occurrence of each
    * duplicated substring") under a deterministic ownership policy:
    * each duplicated k-token window is OWNED by the minimum doc id
    * containing it; every token position covered by a duplicated
    * window the document does NOT own is dropped, and the surviving
    * tokens are reassembled in order. Owner documents keep their
    * spans, so exactly one copy of every duplicated region survives
    * corpus-wide. Output: (id, n_tokens, n_kept, text_clean).
    *
    * Scale: the drop set explodes positions by at most k per window
    * (the same multiplier as the shingle pipelines); reassembly is a
    * per-doc sort bounded by document length. As in
    * [[duplicatedSpans]], the ownership shuffle moves 8-byte xxhash64
    * window hashes, never the window strings. Every step is exact
    * integer/set logic — the twin replays it all in SQL on the
    * strings, the same answer absent a 64-bit collision.
    */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int, minDocs: Long = 2L): DataFrame = {
    val base = df.select(F.col(idCol).as("id"),
      TextOps.tokens(F.col(textCol)).as("__toks"))
    val win = base.select(F.col("id"),
      F.posexplode(TextOps.shingles(F.col("__toks"), k)).as(Seq("pos", "sh")))
      .select(F.col("id"), F.col("pos"), F.xxhash64(F.col("sh")).as("sh"))
    val owned = win.groupBy("sh")
      .agg(F.countDistinct("id").as("nd"), F.min("id").as("owner"))
      .where(F.col("nd") >= minDocs)
      .select("sh", "owner")
    val dropPos = win.join(owned, "sh")
      .where(F.col("id") =!= F.col("owner"))
      .select(F.col("id"),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).as("t"))
      .distinct()
    val toks = base.select(F.col("id"),
      F.size(F.col("__toks")).cast("long").as("n_tokens"),
      F.posexplode(F.col("__toks")).as(Seq("t", "w")))
    val kept = toks.join(dropPos, Seq("id", "t"), "left_anti")
    val rebuilt = kept.groupBy("id", "n_tokens")
      .agg(F.count(F.lit(1)).as("n_kept"),
        F.array_join(F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("t"), F.col("w")))),
          x => x.getField("w")), " ").as("text_clean"))
    // empty docs (no tokens to explode) come back with zero counts
    base.select(F.col("id"), F.size(F.col("__toks")).cast("long").as("n_tokens"))
      .join(rebuilt.drop("n_tokens"), Seq("id"), "left")
      .na.fill(0L, Seq("n_kept")).na.fill("", Seq("text_clean"))
      .select("id", "n_tokens", "n_kept", "text_clean")
  }

  /** Incremental corpus growth: of an incoming batch, keep only the
    * documents whose text is (a) first-seen within the batch (min id
    * wins) and (b) absent from the existing corpus. The existing side
    * is reduced to DISTINCT 16-byte text hashes before the anti join —
    * at 100 TB the incoming batch never joins against existing
    * payloads, only against the deduplicated hash column.
    */
  def incrementalNew(incoming: DataFrame, existing: DataFrame,
                     idCol: String, textCol: String): DataFrame =
    incrementalNewAgainstHashes(incoming, idCol, textCol,
      existing.select(F.md5(F.col(textCol).cast("binary")).as("hash")).distinct())

  /** [[incrementalNew]] probing a pre-computed hash frame instead of
    * re-hashing the corpus — the shared core of the inline path and
    * the persisted-index path. `hashes` needs a `hash` column
    * (md5-of-text hex strings); duplicate hash rows are absorbed by
    * the anti join.
    */
  def incrementalNewAgainstHashes(incoming: DataFrame, idCol: String,
                                  textCol: String,
                                  hashes: DataFrame): DataFrame =
    keepFirst(incoming, idCol, textCol)
      .withColumn("__h", F.md5(F.col(textCol).cast("binary")))
      .join(hashes.select(F.col("hash").as("__seen_hash")),
        F.col("__h") === F.col("__seen_hash"), "left_anti")
      .drop("__h")

  /** Persist the corpus's DISTINCT 16-byte text hashes as a BUCKETED
    * managed table keyed by the hash — the persisted probe side of
    * the exact-dedup ingest loop ([[minhashIndexBuild]]'s pattern
    * applied to exact hashes). [[incrementalNew]]'s inline shape
    * re-hashes and re-distincts the WHOLE existing corpus on every
    * batch; at 100 TB the daily loop must instead anti-join the batch
    * against this table, which is ~3 orders of magnitude smaller than
    * the corpus (32-hex-char hashes vs document payloads), bucketed
    * so the table side is read in place and only the batch shuffles.
    * Rows carry `ingest_batch` lineage (-1 for the bootstrap corpus)
    * so an at-least-once ingest loop can exclude its own partial
    * leftovers on re-run, the [[graft.streaming.StreamingDedup]]
    * convention.
    */
  def exactHashIndexBuild(corpus: DataFrame, textCol: String,
                          table: String, nBuckets: Int = 64): Unit =
    graft.sources.Sources.writeBucketedMulti(
      corpus.select(F.md5(F.col(textCol).cast("binary")).as("hash")).distinct()
        .withColumn("ingest_batch", F.lit(-1L)),
      table, bucketBy = Seq("hash"), nBuckets = nBuckets,
      sortBy = Seq("hash"))

  /** Append a batch's distinct text hashes to an existing
    * [[exactHashIndexBuild]] table under the given `ingest_batch` id,
    * so the NEXT batch's probe sees this one. Append the KEPT rows
    * (the [[incrementalNewIdx]] output) — appending the raw batch
    * would also work (duplicate hashes are absorbed at read time) but
    * grows the table with rows the probe already rejected.
    */
  def exactHashIndexAppend(batch: DataFrame, textCol: String,
                           table: String, ingestBatch: Long,
                           nBuckets: Int = 64): Unit =
    graft.sources.Sources.writeBucketedMulti(
      batch.select(F.md5(F.col(textCol).cast("binary")).as("hash")).distinct()
        .withColumn("ingest_batch", F.lit(ingestBatch)),
      table, bucketBy = Seq("hash"), nBuckets = nBuckets,
      sortBy = Seq("hash"),
      mode = org.apache.spark.sql.SaveMode.Append)

  /** The persisted-index variant of [[incrementalNew]]: anti-join the
    * incoming batch against the hash table [[exactHashIndexBuild]]
    * wrote (pass the frame read back from it, or any frame with a
    * `hash` column). Identical output to the inline path — the wired
    * query pair shares one oracle — at per-batch cost of a batch-side
    * shuffle against an in-place bucketed hash scan, never a corpus
    * re-hash.
    */
  def incrementalNewIdx(incoming: DataFrame, index: DataFrame,
                        idCol: String, textCol: String): DataFrame =
    incrementalNewAgainstHashes(incoming, idCol, textCol, index)

  /** Persist the corpus's banded MinHash signature table as a BUCKETED
    * managed table — the index an incremental near-dup pipeline builds
    * once and band-joins every incoming batch against. Bucketed (and
    * sorted) by the FULL join key (band, key) — Spark's co-partition
    * check requires all cluster keys by default, so subset bucketing
    * would still shuffle — which lets the corpus-sized signature side
    * be read in place while only the (small) batch side moves. The
    * table carries (id, band, key) longs only, ~bands x 24 bytes per
    * document: at 100 TB of text this index is ~3 orders of magnitude
    * smaller than the corpus.
    */
  def minhashIndexBuild(corpus: DataFrame, idCol: String, textCol: String,
                        k: Int, numHashes: Int, bands: Int,
                        table: String, nBuckets: Int = 64): Unit =
    graft.sources.Sources.writeBucketedMulti(
      minhashBanded(corpus, idCol, textCol, k, numHashes, bands),
      table, bucketBy = Seq("band", "key"), nBuckets = nBuckets,
      sortBy = Seq("band", "key"))

  /** Append a batch's banded signatures to an existing
    * [[minhashIndexBuild]] table (same bucket spec enforced by Spark),
    * so the NEXT batch's band probe sees this one — the write half of
    * the per-batch ingest loop.
    */
  def minhashIndexAppend(batch: DataFrame, idCol: String, textCol: String,
                         k: Int, numHashes: Int, bands: Int,
                         table: String, nBuckets: Int = 64): Unit =
    graft.sources.Sources.writeBucketedMulti(
      minhashBanded(batch, idCol, textCol, k, numHashes, bands),
      table, bucketBy = Seq("band", "key"), nBuckets = nBuckets,
      sortBy = Seq("band", "key"),
      mode = org.apache.spark.sql.SaveMode.Append)

  /** Incremental NEAR-dup ingest — the operator a crawl pipeline runs
    * per batch: all pairs (id1 < id2) with exact shingle Jaccard >=
    * threshold TOUCHING the incoming batch, i.e. batch x (existing
    * UNION batch). Candidates come from a band join of the batch's
    * banded signatures against the existing signature table (pass the
    * frame read back from [[minhashIndexBuild]]'s table, or any
    * (id, band, key) frame) unioned with the batch's own — the batch
    * side is the probe, so existing x existing pairs are never
    * regenerated. Existing corpus TEXT is touched only to exact-verify
    * candidate ids (semi-join pushes the id set into the scan): per
    * batch, the existing corpus costs one signature-index read plus
    * candidate-row lookups — never a full re-shingling.
    */
  def incrementalNearDupPairs(incoming: DataFrame, existing: DataFrame,
                              existingBanded: DataFrame,
                              idCol: String, textCol: String, k: Int,
                              numHashes: Int, bands: Int,
                              threshold: Double): DataFrame = {
    // the batch signature table feeds both the probe side and the
    // union — persisted across the single materializing action below
    val batchBanded =
      minhashBanded(incoming, idCol, textCol, k, numHashes, bands).persist()
    val allBanded = existingBanded.select("id", "band", "key").unionAll(batchBanded)
    // persisted: the candidate table feeds the final verify join AND
    // the candIds semi-join, which Catalyst pushes through BOTH corpus
    // union branches — unpersisted, the band-join + distinct pipeline
    // would run three times per batch (seen in the executed plan)
    val cands = batchBanded.as("a").join(allBanded.as("b"), Seq("band", "key"))
      .where(F.col("a.id") =!= F.col("b.id"))
      .select(F.least(F.col("a.id"), F.col("b.id")).as("id1"),
        F.greatest(F.col("a.id"), F.col("b.id")).as("id2"))
      .distinct()
      .persist()
    val corpus = existing.select(F.col(idCol), F.col(textCol))
      .unionAll(incoming.select(F.col(idCol), F.col(textCol)))
    val candIds = cands
      .select(F.explode(F.array(F.col("id1"), F.col("id2"))).as("__cid"))
      .distinct()
    // dedup by id AFTER the semi-join (candidate-sized, cheap): absorbs
    // duplicate corpus rows — e.g. a crashed-and-retried at-least-once
    // ingest appending a batch twice — which would otherwise multiply
    // rows through the verify join
    val candDocs = corpus.join(candIds, F.col(idCol) === F.col("__cid"), "left_semi")
      .dropDuplicates(idCol)
    val out = Pins.persist(verifyJaccard(cands,
      docShingleSets(candDocs, idCol, textCol, k), threshold))
    out.count()
    batchBanded.unpersist()
    cands.unpersist()
    out
  }

  /** MinHash signature column: numHashes minima over the shingle array
    * in a single native-expression pass (graft.functions.MinHashSig) —
    * no shuffle, no per-permutation interpreted lambda.
    */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    graft.functions.HashExprs.minhashSig(shingleArr, numHashes)

  /** (id, band, key) LSH-bucket table: per-doc MinHash signature in
    * one native pass, then band explosion without a lambda
    * (transform(sequence(...)) is an interpreted HOF and would knock
    * the projection out of codegen) — explode a literal band-index
    * array, then slice + hash per row.
    */
  private[graft] def minhashBanded(df: DataFrame, idCol: String, textCol: String,
                                   k: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val shArr = F.array_distinct(TextOps.shingles(TextOps.tokens(F.col(textCol)), k))
    val sigs = df.select(F.col(idCol).as("id"), shArr.as("shs"))
      .where(F.size(F.col("shs")) > 0)
      .select(F.col("id"), minhashSignature(F.col("shs"), numHashes).as("sig"))
    sigs
      .select(F.col("id"), F.col("sig"),
        F.explode(F.lit((0 until bands).toArray)).as("band"))
      .select(F.col("id"), F.col("band"),
        F.xxhash64(F.col("band"),
          F.slice(F.col("sig"), F.col("band") * rows + 1, F.lit(rows))).as("key"))
  }

  /** Near-dup pairs via MinHash + LSH banding, then exact-Jaccard
    * verification of candidates (so output has no false positives;
    * recall is governed by bands/rows as usual for LSH).
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String, k: Int,
                 numHashes: Int, bands: Int, threshold: Double,
                 bucketCap: Option[Long] = None): DataFrame = {
    val bandedAll = minhashBanded(df, idCol, textCol, k, numHashes, bands)
    // bucketCap: drop LSH buckets bigger than cap before the self-join —
    // a bucket of n docs emits O(n^2) candidates, and on boilerplate-heavy
    // corpora a single degenerate bucket can dominate the whole job.
    // Documented recall tradeoff: docs similar ONLY through an over-cap
    // bucket are missed. Default None = all buckets.
    // The cap path references the banded table twice (bucket counting
    // and the pruning semi-join), so it is persisted for the single
    // candidate-materializing action and released right after — without
    // this the full MinHash signature pipeline over the corpus runs
    // twice, doubling the dominant cost exactly on the boilerplate-heavy
    // corpora the cap targets.
    bucketCap match {
      case None =>
        val cands = bandedAll.as("a").join(bandedAll.as("b"), Seq("band", "key"))
          .where(F.col("a.id") < F.col("b.id"))
          .select(F.col("a.id").as("id1"), F.col("b.id").as("id2"))
          .distinct()
        verifyJaccard(cands, docShingleSets(df, idCol, textCol, k), threshold)
      case Some(cap) =>
        // the cap path references the banded table three times (bucket
        // counting, the pruning anti-join, and the candidate self-join),
        // so it is persisted across ONE eager materializing action —
        // jaccardPairs' pattern: the verified output is what stays
        // cached (small near-dup pair set, caller may unpersist), the
        // signature pipeline cache is dropped here.
        // Prune against the OVER-cap bucket set, not the under-cap one:
        // over-cap buckets are heavy-hitter-few by construction — the
        // under-cap complement is the whole bucket universe
        // (corpus-sized at 100 TB) and semi-joining it would shuffle
        // everything to drop almost nothing. No FORCED broadcast hint,
        // though: |over| is bounded only by bandedRows/cap, so a
        // pathological corpus with many buckets just over the cap could
        // OOM the driver through a hint that bypasses
        // autoBroadcastJoinThreshold. AQE sees the aggregate's actual
        // runtime size and picks broadcast exactly when it is safe.
        val banded = bandedAll.persist()
        val over = banded.groupBy("band", "key")
          .agg(F.count(F.lit(1)).as("bn")).where(F.col("bn") > cap)
          .select("band", "key")
        val kept = banded.join(over, Seq("band", "key"), "left_anti")
        val cands = kept.as("a").join(kept.as("b"), Seq("band", "key"))
          .where(F.col("a.id") < F.col("b.id"))
          .select(F.col("a.id").as("id1"), F.col("b.id").as("id2"))
          .distinct()
        val out = Pins.persist(verifyJaccard(cands,
          docShingleSets(df, idCol, textCol, k), threshold))
        out.count()
        banded.unpersist()
        out
    }
  }

  /** Diagnostics for the two 100 TB candidate-blowup guards: how much
    * each cap actually dropped on THIS corpus. Running it alongside the
    * capped dedup queries makes a future oracle-parity break immediately
    * attributable — if a data refresh puts true near-dup pairs onto
    * boilerplate shingles or degenerate buckets, these counters move
    * first. Output rows (metric, value):
    *  - jaccard_shingles_over_dfcap: distinct shingle hashes whose doc
    *    frequency exceeds dfCap (each excluded from candidate
    *    generation);
    *  - jaccard_postings_dropped: inverted-index postings riding on
    *    those shingles (the candidate-generation mass removed);
    *  - minhash_buckets_over_cap: LSH (band, key) buckets larger than
    *    bucketCap (pruned whole);
    *  - minhash_band_entries_dropped: banded signature rows inside
    *    those buckets.
    * Two linear passes (shingle pipeline, signature pipeline), each
    * reduced map-side to per-key counts before the tiny final aggs.
    */
  def capReport(df: DataFrame, idCol: String, textCol: String, k: Int,
                dfCap: Long, numHashes: Int, bands: Int,
                bucketCap: Long): DataFrame =
    capReport(docShingles(df, idCol, textCol, k),
      minhashBanded(df, idCol, textCol, k, numHashes, bands),
      dfCap, bucketCap)

  /** capReport over PRE-BUILT pipeline frames: callers already running
    * the capped dedup queries can hand in the (id, sh) shingle table
    * and the (id, band, key) banded signature table (persisted or not)
    * instead of paying two fresh corpus passes — the counters are
    * identical by construction (same frames, same aggregations).
    */
  def capReport(docShingles: DataFrame, minhashBanded: DataFrame,
                dfCap: Long, bucketCap: Long): DataFrame = {
    val dfreq = docShingles
      .groupBy("sh").agg(F.count(F.lit(1)).as("df"))
      .where(F.col("df") > dfCap)
    val jac = dfreq.agg(
      F.count(F.lit(1)).as("jaccard_shingles_over_dfcap"),
      F.coalesce(F.sum("df"), F.lit(0L)).as("jaccard_postings_dropped"))
    val buckets = minhashBanded
      .groupBy("band", "key").agg(F.count(F.lit(1)).as("bn"))
      .where(F.col("bn") > bucketCap)
    val mh = buckets.agg(
      F.count(F.lit(1)).as("minhash_buckets_over_cap"),
      F.coalesce(F.sum("bn"), F.lit(0L)).as("minhash_band_entries_dropped"))
    def unpivot(d: DataFrame): DataFrame = {
      val cols = d.columns
      d.select(F.explode(F.map(
        cols.toSeq.flatMap(c => Seq(F.lit(c), F.col(c).cast("long"))): _*)))
        .toDF("metric", "value")
    }
    unpivot(jac).unionAll(unpivot(mh)).orderBy("metric")
  }

  /** 64-bit SimHash per document from token term frequencies: bit b of
    * the signature is set iff the tf-weighted sum of (+-1) votes from
    * each token's xxhash64 bit b is positive. Per-row native expression
    * (graft.functions.SimHash64) — the signature pass is shuffle-free.
    * Documents with no tokens are dropped (no meaningful signature).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(F.col(idCol).as("id"), TextOps.tokens(F.col(textCol)).as("toks"))
      .where(F.size(F.col("toks")) > 0)
      .select(F.col("id"), graft.functions.HashExprs.simhash64(F.col("toks")).as("simhash"))

  /** Near-dup pairs with hamming(simhash) <= maxHamming, found via the
    * pigeonhole band join: split 64 bits into (maxHamming+1) bands —
    * any pair within the radius agrees on at least one full band.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(simhash(df, idCol, textCol), "simhash", maxHamming)

  /** Banded 64-bit signatures for the pigeonhole hamming band join:
    * (id, sigCol, band, key) — (maxHamming+1) bands partitioning ALL
    * 64 bits; any pair within the radius agrees on at least one full
    * band. Signature-agnostic (r17): SimHash text signatures and
    * dHash perceptual image signatures share this machinery.
    */
  def hammingBanded(sigs: DataFrame, sigCol: String,
                    maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming in [0, 64)")
    val nBands = maxHamming + 1
    // per-band mask literals: bands partition ALL 64 bits (pigeonhole
    // needs full coverage), with floor/ceil widths when nBands does not
    // divide 64; width 64 (maxHamming = 0) is the full mask — the band
    // key is then the whole signature, i.e. exact-signature bucketing,
    // not one global bucket (1L << 64 wraps to 1 and would zero the mask)
    val bandMasks = F.array((0 until nBands).map { b =>
      val lo = (b * 64) / nBands
      val hi = ((b + 1) * 64) / nBands
      val width = hi - lo
      F.lit(if (width >= 64) -1L else ((1L << width) - 1) << lo)
    }: _*)
    // lambda-free band explosion (codegen-friendly, see minhashLsh)
    sigs
      .select(F.col("id"), F.col(sigCol),
        F.explode(F.lit((0 until nBands).toArray)).as("band"))
      .select(F.col("id"), F.col(sigCol), F.col("band"),
        F.col(sigCol).bitwiseAND(F.element_at(bandMasks, F.col("band") + 1)).as("key"))
  }

  /** All pairs (id1 < id2) within hamming ≤ maxHamming of their
    * 64-bit signatures, via the pigeonhole band join over
    * [[hammingBanded]] buckets.
    */
  def hammingPairs(sigs: DataFrame, sigCol: String,
                   maxHamming: Int): DataFrame = {
    val banded = hammingBanded(sigs, sigCol, maxHamming)
    hammingPairsFromBanded(banded, banded, sigCol, maxHamming)
  }

  /** The band-join tail over pre-banded signatures: probe ⋈ target on
    * (band, key), id1 < id2, hamming verify — exposed so served-index
    * probes (the batch side banded fresh, the corpus side read back
    * from its bucketed table) reuse the identical join/verify.
    */
  def hammingPairsFromBanded(probe: DataFrame, target: DataFrame,
                             sigCol: String, maxHamming: Int): DataFrame =
    // canonical (least, greatest) emit — NOT a.id < b.id: an
    // asymmetric probe (served-index serving, where only the batch
    // probes) must keep pairs whose probe-side id is the larger one;
    // the symmetric self-join case emits both orders and the distinct
    // collapses them, exactly as the one-sided filter did
    probe.as("a").join(target.as("b"), Seq("band", "key"))
      .where(F.col("a.id") =!= F.col("b.id"))
      .select(F.least(F.col("a.id"), F.col("b.id")).as("id1"),
        F.greatest(F.col("a.id"), F.col("b.id")).as("id2"),
        F.bit_count(F.col(s"a.$sigCol").bitwiseXOR(F.col(s"b.$sigCol"))).as("hamming"))
      .distinct()
      .where(F.col("hamming") <= maxHamming)

  /** C4/RefinedWeb-style cross-document repeated-paragraph removal
    * (Raffel et al. 2020 §2.2 "three-sentence span" rule; Penedo et
    * al. 2023): a paragraph that occurs in >= minDf distinct documents
    * is corpus boilerplate (headers, license blurbs, navigation) and
    * is dropped from EVERY document, then each document is reassembled
    * from its surviving paragraphs in order.
    *
    * "Paragraph" here is a non-overlapping `width`-token window of the
    * tokenized text — this corpus has no newlines, so the window IS the
    * paragraph boundary; on real crawl text the split would be on
    * '\n\n' and everything downstream is unchanged.
    *
    * Scale shape (two corpus shuffles, one slim):
    *  1. df-count: paragraphs shuffle as (xxhash64(chunk), id) pairs —
    *     8-byte keys, never the text — one map-side-combined count.
    *  2. the over-df drop set is boilerplate-small by construction
    *     (bounded by n_paragraphs/minDf); the anti join against it
    *     broadcasts under AQE's runtime size decision, so the corpus
    *     text itself takes exactly ONE shuffle: the per-document
    *     reassembly groupBy.
    * A 64-bit hash collision could drop an innocent paragraph; at
    * corpus scale that risk is the standard xxhash64 birthday bound,
    * and the DuckDB parity twin (grouping on raw paragraph text)
    * catches any collision on the gated corpora.
    *
    * Output: (id, n_chunks, n_dropped, clean_text) — one row per input
    * document, clean_text = '' when everything was boilerplate.
    */
  def dropRepeatedParagraphs(df: DataFrame, idCol: String, textCol: String,
                             width: Int = 50, minDf: Long = 3): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    require(minDf >= 2, s"minDf below 2 drops every paragraph, got $minDf")
    val toksC = TextOps.tokens(F.col(textCol))
    val nChunksC = F.ceil(F.size(toksC).cast("double") / width).cast("int")
    val base = df.select(F.col(idCol).as("id"), toksC.as("__ts"),
      nChunksC.as("n_chunks"))
    // sequence(0, n-1) DESCENDS when n = 0 (empty doc) — guard to an
    // empty int array so zero-token documents contribute no chunks
    val idxs = F.when(F.col("n_chunks") > 0,
      F.sequence(F.lit(0), F.col("n_chunks") - 1))
      .otherwise(F.array().cast("array<int>"))
    val chunks = base.select(F.col("id"),
      F.posexplode(F.transform(idxs,
        i => F.array_join(F.slice(F.col("__ts"), i * width + 1, F.lit(width)), " "))))
      .toDF("id", "chunk_idx", "chunk")
      .withColumn("chunk_h", F.xxhash64(F.col("chunk")))
    val dropSet = chunks.groupBy("chunk_h")
      .agg(F.count_distinct(F.col("id")).as("df"))
      .where(F.col("df") >= minDf)
      .select("chunk_h")
    val kept = chunks.join(dropSet, Seq("chunk_h"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(F.count(F.lit(1)).as("n_kept"),
        F.array_join(
          F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("chunk_idx"), F.col("chunk")))),
            s => s.getField("chunk")),
          " ").as("clean_text"))
    base.select("id", "n_chunks")
      .join(rebuilt, Seq("id"), "left")
      .select(F.col("id"),
        F.col("n_chunks").cast("long").as("n_chunks"),
        (F.col("n_chunks").cast("long") - F.coalesce(F.col("n_kept"), F.lit(0L)))
          .as("n_dropped"),
        F.coalesce(F.col("clean_text"), F.lit("")).as("clean_text"))
  }
}
