package graft.harmonize

import graft.operators.Pins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Column profiling — the statistics pass harmonization matchers
  * consume (the reference's distribution-based and max-val-sim
  * matchers build per-column profiles internally; api.py surfaces
  * only preview_domain). One corpus scan computes every column's
  * stats simultaneously; the long-format pivot happens on the ONE
  * aggregated row, so profiling N columns costs one pass regardless
  * of N (the multi-countDistinct EXPAND multiplies scan rows by the
  * distinct-agg count — the standard Spark trade for exact distinct
  * counts in one job; swap to approx_count_distinct at 100 TB if the
  * exactness isn't worth that constant).
  */
object Profile {

  /** Per-column stats for NUMERIC columns: NON-NULL count (`n` is
    * count(col), which excludes nulls — row count is n + n_null),
    * null count, min/max/sum (double), exact distinct count. Output
    * long-format (column, n, n_null, min_val, max_val, sum_val,
    * n_distinct) — one row per profiled column.
    */
  def numeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val aggs = cols.flatMap { c =>
      Seq(F.count(F.col(c)).as(s"__n_$c"),
        F.sum(F.when(F.col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        F.min(F.col(c)).cast("double").as(s"__mn_$c"),
        F.max(F.col(c)).cast("double").as(s"__mx_$c"),
        // DECIMAL accumulation: a double sum's value depends on
        // partition order (not reproducible, and not cross-engine)
        F.sum(F.col(c).cast("decimal(18,6)")).cast("double").as(s"__sm_$c"),
        F.countDistinct(F.col(c)).as(s"__nd_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = F.explode(F.array(cols.map(c =>
      F.struct(F.lit(c).as("column"),
        F.col(s"__n_$c").as("n"),
        F.col(s"__nn_$c").as("n_null"),
        F.col(s"__mn_$c").as("min_val"),
        F.col(s"__mx_$c").as("max_val"),
        F.round(F.col(s"__sm_$c"), 6).as("sum_val"),
        F.col(s"__nd_$c").as("n_distinct"))): _*))
    one.select(stacked.as("p")).select("p.*")
  }

  /** Key-skew diagnosis per column — the statistic that decides
    * SALTING at scale: per candidate join/grouping column, the
    * distinct-key count, the heaviest key's row count and share, and
    * the key itself. A max_share near 1/parallelism or above means
    * one reducer owns that key's rows; feed such columns to
    * Skew.saltedJoin (or AQE skew handling) before the join.
    *
    * One unpivot scan for N columns → (col, value) counts (map-side
    * combined), then a two-level fold: per-column totals + max count,
    * and the deterministic heaviest key = max value among those at
    * max count (ties break on the larger key string — no window over
    * a corpus-sized partition; everything after the first groupBy is
    * key-cardinality-sized).
    */
  def keySkew(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val unpiv = df.select(F.explode(F.array(cols.map(c =>
      F.struct(F.lit(c).as("column"), F.col(c).cast("string").as("v"))): _*)).as("p"))
      .select("p.*").where(F.col("v").isNotNull)
    // no persist: both consumers below sit in ONE returned plan over
    // the identical aggregate subtree, so ReuseExchange serves them
    // from the same shuffle — a persist here would outlive the query
    // (the returned frame is lazy, so there is no safe unpersist
    // point) and accumulate MEMORY_AND_DISK blocks across a session
    val counts = unpiv.groupBy("column", "v").agg(F.count(F.lit(1)).as("cnt"))
    val agg = counts.groupBy("column").agg(
      F.count(F.lit(1)).as("n_keys"),
      F.sum("cnt").as("n_rows"),
      F.max("cnt").as("max_cnt"))
    val top = counts.join(F.broadcast(agg.select(F.col("column"), F.col("max_cnt"))),
        Seq("column"))
      .where(F.col("cnt") === F.col("max_cnt"))
      .groupBy("column").agg(F.max("v").as("top_value"))
    agg.join(F.broadcast(top), Seq("column"))
      .select(F.col("column"), F.col("n_keys"), F.col("n_rows"),
        F.col("max_cnt"),
        F.round(F.col("max_cnt").cast("double") / F.col("n_rows").cast("double"), 6)
          .as("max_share"),
        F.col("top_value"))
  }

  /** Tukey-fence outlier audit per numeric column — the classic IQR
    * rule (Tukey, "Exploratory Data Analysis" 1977): values below
    * Q1 − 1.5·IQR or above Q3 + 1.5·IQR are flagged, with EXACT
    * linearly-interpolated quartiles (the quantile_cont / percentile
    * definition: h = (n−1)·p, q = x⌊h⌋ + (h−⌊h⌋)·(x⌈h⌉ − x⌊h⌋) over
    * the sorted non-null values).
    *
    * Exactness: all arithmetic is integer-scaled DECIMAL — the
    * interpolation and the ×1.5 fence are multiplied through by 200
    * (200·q and 200·fence have integer coefficients over the data
    * values and the integer interpolation remainder), so there is NO
    * division anywhere and both engines compare v against the fences
    * bit-identically; the /200 happens only in the rounded display
    * columns.
    *
    * Scale: one unpivot scan → (col, value) counts (map-side
    * combined, bounded by per-column VALUE CARDINALITY); the rank
    * cumsum windows over that distinct-value frame partitioned by
    * column — for continuous columns value cardinality approaches row
    * count and this is the honest cost of EXACT quantiles (Spark's
    * own percentile agg buffers raw values per group instead); the
    * documented at-scale escape is corpus_quantiles_approx (KLL-style
    * approx) when audit-exact fences aren't required.
    *
    * Output per column: n (non-null), q1, q3, lo_fence, hi_fence
    * (6dp-rounded display doubles), n_below, n_above, out_share.
    */
  def numericOutliers(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    import org.apache.spark.sql.expressions.Window
    val unpiv = df.select(F.explode(F.array(cols.map(c =>
        F.struct(F.lit(c).as("column"),
          F.col(c).cast("decimal(28,6)").as("v"))): _*)).as("p"))
      .select("p.*").where(F.col("v").isNotNull)
    // persisted (r21, guide §1.2 repeated subtrees): this frame feeds
    // THREE subtrees (the per-column totals, the cumulative quartile
    // walk, and the final fence count) — unpersisted, the unpivot +
    // per-value aggregate over the source ran three times over. Size
    // is the distinct (column, value) count, bounded well below the
    // input.
    val counts = Pins.persist(unpiv.groupBy("column", "v")
      .agg(F.count(F.lit(1)).as("cnt")))
    val nstats = counts.groupBy("column").agg(F.sum("cnt").as("n"))
    val cum = counts.withColumn("cum",
      F.sum("cnt").over(Window.partitionBy("column").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // integer rank/remainder per quartile: h·100 = (n−1)·p100, rank of
    // x⌊h⌋ is h100 div 100 + 1, rem = h100 mod 100 (g = rem/100)
    def ranks(p100: Int) = {
      val h100 = (F.col("n") - 1) * p100
      (F.floor(h100 / 100) + 1,
        h100 % 100)
    }
    val (rlo25, rem25) = ranks(25)
    val (rlo75, rem75) = ranks(75)
    val joined = cum.join(F.broadcast(
      nstats.select(F.col("column"), F.col("n"),
        rlo25.as("rlo25"), rem25.as("rem25"),
        rlo75.as("rlo75"), rem75.as("rem75"))), "column")
    // x at rank r = min v with cum ≥ r (cum ascends with v); the
    // ceiling pick reuses rlo+1 when the remainder is non-zero
    def pick(r: org.apache.spark.sql.Column) =
      F.min(F.when(F.col("cum") >= r, F.col("v")))
    val qs = joined.groupBy("column").agg(
      F.first("n").as("n"),
      F.first("rem25").as("rem25"), F.first("rem75").as("rem75"),
      pick(F.col("rlo25")).as("xlo25"),
      pick(F.col("rlo25") + F.when(F.col("rem25") > 0, 1).otherwise(0)).as("xhi25"),
      pick(F.col("rlo75")).as("xlo75"),
      pick(F.col("rlo75") + F.when(F.col("rem75") > 0, 1).otherwise(0)).as("xhi75"))
    // ×200-scaled exact quartiles and Tukey fences (integer
    // coefficients throughout — see the doc comment):
    //   200·q   = 200·xlo + 2·rem·(xhi − xlo)
    //   200·loF = 500·xlo25 + 5·rem25·dx25 − 300·xlo75 − 3·rem75·dx75
    //   200·hiF = 500·xlo75 + 5·rem75·dx75 − 300·xlo25 − 3·rem25·dx25
    val dx25 = F.col("xhi25") - F.col("xlo25")
    val dx75 = F.col("xhi75") - F.col("xlo75")
    val q1x = (F.col("xlo25") * 200 + F.col("rem25") * 2 * dx25)
      .cast("decimal(38,6)")
    val q3x = (F.col("xlo75") * 200 + F.col("rem75") * 2 * dx75)
      .cast("decimal(38,6)")
    val loFx = (F.col("xlo25") * 500 + F.col("rem25") * 5 * dx25 -
      F.col("xlo75") * 300 - F.col("rem75") * 3 * dx75).cast("decimal(38,6)")
    val hiFx = (F.col("xlo75") * 500 + F.col("rem75") * 5 * dx75 -
      F.col("xlo25") * 300 - F.col("rem25") * 3 * dx25).cast("decimal(38,6)")
    // persisted (r21): |cols| rows, but its lineage is the whole
    // window/quartile chain and it feeds BOTH the fence-count
    // aggregate's broadcast and the final join's left side — two plan
    // instances of the chain without the pin
    val fences = Pins.persist(qs.select(F.col("column"), F.col("n"),
      q1x.as("q1x"), q3x.as("q3x"), loFx.as("lofx"), hiFx.as("hifx")))
    val out = counts.join(F.broadcast(fences), "column")
      .groupBy("column").agg(
        F.sum(F.when(F.col("v") * 200 < F.col("lofx"), F.col("cnt"))
          .otherwise(0L)).as("n_below"),
        F.sum(F.when(F.col("v") * 200 > F.col("hifx"), F.col("cnt"))
          .otherwise(0L)).as("n_above"))
    fences.join(out, Seq("column"))
      .select(F.col("column"), F.col("n"),
        F.round(F.col("q1x").cast("double") / 200, 6).as("q1"),
        F.round(F.col("q3x").cast("double") / 200, 6).as("q3"),
        F.round(F.col("lofx").cast("double") / 200, 6).as("lo_fence"),
        F.round(F.col("hifx").cast("double") / 200, 6).as("hi_fence"),
        F.col("n_below"), F.col("n_above"),
        F.round((F.col("n_below") + F.col("n_above")).cast("double") /
          F.col("n").cast("double"), 6).as("out_share"))
  }

  /** MERGEABLE distinct-count sketches (Apache DataSketches HLL via
    * Spark's native hll_sketch_agg / hll_union_agg) — the incremental
    * corpus-stats path at 100 TB: per-group sketches are tiny (2^lgK
    * buckets), persistable, and UNION-mergeable, so per-shard /
    * per-day distinct counts accrete without ever re-scanning history
    * (exact countDistinct cannot merge: distinct(A∪B) ≠ distinct(A) +
    * distinct(B)).
    *
    * Output: one row per group plus the `*ALL*` row whose estimate
    * comes from UNIONING the per-group sketches (never from
    * re-scanning), each carrying the exact distinct count and a
    * `within_tol` boolean (HLL lgK=12 ⇒ ~1.6% relative standard
    * error; the default 5% tolerance is ~3 standard errors). The
    * boolean-gate shape keeps the engine-specific estimate itself out
    * of the compared columns while gating that the sketch pipeline —
    * including the union — tracks truth.
    */
  def distinctSketch(df: DataFrame, groupCol: String, valueCol: String,
                     lgK: Int = 12, tol: Double = 0.05): DataFrame = {
    val vals = df.select(F.col(groupCol).as("scope"), F.col(valueCol).as("v"))
      .where(F.col("v").isNotNull)
    val per = vals.groupBy("scope").agg(
      F.countDistinct("v").as("n_exact"),
      F.hll_sketch_agg(F.col("v"), F.lit(lgK)).as("sk"))
    val groupRows = per.select(F.col("scope"), F.col("n_exact"),
      (F.abs(F.hll_sketch_estimate(F.col("sk")) -
        F.col("n_exact").cast("double")) <=
        F.lit(tol) * F.col("n_exact").cast("double")).as("within_tol"))
    // the merged row: union the per-group sketches (the incremental
    // path) and gate against the independently-computed global exact
    val globalExact = vals.agg(F.countDistinct("v").as("n_exact"))
    val merged = per.agg(F.hll_union_agg(F.col("sk")).as("sk"))
      .crossJoin(F.broadcast(globalExact))
      .select(F.lit("*ALL*").as("scope"), F.col("n_exact"),
        (F.abs(F.hll_sketch_estimate(F.col("sk")) -
          F.col("n_exact").cast("double")) <=
          F.lit(tol) * F.col("n_exact").cast("double")).as("within_tol"))
    groupRows.unionByName(merged)
  }

  /** Pairwise value-overlap matrix between sources/shards WITHOUT a
    * join — the mixing-decision input a 100 TB curator reads before
    * weighting sources (dedup_cross_source is the near-dup document
    * version; this is the value-level one, e.g. vocabulary overlap).
    * ONE corpus scan reduces each group map-side to a MinHash
    * signature (functions.MinHashAgg — numHashes longs, merged
    * associatively, no distinct shuffle) plus an HLL distinct
    * estimate; every unordered pair then scores in a driver-small
    * broadcast cross of |groups| sketch rows:
    *
    *   Ĵ from positional signature agreement,
    *   |A ∩ B| = Ĵ·(d̂A + d̂B)/(1 + Ĵ),
    *   containment(A→B) = |A ∩ B| / d̂A  (clamped to [0,1]).
    *
    * Output per pair (g1 < g2): estimated Jaccard, intersection size,
    * and containment in BOTH directions. Production runs this alone;
    * [[sourceOverlapGate]] is the wired accuracy gate.
    */
  def sourceOverlap(df: DataFrame, groupCol: String, valueCol: String,
                    numHashes: Int = 1024, rsd: Double = 0.05): DataFrame =
    overlapPairs(sketchByGroup(df, groupCol, valueCol, numHashes, rsd))
      .select(F.col("g1").as("source_1"), F.col("g2").as("source_2"),
        F.round(F.col("jhat"), 6).as("est_jaccard"),
        F.round(F.col("inter_est"), 2).as("est_intersection"),
        F.round(F.col("cont1"), 6).as("est_containment_1"),
        F.round(F.col("cont2"), 6).as("est_containment_2"))

  /** Literal-true accuracy gate for [[sourceOverlap]] (the
    * inclusionSketchGate pattern): per unordered pair, the sketch
    * Jaccard and both containments must land within `tol` ABSOLUTE
    * error of the exact values (one value-keyed self-join of the
    * distinct (group, value) pairs — the gate's reference; production
    * never runs it). Zero-overlap pairs are kept (left join, exact
    * intersection 0), so a sketch hallucinating overlap fails too.
    */
  def sourceOverlapGate(df: DataFrame, groupCol: String, valueCol: String,
                        numHashes: Int = 1024, rsd: Double = 0.05,
                        tol: Double = 0.1): DataFrame = {
    // gate-only exact side: the distinct frame feeds three consumers
    // un-pinned — the gate runs on gate-scale corpora only
    val vals = df.select(F.col(groupCol).cast("string").as("g"),
        F.col(valueCol).cast("string").as("v"))
      .where(F.col("v").isNotNull)
    val d = vals.distinct()
    val counts = d.groupBy("g").agg(F.count(F.lit(1)).as("nd"))
    val inter = d.as("a").join(d.as("b"), "v")
      .where(F.col("a.g") < F.col("b.g"))
      .groupBy(F.col("a.g").as("g1"), F.col("b.g").as("g2"))
      .agg(F.count(F.lit(1)).as("n_inter"))
    val est = overlapPairs(sketchByGroup(df, groupCol, valueCol, numHashes, rsd))
    val withExact = est
      .join(inter, Seq("g1", "g2"), "left").na.fill(0L, Seq("n_inter"))
      .join(F.broadcast(counts.select(F.col("g").as("g1"), F.col("nd").as("nd1"))), "g1")
      .join(F.broadcast(counts.select(F.col("g").as("g2"), F.col("nd").as("nd2"))), "g2")
    val jExact = F.col("n_inter").cast("double") /
      (F.col("nd1") + F.col("nd2") - F.col("n_inter")).cast("double")
    withExact.select(F.col("g1").as("source_1"), F.col("g2").as("source_2"),
      (F.abs(F.col("jhat") - jExact) <= F.lit(tol)).as("jaccard_ok"),
      (F.abs(F.col("cont1") -
        F.col("n_inter").cast("double") / F.col("nd1").cast("double")) <= F.lit(tol))
        .as("containment_1_ok"),
      (F.abs(F.col("cont2") -
        F.col("n_inter").cast("double") / F.col("nd2").cast("double")) <= F.lit(tol))
        .as("containment_2_ok"))
  }

  private def sketchByGroup(df: DataFrame, groupCol: String, valueCol: String,
                            numHashes: Int, rsd: Double): DataFrame =
    df.select(F.col(groupCol).cast("string").as("g"),
        F.col(valueCol).cast("string").as("v"))
      .where(F.col("v").isNotNull)
      .groupBy("g")
      .agg(graft.functions.MinHashAgg.minhashAgg(F.col("v"), numHashes).as("sig"),
        F.approx_count_distinct(F.col("v"), rsd).as("nd"))

  /** All unordered group pairs scored from the sketch rows: columns
    * (g1, g2, jhat, inter_est, cont1, cont2). The cross is |groups|²
    * broadcast rows — sources/shards number in the thousands at most,
    * never corpus-sized.
    */
  private def overlapPairs(sk: DataFrame): DataFrame = {
    val numHashes = F.size(F.col("asig"))
    val agree = F.aggregate(
      F.zip_with(F.col("asig"), F.col("bsig"),
        (x, y) => F.when(x === y, 1).otherwise(0)),
      F.lit(0), (acc, x) => acc + x)
    val jhat = agree.cast("double") / numHashes.cast("double")
    val interEst = jhat * (F.col("da") + F.col("db")).cast("double") /
      (F.lit(1.0) + jhat)
    def clamp(c: org.apache.spark.sql.Column) =
      F.least(F.lit(1.0), F.greatest(F.lit(0.0), c))
    sk.select(F.col("g").as("g1"), F.col("sig").as("asig"), F.col("nd").as("da"))
      .crossJoin(F.broadcast(sk.select(F.col("g").as("g2"),
        F.col("sig").as("bsig"), F.col("nd").as("db"))))
      .where(F.col("g1") < F.col("g2"))
      .select(F.col("g1"), F.col("g2"), jhat.as("jhat"),
        interEst.as("inter_est"),
        clamp(interEst / F.col("da").cast("double")).as("cont1"),
        clamp(interEst / F.col("db").cast("double")).as("cont2"))
  }

  /** Pearson correlation matrix over numeric columns — ONE scan for
    * every unordered pair: the aggregate computes each column's exact
    * decimal Σx and Σx² plus every pair's exact Σxy, and the
    * correlations assemble from those sums on the single aggregated
    * row. N columns cost one pass with O(N²) accumulators, not O(N²)
    * scans.
    *
    * Numeric policy (SURVEY §5): the moments accumulate in DECIMAL —
    * `F.corr`'s double accumulation is partition-order-dependent and
    * not reproducible cross-engine. Inputs quantize to decimal(18,6)
    * (the Profile.numeric convention); products are decimal(37,12),
    * exact; sums widen to (38,12), exact while |Σx²| < 1e26 — holds
    * to ~1e15 rows of this data, far past the design point. The final
    *   corr = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))
    * evaluates in double FROM the exact sums — a fixed handful of
    * IEEE ops the twin replays with the identical expression shape.
    * Output: (col_x, col_y, n, corr) per pair, corr rounded to 6dp
    * (null when either column is constant — zero variance).
    */
  def correlation(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlation needs at least two columns")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    def dec(c: String) = F.col(c).cast("decimal(18,6)")
    val aggs = cols.flatMap(c => Seq(
      F.sum(dec(c)).as(s"__s_$c"),
      F.sum(dec(c) * dec(c)).as(s"__q_$c"))) ++
      pairs.map { case (x, y) => F.sum(dec(x) * dec(y)).as(s"__p_${x}__$y") } :+
      F.count(F.lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    def d(name: String) = F.col(name).cast("double")
    val stacked = F.explode(F.array(pairs.map { case (x, y) =>
      val n = d("__n")
      val cov = n * d(s"__p_${x}__$y") - d(s"__s_$x") * d(s"__s_$y")
      val vx = n * d(s"__q_$x") - d(s"__s_$x") * d(s"__s_$x")
      val vy = n * d(s"__q_$y") - d(s"__s_$y") * d(s"__s_$y")
      F.struct(F.lit(x).as("col_x"), F.lit(y).as("col_y"),
        F.col("__n").as("n"),
        F.when(vx > 0 && vy > 0,
          F.round(cov / F.sqrt(vx * vy), 6)).as("corr"))
    }: _*))
    one.select(stacked.as("p")).select("p.*")
  }

  /** Pairwise MUTUAL INFORMATION + marginal entropies over a capped
    * categorical column set — the dependence audit [[correlation]]
    * cannot do (Pearson sees only linear numeric association; MI
    * detects ANY statistical dependence between discrete columns —
    * Cover & Thomas ch.2, the profiling literature's standard
    * dependency strength measure). MI(X,Y) = Σ p(x,y)·ln(p(x,y)/
    * (p(x)p(y))) in nats; H(X), H(Y) alongside so callers can
    * normalize (NMI = MI/min(H)).
    *
    * ONE grouping-sets scan yields every pair's joint counts (the
    * [[Discovery.fdDiscover]] Expand trade — `cols` REQUIRED small);
    * marginals re-aggregate the group-sized joint tables, so nothing
    * corpus-sized is touched twice. §5 log policy: every addend
    * rounds to 12 decimals and decimal-sums order-free; the one-row
    * totals ride broadcast crossJoins (the q11 scalar pattern).
    * Values group by their exact value and stringify for the report —
    * integer/string/date columns only (the fdDiscover caveat); nulls
    * group under a sentinel.
    */
  def mutualInfo(tab: String, df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 8, "2..8 columns")
    require(cols.distinct.size == cols.size, "duplicate column")
    val k = cols.size
    def weight(i: Int): Long = 1L << (k - 1 - i)
    def setGid(s: Seq[String]): Long = cols.zipWithIndex
      .filterNot { case (c, _) => s.contains(c) }
      .map { case (_, i) => weight(i) }.sum
    val gidCol = cols.zipWithIndex.map { case (c, i) =>
      F.grouping(F.col(c)).cast("long") * weight(i)
    }.reduce(_ + _)
    val sets = cols.combinations(2).toSeq
    val gs = df.groupingSets(sets.map(_.map(F.col)), cols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__mi_c"), gidCol.as("__mi_gid"))
    def sv(c: String) = F.coalesce(F.col(c).cast("string"),
      F.lit("\u0000NULL"))
    def dd(c: String) = F.col(c).cast("double")
    sets.map { s =>
      val (x, y) = (s(0), s(1))
      val joint = gs.where(F.col("__mi_gid") === setGid(s))
        .select(sv(x).as("__mi_xv"), sv(y).as("__mi_yv"), F.col("__mi_c"))
      val mx = joint.groupBy("__mi_xv").agg(F.sum("__mi_c").as("__mi_cx"))
      val my = joint.groupBy("__mi_yv").agg(F.sum("__mi_c").as("__mi_cy"))
      val tot = joint.agg(F.sum("__mi_c").as("__mi_nn"))
      val cells = joint.join(mx, "__mi_xv").join(my, "__mi_yv")
        .crossJoin(F.broadcast(tot))
        .select(((dd("__mi_c") / dd("__mi_nn")) *
          F.log((dd("__mi_c") * dd("__mi_nn")) / (dd("__mi_cx") * dd("__mi_cy")))).as("__mi_term"))
        .agg(F.sum(F.round(F.col("__mi_term"), 12).cast("decimal(26,14)"))
          .as("__mi_s"), F.count(F.lit(1)).as("n_cells"))
      def entropy(m: DataFrame, cnt: String, as: String) =
        m.crossJoin(F.broadcast(tot))
          .select(((dd(cnt) / dd("__mi_nn")) * F.log(dd(cnt) / dd("__mi_nn")) *
            F.lit(-1.0)).as("__mi_t"))
          .agg(F.sum(F.round(F.col("__mi_t"), 12).cast("decimal(26,14)")).as(as))
      cells.crossJoin(entropy(mx, "__mi_cx", "__mi_hx"))
        .crossJoin(entropy(my, "__mi_cy", "__mi_hy"))
        .crossJoin(F.broadcast(tot))
        .select(F.lit(tab).as("tab"), F.lit(x).as("col_x"),
          F.lit(y).as("col_y"), F.col("__mi_nn").as("n"), F.col("n_cells"),
          F.round(F.col("__mi_hx").cast("double"), 6).as("h_x"),
          F.round(F.col("__mi_hy").cast("double"), 6).as("h_y"),
          F.round(F.col("__mi_s").cast("double"), 6).as("mi"))
    }.reduce(_.unionAll(_))
  }

  /** Equi-width histogram per numeric column: two passes — a one-row
    * min/max aggregate (broadcast), then one bucketing groupBy with
    * at most |cols|·nBins groups. The explode unpivots |cols| values
    * per row, so N columns cost one scan at N× the row stream, the
    * same trade as [[numeric]]'s EXPAND.
    *
    * bucket = least(⌊(x − min)·nBins / (max − min)⌋, nBins−1) — the
    * max value folds into the last bucket; a constant column (max =
    * min) degenerates to the single bucket 0. All bucketing
    * arithmetic is double with a fixed expression shape (multiply
    * before divide) so the twin reproduces bucket boundaries
    * bit-for-bit. Output: (column, bucket, lo, hi, cnt) for OCCUPIED
    * buckets, lo/hi the bucket's edges rounded to 6dp.
    */
  def histogram(df: DataFrame, cols: Seq[String], nBins: Int = 10): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    require(nBins >= 1, "at least one bucket")
    val bAggs = cols.flatMap(c => Seq(
      F.min(F.col(c)).cast("double").as(s"__mn_$c"),
      F.max(F.col(c)).cast("double").as(s"__mx_$c")))
    val bounds = df.agg(bAggs.head, bAggs.tail: _*)
    val stacked = df.select(F.explode(F.array(cols.map(c =>
      F.struct(F.lit(c).as("column"), F.col(c).cast("double").as("x"))): _*)).as("p"))
      .select("p.*").where(F.col("x").isNotNull)
    def perCol(f: String => org.apache.spark.sql.Column) =
      cols.tail.foldLeft(F.when(F.col("column") === cols.head, f(cols.head))) {
        (acc, c) => acc.when(F.col("column") === c, f(c))
      }
    val mn = perCol(c => F.col(s"__mn_$c"))
    val mx = perCol(c => F.col(s"__mx_$c"))
    val bucket = F.when(mx === mn, F.lit(0L)).otherwise(
      F.least(F.floor((F.col("x") - mn) * F.lit(nBins) / (mx - mn)),
        F.lit(nBins - 1L)))
    val w = stacked.crossJoin(F.broadcast(bounds))
      .select(F.col("column"), bucket.as("bucket"), mn.as("__mn"), mx.as("__mx"))
    w.groupBy("column", "bucket", "__mn", "__mx")
      .agg(F.count(F.lit(1)).as("cnt"))
      .select(F.col("column"), F.col("bucket"),
        F.round(F.col("__mn") + F.col("bucket") * (F.col("__mx") - F.col("__mn")) / F.lit(nBins), 6).as("lo"),
        F.round(F.col("__mn") + (F.col("bucket") + 1) * (F.col("__mx") - F.col("__mn")) / F.lit(nBins), 6).as("hi"),
        F.col("cnt"))
  }

  /** The 100 TB distinct-count path, wired WITH its own error gate
    * (the corpus_quantiles_approx pattern applied here): profiling's
    * exact multi-countDistinct costs an EXPAND that multiplies scan
    * rows by the distinct-agg count; the at-scale swap is HLL++
    * (approx_count_distinct — one pass, NO expand, mergeable sketch
    * with relative standard deviation `rsd`). Per column this emits
    * whether the sketch landed within `tol` relative error of the
    * exact count — the driver oracle is the literal all-true table,
    * so a sketch regression fails parity loudly. tol = 4 x rsd gives
    * ~4 sigma of headroom; the exact side here is the gate's
    * reference, the production plan runs the sketch alone.
    */
  def numericApproxGate(df: DataFrame, cols: Seq[String],
                        rsd: Double = 0.05, tol: Double = 0.20): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val aggs = cols.flatMap { c =>
      Seq(F.countDistinct(F.col(c)).as(s"__nd_$c"),
        F.approx_count_distinct(F.col(c), rsd).as(s"__ad_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = F.explode(F.array(cols.map(c =>
      F.struct(F.lit(c).as("column"),
        (F.abs(F.col(s"__ad_$c").cast("double") - F.col(s"__nd_$c").cast("double")) <=
          F.col(s"__nd_$c").cast("double") * tol).as("distinct_ok"))): _*))
    one.select(stacked.as("p")).select("p.*")
  }

  /** Unique-column-combination audit (the key-discovery half of data
    * profiling — Papenbrock & Naumann's UCC problem, PVLDB 2017): for
    * each candidate combination report its group count, worst
    * duplication factor, and whether it is a KEY (every group of the
    * combination has exactly one row). NULLs group as values (SQL
    * GROUP BY semantics) — a combination with duplicate NULL groups
    * is reported non-unique, the conservative audit answer.
    *
    * Scale: ONE scan. All combinations evaluate in a single GROUPING
    * SETS pass (one Expand ×|combos| + one aggregate — the standard
    * engine trade for exact multi-grouping in one job), identified by
    * single-column grouping() bits whose weights THIS query assigns
    * (engine-version-proof, the q_rollup convention); the per-combo
    * rollup then aggregates group-sized rows, never raw rows, and
    * emits |combos| rows. Integer/boolean outputs only — nothing
    * engine-typed crosses the result boundary.
    */
  def uniqueCombos(df: DataFrame, combos: Seq[Seq[String]]): DataFrame = {
    require(combos.nonEmpty && combos.forall(_.nonEmpty), "non-empty combinations")
    require(combos.map(_.toSet).distinct.size == combos.size, "duplicate combination")
    val cols = combos.flatten.distinct
    require(cols.size <= 62, s"grouping-bit weights are Long powers of two; " +
      s"${cols.size} distinct columns exceed the 62 supported")
    def gidWeight(i: Int): Long = 1L << (cols.size - 1 - i)
    val gidCol = cols.zipWithIndex.map { case (c, i) =>
      F.grouping(F.col(c)).cast("long") * gidWeight(i)
    }.reduce(_ + _)
    val gidToLabel = combos.map { cb =>
      val gid = cols.zipWithIndex
        .filterNot { case (c, _) => cb.contains(c) }
        .map { case (_, i) => gidWeight(i) }.sum
      gid -> cb.mkString("+")
    }
    val labelCol = gidToLabel.foldLeft(F.lit(null).cast("string")) {
      case (acc, (gid, label)) =>
        F.when(F.col("gid") === gid, F.lit(label)).otherwise(acc)
    }
    df.groupingSets(combos.map(_.map(F.col)), cols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("cnt"), gidCol.as("gid"))
      .groupBy(F.col("gid"))
      .agg(F.count(F.lit(1)).as("n_groups"),
        F.max(F.col("cnt")).as("max_dup"),
        F.sum(F.col("cnt")).as("n_rows"))
      .select(labelCol.as("combo"), F.col("n_groups"), F.col("max_dup"),
        (F.col("max_dup") === 1).as("is_unique"), F.col("n_rows"))
  }

  /** Row-predicate constraint validation — the dbt-test /
    * expectation-suite surface: every (name, predicate) check is
    * counted in ONE corpus scan (a single multi-aggregate — N checks
    * never cost N passes), and the report is |checks| integer rows:
    * (check, n_rows, n_violations, pass). NULL predicate results
    * count as violations (a check that cannot evaluate did not pass —
    * the conservative reading). Referential checks are
    * [[Discovery.inclusion]]'s job; this op is deliberately per-row
    * so the scan stays codegen'd and pushdown-friendly.
    */
  def validate(df: DataFrame,
               checks: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(checks.nonEmpty, "at least one check")
    require(checks.map(_._1).distinct.size == checks.size, "unique check names")
    val aggCols = F.count(F.lit(1)).as("__n") +:
      checks.map { case (name, p) =>
        F.sum(F.when(F.coalesce(p, F.lit(false)), 0L).otherwise(1L))
          .as(s"v:$name")
      }
    val agg = df.agg(aggCols.head, aggCols.tail: _*)
    agg.select(F.explode(F.array(checks.map { case (name, _) =>
        F.struct(F.lit(name).as("check"), F.col("__n").as("n_rows"),
          F.col(s"`v:$name`").as("n_violations"))
      }: _*)).as("kv"))
      .select(F.col("kv.check").as("check"), F.col("kv.n_rows").as("n_rows"),
        F.col("kv.n_violations").as("n_violations"),
        (F.col("kv.n_violations") === 0L).as("pass"))
  }

  /** First-significant-digit distribution audit — Benford's law
    * (Newcomb 1881, Benford 1938; Nigrini's forensic-accounting test):
    * naturally-occurring multi-magnitude amounts follow
    * P(d) = log10(1 + 1/d), and a column that DOESN'T is either
    * synthetic, truncated, capped, or manipulated — the classic
    * data-quality smell test for amount columns before they feed a
    * model.
    *
    * DIVISION-FREE: observed shares are per-mille integers
    * (n_d·1000 div N — floor division, exact cross-engine); the
    * Benford expectation is the fixed public per-mille table
    * (301, 176, 125, 97, 79, 67, 58, 51, 46), a plan literal. No
    * log, no chi-square float — consumers compare integer per-milles
    * at whatever tolerance their audit wants. The first digit comes
    * from the FLOORED value's canonical integer string (integer
    * rendering is unambiguous cross-engine, unlike double→string;
    * floor, never round-to-int — rounding 9999.6 to 10000 would flip
    * digit 9 to 1). Values below 1 are excluded: their leading 0 is
    * not a significant digit (the classical first-SIGNIFICANT-digit
    * form would rescale them; the audit's domain is amount columns
    * ≥ 1).
    *
    * Scale: ONE codegen'd per-row projection (substring of the cast)
    * + one 9-group aggregate; the row total rides the same aggregate
    * through a grand-total window over ≤9 rows. Returns
    * (digit, n_obs, obs_pm, exp_pm), ≤9 rows, unordered.
    */
  /** Semantic-type detector patterns, shared VERBATIM between the
    * Spark plan ([[semanticTypes]]) and the DuckDB twin (the
    * Graph.aaTable one-source-of-truth pattern — both engines evaluate
    * the identical regex text, zero drift by construction). Every
    * pattern stays inside the Java-regex ∩ RE2 common subset
    * (anchors, character classes, counted quantifiers, one optional
    * group — no backreferences, no lookaround), where the two engines'
    * semantics provably coincide. Order = verdict priority.
    */
  val semanticPatterns: Seq[(String, String)] = Seq(
    "integer" -> "^[+-]?[0-9]+$",
    "decimal" -> "^[+-]?[0-9]+\\.[0-9]+$",
    "date" -> "^[0-9]{4}-[0-9]{2}-[0-9]{2}$",
    "timestamp" -> ("^[0-9]{4}-[0-9]{2}-[0-9]{2}[ T]" +
      "[0-9]{2}:[0-9]{2}:[0-9]{2}(\\.[0-9]+)?$"),
    "email" -> "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+$",
    "uuid" -> ("^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
      "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"),
    "url" -> "^https?://[^ ]+$")

  /** Semantic-type detection over STRINGIFIED columns — the
    * ingest-time "what is actually in this CSV column" audit
    * (harmonization's first question about an untyped landing table;
    * cf. the type-detection stage of data-lake profilers like Sherlock
    * / Sato, done here as exact counting, not ML): per column, how
    * many values match each [[semanticPatterns]] detector, plus
    * null/empty/other masses, and a verdict = the FIRST detector (in
    * pattern-priority order) covering ≥ 90 % of non-null values
    * (integer compare: cnt·10 ≥ nonNull·9), else 'text', or 'empty'
    * for all-null columns.
    *
    * Columns must already be STRING — the caller owns stringification
    * (explicit date_format / decimal cast), because float→string
    * rendering is NOT engine-portable and this operator refuses to
    * guess. Scale: one Expand scan (rows × |cols| — the
    * profile_numeric trade), every detector a codegen'd RLike in ONE
    * map-side-combined aggregate to |cols| result rows; no second
    * pass, no window.
    */
  def semanticTypes(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "semanticTypes: at least one column")
    cols.foreach { c =>
      require(df.schema(c).dataType ==
        org.apache.spark.sql.types.StringType,
        s"semanticTypes: column $c must be STRING — stringify " +
          "explicitly (float->string rendering is engine-specific)")
    }
    val pairs = df.select(F.explode(F.array(cols.map(c =>
        F.struct(F.lit(c).as("c"), F.col(c).as("v"))): _*)).as("p"))
      .select(F.col("p.c").as("column"), F.col("p.v").as("v"))
    val anyPat = semanticPatterns.map(_._2)
      .map(p => F.col("v").rlike(p)).reduce(_ || _)
    val aggs = Seq(
      F.count(F.lit(1)).as("n_rows"),
      F.sum(F.when(F.col("v").isNull, 1L).otherwise(0L)).as("n_null"),
      F.sum(F.when(F.col("v") === "", 1L).otherwise(0L)).as("n_empty")) ++
      semanticPatterns.map { case (n, p) =>
        F.sum(F.when(F.col("v").rlike(p), 1L).otherwise(0L)).as(s"n_$n")
      } :+
      F.sum(F.when(F.col("v").isNotNull && !anyPat, 1L).otherwise(0L))
        .as("n_other")
    val counted = pairs.groupBy("column").agg(aggs.head, aggs.tail: _*)
    val nonNull = F.col("n_rows") - F.col("n_null")
    val verdict = semanticPatterns.map(_._1).foldRight(
      F.when(nonNull === 0L, F.lit("empty")).otherwise(F.lit("text"))) {
      (n, acc) =>
        F.when(nonNull > 0L && F.col(s"n_$n") * 10L >= nonNull * 9L,
          F.lit(n)).otherwise(acc)
    }
    counted.withColumn("verdict", verdict)
  }

  def benford(df: DataFrame, col: String): DataFrame = {
    val expPm: Map[Int, Long] = Map(1 -> 301L, 2 -> 176L, 3 -> 125L,
      4 -> 97L, 5 -> 79L, 6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)
    val digit = F.substring(F.floor(F.col(col)).cast("string"), 1, 1)
    val counts = df.where(F.col(col) >= 1)
      .select(digit.cast("int").as("digit"))
      .groupBy("digit").agg(F.count(F.lit(1)).as("n_obs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(F.lit(1))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val expCol = expPm.foldLeft(F.lit(null).cast("long")) {
      case (acc, (d, pm)) =>
        F.when(F.col("digit") === d, F.lit(pm)).otherwise(acc)
    }
    counts
      .withColumn("__n", F.sum("n_obs").over(w))
      .select(F.col("digit"), F.col("n_obs"),
        F.expr("(n_obs * CAST(1000 AS BIGINT)) div __n").as("obs_pm"),
        expCol.as("exp_pm"))
  }
}
