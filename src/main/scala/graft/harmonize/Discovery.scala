package graft.harmonize

import graft.operators.{Par, Pins}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Metadata discovery over raw tables — the profiling pass a
  * data-integration workflow runs BEFORE schema matching: which
  * columns reference which (inclusion dependencies → join-path /
  * foreign-key candidates) and which columns determine which
  * (functional dependencies → key candidates, denormalization
  * evidence). The reference consumes such metadata implicitly (its
  * matchers assume the analyst already knows the join paths); these
  * operators compute it from the data, the way the dedicated
  * discovery literature does (SPIDER, Bauckmann et al. 2007, for
  * INDs; TANE-style violation counting for FDs).
  */
object Discovery {

  /** Group candidate columns by their SOURCE FRAME (reference
    * identity — the Tables loader hands out stable instances), so a
    * table contributing k candidate columns is scanned ONCE, not k
    * times. At 100 TB the fact table is the corpus; k passes over it
    * are k times the job's I/O. Columns whose frames don't alias
    * simply form singleton groups — the pre-grouping behavior.
    */
  private def groupByFrame(cols: Seq[(String, DataFrame, String)])
      : Seq[(DataFrame, Seq[(String, String)])] = {
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[(DataFrame, scala.collection.mutable.ArrayBuffer[(String, String)])]
    cols.foreach { case (label, df, c) =>
      groups.find(_._1 eq df) match {
        case Some((_, buf)) => buf += ((label, c))
        case None =>
          val buf = scala.collection.mutable.ArrayBuffer((label, c))
          groups += ((df, buf))
      }
    }
    groups.toSeq.map { case (df, buf) => (df, buf.toSeq) }
  }

  /** Inclusion-dependency discovery across tables: for every ordered
    * pair of candidate columns (A, B), the fraction of A's distinct
    * values contained in B's distinct set. containment = 1.0 flags
    * A ⊆ B — a foreign-key / join-path candidate.
    *
    * Input: (label, frame, column) triples; labels name the output
    * rows (convention "table.column"). Values compare as strings
    * (lossless for the integral key columns this targets; mixed-type
    * columns compare on their canonical string forms).
    *
    * Scale (the SPIDER shape): each column contributes its DISTINCT
    * (label, value) pairs — one map-side-combined distinct per
    * column, cost proportional to distinct counts, never row counts.
    * ALL pairwise intersections then come from ONE value-keyed
    * self-join of that union: a value appearing in k columns expands
    * to k² rows — bounded by (#columns)², a constant, so no skew
    * blowup. No per-pair jobs: N columns cost one shuffle, not N²
    * joins. Zero-intersection pairs are preserved by left-joining the
    * driver-literal pair list.
    */
  def inclusion(cols: Seq[(String, DataFrame, String)]): DataFrame =
    inclusionOf(cols, Pins.persist(distinctUnion(cols)))

  /** The distinct (col, v) union [[inclusion]] self-joins. Callers
    * persist it: it feeds BOTH sides of the self-join plus the
    * per-column counts — without the pin the N distinct shuffles over
    * the source tables run three times over. One SCAN per source frame
    * (groupByFrame): a table's candidate columns explode out of a
    * single pass — same distinct shuffle volume (map-side combine
    * reduces per (col, v) either way), k× less I/O for a table with k
    * candidates.
    */
  private def distinctUnion(cols: Seq[(String, DataFrame, String)]): DataFrame = {
    require(cols.size >= 2, "inclusion discovery needs at least two columns")
    require(cols.map(_._1).distinct.size == cols.size, "labels must be unique")
    groupByFrame(cols).map { case (df, cs) =>
      df.select(F.explode(F.array(cs.map { case (label, c) =>
          F.struct(F.lit(label).as("col"),
            F.col(c).cast("string").as("v")) }: _*)).as("s"))
        .select(F.col("s.col").as("col"), F.col("s.v").as("v"))
        .where(F.col("v").isNotNull).distinct()
    }.reduce(_ unionAll _)
  }

  /** [[inclusion]] over the persisted distinct union `d`. */
  private def inclusionOf(cols: Seq[(String, DataFrame, String)],
                          d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    val counts = d.groupBy("col").agg(F.count(F.lit(1)).as("n_distinct"))
    val inter = d.as("a").join(d.as("b"), "v")
      .where(F.col("a.col") =!= F.col("b.col"))
      .groupBy(F.col("a.col").as("src_col"), F.col("b.col").as("tgt_col"))
      .agg(F.count(F.lit(1)).as("n_inter"))
    val names = cols.map(_._1)
    val allPairs = spark.createDataFrame(
      spark.sparkContext.parallelize(
        names.flatMap(a => names.filter(_ != a).map(b => Row(a, b))), 1),
      StructType(Seq(StructField("src_col", StringType, nullable = false),
        StructField("tgt_col", StringType, nullable = false))))
    allPairs
      .join(inter, Seq("src_col", "tgt_col"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(F.broadcast(counts.withColumnRenamed("col", "src_col")
        .withColumnRenamed("n_distinct", "n_src")), "src_col")
      .select(F.col("src_col"), F.col("tgt_col"), F.col("n_src"),
        F.col("n_inter"),
        F.round(F.col("n_inter").cast("double") / F.col("n_src").cast("double"), 6)
          .as("containment"),
        F.when(F.col("n_inter") === F.col("n_src"), 1).otherwise(0).as("is_ind"))
  }

  /** The 100 TB inclusion-discovery path, wired WITH its own error
    * gate (the profile_numeric_approx pattern): [[inclusion]]'s exact
    * self-join shuffles every distinct value; the at-scale swap
    * reduces each column MAP-SIDE to one KMV bottom-k sketch
    * (functions.KmvAgg — ≤ numHashes longs, merged associatively, no
    * distinct shuffle, and O(1) amortized per row where a
    * k-permutation MinHash pays O(k) compare-exchanges) plus an HLL++
    * distinct estimate, and containment is estimated from the
    * sketches:
    *
    *   Ĵ from the Beyer et al. KMV estimator (see the pair scoring
    *   below — plain array set ops over the sorted sketches),
    *   |A ∩ B| = Ĵ·|A ∪ B| = Ĵ·(d̂A + d̂B)/(1 + Ĵ),
    *   containment(A→B) = |A ∩ B| / d̂A  (clamped to [0,1]).
    *
    * Var(Ĵ) ≈ J(1−J)/k — the same error budget as k-permutation
    * MinHash at equal k, for ~k fewer compares per row. A table
    * contributing several candidate columns is scanned ONCE (all its
    * sketches aggregate in the same pass); the shuffle carries one
    * row per table — constant in the corpus size; all pairs then
    * score in one driver-small broadcast cross.
    *
    * SCOPE — the estimator's honest operating range: the containment
    * formula amplifies the Jaccard estimate's error by (dA + dB)/dA,
    * so for heavily asymmetric pairs (a 25-value key inside a
    * 10⁹-value fact column) no fixed signature width can bound the
    * absolute error. The gate therefore covers ordered pairs whose
    * distinct counts are within `maxRatio` of each other — where the
    * amplification is ≤ maxRatio + 1 and 2σ stays inside `tol`. That
    * routing is also the right PRODUCTION hybrid: an asymmetric
    * pair's exact check is the cheap one (semi-join the tiny side's
    * distinct set against the big column — cost ∝ the small side),
    * while comparable-cardinality pairs, where the exact self-join is
    * at its most expensive, are exactly where the sketch serves.
    *
    * Per in-scope ordered pair this emits whether the estimate landed
    * within `tol` ABSOLUTE error of the exact containment — the
    * driver oracle recomputes the (exact-count-based) pair scope and
    * states the literal all-true column, so estimator regression
    * fails parity loudly. Production runs the sketch side alone; the
    * exact side here is the gate's reference.
    */
  def inclusionSketchGate(cols: Seq[(String, DataFrame, String)],
                          numHashes: Int = 1024, rsd: Double = 0.05,
                          tol: Double = 0.2, maxRatio: Double = 4.0): DataFrame = {
    import graft.functions.KmvAgg.kmvAgg
    // the exact reference (the gate's ground truth) embeds the
    // distinct self-join — the expensive shuffle here. It feeds TWO
    // consumers (the per-column count lookup and the in-scope pair
    // filter), so materialize its ~N² rows ONCE and release the
    // distinct-union cache inclusion() pins before the sketch side
    // runs; without the pin the self-join aggregation executes twice
    val d = distinctUnion(cols).persist()
    val exactAll = Pins.persist(inclusionOf(cols, d))
    val nByCol = exactAll.groupBy(F.col("src_col").as("c"))
      .agg(F.max("n_src").as("n"))
    val exact = exactAll
      .join(F.broadcast(nByCol), F.col("src_col") === F.col("c"))
      .withColumnRenamed("n", "n_a").drop("c")
      .join(F.broadcast(nByCol), F.col("tgt_col") === F.col("c"))
      .withColumnRenamed("n", "n_b").drop("c")
      .where(F.greatest(
        F.col("n_a").cast("double") / F.col("n_b").cast("double"),
        F.col("n_b").cast("double") / F.col("n_a").cast("double")) <= maxRatio)
      .select(F.col("src_col"), F.col("tgt_col"), F.col("containment"))
    // the production path: ONE full-scan AGGREGATE per source frame
    // computing every candidate column's MinHash signature and HLL
    // estimate in the same pass (both aggregates skip nulls natively)
    // — no (col, value) row explosion, no distinct shuffle, and a
    // table with k candidates costs one scan, not k. The shuffle
    // carries one row per frame.
    val sk = Pins.persist(groupByFrame(cols).map { case (df, cs) =>
      // r21, two per-task-work fixes (guide §1.2 order-of-operations
      // step 2, measured ~10 µs/row before them): (1) the KMV/HLL
      // aggregate functions are imperative (no whole-stage codegen),
      // and each of the 2·k functions evaluated its own INTERPRETED
      // cast-to-string per row — pre-cast ONCE per column in a
      // codegen Project below the aggregate, so the agg children are
      // bound references; (2) spread the projected (narrow) slice —
      // the sketch pass over a single-split table ran in one task
      // (~2.5 s serial for lineitem), and the exchange now carries
      // only the candidate key columns, not the full-width row (a
      // full-width spread measured as a net regression: 81 MB
      // shuffled for a ~16 MB need). The EXACT side above stays
      // un-spread: its first operation is a per-frame distinct whose
      // map-side combine works best on the raw clustered layout
      // (measured 28 vs 54 s summed task time).
      val raw = graft.Tables.spread(
        df.select(cs.map(_._2).distinct.map(F.col): _*))
      val strs = raw.select(cs.zipWithIndex.map { case ((_, c), i) =>
        F.col(c).cast("string").as(s"__s_$i") }: _*)
      val aggs = cs.zipWithIndex.flatMap { case ((_, _), i) =>
        val v = F.col(s"__s_$i")
        Seq(kmvAgg(v, numHashes).as(s"__sig_$i"),
          F.approx_count_distinct(v, rsd).as(s"__nd_$i"))
      }
      strs.agg(aggs.head, aggs.tail: _*)
        .select(F.explode(F.array(cs.zipWithIndex.map { case ((label, _), i) =>
          F.struct(F.lit(label).as("col"),
            F.col(s"__sig_$i").as("sig"),
            F.col(s"__nd_$i").as("nd")) }: _*)).as("s"))
        .select(F.col("s.col").as("col"), F.col("s.sig").as("sig"),
          F.col("s.nd").as("nd"))
      // persisted + materialized (r21, guide §1.2 repeated subtrees):
      // this frame feeds BOTH sides of the pair cross-join below, and
      // each side is a separate plan instance — unpersisted, the
      // KMV+HLL full-scan aggregate over every source table (the
      // query's dominant CPU) executed TWICE. The cache is one row
      // per column (|cols| rows of numHashes longs) — driver-small.
    }.reduce(_ unionAll _))
    // materialize the two INDEPENDENT sides concurrently (r21, guide
    // §2.6 overlap independent jobs): the exact reference's
    // distinct/self-join chain and the sketch scans share no inputs
    // beyond the source tables, but the two blocking counts ran them
    // strictly back to back — the sketch stages now back-fill the
    // cores the exact side's stage tails leave idle (FIFO scheduling,
    // the default back-fill behaviour)
    try Par.both(exactAll.count(), sk.count())
    finally d.unpersist(true)
    // the Beyer et al. KMV Jaccard: with S = the k smallest of the
    // merged sketches (array set ops suffice — the sketches are
    // sorted sign-flipped, so signed order IS unsigned hash order),
    // Ĵ = |S ∩ sk(A) ∩ sk(B)| / |S|. When both sets are smaller than
    // k the sketches ARE the distinct hash sets and Ĵ is exact.
    val unionK = F.slice(
      F.array_sort(F.array_union(F.col("asig"), F.col("bsig"))),
      1, numHashes)
    val matched = F.size(F.array_intersect(unionK,
      F.array_intersect(F.col("asig"), F.col("bsig"))))
    val jhat = F.when(F.size(unionK) > 0,
      matched.cast("double") / F.size(unionK).cast("double"))
      .otherwise(F.lit(0.0))
    val est0 = (jhat * (F.col("da").cast("double") + F.col("db").cast("double")) /
      ((F.lit(1.0) + jhat) * F.col("da").cast("double")))
    val est = F.least(F.lit(1.0), F.greatest(F.lit(0.0), est0))
    val pairs = sk.select(F.col("col").as("src_col"), F.col("sig").as("asig"),
        F.col("nd").as("da"))
      .crossJoin(F.broadcast(sk.select(F.col("col").as("tgt_col"),
        F.col("sig").as("bsig"), F.col("nd").as("db"))))
      .where(F.col("src_col") =!= F.col("tgt_col"))
      .select(F.col("src_col"), F.col("tgt_col"), est.as("est"))
    exact.join(pairs, Seq("src_col", "tgt_col"))
      .select(F.col("src_col"), F.col("tgt_col"),
        (F.abs(F.col("est") - F.col("containment")) <= F.lit(tol))
          .as("containment_ok"))
  }

  /** Sketch-based equi-join cardinality estimation as a GATED row —
    * the query-planning primitive: how big is A ⋈ B on this key,
    * WITHOUT executing (or shuffling for) the join? Each side reduces
    * map-side to an F-AGMS sign sketch (functions.AmsSketchAgg —
    * depth·width longs, associatively merged, constant in corpus
    * size); the estimate is the median per-row counter dot product,
    * unbiased with σ ≈ √(F2(A)·F2(B)/width). Per pair this emits
    * whether the estimate landed within `tol` RELATIVE error of the
    * exact join count (the gate's reference — production runs the
    * sketches alone and never executes the join).
    */
  def joinSizeSketchGate(
      pairs: Seq[(String, DataFrame, String, DataFrame, String)],
      depth: Int = 5, width: Int = 4096, tol: Double = 0.15): DataFrame = {
    import graft.functions.AmsSketchAgg.{amsSketchAgg, joinSizeEstimate}
    require(pairs.nonEmpty, "at least one join pair")
    require(depth % 2 == 1, "odd depth (median row)")
    pairs.map { case (label, dfA, cA, dfB, cB) =>
      def sk(df: DataFrame, c: String, as: String) =
        df.where(F.col(c).isNotNull)
          .agg(amsSketchAgg(F.col(c).cast("string"), depth, width).as(as))
      val est = sk(dfA, cA, "ska").crossJoin(F.broadcast(sk(dfB, cB, "skb")))
        .select(joinSizeEstimate(F.col("ska"), F.col("skb"), depth, width)
          .as("est"))
      val exact = dfA.select(F.col(cA).as("__k"))
        .join(dfB.select(F.col(cB).as("__k")), "__k")
        .agg(F.count(F.lit(1)).as("exact"))
      est.crossJoin(F.broadcast(exact))
        .select(F.lit(label).as("join_pair"),
          (F.abs(F.col("est").cast("double") - F.col("exact").cast("double"))
            <= F.lit(tol) * F.col("exact").cast("double")).as("size_ok"))
    }.reduce(_ unionAll _)
  }

  /** Functional-dependency audit within one table: does `det`
    * determine each of `deps`? Per dependency the output reports the
    * determinant's group count, how many groups see more than one
    * dependent value (violations), the worst branching factor, and
    * the verdict. FD holds ⟺ every determinant value maps to exactly
    * one dependent value.
    *
    * One scan per determinant regardless of |deps|: a single
    * groupBy(det) computes every dependency's per-group distinct
    * count (the multi-countDistinct EXPAND trade documented on
    * Profile.numeric — scan rows multiply by |deps|), then a second
    * tiny aggregate folds groups into the one-row-per-dep verdicts.
    * Output long-format: (tab, determinant, dependent, n_groups,
    * violating_groups, max_branching, fd_holds).
    */
  def fdAudit(tab: String, df: DataFrame, det: String,
              deps: Seq[String]): DataFrame = {
    require(deps.nonEmpty, "at least one dependent column")
    val aggs = deps.map(dep => F.countDistinct(F.col(dep)).as(s"__nd_$dep"))
    val grouped = df.groupBy(F.col(det)).agg(aggs.head, aggs.tail: _*)
    val folds = deps.flatMap { dep =>
      Seq(F.sum(F.when(F.col(s"__nd_$dep") > 1, 1L).otherwise(0L)).as(s"__v_$dep"),
        F.max(F.col(s"__nd_$dep")).as(s"__m_$dep"))
    } :+ F.count(F.lit(1)).as("__g")
    val one = grouped.agg(folds.head, folds.tail: _*)
    val stacked = F.explode(F.array(deps.map(dep =>
      F.struct(F.lit(tab).as("tab"), F.lit(det).as("determinant"),
        F.lit(dep).as("dependent"),
        F.col("__g").as("n_groups"),
        F.col(s"__v_$dep").as("violating_groups"),
        F.col(s"__m_$dep").as("max_branching"),
        F.when(F.col(s"__v_$dep") === 0L, 1).otherwise(0).as("fd_holds"))): _*))
    one.select(stacked.as("p")).select("p.*")
  }

  /** APPROXIMATE functional dependencies by g3 error (Kivinen &
    * Mannila TCS'95's measure; the one Tane/Pyro discover under —
    * real data rarely satisfies an FD exactly, but "X→Y except for
    * 0.3% of rows" is actionable metadata): g3(X→Y) = the minimum
    * number of rows to DELETE for the FD to hold = n − Σ_x max_y
    * cnt(x,y). Reported as exact integers — error_rows, error_ppm =
    * (error_rows·10⁶) div n (truncating integral division, identical
    * in both engines for non-negative operands), and the verdict
    * afd_holds ⟺ error_rows·10⁶ ≤ maxErrorPpm·n compared as DECIMAL
    * products (never a float, never a Long overflow at the 10¹²-row
    * design point).
    *
    * ONE unpivot scan for all deps (the keySkew trade — scan rows
    * multiply by |deps|): explode to (det, dep, value), count per
    * (dep, det, value) with map-side combine, fold per (dep, det) to
    * the argmax mass, fold per dep to Σ max. Dependent values group
    * by their EXACT value; the unpivot stringifies for the
    * heterogeneous array, so use integer/string columns (a double's
    * string rendering is not cross-engine-stable — the wired gates
    * keep to keys and enum strings). Output: (tab, determinant,
    * dependent, n_rows, error_rows, error_ppm, afd_holds).
    */
  /** FD DISCOVERY (r19; VERDICT r18 #5): [[fdAudit]]/[[fdErrorAudit]]
    * verify caller-NAMED dependencies; real profilers discover them
    * (TANE, Huhtala+ '99; Papenbrock PVLDB'15). This is the bounded
    * lattice those papers prune toward, made Spark-shaped: every
    * candidate FD with a 1- or 2-column determinant over a
    * caller-capped column set, ranked by g3 error (Kivinen & Mannila
    * TCS'95 — the [[fdErrorAudit]] measure).
    *
    * ONE corpus scan: a grouping-sets pass computes the counts of
    * every attribute set of size |det|+1 (C(k,2)+C(k,3) sets — the
    * Expand multiplies scan rows by that, which is why `cols` is
    * REQUIRED small; 100 TB profiling runs this on a bounded sample
    * or a column subset, exactly like the papers' row-sampling).
    * Each set's count rows then fold to its ≤3 candidate FDs
    * (det = set minus one attribute): Σ_det-group max_dep cnt = rows
    * to KEEP, g3 = n − keep. The per-set branches reference the same
    * Expand subtree, so exchange reuse computes it once.
    *
    * Determinant grouping inside a set uses a sentinel-joined string
    * key (values stringify; use key/enum/date columns — the
    * fdErrorAudit caveat). Output: (tab, determinant, dependent,
    * n_rows, error_rows, error_ppm, fd_exact, afd_holds), exact
    * integers only; the caller orders (exact FDs first is
    * error_ppm asc).
    */
  def fdDiscover(tab: String, df: DataFrame, cols: Seq[String],
                 maxErrorPpm: Long = 0L, maxDetSize: Int = 2): DataFrame = {
    require(cols.size >= 2 && cols.size <= 8,
      "2..8 columns — the lattice is C(k,2)+C(k,3) grouping sets")
    require(cols.distinct.size == cols.size, "duplicate column")
    require(maxDetSize >= 1 && maxDetSize <= 2, "determinants of 1..2 columns")
    require(maxErrorPpm >= 0, "threshold is ppm of rows, >= 0")
    val k = cols.size
    def weight(i: Int): Long = 1L << (k - 1 - i)
    def setGid(s: Seq[String]): Long = cols.zipWithIndex
      .filterNot { case (c, _) => s.contains(c) }
      .map { case (_, i) => weight(i) }.sum
    val gidCol = cols.zipWithIndex.map { case (c, i) =>
      F.grouping(F.col(c)).cast("long") * weight(i)
    }.reduce(_ + _)
    val sets: Seq[Seq[String]] =
      (cols.combinations(2) ++
        (if (maxDetSize >= 2) cols.combinations(3) else Iterator.empty)).toSeq
    val gs = df.groupingSets(sets.map(_.map(F.col)), cols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("cnt"), gidCol.as("gid"))
    def detKey(det: Seq[String]) = F.concat_ws("\u0001",
      det.map(c => F.coalesce(F.col(c).cast("string"),
        F.lit("\u0000NULL"))): _*)
    // ONE explode, not one unioned branch per candidate: the per-set
    // candidate list ((determinant, dependent, det-key) — ≤3 per set)
    // rides a gid-dispatched literal CASE, so the whole lattice folds
    // through TWO shuffles total where the original union of 50
    // filtered branches paid a filter + two aggregates each (~100 tiny
    // exchanges, fixed-cost dominated at the small end; branch-count-
    // many job DAGs at any scale)
    def candidatesOf(s: Seq[String]) = F.array(s.map { dep =>
      val det = s.filterNot(_ == dep)
      F.struct(F.lit(det.mkString("+")).as("determinant"),
        F.lit(dep).as("dependent"), detKey(det).as("__dk"))
    }: _*)
    val dispatch = sets.tail.foldLeft(
      F.when(F.col("gid") === setGid(sets.head), candidatesOf(sets.head))) {
      (acc, s) => acc.when(F.col("gid") === setGid(s), candidatesOf(s))
    }
    val cand = gs.select(F.explode(dispatch).as("p"), F.col("cnt"))
      .select(F.col("p.determinant").as("determinant"),
        F.col("p.dependent").as("dependent"),
        F.col("p.__dk").as("__dk"), F.col("cnt"))
    cand.groupBy("determinant", "dependent", "__dk")
      .agg(F.max("cnt").as("__mx"), F.sum("cnt").as("__rows"))
      .groupBy("determinant", "dependent")
      .agg(F.sum("__mx").as("__keep"), F.sum("__rows").as("n_rows"))
      .withColumn("__err",
        (F.col("n_rows") - F.col("__keep")).cast("decimal(19,0)"))
      .withColumn("__n19", F.col("n_rows").cast("decimal(19,0)"))
      .select(F.lit(tab).as("tab"), F.col("determinant"), F.col("dependent"),
        F.col("n_rows"), F.col("__err").cast("long").as("error_rows"),
        F.expr("CAST((__err * CAST(1000000 AS DECIMAL(19,0))) div __n19 AS BIGINT)")
          .as("error_ppm"),
        F.when(F.col("__err") === 0, 1).otherwise(0).as("fd_exact"),
        F.when(F.col("__err") * F.lit(1000000L).cast("decimal(19,0)") <=
            F.lit(maxErrorPpm).cast("decimal(19,0)") * F.col("__n19"), 1)
          .otherwise(0).as("afd_holds"))
  }

  /** UCC (unique column combination = candidate key) DISCOVERY —
    * the [[fdDiscover]] sibling for keys (HyUCC, Papenbrock &
    * Naumann SIGMOD'17's problem, bounded the same way): every 1-
    * and 2-column subset of a caller-capped column set, adjudicated
    * from ONE grouping-sets scan. Profile.uniqueCombos audits
    * caller-NAMED combos; this enumerates the bounded lattice.
    *
    * Per candidate set the grouping-sets pass yields one count row
    * per value group; the fold reports n_groups, dup_rows =
    * n_rows − n_groups (rows to delete for uniqueness — the g3
    * analog), max_dup, and is_ucc ⟺ max_dup = 1. The per-set
    * branches reference the same Expand subtree (exchange reuse);
    * `cols` is REQUIRED small because Expand multiplies scan rows by
    * the set count — at 100 TB this runs on a column subset exactly
    * like [[fdDiscover]]. Exact integers only.
    */
  def uccDiscover(tab: String, df: DataFrame, cols: Seq[String],
                  maxSize: Int = 2): DataFrame = {
    require(cols.size >= 2 && cols.size <= 8,
      "2..8 columns — the lattice is C(k,1)+C(k,2) grouping sets")
    require(cols.distinct.size == cols.size, "duplicate column")
    require(maxSize >= 1 && maxSize <= 2, "combos of 1..2 columns")
    val k = cols.size
    def weight(i: Int): Long = 1L << (k - 1 - i)
    def setGid(s: Seq[String]): Long = cols.zipWithIndex
      .filterNot { case (c, _) => s.contains(c) }
      .map { case (_, i) => weight(i) }.sum
    val gidCol = cols.zipWithIndex.map { case (c, i) =>
      F.grouping(F.col(c)).cast("long") * weight(i)
    }.reduce(_ + _)
    val sets: Seq[Seq[String]] =
      (1 to maxSize).flatMap(m => cols.combinations(m))
    val gs = df.groupingSets(sets.map(_.map(F.col)), cols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("cnt"), gidCol.as("gid"))
    // gid-dispatched literal CASE instead of |sets| unioned filter
    // branches (r20 — the fdDiscover r19 fix applied to its sibling):
    // every grouping-sets row belongs to exactly one set, so one
    // projection labels it; the union paid |sets| post-shuffle read
    // passes over the Expand exchange (measured: profile_ucc_discover
    // was the round's largest single-rep regression once scans went
    // parallel, the 15 branches dominating its wall)
    val lbl = sets.tail.foldLeft(
      F.when(F.col("gid") === setGid(sets.head),
        F.lit(sets.head.mkString("+")))) {
      (acc, s) => acc.when(F.col("gid") === setGid(s), F.lit(s.mkString("+")))
    }
    gs.select(lbl.as("columns"), F.col("cnt"))
      .groupBy("columns")
      .agg(F.count(F.lit(1)).as("n_groups"), F.sum("cnt").as("n_rows"),
        F.max("cnt").as("max_dup"))
      .select(F.lit(tab).as("tab"), F.col("columns"), F.col("n_rows"),
        F.col("n_groups"),
        (F.col("n_rows") - F.col("n_groups")).as("dup_rows"),
        F.col("max_dup"),
        F.when(F.col("max_dup") === 1L, 1).otherwise(0).as("is_ucc"))
  }

  def fdErrorAudit(tab: String, df: DataFrame, det: String,
                   deps: Seq[String], maxErrorPpm: Long): DataFrame = {
    require(deps.nonEmpty, "at least one dependent column")
    require(maxErrorPpm >= 0, "threshold is ppm of rows, >= 0")
    val unpiv = df.select(F.col(det).as("__det"),
      F.explode(F.array(deps.map(d => F.struct(F.lit(d).as("dep"),
        F.col(d).cast("string").as("v"))): _*)).as("p"))
      .select(F.col("__det"), F.col("p.dep").as("__dep"), F.col("p.v").as("__v"))
    val l1 = unpiv.groupBy("__dep", "__det", "__v")
      .agg(F.count(F.lit(1)).as("__c"))
    val l2 = l1.groupBy("__dep", "__det")
      .agg(F.max("__c").as("__mx"), F.sum("__c").as("__rows"))
    val l3 = l2.groupBy("__dep")
      .agg(F.sum("__mx").as("__keep"), F.sum("__rows").as("n_rows"))
    l3.withColumn("__err", (F.col("n_rows") - F.col("__keep")).cast("decimal(19,0)"))
      .withColumn("__n19", F.col("n_rows").cast("decimal(19,0)"))
      .select(F.lit(tab).as("tab"), F.lit(det).as("determinant"),
        F.col("__dep").as("dependent"), F.col("n_rows"),
        F.col("__err").cast("long").as("error_rows"),
        F.expr("CAST((__err * CAST(1000000 AS DECIMAL(19,0))) div __n19 AS BIGINT)")
          .as("error_ppm"),
        F.when(F.col("__err") * F.lit(1000000L).cast("decimal(19,0)") <=
            F.lit(maxErrorPpm).cast("decimal(19,0)") * F.col("__n19"), 1)
          .otherwise(0).as("afd_holds"))
  }
}
