package graft.harmonize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** Distributed value matching: match distinct values of a source column
  * against distinct values of a target domain, per the reference
  * semantics (bdikit/api.py:333-402, bdikit/value_matching/polyfuzz.py).
  *
  * Design for scale: the match cost is |distinct source| x |distinct
  * target| — never |rows|. Both sides are distinct-reduced first
  * (map-side partial aggregation), and the target domain (a controlled
  * vocabulary, small by definition) is broadcast. For the TF-IDF
  * matcher the cross product is replaced by an inverted-index join on
  * shared character n-grams, so cost is proportional to gram overlap.
  */
object ValueMatcher {

  /** 1 - levenshtein/max(len) in [0,1] — the SQL-expressible normalized
    * edit similarity (the default scorer; the reference's exact
    * fuzz.ratio scorer is available as scorer = "ratio").
    */
  def normalizedLevenshtein(src: Column, tgt: Column): Column =
    F.lit(1.0) - F.levenshtein(src, tgt).cast("double") /
      F.greatest(F.length(src), F.length(tgt)).cast("double")

  /** Distinct, trimmed, non-empty string values of a column. Mirrors
    * the reference's preprocessing (api.py:360: str(x).strip()).
    */
  def domain(df: DataFrame, col: String, as: String): DataFrame =
    df.select(F.trim(F.col(col).cast("string")).as(as))
      .where(F.col(as).isNotNull && F.col(as) =!= "")
      .distinct()

  /** Edit-distance value matching. Returns (source, target, similarity)
    * with the best match per source value at `similarity >= threshold`;
    * unmatched source values are kept with null target/similarity
    * (reference keeps them as NaN, api.py:457-485). Deterministic
    * tie-break: higher similarity first, then target ascending.
    *
    * Scorers: "levenshtein" (default) is 1 - lev/maxlen — expressible
    * in standard SQL, hence the oracle-checked default; "ratio" is the
    * reference's exact scorer (rapidfuzz fuzz.ratio = indel similarity
    * 2*LCS/(l1+l2), polyfuzz.py:84), as a native expression.
    */
  def editDistanceMatch(
      source: DataFrame, sourceCol: String,
      target: DataFrame, targetCol: String,
      threshold: Double, topK: Int = 1,
      scorer: String = "levenshtein"): DataFrame = {
    val src = domain(source, sourceCol, "source")
    val tgt = domain(target, targetCol, "target")
    // length-band pruning — pure optimization, result-identical, the
    // (codegen'd) length filter runs before the O(len^2) scorer:
    // levenshtein: sim >= t implies lev <= (1-t)*maxlen and
    //   lev >= |len(s)-len(t)|, so pairs outside the band cannot pass;
    // ratio: LCS <= minlen, so sim <= 2*minlen/(l1+l2) — below-band
    //   pairs cannot reach t.
    val (lenBand, simExpr) = scorer match {
      case "levenshtein" => (
        F.abs(F.length(F.col("source")) - F.length(F.col("target"))).cast("double") <=
          (F.lit(1.0) - F.lit(threshold)) *
            F.greatest(F.length(F.col("source")), F.length(F.col("target"))).cast("double"),
        normalizedLevenshtein(F.col("source"), F.col("target")))
      case "ratio" => (
        F.lit(2.0) * F.least(F.length(F.col("source")), F.length(F.col("target"))).cast("double") >=
          F.lit(threshold) *
            (F.length(F.col("source")) + F.length(F.col("target"))).cast("double"),
        graft.functions.HashExprs.indelSim(F.col("source"), F.col("target")))
      case other => throw new IllegalArgumentException(
        s"unknown edit scorer: $other (supported: levenshtein, ratio)")
    }
    val scored = src
      .crossJoin(F.broadcast(tgt))
      .where(lenBand)
      .withColumn("similarity", simExpr)
      .where(F.col("similarity") >= threshold)
    val w = Window.partitionBy("source")
      .orderBy(F.col("similarity").desc, F.col("target").asc)
    val best = scored.withColumn("rn", F.row_number().over(w))
      .where(F.col("rn") <= topK)
    if (topK == 1) {
      src.join(best.drop("rn"), Seq("source"), "left")
        .select("source", "target", "similarity")
    } else {
      best.select(F.col("source"), F.col("target"), F.col("similarity"),
        F.col("rn").cast("long").as("rank"))
    }
  }

  /** Jaro-Winkler value matching (r17 — the reference's scorer
    * ecosystem ships jaro_winkler through rapidfuzz/polyfuzz,
    * value_matching/polyfuzz.py:48; person/org name harmonization is
    * the headline biomedical use and JW is the standard name scorer,
    * Christen TKDE'12). Same contract as [[editDistanceMatch]]:
    * best target per source value, unmatched sources kept with null
    * target, tie-break (similarity desc, target asc).
    *
    * Cross-engine exactness: scores ride the [[graft.functions
    * .HashExprs.jaroWinklerPpm]] kernel — ppm FIXED POINT calibrated
    * to DuckDB's rapidfuzz-derived jaro_winkler_similarity — so the
    * threshold keep and the per-source argmax compare INTEGERS on
    * both engines (floor(jw·1e6) ≥ ppm(threshold) ⟺ jw·1e6 ≥ the
    * integer threshold). The similarity column is jw_ppm/1e6 — one
    * IEEE division of identical integers on both engines.
    * The kernel iterates UTF-8 bytes — DuckDB's unit (r18) — so the
    * exactness contract covers non-ASCII names too (see the kernel
    * doc; the wired unicode gate hash-matches a DuckDB replay).
    *
    * Pruning (result-identical): m ≤ min(l1,l2) bounds jaro ≤
    * (min/max + 2)/3, and the Winkler boost bounds sim ≤ 0.6·jaro +
    * 0.4, so sim ≥ t ⟹ min/max ≥ 5t − 4 — an integer length-band
    * filter ahead of the O(l1·l2) kernel whenever t > 0.8.
    */
  def jaroWinklerMatch(
      source: DataFrame, sourceCol: String,
      target: DataFrame, targetCol: String,
      threshold: Double, topK: Int = 1): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0, "threshold in [0,1]")
    val tPpm = math.round(threshold * 1e6)
    val src = domain(source, sourceCol, "source")
    val tgt = domain(target, targetCol, "target")
    // 5t-4 in ppm; only a genuine prune above t = 0.8. BYTE lengths
    // (octet_length), matching the kernel's UTF-8-byte unit (r18) —
    // a char-length band would be unsound for mixed-width strings
    // where the byte ratio exceeds the char ratio.
    val bandPpm = 5L * tPpm - 4000000L
    val lenBand =
      if (bandPpm <= 0) F.lit(true)
      else F.least(F.octet_length(F.col("source")), F.octet_length(F.col("target")))
        .cast("long") * 1000000L >=
        F.greatest(F.octet_length(F.col("source")), F.octet_length(F.col("target")))
          .cast("long") * bandPpm
    val scored = src
      .crossJoin(F.broadcast(tgt))
      .where(lenBand)
      .withColumn("jw_ppm", graft.functions.HashExprs.jaroWinklerPpm(
        F.col("source"), F.col("target")))
      .where(F.col("jw_ppm") >= tPpm)
    val w = Window.partitionBy("source")
      .orderBy(F.col("jw_ppm").desc, F.col("target").asc)
    val best = scored.withColumn("rn", F.row_number().over(w))
      .where(F.col("rn") <= topK)
    if (topK == 1) {
      src.join(best.drop("rn"), Seq("source"), "left")
        .select(F.col("source"), F.col("target"), F.col("jw_ppm"),
          (F.col("jw_ppm").cast("double") / 1e6).as("similarity"))
    } else {
      best.select(F.col("source"), F.col("target"), F.col("jw_ppm"),
        (F.col("jw_ppm").cast("double") / 1e6).as("similarity"),
        F.col("rn").cast("long").as("rank"))
    }
  }

  /** EXACT edit-distance similarity JOIN — all (source, target) value
    * pairs with levenshtein ≤ k. The candidate plan is chosen per call
    * from counts: q-gram PREFIX filtering (the SSJoin/EDJoin family:
    * Chaudhuri et al. ICDE'06, Xiao et al. VLDB'08) where it prunes,
    * else a length-band equi-join over the whole domains. This is the
    * scale path [[editDistanceMatch]] lacks: that operator broadcasts
    * the target domain (the value-matching contract), while here
    * NEITHER domain needs to fit anywhere — candidates come from
    * equi-joins only.
    *
    * Why the prefix plan is exact: one edit destroys at most q of a
    * string's distinct q-grams, so ed(a,b) ≤ k ⇒ |G(a)\G(b)| ≤ q·k —
    * among ANY q·k+1 grams of a, at least one also occurs in b
    * (pigeonhole). Each value's SIGNATURE is therefore its q·k+1 rarest
    * grams (rare-first in one GLOBAL df order over both domains —
    * rarity is pure efficiency, any fixed choice is correct), and the
    * candidate set is signature(source) ⋈ allGrams(target) ∪
    * allGrams(source) ⋈ signature(target): the second direction covers
    * sources too short to carry q·k+1 grams paired with long targets
    * (the pigeonhole then fires from the target side). Pairs where
    * BOTH sides are short (< q·(k+1) chars — too few grams for the
    * bound anywhere) pair through a (2k+1)-key length-band equi-join
    * over the short buckets only. The length-band plan is exact
    * because ed(a,b) ≥ ||a| − |b||: it pairs every source value with
    * every target value whose length is within k. Either way every
    * candidate verifies with a real levenshtein ≤ k — no approximation
    * anywhere, and the two plans return identical results.
    *
    * Scale shape: join keys on the prefix plan are SIGNATURE grams,
    * rare by construction (hot grams — shared prefixes, common words —
    * are exactly what the global order pushes OUT of signatures), so
    * posting lists stay short where naive gram joins go quadratic on
    * near-identical corpora; AQE's skew split covers residue. That
    * holds on a Zipfian gram universe (natural text). On a small
    * alphabet (ids such as `Customer#000000123`, digit codes) every
    * value shares its hot grams, so each signature still carries
    * grams held by the whole domain and the prefix plan emits more
    * candidate rows than the length band — often more than the cross
    * product, before its `distinct`. Both plans' candidate counts are
    * known exactly before any candidate is generated: the prefix plan
    * emits Σ df(signature grams) (each signature gram's opposite-side
    * posting count) plus the both-short band census, the band plan
    * emits Σ_{|la−lb|≤k} ca·cb over the two domains' length histograms.
    * The cheaper one runs; on a tie the band plan runs, since it needs
    * no union and no `distinct` (each pair occurs once).
    *
    * Budget: `maxCandidates` bounds the count of the plan that runs,
    * and the call refuses loudly above it (caller-bounded budget, the
    * Linkage block-pair guard pattern) BEFORE any candidate row is
    * generated. On data where even the cheaper plan is quadratic
    * (large single-length id domains — where the true answer often is
    * too), slice or block the column first. Output: (source, target,
    * lev), source ≠ target, both directions of a self-join present
    * (filter source < target for unordered pairs).
    */
  def editDistanceJoin(source: DataFrame, sourceCol: String,
                       target: DataFrame, targetCol: String,
                       k: Int, q: Int = 3,
                       maxCandidates: Long = 50000000L): DataFrame = {
    require(k >= 0, "k must be non-negative")
    require(q >= 2, "q-gram length must be at least 2")
    require(maxCandidates > 0, "maxCandidates must be positive")
    val sigLen = q * k + 1
    val shortLen = q * (k + 1) // < this many chars ⇒ < q·k+1 grams
    val va = domain(source, sourceCol, "v")
    val vb = domain(target, targetCol, "v")
    def grams(dom: DataFrame): DataFrame = {
      val v = F.col("v")
      val g = F.when(F.length(v) >= q,
        F.array_distinct(F.transform(
          F.sequence(F.lit(1), F.length(v) - (q - 1)),
          i => v.substr(i, F.lit(q))))).otherwise(F.array())
      dom.select(v, F.explode(g).as("gram"))
    }
    val ga = grams(va); val gb = grams(vb)
    // one GLOBAL gram order shared by both sides, with per-side
    // posting counts kept: the candidate fan-out of a side-A
    // signature gram is its SIDE-B posting count (and vice versa),
    // which is what the plan choice below sums
    val df = ga.select(F.col("gram"), F.lit(1).as("__sa"))
      .unionAll(gb.select(F.col("gram"), F.lit(0).as("__sa")))
      .groupBy("gram")
      .agg(F.sum(F.col("__sa")).as("__na"),
        F.sum(F.lit(1) - F.col("__sa")).as("__nb"))
      .select(F.col("gram"), F.col("__na"), F.col("__nb"),
        (F.col("__na") + F.col("__nb")).as("df"))
    def signature(g: DataFrame): DataFrame = {
      val w = Window.partitionBy("v")
        .orderBy(F.col("df").asc, F.col("gram").asc)
      g.join(df, "gram")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= sigLen)
        .select("v", "gram", "__na", "__nb")
    }
    // PLAN CHOICE + LOUD CANDIDATE-BUDGET GUARD, from counts-only
    // passes BEFORE any candidate row is generated. The signature
    // frames are persisted so the fan-out pass (join + window per side)
    // is the SAME work the prefix plan's candidate join reuses; the
    // prefix result reads them, so they go through Pins.persist, and
    // every other exit unpersists them. Decimal sums — a quadratic
    // count must refuse, not wrap.
    val sigA = graft.operators.Pins.persist(signature(ga))
    val sigB = graft.operators.Pins.persist(signature(gb))
    val dec = "decimal(38,0)"
    val fanLong = BigDecimal(sigA.agg(
        F.coalesce(F.sum(F.col("__nb").cast(dec)), F.lit(0).cast(dec)).as("f"))
      .unionAll(sigB.agg(
        F.coalesce(F.sum(F.col("__na").cast(dec)), F.lit(0).cast(dec)).as("f")))
      .agg(F.sum(F.col("f")).as("f")).head().getDecimal(0))
    // both domains' length histograms in one collect (a few rows: one
    // per distinct length); both censuses fold from it on the driver
    val hist = va.select(F.lit(true).as("__a"), F.length(F.col("v")).as("l"))
      .unionAll(vb.select(F.lit(false).as("__a"), F.length(F.col("v")).as("l")))
      .groupBy("__a", "l").count()
      .collect().map(r => (r.getBoolean(0), r.getInt(1), r.getLong(2)))
    val (ha, hb) = hist.partition(_._1)
    def census(keep: Int => Boolean): BigDecimal = (for {
      (_, la, ca) <- ha; (_, lb, cb) <- hb
      if keep(la) && keep(lb) && math.abs(la - lb) <= k
    } yield BigDecimal(ca) * cb).sum
    val bandCount = census(_ => true)
    val prefixCount = fanLong + census(_ < shortLen)
    // prefix filtering cannot prune once its rows reach the band's
    val banded = prefixCount >= bandCount
    val (plan, count) =
      if (banded) ("length-band", bandCount) else ("prefix-filter", prefixCount)
    if (banded || count > maxCandidates) {
      sigA.unpersist(blocking = false); sigB.unpersist(blocking = false)
    }
    require(count <= maxCandidates,
      s"editDistanceJoin: candidate budget exceeded — the cheaper " +
        s"candidate plan ($plan) emits $count candidate pairs (> cap " +
        s"maxCandidates = $maxCandidates; prefix filter: Σ df(signature " +
        s"grams) + short-band census = $prefixCount, length band: " +
        s"$bandCount). On small-alphabet columns (digit-only ids/codes " +
        "of one length) every gram is hot and the candidate set — like " +
        "the true answer — grows quadratically; slice or block the column " +
        "first (e.g. linkByName with a block key, or a length/prefix " +
        "stratification), or raise maxCandidates knowingly")
    // (2k+1)-key length-band equi-join: every pair with ||a|−|b|| ≤ k
    def band(sa: DataFrame, sb: DataFrame): DataFrame =
      sa.select(F.col("v").as("source"),
          F.explode(F.sequence(F.length(F.col("v")) - k,
            F.length(F.col("v")) + k)).as("__lb"))
        .join(sb.select(F.col("v").as("target"),
          F.length(F.col("v")).as("__lb")), "__lb")
        .select("source", "target")
    val distinctPair = F.col("source") =!= F.col("target")
    val candidates =
      if (banded) band(va, vb).where(distinctPair)
      else {
        val candLong = sigA.select("v", "gram")
          .withColumnRenamed("v", "source")
          .join(gb.withColumnRenamed("v", "target"), "gram")
          .select("source", "target")
          .unionAll(ga.withColumnRenamed("v", "source")
            .join(sigB.select("v", "gram")
              .withColumnRenamed("v", "target"), "gram")
            .select("source", "target"))
        val short = F.length(F.col("v")) < shortLen
        candLong.unionAll(band(va.where(short), vb.where(short)))
          .where(distinctPair)
          .distinct()
      }
    // banded exact verify: distance ≤ k comes back exact, > k as -1
    candidates
      .withColumn("lev", F.levenshtein(F.col("source"), F.col("target"), k))
      .where(F.col("lev") >= 0)
  }

  /** Character trigrams of the lowercased value, with term frequency. */
  private def gramTf(dom: DataFrame, valueCol: String): DataFrame = {
    val v = F.lower(F.col(valueCol))
    val gramsCol = F.when(F.length(v) >= 3,
      F.transform(F.sequence(F.lit(1), F.length(v) - 2), i => v.substr(i, F.lit(3))))
      .otherwise(F.array())
    dom.select(F.col(valueCol), F.explode(gramsCol).as("gram"))
      .groupBy(valueCol, "gram").agg(F.count(F.lit(1)).as("tf"))
  }

  /** Embedding-style value matching with hashing-trick profile vectors
    * (the container-friendly equivalent of the reference's
    * embedding-cosine matcher, value_matching/polyfuzz.py:100): each
    * value is embedded as a dim-dimensional signed character-trigram
    * count projection (feature hashing, Weinberger et al. 2009), and
    * values are matched by cosine of the L2-normalized profiles.
    * Distributed as a sparse dot via join on the hashed component
    * index — never materializes the dense cross product.
    */
  def profileEmbeddingMatch(
      source: DataFrame, sourceCol: String,
      target: DataFrame, targetCol: String,
      dim: Int = 64, threshold: Double = 0.5, topK: Int = 1): DataFrame = {
    val src = domain(source, sourceCol, "source")
    val tgt = domain(target, targetCol, "target")
    // dense L2-normalized profile vector per distinct value. Unlike the
    // gram inverted index of tfidfMatch (selective: many distinct
    // grams), hashed components have only `dim` distinct keys, so a
    // component join degenerates to ~|src| x |tgt| x dim intermediate
    // rows; with the target side a broadcast-small vocabulary, the
    // right plan is dense vectors + broadcast product + one codegen'd
    // dot (graft.functions.CosineSim) per candidate pair.
    def profile(dom: DataFrame, valueCol: String): DataFrame = {
      val comp = gramTf(dom, valueCol)
        .select(F.col(valueCol),
          F.pmod(F.xxhash64(F.col("gram")), F.lit(dim)).cast("int").as("idx"),
          (F.col("tf") * F.when(F.pmod(F.xxhash64(F.col("gram"), F.lit(1)), F.lit(2)) === 0,
            F.lit(1.0)).otherwise(F.lit(-1.0))).as("w0"))
        .groupBy(valueCol, "idx").agg(F.sum("w0").as("w"))
        .where(F.col("w") =!= 0.0)
      val dense = comp.groupBy(valueCol)
        .agg(F.map_from_entries(F.collect_list(F.struct(F.col("idx"), F.col("w")))).as("m"))
        .select(F.col(valueCol),
          F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
            i => F.coalesce(F.element_at(F.col("m"), i), F.lit(0.0))).as("vec"))
      dense
    }
    val sw = profile(src, "source")
    val tw = profile(tgt, "target")
    val sims = sw.crossJoin(F.broadcast(tw.select(F.col("target"), F.col("vec").as("tvec"))))
      .select(F.col("source"), F.col("target"),
        F.round(graft.functions.HashExprs.cosineSim(F.col("vec"), F.col("tvec")), 6)
          .as("similarity"))
      .where(F.col("similarity") >= threshold)
    val win = Window.partitionBy("source")
      .orderBy(F.col("similarity").desc, F.col("target").asc)
    val best = sims.withColumn("rn", F.row_number().over(win))
      .where(F.col("rn") <= topK)
    if (topK == 1) {
      src.join(best.drop("rn"), Seq("source"), "left")
        .select("source", "target", "similarity")
    } else {
      best.select(F.col("source"), F.col("target"), F.col("similarity"),
        F.col("rn").cast("long").as("rank"))
    }
  }

  /** Value matching behind ANY [[TextEncoder]] (r18 — the
    * harmonization twin of multimodal's FeatureEncoder seam; the
    * reference's model-backed matchers, `value_matching/polyfuzz
    * .py:100` and `one2one/contrastivelearning.py:1`, become "bring
    * your model" through this). Plumbing is identical regardless of
    * encoder: distinct-domain reduction, partition-local BATCHED
    * encodeBatch (one model invocation per batch), broadcast of the
    * target vocabulary, one codegen'd cosine per candidate pair, the
    * shared threshold/argmax/unmatched-kept tail. A vector whose
    * length violates `encoder.dim` refuses loudly (task failure with
    * the contract in the message) — never padded or truncated.
    *
    * With the default [[HashingProfileEncoder]] this computes the
    * same profiles as [[profileEmbeddingMatch]] up to float32
    * rounding (same grams, same xxhash64 seeds) — spec-gated; the
    * oracle-gated wired row stays on the expression path, which
    * needs no encoder round-trip through executors.
    *
    * Scale shape: |distinct source| rows encode once each; the
    * target side is a controlled vocabulary (broadcast-small by
    * definition). The corpus never shuffles on content — only the
    * distinct-reduced domains move.
    */
  def encoderMatch(
      source: DataFrame, sourceCol: String,
      target: DataFrame, targetCol: String,
      encoder: TextEncoder,
      threshold: Double = 0.5, topK: Int = 1,
      batchSize: Int = 256): DataFrame = {
    require(encoder.dim > 0, s"encoder.dim must be positive, got ${encoder.dim}")
    require(batchSize > 0, "batchSize must be positive")
    val src = domain(source, sourceCol, "source")
    val tgt = domain(target, targetCol, "target")
    def embed(dom: DataFrame, valueCol: String): DataFrame = {
      import org.apache.spark.sql.types._
      val out = StructType(Seq(
        StructField(valueCol, StringType),
        StructField("vec", ArrayType(DoubleType, containsNull = false))))
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(out)
      dom.mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { chunk =>
          val vals = chunk.map(_.getString(0)).toArray
          val vecs = encoder.encodeBatch(vals)
          require(vecs.length == vals.length,
            s"encoder returned ${vecs.length} vectors for ${vals.length} values")
          vals.lazyZip(vecs).map { (v, vec) =>
            require(vec.length == encoder.dim,
              s"encoder returned a ${vec.length}-dim vector, contract says ${encoder.dim}")
            org.apache.spark.sql.Row(v, vec.map(_.toDouble).toSeq)
          }
        }
      }(enc)
    }
    val sw = embed(src, "source")
    val tw = embed(tgt, "target")
    val sims = sw.crossJoin(F.broadcast(tw.select(F.col("target"), F.col("vec").as("tvec"))))
      .select(F.col("source"), F.col("target"),
        F.round(graft.functions.HashExprs.cosineSim(F.col("vec"), F.col("tvec")), 6)
          .as("similarity"))
      .where(F.col("similarity") >= threshold)
    val win = Window.partitionBy("source")
      .orderBy(F.col("similarity").desc, F.col("target").asc)
    val best = sims.withColumn("rn", F.row_number().over(win))
      .where(F.col("rn") <= topK)
    if (topK == 1) {
      src.join(best.drop("rn"), Seq("source"), "left")
        .select("source", "target", "similarity")
    } else {
      best.select(F.col("source"), F.col("target"), F.col("similarity"),
        F.col("rn").cast("long").as("rank"))
    }
  }

  /** TF-IDF character-trigram cosine value matching, the reference's
    * default matcher (value_matching/polyfuzz.py:48, polyfuzz TFIDF).
    * IDF is ln((1+N)/(1+df))+1 (smoothed, sklearn formula) fit over the
    * union of both domains; weights are L2-normalized; cosine computed
    * by an inverted-index join on grams (no cross product).
    * Output: best target per source with similarity rounded to 6
    * decimals (cross-engine float-determinism), unmatched kept as null.
    */
  def tfidfMatch(
      source: DataFrame, sourceCol: String,
      target: DataFrame, targetCol: String,
      threshold: Double, topK: Int = 1): DataFrame = {
    val src = domain(source, sourceCol, "source")
    val tgt = domain(target, targetCol, "target")
    val srcG = gramTf(src, "source")
    val tgtG = gramTf(tgt, "target")

    // N = |union corpus|; computed distributed and broadcast (no collect)
    val nDf = src.select(F.lit(1).as("one"))
      .unionAll(tgt.select(F.lit(1).as("one")))
      .agg(F.count(F.lit(1)).cast("double").as("n_corpus"))
    val dfG = srcG.select(F.col("gram"), F.col("source").as("v"))
      .unionAll(tgtG.select(F.col("gram"), F.col("target").as("v")))
      .groupBy("gram").agg(F.count(F.lit(1)).cast("double").as("df"))
    val idf = dfG.crossJoin(F.broadcast(nDf))
      .select(F.col("gram"),
        (F.log((F.lit(1.0) + F.col("n_corpus")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)).as("idf"))

    def weighted(g: DataFrame, valueCol: String): DataFrame = {
      val w = g.join(F.broadcast(idf), "gram")
        .select(F.col(valueCol), F.col("gram"), (F.col("tf") * F.col("idf")).as("w"))
      val norms = w.groupBy(valueCol)
        .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).as("norm"))
      w.join(norms, valueCol)
        .select(F.col(valueCol), F.col("gram"), (F.col("w") / F.col("norm")).as("w"))
    }
    val sw = weighted(srcG, "source")
    val tw = weighted(tgtG, "target")

    val sims = sw.join(tw, "gram")
      .groupBy("source", "target")
      .agg(F.round(F.sum(sw("w") * tw("w")), 6).as("similarity"))
      .where(F.col("similarity") >= threshold)
    val win = Window.partitionBy("source")
      .orderBy(F.col("similarity").desc, F.col("target").asc)
    val best = sims.withColumn("rn", F.row_number().over(win))
      .where(F.col("rn") <= topK)
    if (topK == 1) {
      src.join(best.drop("rn"), Seq("source"), "left")
        .select("source", "target", "similarity")
    } else {
      best.select(F.col("source"), F.col("target"), F.col("similarity"),
        F.col("rn").cast("long").as("rank"))
    }
  }
}
