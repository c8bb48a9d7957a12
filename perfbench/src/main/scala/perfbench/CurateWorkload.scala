package perfbench

import graft.dedup.Dedup
import graft.operators.Graph
import graft.text.{Curate, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** LLM corpus curation on a corpus with planted near-duplicate
  * clusters: the curation report, two near-duplicate candidate
  * generators, distributed clustering, graph analysis of the corpus
  * (TextRank keywords by pageRank, and the densely duplicated k-core),
  * canonical selection and BPE training.
  * Mixes per-row text kernels, loops of many small jobs (components
  * and the graph operators) and driver-bound work (BPE merges).
  */
final class CurateWorkload extends Workload("curate") {
  val Docs = 800
  val DupShare = 0.15
  val Shingle = 3
  val Threshold = 0.5
  /** MinHash LSH must find every planted pair at least this similar:
    * at 0.8 a pair misses all 32 bands of 4 with probability 5e-8.
    */
  val LshRecallFrom = 0.8
  val Merges = 256
  val MaxWords = 70
  val Iterations = 3
  val K = 2
  val Rounds = 4

  private var docs: DataFrame = _
  private var origin: Map[Long, Long] = Map.empty
  private var shingles: Map[Long, Set[String]] = Map.empty

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    val (rows, planted) = Gen.corpus(seed, Docs, DupShare, maxWords = MaxWords)
    write(spark, dir, "documents", rows)
    docs = graft.Tables(spark, dir).documents
    origin = planted
    shingles = rows.map(d => d.doc_id ->
      d.text.split(" ").sliding(Shingle).map(_.mkString(" ")).toSet).toMap
  }

  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  private def pairs(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSeq

  def pass(p: Pass): Unit = {
    val Budget = 2048L
    val Shards = 4
    p.call("text.curate", "Curate.pipelineReport")(
      Curate.pipelineReport(docs, "doc_id", "text", budget = Budget, nShards = Shards,
        stop = TextOps.stopwords.toMap.apply("en")))(Sink.collect) { rows =>
      rows.find { r =>
        val shard = r.getAs[Number]("shard").intValue
        // a pack holds the documents starting inside its budget, so
        // it overshoots by less than one document
        shard < 0 || shard >= Shards || r.getAs[Number]("n_docs").longValue < 1 ||
          r.getAs[Number]("sum_tokens").longValue >= Budget + MaxWords
      }.map(r => s"bad pack $r")
        .orElse(if (rows.isEmpty) Some("empty report") else None)
    }

    p.call("dedup.candidates", "Dedup.minhashLsh")(
      Dedup.minhashLsh(docs, "doc_id", "text", k = Shingle, numHashes = 128, bands = 32,
        threshold = Threshold, bucketCap = Some(1000L)))(Sink.collect) { rows =>
      Checks.simPairs(pairs(rows), jaccard, Threshold, origin.toSeq, LshRecallFrom)
    }

    // exact PPJoin pairs; the frame stays persisted for its consumers
    val jp = p.call("dedup.candidates", "Dedup.jaccardPairs")(
      Dedup.jaccardPairs(docs, "doc_id", "text", k = Shingle, threshold = Threshold,
        dfCap = Some(200L), hotSalt = Some((32L, 8))))(df => (df, Sink.collect(df))) {
      case (_, rows) => Checks.simPairs(pairs(rows), jaccard, Threshold, origin.toSeq, Threshold)
    }
    val (pairFrame, pairRows) = jp
    val pairList = pairs(pairRows)

    // the distributed path here; keepCanonical below takes the default
    // (driver union-find for a graph this small)
    p.call("dedup.components", "Dedup.components distributed")(
      Dedup.components(pairFrame, smallGraphLimit = 0))(Sink.collect) { rows =>
      val comp = rows.map(r => (r.getAs[Long]("id"), r.getAs[Long]("component"))).toSeq
      val byId = comp.toMap
      p.addQuality("dup_recall", origin.count { case (copy, orig) =>
        byId.get(copy).exists(c => byId.get(orig).contains(c)) }.toLong, origin.size.toLong)
      Checks.partition(comp, pairList)
    }

    // keyword centrality: pageRank over the word-adjacency graph
    val bigrams = docs.select(F.explode(TextOps.shingles(TextOps.tokens(F.col("text")), 2))
        .as("bg"))
      .select(F.substring_index(F.col("bg"), " ", 1).as("w1"),
        F.substring_index(F.col("bg"), " ", -1).as("w2"))
      .where(F.col("w1") =!= F.col("w2"))
      .groupBy("w1", "w2").agg(F.count(F.lit(1)).as("c"))
    val wordEdges = bigrams.select(F.col("w1").as("src"), F.col("w2").as("dst"), F.col("c"))
      .unionAll(bigrams.select(F.col("w2").as("src"), F.col("w1").as("dst"), F.col("c")))
      .groupBy("src", "dst").agg(F.sum("c").as("w"))
    p.call("operators.graph", s"Graph.pageRank iters=$Iterations")(
      Graph.pageRank(wordEdges, iters = Iterations))(Sink.collect) { rows =>
      val total = rows.map(_.getAs[java.math.BigDecimal]("rank").doubleValue).sum
      val words = rows.map(_.getAs[String]("node")).toSet
      if (!words.subsetOf(Gen.Words.toSet)) Some(s"ranked non-words ${words -- Gen.Words}")
      else if (math.abs(total - 1.0) > 1e-6) Some(s"ranks sum to $total")
      else None
    }

    // the near-duplicate graph's densely duplicated core
    val dupEdges = pairFrame.select(F.col("id1").as("a"), F.col("id2").as("b"))
    p.call("operators.graph", s"Graph.kCore k=$K")(Graph.kCore(dupEdges, K, Rounds))(
      Sink.collect) { rows =>
      val got = rows.map(r => r.getAs[Long]("node") -> r.getAs[Long]("degree")).toMap
      val want = Checks.referenceKCore(pairList, K, Rounds)
      if (got == want) None else Some(s"k-core has ${got.size} nodes, reference ${want.size}")
    }

    val ref = Checks.referenceComponents(pairList)
    val dropped = ref.size - ref.values.toSet.size
    p.call("dedup.components", "Dedup.keepCanonical")(
      Dedup.keepCanonical(docs, "doc_id", pairFrame, releaseInput = true))(
      df => Sink.noop(df, F.count(F.lit(1)).as("rows"))) { m =>
      val rows = m("rows").asInstanceOf[Long]
      if (rows == Docs - dropped) None
      else Some(s"kept $rows documents, expected ${Docs - dropped}")
    }

    p.call("text.bpe", s"Curate.bpeTrainLocal merges=$Merges")(
      Curate.bpeTrainLocal(docs, "text", nMerges = Merges, unitWords = 3))(Sink.collect) {
      rows =>
        val steps = rows.map(_.getAs[Number]("step").intValue).sorted.toSeq
        if (steps.isEmpty || steps != (1 to steps.size)) Some(s"merge steps ${steps.take(5)}")
        else None
    }
  }
}
