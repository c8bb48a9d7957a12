package perfbench

import graft.Graft
import graft.harmonize.{ColumnMapping, DictionaryMapper, Discovery, Profile, ValueMatcher}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}

/** The bdi-kit flow: profile and discover join paths, match schema,
  * match values, join the largest identifier domain by edit distance,
  * materialize.
  *
  * Source tables are the target tables with seeded column renames and
  * seeded typos in their string values; the target tables are the
  * originals. Execution-CPU bound in few jobs (edit-distance join,
  * FD discovery's grouping-sets expand).
  */
final class HarmonizeWorkload extends Workload("harmonize") {
  val Parts = 600
  val Customers = 600
  val Suppliers = 100
  val Orders = 3000
  val LineItems = 12000
  /** Schema matching: one table pair per method. */
  val SchemaPairs = Seq("part" -> "coma", "customer" -> "distribution_based")
  /** The categorical string column whose values are matched. */
  val ValueColumn = "part" -> "p_name"
  /** The largest identifier domain, joined by edit distance. */
  val JoinColumn = "customer" -> "c_name"
  val K = 2
  val PlantedFks = Seq("lineitem.l_orderkey" -> "orders.o_orderkey",
    "lineitem.l_partkey" -> "part.p_partkey", "orders.o_custkey" -> "customer.c_custkey")

  private var tgt: Map[String, DataFrame] = Map.empty
  private var src: Map[String, DataFrame] = Map.empty
  /** table -> (source column -> target column), the planted renames. */
  private var renames: Map[String, Map[String, String]] = Map.empty
  /** (table, target column) -> (typo -> original). */
  private var typos: Map[(String, String), Map[String, String]] = Map.empty
  private var srcRows: Map[String, Long] = Map.empty

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    val part = Gen.parts(seed, Parts)
    val customer = Gen.customers(seed, Customers)
    val lineitem = Gen.lineitems(seed, LineItems, Orders, Parts, Suppliers)
    write(spark, dir, "part", part)
    write(spark, dir, "customer", customer)
    write(spark, dir, "lineitem", lineitem)
    write(spark, dir, "orders", Gen.orders(seed, Orders, Customers))
    val t = graft.Tables(spark, dir)
    tgt = Map("part" -> t.part, "customer" -> t.customer, "lineitem" -> t.lineitem,
      "orders" -> t.orders)

    val generated: Map[String, Seq[Product]] = Map("part" -> part, "customer" -> customer)
    val r = Gen.rng(seed, "harmonize-truth")
    val tables = Seq("part", "customer")
    renames = tables.map { tab =>
      val cols = tgt(tab).columns.toSeq
      val named = cols.map(c => c -> Gen.rename(r, c))
      // a rename that collides with another column keeps the original
      val distinct = named.groupBy(_._2).filter(_._2.size == 1).keySet
      tab -> named.map { case (c, n) => (if (distinct(n)) n else c) -> c }.toMap
    }.toMap
    val stringCols = Seq(ValueColumn, JoinColumn)
    typos = stringCols.map { case (tab, c) =>
      val i = tgt(tab).columns.indexOf(c)
      val domain = generated(tab).map(_.productElement(i).toString).distinct
      (tab, c) -> Gen.plantTypos(r, domain, share = 0.3)
    }.toMap
    tables.foreach { tab =>
      val cols = tgt(tab).columns.toSeq
      val back = renames(tab).map(_.swap)
      val inverse = cols.map(c => c -> typos.get((tab, c)).map(_.map(_.swap))).toMap
      val rows = generated(tab).map { row =>
        Row.fromSeq(row.productIterator.toSeq.zip(cols).map { case (v, c) =>
          inverse(c).flatMap(_.get(v.toString))
            // a typo'd value carries its typo in half of its rows;
            // identifiers (one row each) always
            .filter(_ => c == JoinColumn._2 || r.nextBoolean())
            .getOrElse(v)
        })
      }
      val frame = spark.createDataFrame(java.util.Arrays.asList(rows: _*), tgt(tab).schema)
        .toDF(cols.map(back): _*)
      writeFrame(dir, s"src_$tab", frame, rows.size)
      srcRows += tab -> rows.size.toLong
    }
    src = tables.map(tab => tab -> t.load(s"src_$tab")).toMap
  }

  private def srcCol(tab: String, target: String): String =
    renames(tab).collectFirst { case (s, t) if t == target => s }.get

  def pass(p: Pass): Unit = {
    // profiling
    val numeric = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    p.call("harmonize.profile", "Profile.numeric")(
      Profile.numeric(tgt("lineitem"), numeric))(Sink.collect) { rows =>
      val counts = rows.map(r => r.getAs[Any]("column").toString -> r).toMap
      if (counts.keySet != numeric.toSet) Some(s"profiled ${counts.keySet}")
      else None
    }
    val fdCols = Seq("l_orderkey", "l_returnflag", "l_linestatus", "l_shipdate")
    p.call("harmonize.profile", "Discovery.fdDiscover")(
      Discovery.fdDiscover("lineitem", tgt("lineitem"), fdCols, maxErrorPpm = 10000L))(
      Sink.collect) { rows =>
      val exact = rows.filter(r => r.getAs[Long]("error_rows") == 0L)
        .map(r => (r.getAs[String]("determinant"), r.getAs[String]("dependent"))).toSet
      if (!exact.exists { case (d, dep) => d == "l_shipdate" && dep == "l_linestatus" })
        Some("planted FD l_shipdate -> l_linestatus not found exact")
      else None
    }

    // join paths: inclusion dependencies between the key columns
    val keys = Seq("part" -> "p_partkey", "customer" -> "c_custkey", "orders" -> "o_orderkey",
      "orders" -> "o_custkey", "lineitem" -> "l_orderkey", "lineitem" -> "l_partkey")
    p.call("harmonize.discovery", "Discovery.inclusion")(
      Discovery.inclusion(keys.map { case (tab, c) => (s"$tab.$c", tgt(tab), c) }))(
      Sink.collect) { rows =>
      Checks.containment(rows.map(r => (r.getAs[String]("src_col"),
        r.getAs[String]("tgt_col"), r.getAs[Number]("containment").doubleValue)).toSeq,
        PlantedFks)
    }

    // schema matching, one method per table pair
    var learned = Map.empty[String, Map[String, String]]
    for ((tab, method) <- SchemaPairs) {
      val got = p.call("harmonize.schema", s"Graft.matchSchema $method $tab")(
        Graft.matchSchema(src(tab), tgt(tab), method = method))(Sink.collect) { rows =>
        val srcs = rows.map(_.getAs[String]("source"))
        val tgts = tgt(tab).columns.toSet
        val planted = renames(tab)
        p.addQuality("schema_acc",
          rows.count(r => planted.get(r.getAs[String]("source"))
            .contains(r.getAs[String]("target"))).toLong, planted.size.toLong)
        if (srcs.distinct.length != srcs.length) Some("a source column mapped twice")
        else rows.find(r => !tgts(r.getAs[String]("target")))
          .map(r => s"unknown target ${r.getAs[String]("target")}")
      }
      learned += tab -> got.map(r => r.getAs[String]("source") -> r.getAs[String]("target")).toMap
    }

    // value matching on the mapped categorical column; its matches
    // become the dictionary materialization applies
    val (vt, vc) = ValueColumn
    val vs = learned(vt).collectFirst { case (s, t) if t == vc => s }.getOrElse(srcCol(vt, vc))
    val matches = p.call("harmonize.values", s"Graft.matchValues edit_distance $vc")(
      Graft.matchValues(src(vt), vs, tgt(vt), vc, method = "edit_distance", threshold = 0.3))(
      Sink.collect) { rows =>
      val planted = typos(ValueColumn)
      val best = rows.map(r => r.getAs[String]("source") -> r.getAs[String]("target")).toMap
      p.addQuality("value_recall",
        planted.count { case (ty, orig) => best.get(ty).contains(orig) }.toLong,
        planted.size.toLong)
      if (best.size != rows.length) Some("a source value matched twice") else None
    }
    // create_mapper's rule: best target per source, unmatched dropped
    val dictionary = DictionaryMapper(matches.filter(_.getAs[String]("target") != null)
      .groupBy(_.getAs[String]("source"))
      .map { case (v, rs) => v -> rs.sortBy(r => (-r.getAs[Double]("similarity"),
        r.getAs[String]("target"))).head.getAs[String]("target") })

    // edit-distance join over the largest identifier domain
    val (jt, jc) = JoinColumn
    p.call("harmonize.join", s"ValueMatcher.editDistanceJoin k=$K")(
      ValueMatcher.editDistanceJoin(src(jt), srcCol(jt, jc), tgt(jt), jc, k = K))(
      df => Sink.collect(df.select("source", "target"))) { rows =>
      Checks.editJoin(rows.map(r => (r.getString(0), r.getString(1))).toSeq, K,
        typos((jt, jc)).toSeq)
    }

    // materialize through the learned mapping and the dictionary; a raw
    // copy of the matched column lets the check re-apply the dictionary
    val spec = learned(vt).toSeq.sortBy(_._1).groupBy(_._2).map(_._2.head).toSeq
      .sortBy(_._1).flatMap { case (s, t) =>
        if (t == vc) Seq(ColumnMapping(s, t, dictionary), ColumnMapping(s, s"${t}__raw"))
        else Seq(ColumnMapping(s, t))
      }
    val expected = F.udf((v: String) => if (v == null) null else dictionary.mapping.get(v).orNull)
    val mismatch = F.when(F.col(vc) <=> expected(F.col(s"${vc}__raw")), 0L).otherwise(1L)
    p.call("harmonize.materialize", "Graft.materializeMapping")(
      Graft.materializeMapping(src(vt), spec))(
      df => Sink.noop(df, F.count(F.lit(1)).as("rows"), F.sum(mismatch).as("bad"))) { m =>
      Checks.materialized(m("rows").asInstanceOf[Long], srcRows(vt),
        Option(m("bad")).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
  }
}
