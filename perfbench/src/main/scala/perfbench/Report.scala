package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import scala.collection.immutable.ListMap

/** Turns the passes of one run into the printed table, the artifact
  * and the result line.
  */
final case class Report(w: Workload, o: Main.Opts, nproc: Int, sparkVersion: String,
                        sessionS: Double, inputsS: Double, warmS: Double, setupS: Double,
                        passes: Seq[PassResult], tracer: Option[Tracer]) {

  /** Every layer the benchmark wraps, in a fixed order. */
  val Layers: Seq[String] = Seq("harmonize.profile", "harmonize.schema", "harmonize.values",
    "harmonize.join", "harmonize.materialize", "harmonize.discovery", "text.curate",
    "text.bpe", "text.search", "dedup.candidates", "dedup.components", "dedup.index",
    "similarity.ann", "operators.graph")

  private val untraced = passes.filter(p => p.id > 0 && !p.traced)
  private val traced = passes.filter(_.traced)
  private def ok(ps: Seq[PassResult]) = if (ps.exists(!_.aborted)) ps.filter(!_.aborted) else ps
  val attempted: Int = passes.map(_.attempted).sum
  val failed: Int = passes.map(_.failed).sum

  private def med(f: PassResult => Double, ps: Seq[PassResult] = ok(untraced)) =
    Stats.median(ps.map(f))

  private val batches = ok(untraced).flatMap(_.batchSeconds)
  private val batchTail = Stats.tail(batches)

  /** (name, value, unit) of every end-to-end metric that applies. */
  val endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("run_s", med(_.runS), "s"),
    ("cpu_s", med(_.cpuS), "s"),
    ("heap_peak_mb", med(_.heapPeakMb), "MB")) ++
    (if (batches.nonEmpty) Seq(("batch_p50_s", Stats.median(batches), "s")) else Nil) ++
    batchTail.map { case (pct, v) => ("batch_tail_s", v, s"s@p$pct") } ++ Seq(
    ("cache_left", untraced.map(p => p.cachedFrames + p.persistedRdds).max.toDouble, "count"),
    ("fail_ratio", failed.toDouble / math.max(attempted, 1), "ratio")) ++
    ok(untraced).flatMap(_.quality.toSeq).groupBy(_._1).toSeq.sortBy(_._1).map {
      case (name, qs) =>
        (name, qs.map(_._2._1).sum.toDouble / math.max(qs.map(_._2._2).sum, 1L), "ratio")
    }

  /** The end-to-end metrics the benchmark gates on. */
  val Gated: Seq[String] = Seq("setup_s", "run_s", "cpu_s", "heap_peak_mb")

  /** Per-layer medians over the traced passes; 0 for layers this
    * workload does not call.
    */
  val layers: Map[String, LayerStats] = tracer.map { t =>
    val byPass = t.layerStats()
    val passIds = traced.map(_.id)
    byPass.keys.map(_._2).toSeq.distinct.map { layer =>
      val per = passIds.map(id => byPass.getOrElse((id, layer), LayerStats.Zero))
      def m(f: LayerStats => Double) = Stats.median(per.map(f))
      layer -> LayerStats(m(_.wallS), m(_.buildS), m(_.driverS), m(_.planMs),
        m(_.jobs).round.toInt, m(_.tasks).round.toInt, m(_.taskS), m(_.shuffleMb))
    }.toMap
  }.getOrElse(Map.empty)

  val overheadS: Option[Double] =
    if (traced.isEmpty) None else Some(med(_.runS, ok(traced)) - med(_.runS))

  def resultLine: String = {
    val metrics =
      if (o.trace) Layers.flatMap { l =>
        layers.getOrElse(l, LayerStats.Zero).toMap.map { case (n, v, u) => s"$l.$n" -> (v, u) }
      }
      else endToEnd.filter(m => Gated.contains(m._1)).map { case (n, v, u) => n -> (v, u) }
    Report.json(ListMap("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, (v, u)) =>
        n -> ListMap("value" -> v, "unit" -> u) }: _*)))
  }

  private def context: Seq[(String, Any)] = Seq(
    "workload" -> w.name, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
    "loop" -> s"closed, 1 client, local[$nproc]", "nproc" -> nproc,
    "java" -> System.getProperty("java.version"), "spark" -> sparkVersion,
    "scala" -> scala.util.Properties.versionNumberString,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))

  def write(): Unit = {
    val passJson = passes.map { p =>
      ListMap("pass" -> p.id, "warmup" -> (p.id == 0), "traced" -> p.traced,
        "run_s" -> p.runS, "cpu_s" -> p.cpuS, "driver_cpu_s" -> p.driverCpuS,
        "task_cpu_s" -> p.taskCpuS, "process_cpu_s" -> p.processCpuS,
        "heap_peak_mb" -> p.heapPeakMb, "gc_ms" -> p.gcMs, "jit_ms" -> p.jitMs,
        "steal_ms" -> p.stealMs, "codegen_compiles" -> p.codegenCompiles,
        "check_s" -> p.checkS, "load1" -> p.load1,
        "cached_frames" -> p.cachedFrames, "persisted_rdds" -> p.persistedRdds,
        "attempted" -> p.attempted, "failed" -> p.failed, "aborted" -> p.aborted,
        "batch_s" -> p.batchSeconds,
        "quality" -> p.quality.map { case (k, (h, t)) => k -> Seq(h, t) },
        "failures" -> p.failures)
    }
    val doc = ListMap(context ++ Seq(
      "inputs" -> w.inputs.map { case (t, n, b) => ListMap("table" -> t, "rows" -> n, "bytes" -> b) },
      "setup" -> ListMap("session_s" -> sessionS, "inputs_and_indexes_s" -> inputsS,
        "warmup_s" -> warmS, "setup_s" -> setupS),
      "end_to_end" -> endToEnd.map { case (n, v, u) => ListMap("name" -> n, "value" -> v, "unit" -> u) },
      "layers" -> layers.toSeq.sortBy(_._1).map { case (l, s) =>
        ListMap(("layer" -> l) +: s.toMap.map { case (n, v, _) => n -> v }: _*)
      },
      "tracing_overhead_s" -> overheadS,
      "calls" -> tracer.toSeq.flatMap(_.callStats()).map { case (c, s) =>
        ListMap(Seq("pass" -> c.span.pass, "layer" -> c.layer, "call" -> c.span.name) ++
          s.toMap.map { case (n, v, _) => n -> v }: _*)
      },
      "passes" -> passJson): _*)
    val out = Paths.get(o.out)
    Option(out.getParent).foreach(JFiles.createDirectories(_))
    JFiles.write(out, Report.json(doc).getBytes(StandardCharsets.UTF_8))
    tracer.foreach { t =>
      JFiles.write(Paths.get(o.out + ".spans.jsonl"),
        t.spanLines().mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  def printTable(): Unit = {
    println(s"perfbench ${w.name} " + context.drop(1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    w.inputs.foreach { case (t, n, b) => println(f"  input $t%-12s $n%9d rows $b%11d bytes") }
    println(f"  setup: session $sessionS%.2f s, inputs+indexes $inputsS%.2f s, " +
      f"warm-up pass $warmS%.2f s")
    passes.foreach { p =>
      println(f"  pass ${p.id}%2d ${if (p.id == 0) "warm-up" else if (p.traced) "traced " else "       "}" +
        f" run ${p.runS}%7.3f s  cpu ${p.cpuS}%7.3f s (process ${p.processCpuS}%7.3f s)" +
        f"  heap ${p.heapPeakMb}%7.1f MB  gc ${p.gcMs}%5d ms  jit ${p.jitMs}%5d ms" +
        f"  codegen ${p.codegenCompiles}%4d  check ${p.checkS}%5.2f s  steal ${p.stealMs}%5d ms  load1 ${p.load1}%5.2f" +
        f"  cache_left ${p.cachedFrames + p.persistedRdds}" +
        f"  calls ${p.attempted} failed ${p.failed}")
      p.failures.foreach(f => println(s"    FAILED $f"))
    }
    println("  end-to-end metrics (median over untraced measured passes):")
    endToEnd.foreach { case (n, v, u) => println(f"    $n%-14s $v%12.4f $u") }
    if (layers.nonEmpty) {
      println("  per-layer metrics (median over traced passes; self_s = driver_s, " +
        "the wall time no child job span covers):")
      println(f"    ${"layer"}%-22s" + LayerStats.Names.map(n => f"$n%11s").mkString)
      layers.toSeq.sortBy(_._1).foreach { case (l, s) =>
        println(f"    $l%-22s" + s.toMap.map { case (_, v, _) => f"$v%11.3f" }.mkString)
      }
      println("  calls of the last traced pass:")
      val last = traced.last.id
      tracer.get.callStats().filter(_._1.span.pass == last).foreach { case (c, s) =>
        println(f"    ${c.span.name}%-48s" + s.toMap.map { case (_, v, _) => f"$v%9.3f" }.mkString)
      }
      overheadS.foreach(d => println(f"  tracing overhead: traced run_s - untraced run_s = $d%.3f s"))
    }
  }
}

object Report {
  private implicit val formats: Formats = DefaultFormats

  /** Compact JSON of nested maps, sequences, options and scalars. */
  def json(v: AnyRef): String = Serialization.write(v)
}
