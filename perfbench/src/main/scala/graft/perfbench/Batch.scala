package graft.perfbench

import graft.io.TableIO
import graft.kg._
import graft.model.{Lineage, MentionRow}
import graft.sources.TranscriptSources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import scala.collection.mutable

/** The batch workloads: checkpointed `Pipeline.run` from the input table to
  * complete edges and nodes tables.
  */
object Batch {
  /** One pass: wall, task CPU, GC, and the output digest. */
  final case class Pass(wallS: Double, cpuS: Double, gcS: Double,
                        edges: Long, edgeSum: BigDecimal, nodes: Long)

  def input(h: Harness): String = s"${h.work}/input"
  def workDir(h: Harness): String = s"${h.work}/run"

  def makeInput(h: Harness): Corpora.Batch = h.o.workload match {
    case "zipf_mega" => Corpora.zipfMega(h.spark, h.o.seed, input(h))
    case "golden_replay" => Corpora.goldenReplay(h.spark, h.o.seed, input(h))
  }

  /** The triple key `Score` matches on. */
  val keyCols = Seq("conv_id", "turn_idx", "subj", "pred", "obj", "site",
    "negated", "hypothesis")

  /** Order-independent digest of a triple table: row count and the sum of
    * a 64-bit hash of each row's triple key (the columns `Score` matches
    * on). Edges carry one row per key, so equal digests mean equal edge
    * sets up to a hash collision.
    */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(keyCols.map(col): _*)
      .cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1))
      .getOrElse(java.math.BigDecimal.ZERO)))
  }

  /** An untraced production pass, exactly as `graft.Main` runs it. */
  def pass(h: Harness): Pass = {
    val wd = workDir(h)
    h.rmrf(wd)
    val m = h.probe.mark()
    val gc0 = Jvm.gcS
    val t0 = System.nanoTime()
    val r = Pipeline.run(h.spark, TranscriptSources.parquet(h.spark, input(h)),
      wd, resume = false)
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = Jvm.gcS - gc0
    val d = h.probe.since(m)
    val (n, s) = digest(r.edges)
    val nodes = r.nodes.count()
    h.clearCache()
    Pass(wall, d.cpuS, gc, n, s, nodes)
  }

  /** The oracle's digest: the generator's template triples (zipf_mega) or
    * the replicated golden triples, one row per distinct key. On a mismatch
    * the P/R against the oracle is printed.
    */
  def oracle(h: Harness, corpus: Corpora.Batch): Option[(Long, BigDecimal)] =
    corpus.expected.map { exp =>
      val d = digest(Score.keysOf(exp(h.spark)))
      h.log(s"oracle: ${d._1} triples, key hash sum ${d._2}")
      d
    }

  /** The check every pass must meet: the oracle's digest where the
    * workload has one, else the first checked pass's own edge set; and the
    * first checked pass's node count.
    */
  def checker(h: Harness, corpus: Corpora.Batch): (Pass, String) => Unit = {
    var want = oracle(h, corpus)
    var nodes = -1L
    (p, what) => {
      h.attempted += 1
      val w = want.getOrElse { want = Some((p.edges, p.edgeSum)); want.get }
      if (nodes < 0) nodes = p.nodes
      if ((p.edges, p.edgeSum) != w || p.nodes != nodes) {
        val pr = corpus.expected.map(e => Score.score(
          h.spark.read.parquet(s"${workDir(h)}/edges"), e(h.spark)).toString)
        h.fail(s"$what: edges ${p.edges}/${p.edgeSum} nodes ${p.nodes}, want " +
          s"${w._1}/${w._2} nodes $nodes ${pr.getOrElse("")}")
      }
    }
  }

  /** Passes until `budgetS` has elapsed, at least `min` of them. The heap
    * is read after the `min`-th pass, so the reading does not depend on how
    * many passes fit.
    */
  def passes(h: Harness, check: (Pass, String) => Unit, budgetS: Double,
             min: Int, tag: String): Seq[Pass] = {
    val out = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < budgetS) {
      val p = pass(h)
      check(p, s"$tag pass ${out.size}")
      out += p
      h.log(f"$tag pass ${out.size}: ${p.wallS}%.3f s wall, ${p.cpuS}%.3f s task CPU")
      if (out.size == min) h.recordHeap()
    }
    out.toSeq
  }

  /** Set-up, the input table, and one warm-up pass; returns the input and
    * the per-pass output check.
    */
  def setupAndWarm(h: Harness): (Corpora.Batch, (Pass, String) => Unit) = {
    h.setup()
    val corpus = makeInput(h)
    val check = checker(h, corpus)
    h.control("warm-up") // compiles the control's own plan
    h.recordHeap()
    // the cold pass pays class loading, JIT and whole-stage codegen; a
    // second warm-up pass would not fit a benchmark round's time budget,
    // so the first timed pass is often the slowest and the median leaves
    // it out
    val w = pass(h)
    check(w, "warm-up pass")
    h.recordHeap()
    h.log(f"input: ${corpus.turnsWritten} turns; warm-up pass ${w.wallS}%.2f s")
    (corpus, check)
  }

  /** End-to-end metrics, tracing off. */
  def timed(h: Harness): Seq[Metric] = {
    val (corpus, check) = setupAndWarm(h)
    h.control("passes:before")
    val par = passes(h, check, h.o.seconds, 3, "timed")
    h.control("passes:after")
    val walls = par.map(_.wallS)
    h.artifact("turns") = corpus.turnsWritten.toString
    h.artifact("passes_s") = Stats.arr(walls)
    h.artifact("pass_task_cpu_s") = Stats.arr(par.map(_.cpuS))
    h.artifact("pass_gc_s") = Stats.arr(par.map(_.gcS))
    // reported, not gated: both read more than a 0.25 spread across
    // ten runs on a host whose own speed drifted (see README)
    h.log(f"task CPU per pass (median) ${Stats.median(par.map(_.cpuS))}%.3f s; " +
      f"pass latency p50 ${Stats.median(walls) * 1e3}%.1f ms over ${walls.size} passes")
    Seq(Metric("turns_per_s", corpus.turnsWritten / Stats.median(walls), "turns/s"))
  }

  /** The single-threaded baseline: one pass at `local[1]` (a per-layer
    * reading, so one pass keeps the traced run inside its time budget).
    */
  def serial(h: Harness, check: (Pass, String) => Unit, turns: Long,
             parallelS: Double): Seq[Metric] = {
    h.stop()
    h.start(1) // JIT and the codegen cache stay warm across sessions
    val ser = passes(h, check, 0, 1, "serial")
    val serialS = Stats.median(ser.map(_.wallS))
    val eff = serialS / (h.o.cpus * parallelS)
    h.log(f"scaling efficiency $eff%.3f " +
      f"(turns_per_s / (${h.o.cpus} x serial turns_per_s), not gated)")
    Seq(Metric("Pipeline.serial.turns_per_s", turns / serialS, "turns/s"),
      Metric("Pipeline.scaling_efficiency", eff, "fraction"))
  }

  /** The traced pass: the stage functions in `Pipeline.run`'s order with
    * `TableIO.write` between stages, each wrapped in a span.
    */
  def tracedPass(h: Harness, tr: Tracer): Unit = {
    val spark = h.spark
    import spark.implicits._
    val wd = workDir(h)
    h.rmrf(wd)
    val io = TableIO(wd)
    val acc = new CollectionAccumulator[Lineage]
    spark.sparkContext.register(acc, "lineage")
    val runId = tr.run
    def write(df: => DataFrame, name: String): Long =
      tr.spanRows("TableIO.write") { io.write(df, name) }
    tr.span("Pipeline.run") {
      val turns = TranscriptSources.parquet(spark, input(h))
      tr.span("Pipeline.mentions") {
        // stageMentions runs the alias pre-pass eagerly; the write runs
        // annotate + rule match as one job
        val m = tr.span("BioRules.alias") {
          Pipeline.stageMentions(spark, turns, runId, acc) }
        write(m.toDF(), "mentions_raw")
      }
      val mentions = io.read(spark, "mentions_raw").as[MentionRow]
      tr.span("Pipeline.fold") {
        write(Pipeline.stageB(spark, mentions, runId, acc).toDF(), "stage_b")
      }
      val b = io.read(spark, "stage_b").as[StageBRow]
      tr.span("Pipeline.canon") {
        val c = tr.span("Canon") { Pipeline.stageCanon(spark, b) }
        write(c, "canon_map")
      }
      val canonMap = io.read(spark, "canon_map")
      tr.span("Pipeline.materialize") {
        val (edges, nodes) = Pipeline.stageMaterialize(spark, b, canonMap)
        write(edges, "edges")
        write(nodes, "nodes")
      }
      tr.span("Pipeline.lineage") {
        import scala.jdk.CollectionConverters._
        // a fresh workdir has no earlier lineage to merge
        write(spark.createDataset(acc.value.asScala.toSeq).toDF()
          .localCheckpoint(true), "lineage")
      }
      // Pipeline.run's result: the three output tables, read back lazily
      Seq("edges", "nodes", "lineage").foreach(io.read(spark, _))
    }
    h.clearCache()
  }

  /** Per-layer metrics from a traced run (separate from the timed runs). */
  def traced(h: Harness): Seq[Metric] = {
    val (corpus, check) = setupAndWarm(h)
    val spark = h.spark
    import spark.implicits._
    // untraced passes either side of the traced one, so the warm-up
    // trend cancels out of trace.overhead_s
    h.control("untraced:before")
    val before = passes(h, check, 0, 1, "untraced:before")
    val gc0 = Jvm.gcS
    val tr = new Tracer(h.probe, java.util.UUID.randomUUID().toString.take(8))
    tracedPass(h, tr)
    val gcS = Jvm.gcS - gc0
    val (tn, ts) = digest(spark.read.parquet(s"${workDir(h)}/edges"))
    check(Pass(0, 0, 0, tn, ts, spark.read.parquet(s"${workDir(h)}/nodes").count()),
      "traced pass")
    val after = passes(h, check, 0, 1, "untraced:after")
    h.control("untraced:after")
    val untracedS = Stats.median((before ++ after).map(_.wallS))
    val untracedCpuS = Stats.median((before ++ after).map(_.cpuS))

    val layers = Layers(h, tr, corpus.turnsWritten, untracedS, gcS)
    // isolated probes on the same input, outside the stage spans
    val turns = TranscriptSources.parquet(spark, input(h))
    val (bTrie, _, _) = Broadcasts.all(spark.sparkContext)
    val annM = h.probe.mark()
    val (_, annS) = h.timed {
      Annotate(spark, turns, bTrie).map(_.sents.length.toLong).reduce(_ + _) }
    val ann = h.probe.since(annM)
    val nTurns = turns.count().toDouble
    val cands = turns.filter(t => t.text != null &&
      (t.text.contains("(") || t.text.contains("known as"))).count()
    val defs = Pipeline.aliasDefsDs(spark, turns).count()
    val rewriteS = layers.rewriteTables(workDir(h))
    val kernel = Kernel.trace(h, turns.collect().toSeq, sampleTurns = 300)
    val serve = ServeLoad.probe(h, turns.limit(400).collect().map(_.text)
      .filter(t => t != null && t.length >= 20).toVector)
    val ser = serial(h, check, corpus.turnsWritten, untracedS) // last: it swaps the session
    h.writeText(s"trace-${h.o.workload}-seed${h.o.seed}.jsonl",
      tr.spans.map(_.json).mkString("", "\n", "\n"))
    layers.all(ann, annS, cands / nTurns, defs, rewriteS, kernel) ++
      Seq(Metric("Pipeline.run.task_cpu_s", untracedCpuS, "s")) ++ serve ++ ser
  }
}

