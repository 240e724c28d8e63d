package graft.perfbench

import graft.io.TableIO

/** Per-layer metrics from one traced pass plus the isolated probes. */
final case class Layers(h: Harness, tr: Tracer, turns: Long, untracedS: Double,
                        gcS: Double) {
  private val stages = Seq("mentions", "fold", "canon", "materialize")

  private def one(name: String): Span = tr.named(name).head
  private def writes(under: Span): Seq[Span] =
    tr.spans.filter(s => s.parent == under.id && s.name == "TableIO.write").toSeq

  /** Read back every checkpoint table of the traced pass and write it again
    * through `TableIO.write` into a scratch root: the table layer's cost
    * without the stage computation that a stage's write job also runs.
    */
  def rewriteTables(workDir: String): Double = {
    val scratch = s"${h.work}/rewrite"
    h.rmrf(scratch)
    val src = TableIO(workDir)
    val dst = TableIO(scratch)
    val (_, s) = h.timed {
      Seq("mentions_raw", "stage_b", "canon_map", "edges", "nodes")
        .foreach(t => dst.write(src.read(h.spark, t), t))
    }
    h.rmrf(scratch)
    s
  }

  def all(ann: Delta, annS: Double, candShare: Double, defs: Long,
          rewriteS: Double, k: Kernel.Out): Seq[Metric] = {
    val perStage = stages.flatMap { st =>
      val s = one(s"Pipeline.$st")
      Seq(
        Metric(s"Pipeline.$st.wall_s", s.wallS, "s"),
        Metric(s"Pipeline.$st.task_cpu_s", s.d.cpuS, "s"),
        Metric(s"Pipeline.$st.max_task_s", s.d.maxTaskS, "s"),
        // near 1 when one task (the mega-conversation's) sets the stage's wall
        Metric(s"Pipeline.$st.max_task_share", s.d.maxTaskS / s.wallS, "fraction"),
        Metric(s"Pipeline.$st.shuffle_write_mb", s.d.shuffleWriteMb, "MB"),
        Metric(s"Pipeline.$st.rows_out", writes(s).map(_.rows).sum.toDouble, "rows"))
    }
    val mentions = one("Pipeline.mentions")
    val alias = one("BioRules.alias")
    val matchWrite = writes(mentions).head
    val canon = one("Pipeline.canon")
    val canonCall = one("Canon")
    val run = one("Pipeline.run")
    val spanSum = stages.map(st => one(s"Pipeline.$st").wallS).sum +
      one("Pipeline.lineage").wallS
    val allWrites = tr.named("TableIO.write")
    h.log(f"trace: Pipeline.run traced ${run.wallS}%.3f s, stage spans $spanSum%.3f s, " +
      f"untraced median $untracedS%.3f s")
    perStage ++ Seq(
      Metric("Pipeline.mentions.jobs", mentions.d.jobs.toDouble, "count"),
      Metric("BioRules.alias.wall_s", alias.wallS, "s"),
      Metric("BioRules.alias.task_cpu_s", alias.d.cpuS, "s"),
      Metric("BioRules.alias.cand_share", candShare, "fraction"),
      Metric("BioRules.alias.defs", defs.toDouble, "count"),
      Metric("BioRules.alias.us_per_turn", k.aliasUsPerTurn, "us"),
      // the mentions_raw write runs annotate and match as one job; the
      // annotate-only probe on the same input is taken off
      Metric("BioRules.match.wall_s", math.max(matchWrite.wallS - annS, 0.0), "s"),
      Metric("BioRules.match.task_cpu_s", math.max(matchWrite.d.cpuS - ann.cpuS, 0.0), "s"),
      Metric("BioRules.us_per_sent", k.matchUsPerSent, "us"),
      Metric("BioRules.mentions_per_sent", k.mentionsPerSent, "count"),
      Metric("BioRules.fire_share", k.fireShare, "fraction"),
      Metric("Annotate.wall_s", annS, "s"),
      Metric("Annotate.task_cpu_s", ann.cpuS, "s"),
      Metric("Annotate.us_per_sent", k.annotateUsPerSent, "us"),
      Metric("DepParser.us_per_sent", k.depUsPerSent, "us"),
      Metric("ConvProcessor.us_per_mention", k.convUsPerMention, "us"),
      Metric("ConvProcessor.triples_per_mention", k.triplesPerMention, "count"),
      Metric("Canon.wall_s", canonCall.wallS, "s"),
      Metric("Canon.share", canonCall.wallS / canon.wallS, "fraction"),
      Metric("TableIO.write_s", rewriteS, "s"),
      Metric("TableIO.bytes_mb", allWrites.map(_.d.outputMb).sum, "MB"),
      Metric("Broadcasts.build_s", h.broadcastS, "s"),
      Metric("setup.session_s", h.sessionS, "s"),
      // what set-up spends before the session builder starts: JVM start-up
      // and loading the benchmark's own classes
      Metric("setup.jvm_s", h.setupS - h.sessionS - h.broadcastS, "s"),
      Metric("jvm.gc_s", gcS, "s"),
      Metric("Pipeline.run.wall_s", untracedS, "s"),
      Metric("trace.span_sum_s", spanSum, "s"),
      Metric("trace.overhead_s", run.wallS - untracedS, "s"))
  }
}
