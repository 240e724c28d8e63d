package graft

import graft.kg._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-level pipeline specs: distributed CC, t2 P/R gate, determinism
  * under repartitioning, checkpoint resume == cold run, work split by turns
  * on a skewed file layout.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("connected components: distributed label-prop equals union-find") {
    val edges = Seq(
      ("uniprot:A", "uaz:UAZ:x"), ("uaz:UAZ:x", "uaz:UAZ:y"),
      ("uniprot:B", "uaz:UAZ:z"), ("uaz:UAZ:q", "uaz:UAZ:r"))
      .toDF("a", "b")
    val small = Canon.connectedComponents(spark, edges)
      .as[(String, String)].collect().toMap
    val dist = Canon.connectedComponents(spark, edges, driverThreshold = 0)
      .as[(String, String)].collect().toMap
    assert(small == dist)
    // grounded id wins as representative; chains collapse
    assert(small("uaz:UAZ:y") == "uniprot:A")
    assert(small("uaz:UAZ:z") == "uniprot:B")
    assert(small("uaz:UAZ:r") == "uaz:UAZ:q")
  }

  test("t2 corpus: triple P/R >= 0.95 gate (expect exact)") {
    val (turns, expected) = Transcripts.corpus(spark, 200, seed = 7)
    val res = Pipeline.extract(spark, turns)
    val pr = Score.score(res.edges.cache(), expected.toDF())
    info(pr.toString)
    assert(pr.precision >= 0.95 && pr.recall >= 0.95, pr.toString)
  }

  test("extraction is invariant under input repartitioning") {
    val (turns, _) = Transcripts.corpus(spark, 40, seed = 11)
    val e1 = Pipeline.extract(spark, turns).edges
    val e2 = Pipeline.extract(spark,
      turns.repartition(17, col("ts"))).edges
    assert(Score.score(e1, e2).f1 == 1.0)
  }

  test("resume from every stage boundary reproduces the cold run") {
    val dir = java.nio.file.Files.createTempDirectory("kgresume").toString
    val (turns, _) = Transcripts.corpus(spark, 30, seed = 3)
    val cold = Pipeline.run(spark, turns, s"$dir/cold", resume = false)
    val coldKeys = Score.keysOf(cold.edges).collect().toSet
    val io = graft.io.TableIO(s"$dir/warm")
    // cold-populate the warm dir once
    Pipeline.run(spark, turns, s"$dir/warm", resume = false)
    for (stage <- Seq("edges", "canon_map", "stage_b")) {
      // simulate a kill after the preceding stage: wipe this stage and all
      // later ones, then resume
      io.delete(stage)
      io.delete("edges"); io.delete("nodes")
      val resumed = Pipeline.run(spark, turns, s"$dir/warm", resume = true)
      assert(Score.keysOf(resumed.edges).collect().toSet == coldKeys,
        s"resume after wiping $stage diverged")
      // lineage completeness: a resumed run must keep the prior runs'
      // lineage (not overwrite with only the current accumulator) and record
      // real rows_in for the extraction stage
      val lin = resumed.lineage.collect()
      assert(lin.exists(_.getAs[String]("stage") == "mentions"),
        s"lineage lost the mentions stage after resuming past $stage")
      assert(lin.exists(r => r.getAs[String]("stage") == "mentions" &&
        r.getAs[Long]("rows_in") > 0),
        "mentions lineage must track rows_in")
      // the last iteration wiped stage_b, so the fold re-ran under a NEW
      // run_id — the merged table must now hold rows from both runs
      if (stage == "stage_b")
        assert(lin.map(_.getAs[String]("run_id")).distinct.size >= 2,
          "lineage must retain rows from more than one run after a resume " +
            "that re-executes a stage")
    }
  }

  test("alias-defs conv-keyed join path is equivalent to the broadcast path") {
    // golden includes g23 (alias used before its parenthetical definition),
    // so both paths must exercise the conversation-wide rescan
    val turns = Transcripts.goldenTurns(spark)
    val broadcastEdges =
      Score.keysOf(Pipeline.extract(spark, turns).edges).collect().toSet
    val saved = Pipeline.aliasJoinThreshold
    try {
      Pipeline.aliasJoinThreshold = 0L // force the distributed join fallback
      val joinEdges =
        Score.keysOf(Pipeline.extract(spark, turns).edges).collect().toSet
      assert(joinEdges == broadcastEdges,
        "join-path edges diverged from broadcast-path edges")
    } finally Pipeline.aliasJoinThreshold = saved
  }

  test("cross-conversation alias application (multi-document batch, sent61)") {
    // reference: Alias.canonizeAliases(mentions, docs) — an alias defined in
    // one document creates mentions for its surface in EVERY document of the
    // batch. conv A defines the nonce; conv B only uses it.
    val turns = spark.createDataset(Seq(
      Transcripts.mkTurn("cA", 0, "user", "23peM (ASPP1) is a common protein."),
      Transcripts.mkTurn("cB", 0, "user", "We examine the role of 23peM."),
      Transcripts.mkTurn("cB", 1, "user", "23peM phosphorylates ERK2.")))
    // default (per-conversation document scope): conv B has no 23peM entity,
    // so the theme-only phosphorylation stands but no regulation forms
    val off = Pipeline.extract(spark, turns).edges
      .filter(col("conv_id") === "cB")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet
    assert(off == Set(("", "Phosphorylation", "uniprot:P28482")),
      s"per-conv scope must not see the alias, got $off")
    val saved = Pipeline.crossConvAliases
    try {
      Pipeline.crossConvAliases = true
      val edges = Pipeline.extract(spark, turns).edges
        .filter(col("conv_id") === "cB")
        .select("subj", "pred", "obj").as[(String, String, String)]
        .collect().toSet
      // the injected 23peM mention grounds to ASPP1 through the alias edge
      // (global CC collapses the nonce's failsafe id onto uniprot:Q96KQ4)
      assert(edges.contains(("", "Phosphorylation", "uniprot:P28482")), edges)
      assert(edges.contains(("uniprot:Q96KQ4", "Positive_regulation",
        "Phosphorylation(uniprot:P28482)")), edges)
    } finally Pipeline.crossConvAliases = saved
  }

  test("mega-conversation chunking preserves non-boundary semantics") {
    val (mega, _) = Transcripts.corpus(spark, 0, seed = 5, megaTurns = 2500)
    val res = Pipeline.extract(spark, mega)
    // salted grouping: three chunks processed independently; events exist in
    // every chunk's turn range
    val perChunk = res.edges.groupBy(floor(col("turn_idx") / Pipeline.chunkTurns))
      .count().collect()
    assert(perChunk.length == 3)
  }

  test("mentions and fold split their work by turns, not by input file bytes") {
    val dir = java.nio.file.Files.createTempDirectory("kgskew").toString
    val (turns, expected) =
      Transcripts.corpus(spark, 12, seed = 9, megaTurns = 1500)
    // skewed layout: one large file holding the mega-conversation, three
    // small files for the rest — the scan packs splits by file bytes
    turns.filter(col("conv_id") === "mega").coalesce(1)
      .write.parquet(s"$dir/input")
    turns.filter(col("conv_id") =!= "mega").repartition(3)
      .write.mode("append").parquet(s"$dir/input")
    val input =
      graft.sources.TranscriptSources.parquet(spark, s"$dir/input")
    assert(input.inputFiles.length == 4)
    val res = Pipeline.run(spark, input, s"$dir/run", resume = false)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val lineage = res.lineage.collect()
    def rowsIn(stage: String): Seq[Long] = lineage.toSeq
      .filter(_.getAs[String]("stage") == stage).map(_.getAs[Long]("rows_in"))
    val m = rowsIn("mentions")
    assert(m.size == n, s"mentions ran on ${m.size} tasks, want $n")
    assert(rowsIn("link_coref_emit").size == n,
      s"fold ran on ${rowsIn("link_coref_emit").size} tasks, want $n")
    assert(m.max <= 2.0 * m.sum / m.size,
      s"largest mentions task read ${m.max} turns, mean ${m.sum / m.size}")
    assert(Score.keysOf(res.edges).collect().toSet ==
      Score.keysOf(expected.toDF()).collect().toSet)
    // each stage plans exactly one exchange: the fold's grouping reuses the
    // repartition's distribution instead of adding its own
    val acc = new org.apache.spark.util.CollectionAccumulator[graft.model.Lineage]
    spark.sparkContext.register(acc)
    def exchanges(ds: org.apache.spark.sql.Dataset[_]): Int =
      "Exchange ".r.findAllIn(ds.queryExecution.executedPlan.toString).size
    assert(exchanges(Pipeline.stageMentions(spark, input, "plan", acc)) == 1)
    val mentions = graft.io.TableIO(s"$dir/run").read(spark, "mentions_raw")
      .as[graft.model.MentionRow]
    assert(exchanges(Pipeline.stageB(spark, mentions, "plan", acc)) == 1)
  }
}
