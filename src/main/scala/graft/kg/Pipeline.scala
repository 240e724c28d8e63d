package graft.kg

import graft.io.TableIO
import graft.model._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

/** The stage DAG (reference: ReachSystem.extractFrom, ReachSystem.scala:75-106,
  * re-planned for Spark's execution model — SURVEY.md §3.1):
  *
  *   turns --(exchange: hash on (conv_id, turn_idx) into shuffle.partitions;
  *            then narrow annotate+rule-match flatMap)--> mentions_raw
  *   mentions_raw --(exchange: hash on (conv_id, chunk) into shuffle.partitions;
  *                   context+coref+link+emit in one partition-local
  *                   fold)--> stage_b (linked/triples/aliases)
  *   aliases --(tiny; CC)--> canon_map
  *   stage_b + broadcast(canon_map) --(broadcast join, narrow)--> edges, nodes
  *
  * Checkpoint-resumable at every stage boundary via TableIO manifests
  * (mention -> link -> canonicalize -> materialize, per the north rule).
  *
  * Work split: the two CPU-heavy stages split by turns and conversation
  * chunks, never by bytes. Without the first exchange the match runs on the
  * scan's splits, and file packing puts a whole mega-conversation file in
  * one split; with a plain groupBy the fold's reduce side is what AQE
  * coalesces by shuffle bytes, and a corpus's small shuffle collapses into
  * one task. Both exchanges fix their partition count, which AQE does not
  * coalesce. The match is turn-local (the alias map is keyed by conv_id and
  * mention ids are content hashes), so its redistribution cannot change
  * results.
  *
  * Skew: the conv grouping key is salted with `turn_idx / chunkTurns`, so a
  * mega-conversation fans out across tasks in chunkTurns-sized spans; the
  * backward-looking context (3 turns) and coref (<=3 sentences) windows only
  * lose lookback at chunk edges. Small conversations get salt 0 — semantics
  * unchanged.
  */
object Pipeline {

  val chunkTurns = 1000

  final case class Result(edges: DataFrame, nodes: DataFrame,
                          lineage: DataFrame)

  def sessionKb(): Link.KbIndex = new Link.KbIndex(Lexicon.kb)

  /** Reload the extraction grammar from DSL text (the reference's
    * RuleReader.reload / ApiRuler analogue): parse, rebuild the broadcast
    * matcher tables, and match every subsequently planned job with the new
    * grammar. `extend = true` (default) adds the data rules on top of the
    * built-in grammar; `false` replaces it wholesale.
    */
  def reloadRules(spark: SparkSession, dslText: String,
                  extend: Boolean = true): Unit =
    reloadRules(spark, RuleDsl.parse(dslText), extend)

  /** Pre-parsed variant (callers that also inspect the grammar parse once
    * and pass it here, so logged counts always match what was loaded).
    */
  def reloadRules(spark: SparkSession, parsed: BioRules.Grammar,
                  extend: Boolean): Unit = {
    val g =
      if (extend) BioRules.default.withRules(parsed.rules, parsed.depRules)
      else parsed
    Broadcasts.reloadGrammar(spark.sparkContext, g)
  }

  /** Restore the built-in grammar. */
  def resetRules(spark: SparkSession): Unit =
    Broadcasts.reloadGrammar(spark.sparkContext, BioRules.default)

  /** Load a KB bundle directory ([[KbLoader]] format: lexicon.tsv, kb.tsv,
    * stoplist.txt, taxonomy.yml — the reference's TsvIMKBFactory /
    * ner_stoplist.txt / taxonomy.yml analogue) and rebuild the session
    * broadcasts with it. `extend = true` (default) layers the files on top
    * of the built-in bundle; `false` replaces each present component
    * wholesale. Returns the effective bundle (for logging).
    */
  def reloadKb(spark: SparkSession, dir: String,
               extend: Boolean = true): KbData = {
    val data = KbLoader.merge(KbData.builtin, KbLoader.load(dir),
      replace = !extend)
    Broadcasts.reloadKb(spark.sparkContext, data)
    data
  }

  /** Restore the built-in KB bundle. */
  def resetKb(spark: SparkSession): Unit =
    Broadcasts.reloadKb(spark.sparkContext, KbData.builtin)

  /** Thread-local rows_in counter. The stage transform (flatMap /
    * flatMapGroups) and the [[instrument]] wrapper are pipelined into the SAME
    * task (no exchange between them), so a counter bumped by the transform and
    * read at partition end observes exactly the task's input rows.
    */
  private[kg] object InCount {
    private val tl: ThreadLocal[Array[Long]] =
      ThreadLocal.withInitial(() => Array(0L))
    def reset(): Unit = tl.get()(0) = 0L
    def inc(): Unit = tl.get()(0) += 1
    def get: Long = tl.get()(0)
  }

  /** Wrap a dataset so each task appends one per-partition lineage row on
    * completion (rows_in from [[InCount]], bumped by the upstream transform).
    */
  private def instrument[T](ds: Dataset[T], stage: String, runId: String,
                            acc: CollectionAccumulator[Lineage])
                           (implicit enc: Encoder[T]): Dataset[T] =
    ds.mapPartitions { it =>
      val t0 = System.currentTimeMillis()
      InCount.reset()
      var n = 0L
      new Iterator[T] {
        private var reported = false
        override def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !reported) {
            reported = true
            acc.add(Lineage(stage, TaskContext.getPartitionId(), InCount.get,
              n, System.currentTimeMillis() - t0, runId))
          }
          h
        }
        override def next(): T = { n += 1; it.next() }
      }
    }

  /** Task count of the mentions and fold exchanges: the session's
    * `spark.sql.shuffle.partitions` (`graft.Main` sets it to the core count).
    */
  private def workSplits(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  // ---- stage functions (shared by checkpointed + in-memory paths) --------

  /** Phase-A alias-definition aggregation (J3): a narrow entity-rules-only
    * pre-pass finds unknown-surface alias definitions as a distributed
    * Dataset of (conv_id, surface, label); the full extraction pass then
    * rescans every turn of the defining conversation for the surface — so an
    * alias used *before* its definition still yields mentions (reference:
    * coref/Alias.scala:46-75 + InstanceFinder.scala:9-34).
    *
    * Scale: alias definitions are a parenthetical-pattern rarity, so the
    * common case collects + broadcasts the tiny set (zero extra shuffle on
    * the turns table). Above [[aliasJoinThreshold]] the pipeline auto-switches
    * to a conv_id-keyed left join of the aggregated defs onto the annotated
    * turns — fully distributed, no driver funnel, no truncation; the skewed
    * mega-conversation case is one row on the defs side and AQE's skew-join
    * handles the turns side.
    */
  @volatile var aliasJoinThreshold: Long = 100000L

  /** Cross-conversation alias application (reference: the multi-document
    * API `Alias.canonizeAliases(mentions, docs)` + `ReachSystem.extractFrom
    * (Seq[Document])` — aliases found in one document are sought in every
    * other document of the same batch, TestCoreference sent61). Off by
    * default: a conversation is the document analogue, and pooling surfaces
    * corpus-wide is only meaningful for small batches — the pool is capped
    * at [[aliasJoinThreshold]] surfaces (deterministically sorted) with a
    * warning on truncation, since a corpus-sized rescan vocabulary is the
    * one shape that cannot scale.
    */
  @volatile var crossConvAliases: Boolean = false

  def aliasDefsDs(spark: SparkSession,
                  turns: Dataset[Turn]): Dataset[(String, String, String)] = {
    val (bTrie, _, bG) = Broadcasts.all(spark.sparkContext)
    aliasDefsDs(spark, turns, bTrie, bG)
  }

  /** Snapshot-threaded variant: stageMentions passes ITS broadcasts so the
    * pre-pass and the main pass can never straddle a concurrent
    * [[Broadcasts.reloadKb]] (the atomic-snapshot invariant —
    * [[Broadcasts.all]]).
    */
  private def aliasDefsDs(spark: SparkSession, turns: Dataset[Turn],
                          bTrie: org.apache.spark.broadcast.Broadcast[Annotate.Trie],
                          bG: org.apache.spark.broadcast.Broadcast[BioRules.Grammar])
      : Dataset[(String, String, String)] = {
    import spark.implicits._
    // cheap candidate pre-filter: the alias patterns all carry a parenthesis
    // or "known as" — the pre-pass annotates only those turns, so the extra
    // scan reads text once and tokenizes almost nothing
    val cands = turns.filter(t => t.text != null &&
      (t.text.contains("(") || t.text.contains("known as")))
    Annotate(spark, cands, bTrie)
      .flatMap(at => BioRules.aliasDefsTurn(at, bG.value)).distinct()
  }

  def stageMentions(spark: SparkSession, turns: Dataset[Turn],
                    runId: String, acc: CollectionAccumulator[Lineage]): Dataset[MentionRow] = {
    import spark.implicits._
    val (bTrie, _, bG) = Broadcasts.all(spark.sparkContext)
    val annotated = Annotate(spark, turns.repartition(workSplits(spark),
      col("conv_id"), col("turn_idx")), bTrie)
    // the pre-pass reads the input as is: it annotates only candidate turns
    val defs = aliasDefsDs(spark, turns, bTrie, bG)
    val thr = aliasJoinThreshold
    // one evaluation of the pre-pass: more than thr rows back means the
    // join path, otherwise these rows are every definition
    val head = defs.limit(math.min(thr + 1, Int.MaxValue.toLong).toInt)
      .collect()
    val useJoin = head.length > thr
    val extracted =
      if (crossConvAliases) {
        // multi-document batch semantics (sent61): pool every conversation's
        // alias surfaces and rescan ALL conversations with them. Capped —
        // an unbounded pool is a corpus-sized broadcast.
        val pool =
          if (useJoin) {
            System.err.println(s"[graft] WARNING: crossConvAliases pool " +
              s"truncated to $thr definitions (deterministic sort order)")
            defs.sort("_2", "_3")
              .limit(math.min(thr, Int.MaxValue.toLong).toInt).collect()
          } else head
        val pooled = pool.map(x => (x._2, x._3)).distinct.sortBy(identity).toSeq
        val bPool = spark.sparkContext.broadcast(pooled)
        annotated.flatMap { at =>
          InCount.inc()
          BioRules.extractTurn(at, bPool.value, bG.value)
        }
      } else if (!useJoin) {
        // broadcast path: surfaces sorted per conv so injection order (which
        // resolves overlapping-surface conflicts) is deterministic and
        // identical to the join path's
        val aliasMap = head.groupBy(_._1).map { case (conv, xs) =>
          conv -> xs.map(x => (x._2, x._3)).sortBy(identity).toSeq
        }
        val bAliases = spark.sparkContext.broadcast(aliasMap)
        annotated.flatMap { at =>
          InCount.inc()
          BioRules.extractTurn(at, bAliases.value.getOrElse(at.conv_id, Nil),
            bG.value)
        }
      } else {
        val defsByConv = defs.groupByKey(_._1).mapGroups { (conv, it) =>
          (conv, it.map(x => (x._2, x._3)).toArray.sortBy(identity).toSeq)
        }
        annotated
          .joinWith(defsByConv, annotated("conv_id") === defsByConv("_1"),
            "left_outer")
          .flatMap { case (at, d) =>
            InCount.inc()
            BioRules.extractTurn(at, if (d == null) Nil else d._2, bG.value)
          }
      }
    instrument(extracted, "mentions", runId, acc)
  }

  /** Context window policy for the fold stage —
    * [[ConvProcessor.PolicyBackward]] (default, Policy2/3 semantics) or
    * [[ConvProcessor.PolicyBidirectional]] (Policy4). Captured into the task
    * closure at plan-build time, so it is cluster-correct (never read from
    * the singleton on executors).
    */
  @volatile var contextPolicy: String = ConvProcessor.PolicyBackward

  def stageB(spark: SparkSession, mentions: Dataset[MentionRow],
             runId: String, acc: CollectionAccumulator[Lineage]): Dataset[StageBRow] = {
    import spark.implicits._
    val (_, bKb, bG) = Broadcasts.all(spark.sparkContext) // bG: taxonomy
    val policy = contextPolicy // driver-side capture, ships with the closure
    // the label closure is a pure function of the head label
    // (Lexicon.labelClosure) — shipping 5-7 closure strings per mention
    // through the conv_id exchange made the fold stage shuffle-bandwidth
    // bound (measured 1.44x per-task inflation 2->8 cores); send only the
    // head and rebuild on the reduce side
    val compact = mentions.map(m => m.copy(labels = Array(m.labels.head)))
      .withColumn("chunk", floor(col("turn_idx") / chunkTurns))
    // the grouping reuses this distribution (no second exchange)
    val grouped = compact
      .repartition(workSplits(spark), col("conv_id"), col("chunk"))
      .groupBy("conv_id", "chunk").as[(String, Long), MentionRow]
      .flatMapGroups { (key, it) =>
        Lexicon.withTaxonomy(bG.value.taxonomy) {
          val ms = it.map { m =>
            InCount.inc()
            m.copy(labels = Lexicon.labelClosure(m.labels.head))
          }.toSeq
          ConvProcessor.process(key._1, ms, bKb.value, policy).iterator
        }
      }
    instrument(grouped, "link_coref_emit", runId, acc)
  }

  def stageCanon(spark: SparkSession, b: Dataset[StageBRow]): DataFrame = {
    val aliases = b.filter(col("kind") === "alias")
      .select(col("alias.a").as("a"), col("alias.b").as("b"))
      // identity (winner) rewrite only when one side is effectively
      // ungrounded — the uaz failsafe namespace (reference Coref.scala:
      // 396-401: an ungrounded alias side ADOPTS the grounded side's
      // candidates; a both-grounded pair keeps each side's own winner and
      // only unions candidate lists, which the fold handles per
      // conversation). Without this guard a known<->known alias in one
      // conversation would rewrite the shared KB id corpus-wide.
      .where(col("a").startsWith("uaz:") || col("b").startsWith("uaz:"))
    Canon.connectedComponents(spark, aliases)
  }

  def stageMaterialize(spark: SparkSession, b: Dataset[StageBRow],
                       canonMap: DataFrame): (DataFrame, DataFrame) = {
    val canon = broadcast(canonMap)
    def canonized(df: DataFrame, c: String): DataFrame =
      df.join(canon.withColumnRenamed("gid", c)
          .withColumnRenamed("canon_id", c + "_canon"), Seq(c), "left")
        .withColumn(c, coalesce(col(c + "_canon"), col(c)))
        .drop(c + "_canon")

    val pre = b.filter(col("kind") === "triple").select("triple.*")
    val canonized2 = canonized(canonized(canonized(pre, "subj_gid"), "obj_gid"), "obj_gid2")
    val edges = canonized2
      .withColumn("obj",
        when(col("obj_pred") =!= "",
          concat(col("obj_pred"), lit("("), col("obj_gid"),
            when(col("site") =!= "", concat(lit("@"), col("site"))).otherwise(lit("")),
            lit(")")))
        .when(col("obj_gid2") =!= "",
          concat_ws("&", array_sort(concat(
            array(col("obj_gid"), col("obj_gid2")),
            when(col("obj_rest") =!= "", split(col("obj_rest"), "&"))
              .otherwise(array().cast("array<string>"))))))
        .otherwise(col("obj_gid")))
      .select(
        col("subj_gid").as("subj"), col("pred"), col("obj"), col("site"),
        col("negated"), col("hypothesis"), col("conv_id"), col("turn_idx"),
        col("evidence_text"), col("found_by"), col("trigger_text"),
        col("ctx_species"), col("ctx_organ"), col("ctx_cell_line"),
        col("ctx_cell_type"), col("cue"), col("sent_idx"), col("trig_start"),
        col("intra_cue"), col("tense"))
      .withColumn("edge_id", xxhash64(col("subj"), col("pred"), col("obj"),
        col("site"), col("negated"), col("hypothesis"), col("conv_id"),
        col("turn_idx")))
      // content-level dedup (reference corefDistinct A4): the same semantic
      // edge can be derived via multiple rule paths (entity-controller and
      // flattened event-controller regulations)
      .dropDuplicates("edge_id")

    val linked = b.filter(col("kind") === "linked").select("linked.*")
    val ents = linked.filter(col("is_event") === false && col("ns") =!= "")
      .withColumn("gid", concat(col("ns"), lit(":"), col("ns_id")))
    val entsCanon = canonized(ents.withColumnRenamed("gid", "canon_gid")
      .withColumnRenamed("canon_gid", "gid"), "gid")
      .withColumnRenamed("gid", "canon_id")
    import org.apache.spark.sql.expressions.Window
    val surfaceCounts = entsCanon.groupBy(col("canon_id"), col("text"),
        col("ns"), col("ns_id"), col("species"), col("labels"),
        col("display_label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("canon_id"))
      .orderBy(col("n").desc, col("text").asc, col("display_label").asc)
    val nodes = surfaceCounts
      .withColumn("rn", row_number().over(w))
      .groupBy(col("canon_id"))
      .agg(
        max(when(col("rn") === 1, col("text"))).as("display"),
        max(when(col("rn") === 1, col("labels")(0))).as("label"),
        // resolveDisplay disambiguation (ReachSystem.scala:249-293) carried
        // from the per-mention resolution: Family / Gene / Protein for GGPs
        max(when(col("rn") === 1, col("display_label"))).as("display_label"),
        max(when(col("rn") === 1, col("ns"))).as("ns"),
        max(when(col("rn") === 1, col("ns_id"))).as("ns_id"),
        max(when(col("rn") === 1, col("species"))).as("species"),
        // fan-in bound (same class as Emit.MaxListPerKey): keep the 1000
        // most-frequent surface forms — input is already distinct-per-form,
        // but an alias-heavy corpus could still grow one node's form set
        // without bound
        collect_set(when(col("rn") <= 1000, col("text")))
          .as("alias_surface_forms"))
    (edges, nodes)
  }

  // ---- checkpointed run (spark-submit path, resumable) -------------------

  def run(spark: SparkSession, turns: Dataset[Turn], workDir: String,
          resume: Boolean = true): Result = {
    import spark.implicits._
    val io = TableIO(workDir)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val acc = new CollectionAccumulator[Lineage]
    spark.sparkContext.register(acc, "lineage")

    if (!(resume && io.isComplete("mentions_raw"))) {
      io.write(stageMentions(spark, turns, runId, acc).toDF(), "mentions_raw")
    }
    val mentionsRaw = io.read(spark, "mentions_raw").as[MentionRow]

    if (!(resume && io.isComplete("stage_b"))) {
      io.write(stageB(spark, mentionsRaw, runId, acc).toDF(), "stage_b")
    }
    val b = io.read(spark, "stage_b").as[StageBRow]

    if (!(resume && io.isComplete("canon_map"))) {
      io.write(stageCanon(spark, b), "canon_map")
    }
    val canonMap = io.read(spark, "canon_map")

    if (!(resume && io.isComplete("edges") && io.isComplete("nodes"))) {
      val (edges, nodes) = stageMaterialize(spark, b, canonMap)
      io.write(edges, "edges")
      io.write(nodes, "nodes")
    }

    // merge lineage across resumes: a fully-resumed run must not destroy the
    // prior run's per-partition metrics (ADVICE r1); rows are keyed by run_id
    val newRows =
      scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala.toSeq
    if (newRows.nonEmpty) {
      val fresh = spark.createDataset(newRows).toDF()
      val merged =
        if (io.isComplete("lineage"))
          io.read(spark, "lineage").unionByName(fresh)
        else fresh
      // lineage is tiny (one row per task); localCheckpoint breaks the
      // self-referential read-then-overwrite plan
      io.write(merged.localCheckpoint(true), "lineage")
    } else if (!io.isComplete("lineage")) {
      io.write(spark.createDataset(Seq.empty[Lineage]).toDF(), "lineage")
    }
    Result(io.read(spark, "edges"), io.read(spark, "nodes"),
      io.read(spark, "lineage"))
  }

  /** In-memory path for tests and small corpora — same stage functions, no
    * checkpoint I/O.
    */
  def extract(spark: SparkSession, turns: Dataset[Turn]): Result = {
    val runId = "mem"
    val acc = new CollectionAccumulator[Lineage]
    spark.sparkContext.register(acc, "lineage-mem")
    val mentions = stageMentions(spark, turns, runId, acc)
    val b = stageB(spark, mentions, runId, acc)
    import spark.implicits._
    val bCached = b.cache()
    val canonMap = stageCanon(spark, bCached)
    val (edges, nodes) = stageMaterialize(spark, bCached, canonMap)
    val lineage = spark.createDataset(
      scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala.toSeq).toDF()
    Result(edges, nodes, lineage)
  }
}
