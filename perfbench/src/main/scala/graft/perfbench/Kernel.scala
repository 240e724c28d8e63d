package graft.perfbench

import graft.kg._
import graft.model.{AnnotatedTurn, MentionRow, Turn}

/** Single-thread sampled kernel trace: times the per-turn and per-sentence
  * kernels of the mentions and fold stages on the calling thread, over a
  * seeded sample of whole conversations, with no Spark in the way.
  */
object Kernel {
  final case class Out(turns: Int, sents: Int, mentions: Int,
                       annotateUsPerSent: Double, depUsPerSent: Double,
                       matchUsPerSent: Double, mentionsPerSent: Double,
                       fireShare: Double, aliasUsPerTurn: Double,
                       convUsPerMention: Double, triplesPerMention: Double)

  /** Conversations longer than `maxConvTurns` (the mega-conversation) are
    * left out: its fold chunks are measured by the stage spans instead.
    */
  def trace(h: Harness, input: Seq[Turn], sampleTurns: Int,
            maxConvTurns: Int = 200): Out = {
    val (bTrie, bKb, bG) = Broadcasts.all(h.spark.sparkContext)
    val (trie, kb, g) = (bTrie.value, bKb.value, bG.value)
    val convs = input
      .filter(t => t.role != "tool" && t.text != null && t.text.nonEmpty)
      .groupBy(_.conv_id).values.map(_.sortBy(_.turn_idx).toVector)
      .filter(_.size <= maxConvTurns).toVector.sortBy(_.head.conv_id)
    val shuffled = new scala.util.Random(h.o.seed).shuffle(convs)
    val picked = shuffled.scanLeft(0)(_ + _.size).zip(shuffled)
      .takeWhile(_._1 < sampleTurns).map(_._2)

    def pass(): Out = {
      var annNs, depNs, extNs, aliasNs, convNs = 0L
      var nTurns, nSents, nMentions, nFired, nTriples = 0
      def clock[T](f: => T)(add: Long => Unit): T = {
        val t0 = System.nanoTime(); val r = f
        add(System.nanoTime() - t0); r
      }
      picked.foreach { conv =>
        val id = conv.head.conv_id
        val ats = conv.map { t =>
          AnnotatedTurn(id, t.turn_idx, t.role,
            clock(Annotate.annotateText(trie, t.text))(annNs += _))
        }
        nTurns += ats.size
        ats.foreach(_.sents.foreach(s => clock(DepParser.parse(s))(depNs += _)))
        val aliases = ats.flatMap(at =>
          clock(BioRules.aliasDefsTurn(at, g))(aliasNs += _))
          .map(d => (d._2, d._3)).distinct.sorted
        val mentions: Seq[MentionRow] = Lexicon.withTaxonomy(g.taxonomy) {
          ats.flatMap(at => at.sents.toSeq.flatMap { s =>
            val ms = clock(BioRules.extractSentence(id, at.turn_idx, s,
              aliases, g))(extNs += _)
            nSents += 1
            if (ms.nonEmpty) nFired += 1
            ms
          })
        }
        nMentions += mentions.size
        val rows = Lexicon.withTaxonomy(g.taxonomy) {
          val ms = mentions.map(m =>
            m.copy(labels = Lexicon.labelClosure(m.labels.head)))
          clock(ConvProcessor.process(id, ms, kb))(convNs += _)
        }
        nTriples += rows.count(_.kind == "triple")
      }
      val s = math.max(nSents, 1).toDouble
      val m = math.max(nMentions, 1).toDouble
      Out(nTurns, nSents, nMentions, annNs / 1e3 / s, depNs / 1e3 / s,
        // self time: extractSentence parses each sentence once itself
        (extNs - depNs) / 1e3 / s, nMentions / s, nFired / s,
        aliasNs / 1e3 / math.max(nTurns, 1), convNs / 1e3 / m, nTriples / m)
    }
    pass() // warm-up: JIT the kernels before timing them
    pass()
  }
}
