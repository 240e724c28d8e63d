package graft.perfbench

import graft.kg.Transcripts
import graft.model.{Triple, Turn}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's inputs, all derived from the seed. The program sees only
  * the written turns table.
  */
object Corpora {
  /** zipf_mega: the ROADMAP corpus shape (`Transcripts.corpus`: Zipf-length
    * conversations plus one mega-conversation) at its fixed content seed,
    * scaled to fit a run. The mega-conversation is longer than
    * `Pipeline.chunkTurns`, so the fold stage's chunk salting splits it
    * across tasks. The run's seed permutes the rows inside each input file.
    * Content, conversation ids and the file layout stay fixed: on four cores
    * the wall time of this corpus is set by which conversations share a
    * task with the mega-conversation, and seeding the content or the ids
    * made that lottery, not the program, the largest source of spread.
    */
  val zipfConvs = 120
  val zipfMegaTurns = 2500
  val zipfContentSeed = 42L
  /** golden_replay: copies of the hand-traced golden corpus. */
  val goldenCopies = 4

  /** The written input's size and, where the workload has one, its oracle
    * (built in whichever session checks it).
    */
  final case class Batch(turnsWritten: Long,
                         expected: Option[SparkSession => DataFrame])

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** A seed-derived prefix in front of a conversation id. */
  private def rename(seed: Long, salt: Long, conv: String): String =
    f"r${mix(seed * 1000003L + salt ^ mix(conv.hashCode.toLong)) >>> 40}%06x-$conv"

  def zipfMega(spark: SparkSession, seed: Long, path: String): Batch = {
    import spark.implicits._
    def gen(s: SparkSession) = Transcripts.corpus(s, zipfConvs, zipfContentSeed,
      megaTurns = zipfMegaTurns)
    gen(spark)._1.mapPartitions { it =>
      val part = org.apache.spark.TaskContext.getPartitionId()
      new scala.util.Random(mix(seed ^ part)).shuffle(it.toVector).iterator
    }.write.mode("overwrite").parquet(path)
    Batch(spark.read.parquet(path).count(), Some(s => gen(s)._2.toDF()))
  }

  /** The golden corpus replicated `goldenCopies` times; each copy's
    * conversations get seed-derived ids and the copies are laid out in a
    * seed-permuted order. Expected output: every copy's golden triples.
    */
  def goldenReplay(spark: SparkSession, seed: Long, path: String): Batch = {
    import spark.implicits._
    val (turns, triples) = Transcripts.golden
    val copies = new scala.util.Random(seed).shuffle((0 until goldenCopies).toList)
    val ts = copies.flatMap(k =>
      turns.map(t => t.copy(conv_id = rename(seed, k, s"$k-${t.conv_id}"))))
    val es = copies.flatMap(k =>
      triples.map(t => t.copy(conv_id = rename(seed, k, s"$k-${t.conv_id}"))))
    spark.createDataset[Turn](ts).write.mode("overwrite").parquet(path)
    Batch(spark.read.parquet(path).count(), Some { s =>
      import s.implicits._
      s.createDataset[Triple](es).toDF()
    })
  }
}
