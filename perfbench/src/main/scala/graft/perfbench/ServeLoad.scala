package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Serve

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** The serve probe: one closed-loop client posting to `POST /api/text` on
  * `Serve.start`, in the benchmark's own process.
  */
object ServeLoad {
  final case class Req(text: String, format: String)
  final case class Done(req: Req, latencyS: Double, d: Delta)

  private val json = new ObjectMapper()

  /** Five requests, the 80/20 mix: four fries on seeded texts and one
    * indexcard on `card` at a seeded position.
    */
  def schedule(seed: Long, pool: Vector[String], card: String): Vector[Req] = {
    val rnd = new scala.util.Random(seed)
    val at = rnd.nextInt(5)
    Vector.tabulate(5)(i =>
      if (i == at) Req(card, "indexcard")
      else Req(pool(rnd.nextInt(pool.size)), "fries"))
  }

  def post(port: Int, r: Req): (Int, String) = {
    val c = new URI(s"http://127.0.0.1:$port/api/text?output=${r.format}")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.getOutputStream.write(r.text.getBytes(StandardCharsets.UTF_8))
      c.getOutputStream.close()
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      (code, new String(in.readAllBytes(), StandardCharsets.UTF_8))
    } finally c.disconnect()
  }

  /** Number of index cards in an indexcard resultJson array. */
  def cardCount(resultJson: String): Int = json.readTree(resultJson).size()

  /** The closed loop: send the next request when the previous one has
    * answered. Each answer is checked: HTTP 200, `hasError:false`, and for
    * indexcard the in-process card count.
    */
  def loop(h: Harness, port: Int, reqs: Seq[Req], expectCards: Int): Seq[Done] = {
    val out = mutable.ArrayBuffer.empty[Done]
    for (r <- reqs) {
      val m = h.probe.mark()
      val s0 = System.nanoTime()
      try {
        val (code, body) = post(port, r)
        val lat = (System.nanoTime() - s0) / 1e9
        val doc = json.readTree(body)
        val good = code == 200 && !doc.path("hasError").asBoolean(true) &&
          (r.format != "indexcard" || doc.path("resultJson").size() == expectCards)
        out += Done(r, lat, h.probe.since(m))
        if (!good) h.fail(s"${r.format} request: HTTP $code ${body.take(200)}")
      } catch { case e: Exception => h.fail(s"${r.format} request failed: $e") }
      h.attempted += 1
    }
    out.toSeq
  }

  /** Serve layer metrics over answered requests. */
  def layer(done: Seq[Done]): Seq[Metric] = {
    val n = math.max(done.size, 1).toDouble
    val jobMs = done.map(_.d.jobMs).sum
    Seq(
      Metric("Serve.jobs_per_req", done.map(_.d.jobs).sum / n, "count"),
      Metric("Serve.tasks_per_req", done.map(_.d.tasks).sum / n, "count"),
      Metric("Serve.spark_job_ms_per_req", jobMs / n, "ms"),
      Metric("Serve.driver_ms_per_req",
        (done.map(_.latencyS).sum * 1e3 - jobMs) / n, "ms"))
  }

  /** Serve layer metrics for the traced runs: one block of five requests
    * over the workload's own texts, after the in-process indexcard run (a
    * warm-up block changed the per-request figures by less than their
    * run-to-run spread and cost 15 s of the run's time limit).
    */
  def probe(h: Harness, texts: Vector[String]): Seq[Metric] = {
    val http = Serve.start(h.spark, 0)
    try {
      val card = texts(new scala.util.Random(h.o.seed ^ 0x5eedL).nextInt(texts.size))
      // the in-process card count for the check (also warms that path)
      val expect = cardCount(Serve.annotateText(h.spark, card, "indexcard", "ref"))
      layer(loop(h, http.getAddress.getPort, schedule(h.o.seed, texts, card), expect))
    } finally http.stop(0)
  }
}
