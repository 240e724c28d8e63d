package graft.perfbench

/** The benchmark's entry point (started by `perfbench/run.py`):
  *
  *   --workload zipf_mega|golden_replay --seed N --seconds S
  *   --trace 0|1 [--out DIR] [--cpus N]
  *
  * Prints metric lines, then one JSON object as the last line of stdout:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones.
  * The run artifact (host controls, set-up readings, raw readings) and the
  * trace spans are written under DIR.
  */
object PerfBench {
  val workloads = Seq("zipf_mega", "golden_replay")

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1",
      kv.getOrElse("out", ".bench_build/perfbench"),
      kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    require(workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val h = new Harness(o)
    val metrics =
      try {
        val m = if (o.trace) Batch.traced(h) else Batch.timed(h)
        if (o.trace) m
        else m ++ Seq(
          Metric("setup_s", h.setupS, "s"),
          Metric("live_heap_mb", h.heapMb.max, "MB"))
      } finally h.stop()

    val errorRate = h.failed.toDouble / math.max(h.attempted, 1)
    metrics.foreach(m => println(f"${m.name}%-36s ${m.value}%14.4f ${m.unit}"))
    println(f"${"error_rate"}%-36s $errorRate%14.4f fraction " +
      s"(${h.failed} of ${h.attempted} operations)")
    h.controls.foreach { case (w, s, a, st) =>
      println(f"control $w%-20s serial $s%.3f s  all-core $a%.3f s  host steal $st%.2f s") }
    println(f"setup ${h.setupS}%.3f s from process start (session ${h.sessionS}%.3f s, " +
      f"broadcasts ${h.broadcastS}%.3f s)")

    def obj(ms: Seq[Metric]): String = ms.map(m =>
      s""""${m.name}":{"value":${m.value},"unit":"${m.unit}"}""").mkString("{", ",", "}")
    val extra = h.artifact.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    h.writeText(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json",
      s"""{"workload":"${o.workload}","seed":${o.seed},"seconds":${o.seconds},""" +
        s""""cpus":${o.cpus},"attempted":${h.attempted},"failed":${h.failed},""" +
        s""""controls":${h.controlsJson},"setup_s":${h.setupS},""" +
        s""""session_s":${h.sessionS},"broadcast_s":${h.broadcastS},""" +
        s""""live_heap_mb":${Stats.arr(h.heapMb)},"metrics":${obj(metrics)}""" +
        (if (extra.isEmpty) "" else "," + extra) + "}\n")
    println(s"""{"correct":${h.failed == 0},"attempted":${h.attempted},""" +
      s""""failed":${h.failed},"metrics":${obj(metrics)}}""")
  }
}
