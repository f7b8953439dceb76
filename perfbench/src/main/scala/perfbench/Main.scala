package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}


/** Runs one workload in this JVM and writes the run record (every timed
  * operation, set-up times, per-layer metrics of the traced phase) as
  * JSON. Summary statistics and the oracle comparison are made from that
  * record by `perfbench/run.py`.
  *
  * An untraced run measures one phase of `--seconds`. A traced run
  * measures three: a warm phase for half of `--seconds`, which neither
  * side of the comparison counts, then a traced and an untraced phase of
  * `--seconds` each. The first passes over the full-size inputs run slower
  * than later ones (the warm-up on small inputs does not reach every code
  * path); the warm phase takes that cost, so both compared phases run warm.
  * What warming is left favours the untraced phase, which comes last, so
  * the tracing overhead errs high rather than low.
  *
  * Usage: perfbench.Main --workload sync|curation --seed N --seconds N
  *   --trace 0|1 --work DIR --data DIR --warm-data DIR --out FILE
  */
object Main {
  /** Exits with 0 only when the run record is written: a failure must not
    * leave the JVM waiting on the API server's or the readers' threads.
    */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val wl: Workload = a("workload") match {
      case "sync" => new SyncWorkload(work, seed, cores)
      case "curation" =>
        new QueryWorkload(a("data"), a("warm-data"), work, seed, cores)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: session start, inputs and API server, warm-up on small inputs
    val t0 = Clock.now()
    val spark = graft.Sessions.local(cores, "perfbench")
    val t1 = Clock.now()
    wl.prepare(spark)
    val t2 = Clock.now()
    val warmUpErrors = wl.warmUp()
    val t3 = Clock.now()

    val (phases, layers) =
      if (!traced) (Seq("plain" -> wl.measure(seconds, None, 0L)), Map.empty[String, Double])
      else {
        val warm = wl.measure(seconds / 2.0, None, 0L)
        val tracer = new Tracer(spark.sparkContext).attach()
        val phase = wl.measure(seconds, Some(tracer), 1000000L)
        tracer.detach()
        (phase.ops ++ phase.gets).foreach(o =>
          tracer.span(o.kind, o.id, o.startNs, o.endNs, Map("name" -> o.name, "ok" -> o.ok)))
        val layers = wl.layers(phase, tracer, cores)
        tracer.dump(Paths.get(a("out") + ".spans.jsonl"))
        (Seq("warm" -> warm, "traced" -> phase,
          "plain" -> wl.measure(seconds, None, 2000000L)), layers)
      }
    wl.close()

    val record = Map(
      "workload" -> wl.name,
      "env" -> Map(
        "nproc" -> cores,
        "local_width" -> spark.sparkContext.defaultParallelism,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version),
      "setup_s" -> Clock.seconds(t0, t3),
      "setup_parts_s" -> Map("session" -> Clock.seconds(t0, t1),
        "inputs" -> Clock.seconds(t1, t2), "warm_up" -> Clock.seconds(t2, t3)),
      "warmup_errors" -> warmUpErrors,
      "phases" -> phases.map {
        case (role, p) => Map("role" -> role, "passes" -> p.passes, "wall_s" -> p.wallS,
          "ops" -> p.ops.map(opJson), "gets" -> p.gets.map(opJson))
      },
      "layers" -> layers,
      "peak_rss_mb" -> peakRssMb()) ++ wl.record
    Files.write(Paths.get(a("out")), Json(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def opJson(o: Op): Map[String, Any] = Map(
    "id" -> o.id, "kind" -> o.kind, "name" -> o.name, "pass" -> o.pass,
    "latency_s" -> o.latencyS, "late_s" -> o.lateS, "ok" -> o.ok,
    "error" -> o.error, "digest" -> o.digest)

  /** The JVM's resident-set high-water mark (VmHWM). */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
}
