package graft.perfbench

import java.io.File

/** Benchmark JVM entry point; `perfbench/run.py` launches it and turns its
  * result file into the benchmark's output line.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <result.json> --cpus <n>
  *
  * One run: session start, seeded input generation, the base
  * materialization, one warm-up step, then the measured prefix of
  * closed-loop steps, then more steps until `--seconds` of operation time
  * have passed, then the correctness checks. Every compared metric covers
  * the prefix only, so each commit samples the same steps.
  */
object Main {

  private val t0 = System.nanoTime()
  /** Progress line on stderr (the JVM log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f s] $msg")

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch { case e: Throwable =>
      e.printStackTrace()
      sys.exit(1) // without a result file: run.py reports the failure
    }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new File(args("work")).getAbsoluteFile
    val cpus = args("cpus").toInt

    val spark = graft.Verify.session(cpus.toString, Map(
      "spark.local.dir" -> Util.ensureDir(new File(work, "local")).toString) ++
      (if (traced) Map("spark.hadoop.fs.file.impl" ->
        classOf[CountingLocalFileSystem].getName) else Map.empty))
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = uptimeS()
    if (traced) Trace.install(spark)

    val w: Workload = workload match {
      case "elt_incremental" => new Elt(spark, work, seed, cpus)
      case "llm_store_lifecycle" => new Llm(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: seeded generation, base materialization, warm-up; setup_s is
    // the JVM's uptime when the first timed operation starts
    val (_, genS) = Util.seconds(w.generate())
    log(f"inputs generated: $genS%.2f s")
    val (_, matS) = Util.seconds(w.materialize())
    log(f"base materialized: $matS%.2f s")
    val (_, warmS) = Util.seconds(w.warmup())
    val setupS = uptimeS()
    log(f"warm-up $warmS%.2f s; setup_s $setupS%.2f")

    // timed phase: the measured prefix (traced when asked), then more
    // steps, outside every compared metric, until the engine-time budget
    // is spent
    val client = new Client
    val gc0 = Trace.gcSeconds()
    val spill0 = Trace.spillBytes.sum; val failed0 = Trace.failedTasks.sum
    val bytes0 = Trace.fsBytesWritten(); val input0 = w.consumedInputBytes
    Trace.setRecording(traced)
    val (_, wallS) = Util.seconds {
      (0 until w.prefixSteps).foreach(i => w.step(i, client))
    }
    Trace.setRecording(false)
    val prefixOps = client.ops.size
    val gcS = Trace.gcSeconds() - gc0
    val spill = Trace.spillBytes.sum - spill0
    val failedTasks = Trace.failedTasks.sum - failed0
    val writeAmp = (Trace.fsBytesWritten() - bytes0).toDouble /
      (w.consumedInputBytes - input0)
    val (disk, compact) = w.spaceBytes()
    val spaceAmp = disk.toDouble / compact
    log("space measured")
    val extras = if (traced) w.layerExtras() else Map.empty[String, Double]
    log(f"prefix of ${w.prefixSteps} steps: $wallS%.2f s")
    var i = w.prefixSteps
    while (client.engineSeconds < seconds && i < w.maxSteps) {
      w.step(i, client); i += 1
    }
    val steps = i
    log(s"timed phase done: $steps steps")

    val checks = try w.checks() catch { case e: Throwable =>
      e.printStackTrace()
      Seq(Check("checks", ok = false, s"checks threw: $e"))
    }

    log("checks done")
    val layers: Map[String, Double] = if (!traced) Map.empty else {
      val t = Trace.totals(new File(work, "spans.jsonl"))
      val zero = Trace.Totals(0, 0, 0, 0, 0, 0, 0, 0, 0)
      Spans.flatMap { n =>
        Trace.CounterNames.zip(Trace.counterValues(t.getOrElse(n, zero)))
          .map { case (c, v) => s"$n.$c" -> v }
      }.toMap ++ Map("spark.gc_s" -> gcS, "spark.spill_bytes" -> spill.toDouble,
        "spark.failed_tasks" -> failedTasks.toDouble, "trace.wall_s" -> wallS) ++
        ExtraLayers.map(_ -> 0.0) ++ extras
    }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "steps" -> steps,
      "prefix_steps" -> w.prefixSteps,
      "prefix_ops" -> prefixOps,
      "session_s" -> sessionS, "generate_s" -> genS,
      "materialize_s" -> matS, "warmup_s" -> warmS, "setup_s" -> setupS, "wall_s" -> wallS,
      "write_amp" -> writeAmp, "space_amp" -> spaceAmp,
      "disk_bytes" -> disk, "compact_bytes" -> compact,
      "ops" -> client.ops.map(o => Map("kind" -> o.kind,
        "s" -> o.seconds, "ok" -> o.ok)),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)),
      "layers" -> layers,
      "rss_peak_mb" -> Util.rssPeakMb())
    val out = new java.io.PrintWriter(new File(args("out")), "UTF-8")
    try out.println(Json.write(result)) finally out.close()
    spark.stop()
    log("session stopped")
    // threads a streaming query leaves behind would otherwise hold the JVM
    sys.exit(0)
  }

  /** Seconds since the JVM started. */
  private def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Every span the per-layer metrics name, by workload. A span a
    * workload does not call reports zeros. */
  val Spans: Seq[String] = Seq(
    "pipeline.model_graph", "mat.incremental_merge",
    "mat.incremental_delete_insert", "mat.incremental_insert_overwrite",
    "exec.snapshot", "exec.data_tests", "exec.maintain_table",
    "sql.query", "functions.macros",
    "streaming.dedup_ingest", "llm.index_ingest", "llm.index_search",
    "llm.index_maintain")

  /** Per-layer figures outside the span counters, with zero defaults. */
  val ExtraLayers: Seq[String] = Seq("llm.index_ingest.rotate_frac",
    "exec.maintain_table.rewrite_frac", "llm.index_search.recall_at_k")
}
