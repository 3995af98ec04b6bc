package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--traces <dir>]`. Starts the session,
  * builds the workload's initial state [[Main.SetupRepeats]] times, warms
  * it up once (`setup_s` = session + median build + warm-up), measures for the
  * given seconds, prints the workload's named metrics and — when tracing
  * — the per-layer and self-time tables, and ends stdout with one JSON
  * line: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
  * metrics untraced, the per-layer metrics traced). The traced run also
  * writes its spans as JSON under `--traces`. */
object Main {
  /** Initial-state builds per run. The first absorbs the JVM's cold start;
    * `setup_s` takes the nearest-rank median, the lower of the two. */
  val SetupRepeats = 2
  val Workloads = Set("refresh", "backfill", "upsert", "ann")

  /** Gated end-to-end metrics, reported on every workload. */
  val EndToEnd: Seq[(String, String)] = Seq("op_p50_s" -> "s", "setup_s" -> "s")

  /** Per-layer metrics of the traced run; a layer a workload does not
    * touch reads 0 there. */
  val PerLayer: Seq[(String, String)] =
    Seq("streaming.ingest_s" -> "s", "streaming.jobs" -> "count") ++
      Medallion.tables.flatMap(t => Seq(s"pipeline.node.${t}_s" -> "s", s"pipeline.node.$t.jobs" -> "count")) ++
      Seq("pipeline.run_s" -> "s", "pipeline.jobs" -> "count", "pipeline.task_wall_ratio" -> "ratio",
        "pipeline.sched_delay_s" -> "s", "pipeline.shuffle_bytes" -> "bytes",
        "pipeline.spill_bytes" -> "bytes") ++
      graft.pipeline.Dashboard.all.keys.toSeq.sorted.map(d => s"pipeline.dashboard.${d}_s" -> "s") ++
      Seq("refresh.queue_wait_s" -> "s", "refresh.generator_late_s" -> "s",
        "sources.txlog.merge_jobs" -> "count", "sources.txlog.files_added" -> "count",
        "sources.txlog.files_removed" -> "count", "sources.txlog.bytes_written" -> "bytes",
        "sources.txlog.log_versions" -> "count", "sources.txlog.snapshot_s" -> "s",
        "sources.txlog.read_files" -> "count",
        "operators.graphann.search_jobs" -> "count", "operators.graphann.search_s" -> "s",
        "operators.graphann.build_s" -> "s", "refresh.corr_failures" -> "count",
        "freshness_p50_s" -> "s", "freshness_p90_s" -> "s", "freshness_misses" -> "count",
        "merge_p50_s" -> "s", "merge_p90_s" -> "s", "lookup_p50_s" -> "s", "lookup_p90_s" -> "s",
        "scan_p50_s" -> "s", "write_amp" -> "ratio",
        "search_p50_s" -> "s", "search_p90_s" -> "s", "recall_at_10" -> "ratio",
        "rows_per_s" -> "1/s", "failed_ratio" -> "ratio", "traced.op_p50_s" -> "s",
        "setup.session_s" -> "s", "setup.warm_up_s" -> "s")

  def session(): SparkSession = {
    // the session config of graft.Bench, at local[4]
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def metricsJson(values: Map[String, Double], names: Seq[(String, String)]): String =
    names.map { case (n, unit) =>
      val v = values.getOrElse(n, 0.0)
      s"${Json.str(n)}:{\"value\":${if (v.isFinite) v else 0.0},\"unit\":${Json.str(unit)}}"
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = Paths.get(need("work"))
    require(Workloads(name), s"unknown workload $name")
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, trace)
    val w: Workload = name match {
      case "refresh" => new Refresh(spark, tracer, seed)
      case "backfill" => new Backfill(spark, tracer, seed)
      case "upsert" => new Upsert(spark, tracer, seed)
      case "ann" => new Ann(spark, tracer, seed)
    }
    val setups = (1 to SetupRepeats).map { r =>
      val s0 = System.nanoTime()
      w.setup(work.resolve(s"setup-$r"))
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp(work.resolve("warm-up"))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + warmS + Stats.median(setups)
    val out = w.measure(seconds)
    val failedRatio = out.failed.toDouble / math.max(out.attempted, 1)

    println(f"perfbench $name seed=$seed seconds=$seconds trace=${if (trace) 1 else 0}")
    println(f"  setup_s               ${setupS}%.4f s   (session ${sessionS}%.3f s + warm-up ${warmS}%.3f s + median of " +
      setups.map(s => f"$s%.3f").mkString("[", ", ", "]") + " s)")
    Seq("op_p50_s" -> "s", "rows_per_s" -> "1/s").foreach { case (n, u) =>
      println(f"  $n%-21s ${out.e2e.getOrElse(n, 0.0)}%.4f $u")
    }
    out.report.foreach { case (n, v, u) => println(f"  $n%-32s $v%.4f $u") }
    println(f"  failed_ratio          $failedRatio%.4f ratio (${out.failed} of ${out.attempted} operations)")
    println("  op samples (s): " + out.samples.map(x => f"$x%.3f").mkString(" "))
    out.notes.foreach(n => println(s"  note: $n"))

    val metrics =
      if (!trace) metricsJson(out.e2e + ("setup_s" -> setupS), EndToEnd)
      else {
        val layer = out.layer ++ Map("failed_ratio" -> failedRatio,
          "rows_per_s" -> out.e2e.getOrElse("rows_per_s", 0.0),
          "traced.op_p50_s" -> out.e2e.getOrElse("op_p50_s", 0.0),
          "setup.session_s" -> sessionS, "setup.warm_up_s" -> warmS)
        println("  per-layer (traced):")
        PerLayer.foreach { case (n, u) => println(f"    $n%-52s ${layer.getOrElse(n, 0.0)}%14.4f $u") }
        println("  self time by span (s):  count      total       self")
        tracer.selfTimes.foreach { case (n, k, t, s) => println(f"    $n%-44s $k%6d $t%10.3f $s%10.3f") }
        val traces = opts.get("traces").map(Paths.get(_)).getOrElse(work.resolve("traces"))
        Files.createDirectories(traces)
        Files.write(traces.resolve(s"$name-seed$seed.json"),
          tracer.toJson(name, seed).getBytes(StandardCharsets.UTF_8))
        metricsJson(layer, PerLayer)
      }
    spark.stop()
    println(s"""{"correct":${out.correct},"attempted":${out.attempted},"failed":${out.failed},"metrics":$metrics}""")
  }
}
