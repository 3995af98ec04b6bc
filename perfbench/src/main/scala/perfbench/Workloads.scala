package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{GraphAnn, Similarity}
import graft.pipeline.{Dashboard, DiabetesPipeline, PipelineGraph, PipelineResult, RunContext, TableDef}
import graft.sources.{TxLog, TxPublish}
import graft.streaming.StreamingBronze

/** What one measured run produced. `e2e` holds the gated end-to-end
  * metrics, `layer` the traced per-layer ones, `report` the workload's
  * own named metrics (printed with their units on every run). */
final case class Outcome(
    attempted: Int, failed: Int, correct: Boolean,
    e2e: Map[String, Double],
    layer: Map[String, Double],
    report: Seq[(String, Double, String)],
    notes: Seq[String],
    /** The operation latencies behind `op_p50_s`, in run order. */
    samples: Seq[Double])

/** One benchmark workload. `setup` builds the initial state from scratch
  * in a fresh directory (the run repeats it and keeps the last; the
  * first repetition absorbs the cold start). `warmUp` then runs the
  * workload's operations untimed (JIT, codegen, first-use caches) on that
  * state, or on throwaway state where the measured state must start
  * empty. `measure` runs the timed loop. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer, val seed: Long) {
  def warmUp(dir: Path): Unit
  def setup(dir: Path): Unit
  def measure(seconds: Int): Outcome

  protected def now: Long = System.nanoTime()
  protected def secs(ns: Long): Double = ns / 1e9

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = now
    val r = body
    (r, secs(now - t0))
  }

  /** Block until Spark has had no active job for 200 ms: a failed
    * pipeline run leaves its sibling nodes' jobs running, and they must
    * not bleed into the next operation. */
  protected def waitIdle(): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = now + 60000000000L
    var quietSince = now
    while (now < deadline && now - quietSince < 200000000L) {
      if (tracker.getActiveJobIds().nonEmpty) quietSince = now
      Thread.sleep(10)
    }
  }

  protected def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  protected def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  protected def p90(xs: Seq[Double]): Double = Stats.p90(xs).getOrElse(0.0)
}

/** The medallion DAG plus its dashboards, shared by `refresh` and
  * `backfill`: one pipeline run with transactional sinks and a published
  * run, then the six dashboard datasets over the latest published run,
  * then (untimed) the model check of what was published. */
trait Medallion { self: Workload =>
  val rc: RunContext = RunContext.golden
  private val nodeStarts = new ConcurrentHashMap[String, java.lang.Long]()

  /** The pipeline's nodes; when tracing, each build first tags its pool
    * thread with the node name, so the build's jobs and the sink write
    * that follows on the same thread are attributed to the node. */
  def defs(bronze: DataFrame): Seq[TableDef] = {
    val plain = DiabetesPipeline.tableDefs(spark, rc, _ => bronze)
    if (!tracer.enabled) plain
    else plain.map { d =>
      d.copy(build = (read: PipelineResult.Reader) => {
        spark.sparkContext.setLocalProperty(Tracer.NodeProp, d.name)
        nodeStarts.put(d.name, System.nanoTime())
        d.build(read)
      })
    }
  }

  /** One pipeline run, traced as `pipeline.run` with its table nodes. */
  def runDag(bronze: DataFrame, tablesDir: Path, sinkPartitions: Option[Int], op: Long): PipelineResult = {
    nodeStarts.clear()
    var runId = 0L
    try tracer.span("pipeline.run", op) {
      runId = tracer.openSpan
      PipelineGraph.run(spark, defs(bronze), tablesDir.toString,
        sinkPartitions = sinkPartitions, transactionalSinks = true, publishRun = true)
    } finally if (tracer.enabled) {
      waitIdle()
      tracer.drain()
      nodeStarts.asScala.foreach { case (node, start) =>
        val c = tracer.countsOf(runId, node)
        if (c.jobs > 0)
          tracer.record(s"pipeline.node.$node", runId, op, start, math.max(start, c.lastJobEndNs))
      }
    }
  }

  /** The six dashboard datasets over the latest published run; returns
    * the KPI-card rows. */
  def readDashboards(tablesDir: Path, op: Long): Map[String, Double] =
    tracer.span("pipeline.dashboard", op) {
      TxPublish.readRun(spark, tablesDir.toString).foreach { case (n, df) =>
        df.createOrReplaceTempView(n)
      }
      var kpi = Map.empty[String, Double]
      Dashboard.all.toSeq.sortBy(_._1).foreach { case (ds, sql) =>
        val rows = tracer.span(s"pipeline.dashboard.$ds", op)(spark.sql(sql).collect())
        if (ds == "kpi_cards")
          kpi = rows.map(r => r.getString(0) -> r.getAs[Number](1).doubleValue).toMap
      }
      kpi
    }

  /** Validation summary of the latest published run and the run's
    * expectation counts, for the model check. */
  def published(tablesDir: Path, kpi: Map[String, Double], result: PipelineResult): Published = {
    val v = TxPublish.readTable(spark, tablesDir.toString, "data_validation_summary")
      .select("total_records", "valid_age_count", "valid_outcome_count",
        "valid_pregnancies_count", "valid_glucose_count", "valid_bmi_count")
      .collect()
    val validation =
      if (v.length != 1) Map.empty[String, Long]
      else v.head.schema.fieldNames.zipWithIndex.map { case (f, i) =>
        f -> v.head.getAs[Number](i).longValue }.toMap
    Published(kpi, validation,
      result.expectations.map(e => (e.table, e.expectation) -> (e.passedCount, e.failedCount)).toMap)
  }

  /** Per-layer numbers of the pipeline runs and dashboard reads so far. */
  def pipelineLayer(): Map[String, Double] = {
    val runs = tracer.named("pipeline.run").filter(_.op > 0)
    val per = runs.map(r => (r, tracer.totalOf(r.id)))
    def m(f: ((Span, Counts)) => Double) = med(per.map(f))
    val nodeMetrics = Medallion.tables.flatMap { n =>
      val spans = tracer.named(s"pipeline.node.$n").filter(_.op > 0)
      Seq(s"pipeline.node.${n}_s" -> med(spans.map(_.seconds)),
        s"pipeline.node.$n.jobs" -> med(runs.map(r => tracer.countsOf(r.id, n).jobs.toDouble)))
    }
    val dashboards = Dashboard.all.keys.toSeq.map { ds =>
      s"pipeline.dashboard.${ds}_s" -> med(tracer.named(s"pipeline.dashboard.$ds").filter(_.op > 0).map(_.seconds))
    }
    (Seq(
      "pipeline.run_s" -> m(_._1.seconds),
      "pipeline.jobs" -> m(_._2.jobs.toDouble),
      "pipeline.task_wall_ratio" -> m { case (s, c) => c.taskNs / 1e9 / s.seconds },
      "pipeline.sched_delay_s" -> m(_._2.schedDelayNs / 1e9),
      "pipeline.shuffle_bytes" -> m(_._2.shuffleWriteBytes.toDouble),
      "pipeline.spill_bytes" -> m(_._2.spillBytes.toDouble)) ++ nodeMetrics ++ dashboards).toMap
  }
}

object Medallion {
  /** The pipeline's materialized nodes (the views run no jobs). */
  val tables: Seq[String] =
    DiabetesPipeline.tableDefs(null, RunContext.golden, _ => null).filterNot(_.isView).map(_.name)
}

/** Open loop: a generator writes one 128-row shard every [[Refresh.Period]]
  * seconds into a watched directory; whenever an unprocessed shard
  * exists the loop runs the streaming bronze ingest, the pipeline and
  * the dashboards. Bronze starts empty and accumulates. A shard's
  * freshness runs from when it was due to the end of the first dashboard
  * read whose published run contains it. */
final class Refresh(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) with Medallion {
  import Refresh._
  private var dir: Path = _

  private def paths(d: Path) = (d.resolve("raw"), d.resolve("tables"),
    d.resolve("stream/bronze"), d.resolve("stream/checkpoint"))

  private def ingest(d: Path, op: Long): DataFrame = {
    val (raw, _, sink, ckpt) = paths(d)
    tracer.span("streaming.ingest", op) {
      StreamingBronze.ingest(spark, raw.toString, sink.toString, ckpt.toString, rc)
    }
  }

  /** [[WarmShards]] full refreshes (one shard more each time) of a fixed
    * corpus, so every seed's set-up does the same work. A warm-up run may
    * hit the known corr defect; it only has to warm the code paths. */
  def warmUp(d: Path): Unit = {
    val raw = paths(d)._1
    Files.createDirectories(raw)
    Corpus.shards(WarmSeed, WarmShards).zipWithIndex.foreach { case (rows, i) =>
      Corpus.writeShard(raw, Corpus.shardName(i), rows)
      val ok = try { runDag(ingest(d, 0), paths(d)._2, Some(1), 0); true }
      catch { case _: Throwable => waitIdle(); false }
      if (ok) readDashboards(paths(d)._2, 0)
    }
  }

  private var shards: Vector[Vector[Patient]] = _
  private def shardCount(seconds: Int) = math.max(1, math.ceil(seconds / Period).toInt)

  /** Bronze starts empty: the initial state is the empty directories and
    * the run's generated shards. */
  def setup(d: Path): Unit = {
    shards = Corpus.shards(seed, shardCount(MaxSeconds))
    dir = d
    Files.createDirectories(paths(d)._1)
  }

  def measure(seconds: Int): Outcome = {
    val (raw, tables, _, _) = paths(dir)
    val periodNs = (Period * 1e9).toLong
    val n = shardCount(seconds)
    require(n <= shards.size, s"--seconds above $MaxSeconds")
    val t0 = now + 50000000L
    val due = Array.tabulate(n)(i => t0 + i * periodNs)
    val wroteAt = new Array[Long](n)
    val written = new AtomicInteger(0)
    val generator = new Thread(() => {
      var i = 0
      while (i < n) {
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        Corpus.writeShard(raw, Corpus.shardName(i), shards(i))
        wroteAt(i) = System.nanoTime()
        written.set(i + 1)
        i += 1
      }
    })
    generator.setDaemon(true)
    generator.setName("perfbench-shard-generator")
    generator.start()

    val freshAt = Array.fill(n)(-1L)
    var ingested = 0
    var op = 0L
    var failed = 0; var wrong = 0; var corrFailures = 0; var corrPredicted = 0
    val cycles = Seq.newBuilder[Double]
    val latencies = Seq.newBuilder[Double]
    val queueWaits = Seq.newBuilder[Double]
    val notes = Seq.newBuilder[String]
    var rowsIngested = 0L
    val deadline = t0 + (seconds + Grace) * 1000000000L
    while (ingested < n && now < deadline) {
      val w = written.get
      if (w <= ingested) Thread.sleep(2)
      else {
        op += 1
        val start = now
        val oldestDue = due(ingested)
        queueWaits += secs(start - oldestDue)
        var result: Option[PipelineResult] = None
        var kpi = Map.empty[String, Double]
        tracer.span("refresh.cycle", op) {
          try {
            val bronze = ingest(dir, op)
            rowsIngested += (w - ingested).toLong * Corpus.ShardRows
            ingested = w
            result = Some(runDag(bronze, tables, Some(1), op))
          } catch {
            case e: Throwable =>
              failed += 1
              val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
                .map(x => String.valueOf(x.getMessage)).mkString(" / ")
              if (msg.contains("DIVIDE_BY_ZERO")) {
                corrFailures += 1
                if (Model.expected(shards.take(ingested).flatten).corrDivideByZero) corrPredicted += 1
              } else notes += s"refresh $op failed: ${msg.take(300)}"
              waitIdle()
          }
          // the refresh latency ends with the run, published or failed, so
          // a failing run is not cheaper than a good one; a failed run
          // publishes nothing new, so only a good one refreshes the dashboards
          latencies += secs(now - oldestDue)
          if (result.nonEmpty) kpi = readDashboards(tables, op)
        }
        val readEnd = now
        cycles += secs(readEnd - start)
        // untimed: which shards the published run holds, and whether its
        // gold matches the model of exactly those rows
        result.foreach { r =>
          val total = kpi.getOrElse("Total Patients", -1.0)
          val k = (total / Corpus.ShardRows).toInt
          val problems =
            if (total != k.toDouble * Corpus.ShardRows || k < 1 || k > w)
              Seq(s"published Total Patients $total is not a prefix of the $w written shards")
            else Model.check(Model.expected(shards.take(k).flatten), published(tables, kpi, r))
          if (problems.nonEmpty) {
            failed += 1; wrong += 1
            notes += s"refresh $op: ${problems.mkString("; ")}"
          } else (0 until k).foreach(i => if (freshAt(i) < 0) freshAt(i) = readEnd)
        }
      }
    }
    generator.join(Grace * 1000L)
    val fresh = (0 until n).filter(freshAt(_) >= 0).map(i => secs(freshAt(i) - due(i)))
    val misses = n - fresh.size
    val runEnd = now
    // a shard that never became fresh counts as a miss: its freshness is
    // at least its age when the run ended
    val censored = fresh ++ (0 until n).filter(freshAt(_) < 0).map(i => secs(runEnd - due(i)))
    val cyc = cycles.result()
    val late = (0 until written.get).map(i => secs(wroteAt(i) - due(i)))
    if (corrFailures > 0)
      notes += s"$corrFailures refresh(es) failed with DIVIDE_BY_ZERO in diabetes_feature_correlation " +
        s"(corr over a group with a constant column); the model predicted $corrPredicted of them"
    val freshP50 = Stats.median(censored)
    tracer.drain()
    val ingests = tracer.named("streaming.ingest").filter(_.op > 0)
    val layer =
      if (!tracer.enabled) Map.empty[String, Double]
      else pipelineLayer() ++ Map(
        "streaming.ingest_s" -> med(ingests.map(_.seconds)),
        "streaming.jobs" -> med(ingests.map(s => tracer.totalOf(s.id).jobs.toDouble)),
        "refresh.corr_failures" -> corrFailures.toDouble,
        "refresh.queue_wait_s" -> med(queueWaits.result()),
        "refresh.generator_late_s" -> (if (late.isEmpty) 0.0 else late.max))
    Outcome(
      attempted = op.toInt, failed = failed, correct = wrong == 0,
      e2e = Map("op_p50_s" -> med(latencies.result()),
        "rows_per_s" -> rowsIngested / math.max(cyc.sum, 1e-9)),
      layer = layer ++ Map(
        "freshness_p50_s" -> freshP50,
        "freshness_p90_s" -> p90(censored),
        "freshness_misses" -> misses.toDouble),
      report = Seq(
        ("freshness_p50_s", freshP50, "s"),
        ("freshness_p90_s", p90(censored), "s"),
        ("freshness_misses", misses.toDouble, "count"),
        ("shards", n.toDouble, "count"),
        ("refresh_latency_p50_s", med(latencies.result()), "s"),
        ("refresh_cycle_p50_s", med(cyc), "s"),
        ("queue_wait_p50_s", med(queueWaits.result()), "s"),
        ("generator_late_max_s", if (late.isEmpty) 0.0 else late.max, "s"),
        ("corr_divide_by_zero_refreshes", corrFailures.toDouble, "count")),
      notes = notes.result(), samples = latencies.result())
  }
}

object Refresh {
  /** Seconds between shard arrivals: about 1.5 times the warm refresh
    * time on 4 cores (local[4], about 4.2 s), so a refresh does not wait
    * for the previous one unless the pipeline slows down. */
  val Period = 6.5
  /** Longest measurement the generated corpus covers. */
  val MaxSeconds = 60
  /** Seconds after the last arrival the loop may run to process it. */
  val Grace = 30
  val WarmSeed = 1000003L
  val WarmShards = 3
}

/** Closed loop, one client: the same DAG (transactional sinks,
  * `sinkPartitions = None`) over a 32-shard corpus, run after run into
  * the same tables; each run's published gold is checked. */
final class Backfill(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) with Medallion {
  import Backfill._
  private lazy val corpus = Corpus.rows(seed, Shards * ShardRows)
  private lazy val model = Model.expected(corpus)
  private var dir: Path = _

  private def runOnce(d: Path, op: Long): (PipelineResult, Double) = timed {
    val bronze = DiabetesPipeline.bronzeBatch(spark, d.resolve("raw").toString, rc)
    runDag(bronze, d.resolve("tables"), None, op)
  }

  private def writeCorpus(d: Path): Unit = {
    val raw = d.resolve("raw")
    Files.createDirectories(raw)
    corpus.grouped(ShardRows).zipWithIndex.foreach { case (rows, i) =>
      Corpus.writeShard(raw, Corpus.shardName(i), rows)
    }
  }

  def warmUp(d: Path): Unit = {
    runOnce(dir, 0)
    readDashboards(dir.resolve("tables"), 0)
  }

  /** The initial state is the written corpus; the tables start empty. */
  def setup(d: Path): Unit = {
    writeCorpus(d)
    dir = d
  }

  def measure(seconds: Int): Outcome = {
    val end = now + seconds * 1000000000L
    val runs = Seq.newBuilder[Double]
    val notes = Seq.newBuilder[String]
    var op = 0L; var failed = 0; var wrong = 0
    while (now < end) {
      op += 1
      try {
        val (r, s) = runOnce(dir, op)
        runs += s
        val kpi = readDashboards(dir.resolve("tables"), op)
        val problems = Model.check(model, published(dir.resolve("tables"), kpi, r))
        if (problems.nonEmpty) {
          failed += 1; wrong += 1
          notes += s"backfill run $op: ${problems.mkString("; ")}"
        }
      } catch {
        case e: Throwable =>
          failed += 1
          notes += s"backfill run $op failed: ${String.valueOf(e.getMessage).take(300)}"
          waitIdle()
      }
    }
    val rs = runs.result()
    val rowsPerS = if (rs.isEmpty) 0.0 else corpus.size * rs.size / rs.sum
    tracer.drain()
    Outcome(
      attempted = op.toInt, failed = failed, correct = wrong == 0,
      e2e = Map("op_p50_s" -> med(rs), "rows_per_s" -> rowsPerS),
      layer = if (tracer.enabled) pipelineLayer() else Map.empty,
      report = Seq(("rows_per_s", rowsPerS, "1/s"), ("dag_p50_s", med(rs), "s"),
        ("corpus_rows", corpus.size.toDouble, "count"), ("runs", rs.size.toDouble, "count")),
      notes = notes.result(), samples = rs)
  }
}

object Backfill {
  val Shards = 32
  val ShardRows = 4096
}

/** Closed loop, one client, over a keyed patient table: each operation
  * is one `TxLog.merge` window (about 1 % of the keys updated plus new
  * keys inserted), then one key lookup and one dashboard-style scan,
  * both checked against a key -> row model. At every 10-commit
  * checkpoint version the whole table is compared with the model (row
  * count and an order-independent checksum), untimed. */
final class Upsert(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) {
  import Upsert._
  private val model = scala.collection.mutable.LongMap.empty[Model.Keyed]
  private var table: Path = _
  private var nextId = 0L
  private var window = 0
  private val rng = new scala.util.Random(seed * 31 + 7)

  private val schema = StructType(Seq(StructField("patient_id", LongType, nullable = false)) ++
    DiabetesPipeline.diabetesSchema.fields ++ Seq(StructField("rev", IntegerType, nullable = false)))

  private def frame(rows: Seq[(Long, Model.Keyed)], parts: Int): DataFrame = {
    val data = rows.map { case (id, k) =>
      val p = k.p
      Row(id, p.pregnancies, p.glucose, p.bloodPressure, p.skinThickness, p.insulin,
        p.bmi, p.pedigree, p.age, p.outcome, k.rev)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, parts), schema)
  }

  private def sourceBytes(rows: Seq[(Long, Model.Keyed)]): Long =
    rows.map { case (id, k) => s"$id,${k.p.csvLine},${k.rev}\n".length.toLong }.sum

  private def build(d: Path, rows: Int): Unit = {
    model.clear(); window = 0
    val init = Corpus.rows(seed, rows).zipWithIndex.map { case (p, i) => i.toLong -> Model.Keyed(p, 0) }
    init.foreach { case (id, k) => model(id) = k }
    nextId = rows.toLong
    table = d.resolve("patients")
    TxLog.overwrite(spark, table.toString, frame(init, TableFiles))
  }

  /** [[WarmCycles]] untimed merge windows with their lookups and scans. */
  def warmUp(d: Path): Unit = (1 to WarmCycles).foreach(_ => cycle(0))

  def setup(d: Path): Unit = build(d, TableRows)

  /** One merge window: ~1 % updates (fresh values, new rev) plus inserts. */
  private def nextSource(): Seq[(Long, Model.Keyed)] = {
    window += 1
    val fresh = Corpus.rows(seed * 1000 + window, UpdateRows + InsertRows)
    val keys = Iterator.continually(rng.nextInt(nextId.toInt).toLong).distinct.take(UpdateRows).toSeq
    val ins = (0 until InsertRows).map(i => nextId + i)
    nextId += InsertRows
    (keys ++ ins).zip(fresh).map { case (id, p) => id -> Model.Keyed(p, window) }
  }

  private val merges = Seq.newBuilder[Double]
  private val lookups = Seq.newBuilder[Double]
  private val scans = Seq.newBuilder[Double]
  private val snapshots = Seq.newBuilder[Double]
  private val readFiles = Seq.newBuilder[Double]
  private val mergeJobs = Seq.newBuilder[Double]
  private val filesAdded = Seq.newBuilder[Double]
  private val filesRemoved = Seq.newBuilder[Double]
  private val bytesWritten = Seq.newBuilder[Double]
  private var srcBytes = 0L
  private var tableBytesAdded = 0L
  private var mergedRows = 0L
  private val problems = Seq.newBuilder[String]

  /** Merge + lookup + scan; returns false when a check failed. */
  private def cycle(op: Long): Boolean = {
    val src = nextSource()
    val before = TxLog.snapshot(table.toString).files.map(_.path).toSet
    val bytes0 = dirBytes(table)
    val (_, mergeS) = timed(tracer.span("sources.txlog.merge", op) {
      TxLog.merge(spark, table.toString, frame(src, 1), "patient_id")
    })
    src.foreach { case (id, k) => model(id) = k }
    // untimed bookkeeping
    val after = TxLog.snapshot(table.toString).files.map(_.path).toSet
    val added = dirBytes(table) - bytes0
    val bad = Seq.newBuilder[String]

    val probe = (src.take(LookupKeys / 2).map(_._1) ++
      Seq.fill(LookupKeys / 2)(rng.nextInt(nextId.toInt).toLong)).distinct
    val (got, lookupS) = timed(tracer.span("upsert.lookup", op) {
      val (df, snapS) = timed(tracer.span("sources.txlog.snapshot", op)(TxLog.read(spark, table.toString)))
      if (op > 0) snapshots += snapS
      df.where(col("patient_id").isin(probe: _*)).collect()
    })
    val byId = got.map(r => r.getLong(0) -> r).toMap
    if (byId.size != probe.size) bad += s"lookup returned ${byId.size} of ${probe.size} keys"
    probe.foreach { id =>
      val k = model(id)
      byId.get(id).foreach { r =>
        val want = Row(id, k.p.pregnancies, k.p.glucose, k.p.bloodPressure, k.p.skinThickness,
          k.p.insulin, k.p.bmi, k.p.pedigree, k.p.age, k.p.outcome, k.rev)
        if (r != want) bad += s"lookup $id = $r, expected $want"
      }
    }

    val (agg, scanS) = timed(tracer.span("upsert.scan", op) {
      TxLog.read(spark, table.toString).groupBy("Outcome")
        .agg(count(lit(1)), sum("Glucose"), sum(expr("CAST(round(BMI * 10) AS BIGINT)")))
        .collect()
    })
    val wantAgg = model.values.groupBy(_.p.outcome).map { case (o, ks) =>
      o -> (ks.size.toLong, ks.map(_.p.glucose.toLong).sum, ks.map(_.p.bmiTenths.toLong).sum)
    }
    val gotAgg = agg.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    if (gotAgg != wantAgg) bad += s"scan = $gotAgg, expected $wantAgg"

    val version = TxLog.latestVersion(table.toString)
    if (version % TxLog.checkpointInterval == 0) {
      val row = TxLog.read(spark, table.toString)
        .agg(count(lit(1)), sum(expr(Model.rowHashSql))).head()
      val want = Model.tableDigest(model)
      if ((row.getLong(0), row.getLong(1)) != want)
        bad += s"table digest at v$version = (${row.getLong(0)}, ${row.getLong(1)}), expected $want"
    }
    if (op > 0) {
      merges += mergeS; lookups += lookupS; scans += scanS
      readFiles += after.size.toDouble
      filesAdded += (after -- before).size.toDouble
      filesRemoved += (before -- after).size.toDouble
      bytesWritten += added.toDouble
      srcBytes += sourceBytes(src); tableBytesAdded += added; mergedRows += src.size
      if (tracer.enabled) {
        tracer.drain()
        tracer.named("sources.txlog.merge").lastOption.foreach(s =>
          mergeJobs += tracer.totalOf(s.id).jobs.toDouble)
      }
    }
    val b = bad.result()
    problems ++= b.map(s"window $window: " + _)
    b.isEmpty
  }

  def measure(seconds: Int): Outcome = {
    val end = now + seconds * 1000000000L
    val v0 = TxLog.latestVersion(table.toString)
    var op = 0L; var failed = 0; var wrong = 0
    val notes = Seq.newBuilder[String]
    while (now < end) {
      op += 1
      try if (!cycle(op)) { failed += 1; wrong += 1 }
      catch {
        case e: Throwable =>
          failed += 1
          notes += s"upsert window $op failed: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    val versions = TxLog.latestVersion(table.toString) - v0
    val ms = merges.result()
    val writeAmp = tableBytesAdded.toDouble / math.max(srcBytes, 1L)
    val rowsPerS = mergedRows / math.max(ms.sum, 1e-9)
    val layer = Map(
      "sources.txlog.merge_jobs" -> med(mergeJobs.result()),
      "sources.txlog.files_added" -> med(filesAdded.result()),
      "sources.txlog.files_removed" -> med(filesRemoved.result()),
      "sources.txlog.bytes_written" -> med(bytesWritten.result()),
      "sources.txlog.log_versions" -> versions.toDouble,
      "sources.txlog.snapshot_s" -> med(snapshots.result()),
      "sources.txlog.read_files" -> med(readFiles.result()),
      "merge_p50_s" -> med(ms), "merge_p90_s" -> p90(ms),
      "lookup_p50_s" -> med(lookups.result()), "lookup_p90_s" -> p90(lookups.result()),
      "scan_p50_s" -> med(scans.result()), "write_amp" -> writeAmp)
    Outcome(
      attempted = op.toInt, failed = failed, correct = wrong == 0 && problems.result().isEmpty,
      e2e = Map("op_p50_s" -> med(ms), "rows_per_s" -> rowsPerS),
      layer = if (tracer.enabled) layer else Map.empty,
      report = Seq(("merge_p50_s", med(ms), "s"), ("merge_p90_s", p90(ms), "s"),
        ("lookup_p50_s", med(lookups.result()), "s"), ("lookup_p90_s", p90(lookups.result()), "s"),
        ("scan_p50_s", med(scans.result()), "s"), ("write_amp", writeAmp, "ratio"),
        ("log_versions", versions.toDouble, "count")),
      notes = notes.result() ++ problems.result(), samples = ms)
  }
}

object Upsert {
  val TableRows = 200000
  val UpdateRows = 2000
  val InsertRows = 500
  val LookupKeys = 16
  val TableFiles = 8
  val WarmCycles = 5
}

/** Closed loop over a graph ANN index: set-up writes 2,000 64-d
  * embeddings and builds the degree-6 k-NN graph; each operation is one
  * `GraphAnn.searchTopK` over a seeded block of queries, k = 10.
  * Recall is measured afterwards against exact `Similarity.topK`. */
final class Ann(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) {
  import Ann._
  private var vectors: DataFrame = _
  private var graph: DataFrame = _
  private val rng = new scala.util.Random(seed * 17 + 3)
  private val builds = Seq.newBuilder[Double]

  /** Write the embeddings under `d` and build the graph over them. */
  def setup(d: Path): Unit = {
    val path = d.resolve("embeddings.parquet").toString
    val rows = Corpus.embeddings(CorpusSeed, Vectors, Dim, Labels).map { case (id, v, l) => Row(id, v.toSeq, l) }
    val schema = StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).write.parquet(path)
    vectors = spark.read.parquet(path).select("vec_id", "embedding")
    val cents = vectors.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    val (g, t) = timed(tracer.span("operators.graphann.build", 0) {
      GraphAnn.buildKnnGraph(vectors, cents, m = 6, rounds = 1)
    })
    builds += t
    graph = g
  }

  def warmUp(d: Path): Unit = (1 to WarmSearches).foreach(_ => search(nextBlock(), 0))

  private def nextBlock(): Seq[Long] =
    Iterator.continually(rng.nextInt(Vectors).toLong).distinct.take(QueryBlock).toSeq

  private def search(block: Seq[Long], op: Long): Array[Row] =
    tracer.span("operators.graphann.search", op) {
      GraphAnn.searchTopK(vectors, graph, vectors.filter(col("vec_id").isin(block: _*)),
        k = K, beam = 8, hops = 2, entryCount = 4).collect()
    }

  def measure(seconds: Int): Outcome = {
    val end = now + seconds * 1000000000L
    val times = Seq.newBuilder[Double]
    val results = Seq.newBuilder[(Seq[Long], Array[Row])]
    val notes = Seq.newBuilder[String]
    var op = 0L; var failed = 0; var wrong = 0
    while (now < end) {
      op += 1
      val block = nextBlock()
      try {
        val (rows, s) = timed(search(block, op))
        times += s
        results += ((block, rows))
        // every query gets k distinct valid ids, none of them itself
        val byQ = rows.groupBy(_.getLong(0))
        val ok = block.forall { q =>
          byQ.get(q).exists { rs =>
            val ids = rs.map(_.getLong(1))
            ids.length == K && ids.distinct.length == K && ids.forall(i => i >= 0 && i < Vectors && i != q)
          }
        } && byQ.keySet == block.toSet
        if (!ok) { failed += 1; wrong += 1; notes += s"search $op returned an invalid top-$K" }
      } catch {
        case e: Throwable =>
          failed += 1
          notes += s"search $op failed: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    // untimed: exact top-k of every query asked, for recall
    val asked = results.result()
    val queries = asked.flatMap(_._1).distinct
    val exact = Similarity.topK(vectors, vectors.filter(col("vec_id").isin(queries: _*)), K)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = asked.flatMap { case (_, rows) =>
      rows.groupBy(_.getLong(0)).toSeq.map { case (q, rs) =>
        rs.count(r => exact.getOrElse(q, Set.empty[Long]).contains(r.getLong(1))).toDouble / K
      }
    }
    val recall = if (hits.isEmpty) 0.0 else hits.sum / hits.size
    val ts = times.result()
    tracer.drain()
    val layer = Map(
      "operators.graphann.search_s" -> med(ts),
      "operators.graphann.search_jobs" -> med(tracer.named("operators.graphann.search")
        .filter(_.op > 0).map(s => tracer.totalOf(s.id).jobs.toDouble)),
      "operators.graphann.build_s" -> med(builds.result()),
      "search_p50_s" -> med(ts), "search_p90_s" -> p90(ts), "recall_at_10" -> recall)
    Outcome(
      attempted = op.toInt, failed = failed, correct = wrong == 0,
      e2e = Map("op_p50_s" -> med(ts), "rows_per_s" -> QueryBlock * ts.size / math.max(ts.sum, 1e-9)),
      layer = if (tracer.enabled) layer else Map.empty,
      report = Seq(("search_p50_s", med(ts), "s"), ("search_p90_s", p90(ts), "s"),
        ("recall_at_10", recall, "ratio"), ("build_p50_s", med(builds.result()), "s")),
      notes = notes.result(), samples = ts)
  }
}

object Ann {
  val Vectors = 2000
  /** The corpus is fixed, like the `embeddings` test table: a graph's
    * search cost depends on its shape, which varied by about 25 % from
    * corpus to corpus; `--seed` picks the query blocks. */
  val CorpusSeed = 42L
  val Dim = 64
  val Labels = 10
  val K = 10
  val QueryBlock = 16
  val WarmSearches = 6
}
