package perfbench

import graft.{LocalConf, Tables}
import graft.compile.Compiler
import graft.spec.JsonCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The config-path benchmark: one `local[nproc]` session, one client
  * thread, seeded configs driven through the public layer entry points
  * (`JsonCodec.parse` → `Compiler.validatePipeline` → `Compiler.compile`
  * → action, or `Compiler.compileStream`). See METRICS.md.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --trace-out FILE
  *
  * `--work` is a fresh directory this run owns (tables, artifacts,
  * checkpoints); the caller deletes it. The last stdout line is the
  * result JSON.
  */
object Main {
  val workloads = Seq("config_burst", "ingest_land")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val bench = new Bench(workload, kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("work"), kv("trace-out"))
    val code = try { bench.run(); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    // streams are stopped; the caller deletes the work directory, so the
    // seconds Spark's orderly shutdown takes would only lengthen the run
    bench.stopStreams()
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }
}

/** Order-insensitive result digest: row count plus the sum of per-row
  * xxhash64 over the columns in name order. */
final case class Digest(columns: String, rows: Long, hash: BigDecimal)

/** What one config or ingest lifecycle did: its wall from parse to the
  * last row, its latency samples, and a correctness check to run later. */
final case class Outcome(label: String, json: String, wallMs: Double, sourceRows: Long,
    samples: Seq[Double], error: Option[String], outputs: Seq[String] = Nil,
    warnings: Int = 0, progress: Seq[StreamingQueryProgress] = Nil,
    check: () => Option[String] = () => None)

final class Bench(workload: String, seed: Long, seconds: Int, tracing: Boolean,
    work: String, traceOut: String) {
  private val cores = Runtime.getRuntime.availableProcessors
  private val master = s"local[$cores]"
  private var spark: SparkSession = _
  private val tracer = new Tracer
  private val jobProbe = new JobProbe
  private val planProbe = new PlanProbe
  private var probing = false
  private var runs = 0

  /** ingest_land: staged event slices and events per slice. */
  private val slices = 10
  private val ingestEvents = Scale(0.04)

  private def log(s: String): Unit = println(s"[perfbench] $s")
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def span[A](run: Int, name: String)(f: => A): A =
    if (probing) tracer.time(run, name)(f) else f

  def stopStreams(): Unit =
    if (spark != null) spark.streams.active.foreach(q => scala.util.Try(q.stop()))

  def run(): Unit = {
    val t0 = System.nanoTime()
    spark = LocalConf(SparkSession.builder())
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    val sessionMs = ms(t0)
    spark.sparkContext.setLogLevel("ERROR")
    log(s"workload=$workload seed=$seed seconds=$seconds trace=${if (tracing) 1 else 0} " +
      s"nproc=$cores master=$master heap_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"java=${System.getProperty("java.version")} spark=${spark.version}")

    // inputs, before set-up is timed
    val t00 = System.nanoTime()
    val tables = s"$work/tables"
    val scale = Scale(0.01)
    Data.write(spark, tables, seed, scale)
    val stage = if (workload == "ingest_land") Some(stageSlices()) else None
    log(f"inputs: sf=${scale.sf} lineitem=${scale.lineitems} documents=${scale.documents}" +
      stage.fold("")(_ => s", ${ingestEvents.events} events in $slices slices") +
      f", written in ${ms(t00) / 1000}%.3f s")

    // set-up: session (above), views and functions, untimed warm-up
    val t1 = System.nanoTime()
    Tables.registerViews(spark, tables)
    graft.functions.Registry.registerAll(spark)
    val registerMs = ms(t1)
    val templates = new Templates(scale)
    val warm: Seq[Outcome] = stage match {
      case Some(st) => Seq(lifecycle(st, seed))
      // one round, drawn from a generator the timed rounds never use
      case None     =>
        val r = new Random(-seed - 1)
        Templates.all(templates).map(t => runConfig(t(r)))
    }
    val setupS = (sessionMs + ms(t1)) / 1000
    log(f"setup: session ${sessionMs / 1000}%.3f s, register $registerMs%.1f ms, " +
      f"warm-up ${(ms(t1) - registerMs) / 1000}%.3f s (${warm.size} units)")

    // timed closed loop: whole rounds of the template mix until the
    // deadline. A traced run executes every unit twice, untraced and
    // traced, alternating which goes first, so the walls pair up.
    var traceGc = 0.0
    val timed = mutable.ArrayBuffer[Outcome]()
    val traced = mutable.ArrayBuffer[Outcome]()
    val deadline = System.nanoTime() + seconds * 1000000000L
    var round = 0
    while (System.nanoTime() < deadline) {
      val r = new Random(seed * 1000003L + round)
      val units: Seq[() => Outcome] = stage match {
        case Some(st) => val p = r.nextLong(); Seq(() => lifecycle(st, p))
        case None     => r.shuffle(Templates.all(templates)).map(t => t(r)).map(c => () => runConfig(c))
      }
      units.foreach { u =>
        // the probes are attached only around traced units
        def probed(): Unit = {
          val g = gcMs()
          spark.sparkContext.addSparkListener(jobProbe)
          spark.listenerManager.register(planProbe)
          probing = true
          try traced += u() finally {
            probing = false
            spark.sparkContext.removeSparkListener(jobProbe)
            spark.listenerManager.unregister(planProbe)
          }
          traceGc += gcMs() - g
        }
        if (!tracing) timed += u()
        else if (traced.size % 2 == 0) { timed += u(); probed() }
        else { probed(); timed += u() }
      }
      round += 1
    }

    // correctness, outside every timed region
    val t2 = System.nanoTime()
    val all = warm ++ timed ++ traced
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val failures = try {
      // the checks are independent queries: run them side by side
      all.map(u => Future(u.error.orElse(u.check()).map(e => s"${u.label}: $e")))
        .flatMap(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
    failures.take(5).foreach(f => log(s"FAILED $f"))
    log(f"checks: ${all.size} units against their SQL twins in ${ms(t2) / 1000}%.3f s")
    log(s"config digest: ${digestOf((warm ++ timed).map(_.json.replace(work, "WORK")))} " +
      s"(${warm.size} warm-up + ${timed.size} timed units)")

    val (e2e, perLayer) = metrics(setupS, registerMs, timed.toSeq, traced.toSeq, traceGc)
    val metricsJson =
      (if (tracing) perLayer else e2e).map { case (k, (v, unit)) =>
        s""""$k": {"value": ${fmt(v)}, "unit": "$unit"}"""
      }.mkString("{", ", ", "}")
    if (tracing) writeTrace()
    println(s"""{"correct": ${failures.isEmpty}, "attempted": ${all.size}, """ +
      s""""failed": ${failures.size}, "metrics": $metricsJson}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  private def digestOf(xs: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach(x => md.update(x.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def digest(df: DataFrame): Digest = {
    val cols = df.columns.sorted
    val row = df.agg(count(lit(1)),
      sum(xxhash64(cols.map(c => col(s"`$c`")): _*).cast("decimal(38,0)"))).head()
    Digest(cols.mkString(","), row.getLong(0),
      Option(row.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Between units, untimed: release caches and, when probing, collect
    * the listener events of the unit into spans. */
  private def afterUnit(run: Int): Unit = {
    Compiler.releaseAllCaches()
    spark.catalog.clearCache()
    if (probing) {
      jobProbe.drain(spark)
      jobProbe.take().foreach { case (job, stages) =>
        tracer.add(run, "exec.job", job.start, job.end)
        stages.foreach { case ((sub, done), t) =>
          val s = tracer.add(run, "exec.stage", sub, done)
          stageTotals(s.id) = t
        }
      }
      planProbe.take().foreach { case (phase, a, b) =>
        tracer.add(run, s"catalyst.$phase", a, b)
      }
      tracer.close(run)
    }
  }
  private val stageTotals = mutable.Map[Int, StageTotals]()
  private val checked = scala.collection.concurrent.TrieMap[String, Digest]()

  /** One config the `graft.Run` way, timed from parse to the last row. */
  def runConfig(c: Config): Outcome = {
    val run = { runs += 1; runs }
    val t0 = System.nanoTime()
    val res = scala.util.Try(span(run, "config") {
      val spec = span(run, "spec.parse")(JsonCodec.parse(c.json))
      val errors = span(run, "compile.validate")(Compiler.validatePipeline(spark, spec))
      if (errors.nonEmpty) throw new IllegalArgumentException(errors.mkString("; "))
      val df = span(run, "compile.build")(Compiler.compile(spark, spec))
      span(run, "exec.action")(digest(df))
    })
    val wall = ms(t0)
    val warnings = Compiler.drainCompileWarnings().size
    afterUnit(run)
    Outcome(c.template, c.json, wall, c.sourceRows, Seq(wall), res.failed.toOption.map(_.toString),
      warnings = warnings, check = () => {
        val want = checked.getOrElseUpdate(c.json, digest(spark.sql(c.sql)))
        res.toOption.filter(_ != want).map(got => s"result $got, SQL twin $want")
      })
  }

  /** Stage the ingest events as `slices` parquet files in event-time
    * order (file times ascending, so `maxFilesPerTrigger = 1` replays them
    * in order). Returns the directory. */
  private def stageSlices(): String = {
    val dir = s"$work/ingest/stage"
    val tmp = s"$work/ingest/stage-tmp"
    val n = ingestEvents.events
    // event time increases with event id, so id ranges are time ranges
    Data.events(spark, seed, ingestEvents)
      .withColumn("slice", (col("event_id") * slices / n).cast("int"))
      .repartition(slices, col("slice"))
      .write.partitionBy("slice").parquet(tmp)
    Files.createDirectories(Paths.get(dir))
    val t0 = System.currentTimeMillis() - slices * 1000L
    (0 until slices).foreach { i =>
      val part = new File(s"$tmp/slice=$i").listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"slice $i: ${part.length} files")
      val to = Paths.get(dir, f"slice-$i%03d.parquet")
      Files.move(part.head.toPath, to, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(to, FileTime.fromMillis(t0 + i * 1000L))
    }
    dir
  }

  private def dataBytes(dir: String, all: Boolean = false): (Long, Int) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0)
    val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(f => all || f.getFileName.toString.endsWith(".parquet")).toSeq
    (files.map(Files.size).sum, files.size)
  }

  /** One ingest lifecycle: stream the staged slices into a hive-partitioned
    * table (watermark dedup, checkpoint), then lay the landed table out
    * again by range. Latency samples are the micro-batches. */
  def lifecycle(stage: String, paramSeed: Long): Outcome = {
    val run = { runs += 1; runs }
    val r = new Random(paramSeed)
    val delay = Seq("10 minutes", "20 minutes", "30 minutes")(r.nextInt(3))
    val ranges = Seq(2, 4, 8)(r.nextInt(3))
    val rangeBy = Seq(Seq("user_id"), Seq("event_type", "user_id"))(r.nextInt(2))
    val base = s"$work/ingest/run-$run"
    val (land, chk, lay) = (s"$base/land", s"$base/checkpoint", s"$base/relayout")
    val streamJson = s"""
      {"id": "land",
       "source": {"format": "parquet", "path": "$stage",
                  "options": {"maxFilesPerTrigger": "1"}},
       "derive": {"event_date": "to_date(ts)"},
       "watermark": {"col": "ts", "delay": "$delay"},
       "dedup": {"keys": ["event_id"], "within_watermark": true},
       "save": {"path": "$land", "format": "parquet", "mode": "append",
                "partition_by": ["event_date"], "output_mode": "append",
                "trigger": "available_now", "checkpoint": "$chk"}}"""
    val relayoutJson = s"""
      {"source": {"format": "parquet", "path": "$land"},
       "save": {"path": "$lay", "format": "parquet", "mode": "overwrite",
                "range_by": ${rangeBy.map(c => s""""$c"""").mkString("[", ", ", "]")},
                "ranges": $ranges}}"""
    val t0 = System.nanoTime()
    var progress: Seq[StreamingQueryProgress] = Nil
    val res = scala.util.Try(span(run, "lifecycle") {
      val spec = span(run, "spec.parse")(JsonCodec.parse(streamJson))
      val errors = span(run, "compile.validate")(Compiler.validatePipeline(spark, spec))
      if (errors.nonEmpty) throw new IllegalArgumentException(errors.mkString("; "))
      val q = span(run, "stream.start")(Compiler.compileStream(spark, spec))
      span(run, "stream.run")(q.awaitTermination())
      progress = q.recentProgress.toSeq
      val spec2 = span(run, "spec.parse")(JsonCodec.parse(relayoutJson))
      val errors2 = span(run, "compile.validate")(Compiler.validatePipeline(spark, spec2))
      if (errors2.nonEmpty) throw new IllegalArgumentException(errors2.mkString("; "))
      span(run, "sink.compile")(Compiler.compile(spark, spec2))
      ()
    })
    val wall = ms(t0)
    val warnings = Compiler.drainCompileWarnings().size
    if (probing) progress.foreach(p => batchSpans(run, p))
    afterUnit(run)
    val streamed = progress.map(_.numInputRows).sum
    val samples = progress.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").toDouble)
    Outcome("lifecycle", streamJson + relayoutJson, wall, streamed, samples,
      res.failed.toOption.map(_.toString), Seq(land, chk, lay), warnings, progress,
      check = () => {
        val want = digest(Compiler.compile(spark, JsonCodec.parse(streamJson), executeSinks = false))
        val got = digest(spark.read.parquet(land))
        val relaid = digest(spark.read.parquet(lay))
        val dropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
        if (got != want) Some(s"landed $got, batch compile $want")
        else if (relaid != got) Some(s"relayout $relaid, landed $got")
        else if (dropped != 0) Some(s"$dropped rows dropped by watermark")
        else None
      })
  }

  /** Spans for one micro-batch: the trigger, and its phases laid end to
    * end in execution order (progress reports durations, not offsets). */
  private def batchSpans(run: Int, p: StreamingQueryProgress): Unit = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
    val end = start + d.getOrElse("triggerExecution", 0.0)
    tracer.add(run, "stream.batch", start, end)
    var at = start
    Seq("latestOffset" -> "latest_offset", "walCommit" -> "wal_commit",
      "getBatch" -> "get_batch", "queryPlanning" -> "query_planning",
      "addBatch" -> "add_batch", "commitOffsets" -> "commit_offsets").foreach {
      case (k, name) => d.get(k).foreach { v =>
        val to = math.min(at + v, end)
        tracer.add(run, s"stream.$name", at, to)
        at = to
      }
    }
  }

  private def writeTrace(): Unit = {
    val f = Paths.get(traceOut)
    Files.createDirectories(f.getParent)
    Files.write(f, tracer.toJsonLines.toSeq.asJava)
    log(s"trace: ${tracer.spans.size} spans written to $traceOut")
  }

  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.floor(q * s.size).toInt))
  }
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def metrics(setupS: Double, registerMs: Double, timed: Seq[Outcome],
      traced: Seq[Outcome], gcTraced: Double)
      : (Seq[(String, (Double, String))], Seq[(String, (Double, String))]) = {
    val ok = timed.filter(_.error.isEmpty)
    val samples = ok.flatMap(_.samples)
    val wallS = ok.map(_.wallMs).sum / 1000
    val configs = if (workload == "ingest_land") 2 * ok.size else ok.size
    val p90 = quantile(samples, 0.9)
    val beyond = samples.count(_ > p90)
    log(f"latency: ${samples.size} samples, p50 ${median(samples)}%.1f ms, " +
      (if (beyond >= 10) f"p90 $p90%.1f ms ($beyond beyond it)"
       else s"p90 not reported ($beyond samples beyond it, fewer than 10)"))
    log("median wall by template: " + ok.groupBy(_.label).toSeq.sortBy(_._1).map { case (t, us) =>
      f"$t ${median(us.map(_.wallMs))}%.0f ms (n=${us.size})" }.mkString(", "))
    log(s"error_rate: ${timed.size - ok.size}/${timed.size} timed units failed")
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "latency_p50_ms" -> (median(samples), "ms"),
      "configs_per_s" -> (configs / wallS, "1/s"),
      "rows_per_s" -> (ok.map(_.sourceRows).sum / wallS, "1/s"))
    if (!tracing) return (e2e, Nil)

    // per-layer figures, from the traced pass
    val units = traced.size.toDouble
    val self = tracer.selfMs
    val spans = tracer.spans.toSeq
    def named(n: String) = spans.filter(_.name == n)
    def total(n: String) = named(n).map(_.ms).sum
    // per-action figures are 0 on a workload without actions
    val actions = math.max(1, named("exec.action").size).toDouble
    val inAction = spans.filter(_.name == "exec.action").map(_.id).toSet
    def underAction(s: Span): Boolean =
      s.parent >= 0 && (inAction(s.parent) || underAction(tracer.spans(s.parent)))
    val execJobs = named("exec.job").filter(underAction)
    val execStages = named("exec.stage").filter(underAction)
    def execSum(f: StageTotals => Long) =
      execStages.flatMap(s => stageTotals.get(s.id)).map(f).sum.toDouble
    val sinkStages = named("sink.stage").flatMap(s => stageTotals.get(s.id))
    val batches = traced.flatMap(_.progress)
    val nb = math.max(1, batches.size).toDouble
    def phase(k: String) = batches.map(b => Option(b.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / nb
    val lastState = traced.flatMap(_.progress.lastOption).map(_.stateOperators.toSeq)
    val outs = traced.flatMap(_.outputs).map(d => dataBytes(d))
    val allOut = traced.flatMap(_.outputs).map(d => dataBytes(d, all = true)._1).sum
    val stageIn = if (workload == "ingest_land") dataBytes(s"$work/ingest/stage")._1 else 0L
    val layers = Seq("client", "spec", "compile", "catalyst", "exec", "sink", "stream")
    val selfBy = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    val selfAll = math.max(1e-9, selfBy.values.sum)
    val untracedWall = timed.map(_.wallMs).sum
    val tracedWall = traced.map(_.wallMs).sum
    log(f"self time by layer (traced pass, ${traced.size} units): " +
      layers.map(l => f"$l ${100 * selfBy.getOrElse(l, 0.0) / selfAll}%.1f%%").mkString(", "))
    log(f"tracing overhead: traced wall $tracedWall%.1f ms - untraced wall $untracedWall%.1f ms " +
      f"= ${tracedWall - untracedWall}%.1f ms over the same ${traced.size} units")
    val perLayer = Seq(
      "spec.parse_ms" -> (total("spec.parse") / units, "ms"),
      "compile.validate_ms" -> (total("compile.validate") / units, "ms"),
      "compile.build_ms" -> (total("compile.build") / units, "ms"),
      "compile.jobs" -> (named("compile.job").size / units, "count"),
      "compile.warnings" -> (traced.map(_.warnings).sum / units, "count"),
      "catalyst.analysis_ms" -> (total("catalyst.analysis") / actions, "ms"),
      "catalyst.optimization_ms" -> (total("catalyst.optimization") / actions, "ms"),
      "catalyst.planning_ms" -> (total("catalyst.planning") / actions, "ms"),
      "exec.action_ms" -> (total("exec.action") / actions, "ms"),
      "exec.jobs" -> (execJobs.size / actions, "count"),
      "exec.stages" -> (execStages.size / actions, "count"),
      "exec.tasks" -> (execSum(_.tasks) / actions, "count"),
      "exec.task_ms" -> (execSum(_.taskMs) / actions, "ms"),
      "exec.task_cpu_ms" -> (execSum(_.cpuNs) / 1e6 / actions, "ms"),
      "exec.gc_ms" -> (execSum(_.gcMs) / actions, "ms"),
      "exec.task_overhead_ms" -> (execSum(_.overheadMs) / actions, "ms"),
      "exec.busy_ratio" -> (execSum(_.taskMs) / math.max(1e-9, total("exec.action") * cores), "ratio"),
      "exec.input_bytes" -> (execSum(_.inputBytes) / actions, "bytes"),
      "exec.shuffle_read_bytes" -> (execSum(_.shuffleRead) / actions, "bytes"),
      "exec.shuffle_write_bytes" -> (execSum(_.shuffleWrite) / actions, "bytes"),
      "exec.spill_bytes" -> (execSum(_.spill) / actions, "bytes"),
      "sink.ms" -> (spans.filter(_.layer == "sink").map(s => self(s.id)).sum / units, "ms"),
      "sink.bytes_written" -> (outs.map(_._1).sum / units, "bytes"),
      "sink.files_written" -> (outs.map(_._2).sum / units, "count"),
      "sink.records_written" -> (sinkStages.map(_.outRecords).sum / units, "count"),
      "sink.write_amp" -> (if (stageIn == 0) 0.0 else allOut / units / stageIn, "ratio"),
      "stream.batches" -> (batches.size / units, "count"),
      "stream.query_planning_ms" -> (phase("queryPlanning"), "ms"),
      "stream.add_batch_ms" -> (phase("addBatch"), "ms"),
      "stream.wal_commit_ms" -> (phase("walCommit"), "ms"),
      "stream.commit_offsets_ms" -> (phase("commitOffsets"), "ms"),
      "stream.latest_offset_ms" -> (phase("latestOffset"), "ms"),
      "stream.get_batch_ms" -> (phase("getBatch"), "ms"),
      "stream.state_rows" -> (lastState.map(_.map(_.numRowsTotal).sum).sum / units, "count"),
      "stream.state_memory_bytes" ->
        (lastState.map(_.map(_.memoryUsedBytes).sum).sum / units, "bytes"),
      "stream.rows_dropped_by_watermark" ->
        (batches.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble, "count"),
      "tables.register_ms" -> (registerMs, "ms"),
      "jvm.gc_ms" -> (gcTraced / units, "ms"),
      "trace.overhead_ms" -> ((tracedWall - untracedWall) / units, "ms")) ++
      layers.map(l => s"self.${l}_pct" -> (100 * selfBy.getOrElse(l, 0.0) / selfAll, "%"))
    (e2e, perLayer)
  }
}
