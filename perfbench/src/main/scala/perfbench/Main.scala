package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

final case class OpResult(name: String, seconds: Double, error: Option[String])

/** A workload: what set-up loads and warms, and one timed pass. */
trait Workload {
  def tables: Seq[String]
  def opCount: Int
  /** Typical wall of one timed pass on a 4-core box; `--seconds` over it,
    * rounded up, is how many passes a run times. */
  def nominalPassS: Double
  /** The set-up warm-up: every operation at least once. */
  def warm(spark: SparkSession): Seq[OpResult]
  def pass(spark: SparkSession, order: scala.util.Random): Seq[OpResult]
  /** Output checks after the timed phase: (operation, reason) per failure.
    * Batch workloads write their outputs to `checkDir` here for the
    * launcher's oracle check. */
  def check(spark: SparkSession, checkDir: String): Seq[(String, String)]
}

/** Benchmark process for one workload run: set-up (session, table loads,
  * warm-up pass), closed-loop timed passes, then the untimed output checks.
  * The timed phase runs ceil(seconds / nominal pass time) whole passes:
  * a fixed count, because pass times keep falling over the first passes
  * as the JIT warms (at a pace that differs from run to run), so a count
  * that depended on elapsed time would move the medians. Writes `record.json` (and `spans.jsonl` when
  * traced) into `--out`; the launcher turns the record into the result
  * line. One client, one driver thread: each operation starts only after
  * the previous one completed. */
object Main {
  /** The session every run uses: Bench's confs at local[cpus]. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Fixed single-threaded scalar loop: box speed, recorded beside the
    * metrics so drift between boxes can be told from code changes. */
  def calibrate(): Double = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 200000000L) {
      h = java.lang.Long.rotateLeft(h * 0x100000001B3L, 17) ^ i
      i += 1
    }
    val dt = secs(t0)
    if (h == 42L) System.err.println("")
    dt
  }

  /** Whole-machine busy jiffies from /proc/stat (user..steal minus idle
    * and iowait), or -1 where unavailable. */
  def busyJiffies(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val cpu = try src.getLines().next() finally src.close()
    val f = cpu.trim.split("\\s+").drop(1).map(_.toLong)
    f.take(8).zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
  } catch { case _: Throwable => -1L }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }

  def storedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val knobs = sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted
    if (knobs.nonEmpty) {
      System.err.println("perfbench: refusing to run with engine knobs set in the " +
        s"environment (${knobs.mkString(", ")}); unset them so the defaults are measured")
      sys.exit(2)
    }
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = a("data")
    val out = a("out")
    val cpus = a("cpus").toInt
    val work = s"$out/work"
    Files.createDirectories(Paths.get(work))

    val calibS = calibrate()
    val tracer = new Tracer(traced)
    val workload: Workload = workloadName match {
      case "query_batch" => new Batch(data, tracer)
      case "ingest_drops" => new Ingest(seed, data, s"$work/ingest", tracer)
      case other => System.err.println(s"perfbench: unknown workload $other"); sys.exit(2)
    }
    val counters = new SparkCounters(tracer)
    val anomalies = new AnomalyCounter
    val recordsRead = new RecordsRead

    // ---- set-up: session, table loads, warm-up pass ---------------------
    // Once per run: the warm-up pass is most of a run's cost, and repeating
    // it would not fit the benchmark's time budget.
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = secs(t0)
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
      spark.streams.addListener(counters.streaming)
    }
    val t1 = System.nanoTime()
    workload.tables.foreach(n => tracer("tables.load")(graft.Tables.load(spark, data, n)))
    val loadS = secs(t1)
    // untimed input generation, outside set-up
    workload match { case i: Ingest => i.prepare(spark); case _ => () }
    val t2 = System.nanoTime()
    val warmResults = tracer("setup.warmup")(workload.warm(spark))
    val warmS = secs(t2)
    val setupS = sessionS + loadS + warmS
    System.err.println(f"[perfbench] set-up: session $sessionS%.2f s, loads $loadS%.2f s, warm-up $warmS%.2f s")
    val pinnedMb = storedMb(spark)
    if (traced) anomalies.attach()

    // ---- timed phase: a fixed number of closed-loop passes ---------------
    def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    drain()
    System.gc()
    val gc0 = gcMs()
    val busy0 = busyJiffies(); val cpu0 = processCpuNs()
    counters.counting = true
    spark.sparkContext.addSparkListener(recordsRead)
    val rnd = new scala.util.Random(seed)
    /** per pass: (wall s, results, start us, end us, source records read) */
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[OpResult], Long, Long, Long)]
    val nPasses = math.max(1, math.ceil(seconds / workload.nominalPassS).toInt)
    val tStart = System.nanoTime()
    for (_ <- 1 to nPasses) {
      val r0 = recordsRead.get
      val p0 = tracer.nowUs()
      val t0 = System.nanoTime()
      val results = tracer("pass")(workload.pass(spark, rnd))
      val wall = secs(t0)
      val p1 = tracer.nowUs()
      drain()
      passes += ((wall, results, p0, p1, recordsRead.get - r0))
    }
    val timedS = secs(tStart)
    counters.counting = false
    spark.sparkContext.removeSparkListener(recordsRead)
    val busy1 = busyJiffies(); val cpu1 = processCpuNs()
    val gcS = (gcMs() - gc0) / 1e3
    val cachedMb = storedMb(spark)
    val ambient =
      if (busy0 < 0 || busy1 < 0 || cpu0 < 0) -1.0
      else math.max(0.0, (busy1 - busy0) / 100.0 / timedS - (cpu1 - cpu0) / 1e9 / timedS)
    if (traced) anomalies.detach()

    // ---- untimed output checks ----------------------------------------
    val tCheck = System.nanoTime()
    val checkDir = s"$out/check"
    val checkFailures = warmResults.collect { case OpResult(n, _, Some(e)) => n -> e } ++
      workload.check(spark, checkDir)
    val ingestWritten = workload match {
      case i: Ingest => Some(passes.indices.map(i.written))
      case _ => None
    }
    System.err.println(f"[perfbench] timed ${timedS}%.2f s, checks ${secs(tCheck)}%.2f s")
    val conf = spark.sparkContext.getConf.getAll.toMap
    graft.operators.WarmState.releaseAll(spark)
    spark.stop()

    // ---- metrics -------------------------------------------------------
    val nPass = passes.size.toDouble
    // Best-of-passes statistics: pass times keep falling over the first
    // passes as the JIT warms, at a pace that differs between runs, and
    // noise can only slow a pass, so each operation's fastest pass is its
    // steadiest estimate (the trial minima of ROADMAP's A/B rule).
    val samples = passes.flatMap(_._2).filter(!_.seconds.isNaN).toSeq
    val opBest = samples.groupBy(_.name).map { case (_, rs) => rs.map(_.seconds).min }.toSeq
    val best = passes.minBy(_._1)
    val batchS = best._1
    // input rows of the fastest pass: the dropped rows for ingest, the
    // records the batch queries read from their sources (files and pinned
    // blocks) otherwise
    val inputRows = workload match {
      case i: Ingest => i.inputRowsPerPass
      case _ => best._5
    }
    val opP50 = Stats.median(opBest)
    val opTail = opBest.maxOption.getOrElse(Double.NaN)
    val e2e = scala.collection.mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "batch_s" -> (batchS, "s"),
      "op_p50_s" -> (opP50, "s"),
      "op_tail_s" -> (opTail, "s"),
      "rows_per_s" -> (inputRows / batchS, "rows/s"))

    val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val spans = tracer.finish()
    if (traced) {
      val self = Tracer.selfTimes(spans)
      val byId = spans.map(s => s.id -> s).toMap
      def ancestors(s: Span): Iterator[Span] =
        Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
          .takeWhile(_.isDefined).map(_.get)
      val timed = spans.filter(s => ancestors(s).exists(_.name == "pass"))
      def spanS(name: String): Double =
        timed.filter(_.name == name).map(s => s.end - s.start).sum / 1e6 / nPass
      def jobsUnder(pred: String => Boolean): Double =
        timed.count(s => s.name == "spark.job" && ancestors(s).exists(x => pred(x.name))) / nPass
      def per(v: Double) = v / nPass
      val mb = 1048576.0
      layer ++= Seq(
        "tables.load_s" -> (loadS, "s"),
        "tables.scan_mb" -> (per(counters.inputB / mb), "MB"),
        "tables.scan_rows" -> (per(counters.inputRows.toDouble), "rows"))
      for (fam <- Seq("relational", "events", "text", "dedup", "similarity",
                      "multimodal", "sampling", "corpus")) {
        layer += s"operators.$fam.construct_s" -> (spanS(s"operators.$fam.construct"), "s")
        layer += s"operators.$fam.execute_s" -> (spanS(s"operators.$fam.execute"), "s")
        layer += s"operators.$fam.jobs" -> (jobsUnder(_.startsWith(s"operators.$fam.")), "count")
      }
      layer += "operators.construct_jobs" -> (jobsUnder(_.endsWith(".construct")), "count")
      layer ++= Seq(
        "plans.analysis_s" -> (per(counters.phaseNs("analysis") / 1e9), "s"),
        "plans.optimizer_s" -> (per(counters.phaseNs("optimization") / 1e9), "s"),
        "plans.planning_s" -> (per(counters.phaseNs("planning") / 1e9), "s"),
        "setup.warmup_s" -> (warmS, "s"),
        "warmstate.pinned_mb" -> (pinnedMb, "MB"))
      val gapS = passes.map { case (_, _, p0, p1, _) =>
        val jobs = counters.jobIntervalsUs.toSeq
          .map { case (s, e) => (math.max(s, p0), math.min(e, p1)) }.filter { case (s, e) => e > s }
        ((p1 - p0) - Stats.unionLength(jobs)) / 1e6
      }.sum
      val taskS = counters.taskMs / 1e3
      layer ++= Seq(
        "spark.jobs" -> (per(counters.jobs.toDouble), "count"),
        "spark.stages" -> (per(counters.stages.toDouble), "count"),
        "spark.tasks" -> (per(counters.tasks.toDouble), "count"),
        "spark.task_s" -> (per(taskS), "s"),
        "spark.task_cpu_s" -> (per(counters.taskCpuNs / 1e9), "s"),
        "spark.busy_cores" -> (taskS / passes.map(_._1).sum, "cores"),
        "spark.driver_gap_s" -> (per(gapS), "s"),
        "spark.shuffle_read_mb" -> (per(counters.shuffleReadB / mb), "MB"),
        "spark.shuffle_write_mb" -> (per(counters.shuffleWriteB / mb), "MB"),
        "spark.spill_mb" -> (per(counters.spillB / mb), "MB"),
        "spark.max_task_share" -> (counters.maxTaskShare, "ratio"),
        "spark.gc_s" -> (per(gcS), "s"),
        "spark.cached_mb" -> (cachedMb, "MB"),
        "spark.failed_tasks" -> (per(counters.failedTasks.toDouble), "count"),
        "spark.block_recompute" -> (per(anomalies.blockRecompute.get.toDouble), "count"),
        "spark.accum_update_fail" -> (per(anomalies.accumUpdateFail.get.toDouble), "count"))
      val written = ingestWritten.getOrElse(Nil)
      val inputBytes = workload match { case i: Ingest => i.inputBytesPerPass; case _ => 0L }
      layer ++= Seq(
        "sources.jdbc_extract_s" -> (spanS("sources.jdbc_extract"), "s"),
        "sources.email_mapping_s" -> (spanS("sources.email_mapping"), "s"),
        "sources.write_daily_s" -> (spanS("sources.write_daily"), "s"),
        "sources.compact_s" -> (spanS("sources.compact"), "s"),
        "sources.archive_s" -> (spanS("sources.archive"), "s"),
        "sources.catalog_sync_s" -> (spanS("sources.catalog_sync"), "s"),
        "sources.files_written" -> (written.map(_._2.toDouble).sum / nPass, "count"),
        "sources.written_mb" -> (written.map(_._3 / mb).sum / nPass, "MB"),
        "sources.stored_bytes_per_input_byte" ->
          (if (inputBytes == 0) 0.0 else written.map(_._1.toDouble).sum / nPass / inputBytes, "ratio"),
        "streaming.events_drain_s" -> (spanS("streaming.events_drain"), "s"),
        "streaming.dedup_drain_s" -> (spanS("streaming.dedup_drain"), "s"),
        "streaming.batches" -> (per(counters.streamBatches.toDouble), "count"),
        "streaming.rows" -> (per(counters.streamRows.toDouble), "rows"),
        "streaming.add_batch_s" -> (per(counters.addBatchMs / 1e3), "s"),
        "streaming.commit_s" -> (per(counters.commitMs / 1e3), "s"))
      // the traced run's own end-to-end figures, for the tracing overhead
      e2e.foreach { case (k, v) => layer += s"traced.$k" -> v }
      layer ++= Seq("box.calib_s" -> (calibS, "s"), "box.ambient_cores" -> (ambient, "cores"))

      val w = Files.newBufferedWriter(Paths.get(s"$out/spans.jsonl"))
      try spans.sortBy(_.start).foreach { s =>
        w.write(Json(scala.collection.immutable.ListMap(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_us" -> s.start, "end_us" -> s.end, "self_us" -> self(s.id))))
        w.newLine()
      } finally w.close()
    }

    val spanSummary = spans.groupBy(_.name).map { case (n, ss) =>
      val self = Tracer.selfTimes(spans)
      n -> Map("count" -> ss.size, "total_s" -> ss.map(s => s.end - s.start).sum / 1e6,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e6)
    }
    def metricJson(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }
    val record = scala.collection.immutable.ListMap(
      "workload" -> workloadName, "seed" -> seed, "trace" -> traced,
      "seconds" -> seconds, "timed_s" -> timedS, "passes" -> passes.size,
      "ops_per_pass" -> workload.opCount,
      "attempted" -> passes.map(_._2.size).sum,
      "op_errors" -> passes.flatMap(_._2).collect { case OpResult(n, _, Some(e)) => Map("op" -> n, "why" -> e) },
      "op_names" -> passes.flatMap(_._2).map(_.name),
      "check_failures" -> checkFailures.map { case (n, w) => Map("op" -> n, "why" -> w) },
      "check_dir" -> (workload match { case _: Batch => checkDir; case _ => null }),
      "end_to_end" -> metricJson(e2e),
      "per_layer" -> metricJson(layer),
      "op_samples" -> samples.size, "ops_timed" -> opBest.size,
      "session_s" -> sessionS, "pass_s_all" -> passes.map(_._1),
      "warm_seconds" -> warmResults.groupBy(_.name).map { case (n, rs) => n -> rs.map(_.seconds) },
      "op_seconds" -> passes.flatMap(_._2).groupBy(_.name).map { case (n, rs) => n -> rs.map(_.seconds) },
      "input_rows_per_pass" -> inputRows,
      "records_read_per_pass" -> passes.map(_._5),
      "cpus" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "calib_s" -> calibS, "ambient_cores" -> ambient,
      "spark_conf" -> conf.filter { case (k, _) => !k.startsWith("spark.app.") && !k.startsWith("spark.driver.") },
      "span_summary" -> spanSummary)
    Files.writeString(Paths.get(s"$out/record.json"), Json(record))
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }
}
