package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** Command-line settings of one benchmark process. `data` holds the
  * generated input tables, `work` is the run's private working directory
  * (the process also runs with it as its current directory). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, work: String, out: String, cpus: Int,
                      opts: Map[String, String]) {
  def int(k: String, d: Int): Int = opts.get(k).map(_.toInt).getOrElse(d)
}

/** What one workload run hands back: end-to-end figures from the untraced
  * phase, per-layer figures from the traced phase, check results, and the
  * epoch millisecond at which its warm-up ended. */
final case class Outcome(e2e: Map[String, Double], samples: Map[String, Any],
                         layers: Map[String, Double], attempted: Long,
                         failures: Seq[String], warmEndMs: Long,
                         extra: Map[String, Any] = Map.empty)

/** Everything the listeners saw during one measured phase. */
final case class Observed(work: Map[String, Work], jobs: Seq[JobRec],
                          plans: Seq[PlanPhase], heapPeakMb: Double)

object Main {

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.get("trace").contains("1"), kv("data"), kv("work"), kv("out"),
      kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      kv -- Seq("workload", "seed", "seconds", "trace", "data", "work", "out", "cpus"))
    val launched = kv.get("launched-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val json =
      try {
        val (spark, sessionS) = setup(a, launched)
        val o = a.workload match {
          case "behavior_batch" => BatchWorkload.run(spark, a)
          case "reference_stream" => StreamWorkload.run(spark, a)
          case w => sys.error(s"unknown workload $w")
        }
        val stamp = Map(
          "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
          "traced" -> a.trace, "cpus" -> a.cpus,
          "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
          "spark" -> spark.version, "java" -> System.getProperty("java.version"),
          "session_start_s" -> sessionS)
        spark.stop()
        Json(Map("ok" -> true, "stamp" -> stamp,
          "e2e" -> (o.e2e + ("setup_s" -> (o.warmEndMs - launched) / 1e3)),
          "samples" -> o.samples, "layers" -> o.layers, "attempted" -> o.attempted,
          "failures" -> o.failures, "extra" -> o.extra))
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Json(Map("ok" -> false, "error" -> e.toString))
      }
    Files.write(Paths.get(a.out), json.getBytes(StandardCharsets.UTF_8))
    // streaming and scheduler threads must not keep the JVM alive
    System.exit(0)
  }

  /** A fresh session on the run's private directories. */
  def session(a: Args): SparkSession = {
    val s = GraftSession.builder("perfbench", a.cpus)
      .master(s"local[${a.cpus}]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The cold start every run pays: JVM launch, session start and the
    * first read every workload makes (the events decode probe and one
    * aggregation), in seconds since launch. `setup_s` runs on from here to
    * the end of the workload's warm-up. */
  def setup(a: Args, launchedMs: Long): (SparkSession, Double) = {
    val spark = session(a)
    Tables.events(spark, a.data).groupBy("event_type").count().collect()
    (spark, (System.currentTimeMillis() - launchedMs) / 1e3)
  }

  /** Drops what a finished op left cached or persisted. */
  def resetState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def blockMgrMb(a: Args): Double =
    Option(new File(s"${a.work}/local").listFiles()).getOrElse(Array.empty[File])
      .map(dirBytes).sum / 1048576.0

  /** Installs the tracing listeners, runs `body`, and returns what they saw. */
  def observe[T](spark: SparkSession)(body: => T): (T, Observed) = {
    val jobs = new JobProbe
    val plans = new PlanProbe
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    try {
      val r = body
      Probe.drain(spark)
      val heap = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      (r, Observed(jobs.snapshot(), jobs.jobs(), plans.phases.asScala.toList, heap))
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
  }

  /** Job and stage spans under the span registered for each job's key
    * (a benchmark op phase or a streaming batch), plus planning phases
    * under the innermost op phase that contains them. */
  def attach(tracer: Tracer, obs: Observed, parentOf: JobRec => Option[Int]): Unit = {
    obs.jobs.foreach { j =>
      parentOf(j).foreach { p =>
        val jid = tracer.add("spark.job", p, j.start, j.end, Map("job" -> j.id.toString))
        j.stages.foreach { case (s, a, b) =>
          tracer.add("spark.stage", jid, a, b, Map("stage" -> s.toString))
        }
      }
    }
    val holders = tracer.spans.filter(s => s.name == "queries.construct" || s.name == "exec")
    obs.plans.foreach { ph =>
      holders.filter(h => h.start <= ph.start && ph.end <= h.end).sortBy(_.dur).headOption
        .foreach(h => tracer.add(s"plans.${ph.phase}", h.id, ph.start, ph.end))
    }
  }

  /** Per-layer figures every workload reports from its traced phase;
    * `per` divides totals into per-pass figures for the batch loop. */
  def execLayers(obs: Observed, per: Double, constructKeys: String => Boolean,
                 constructS: Double, a: Args): Map[String, Double] = {
    val all = new Work
    obs.work.values.foreach(all += _)
    val cons = new Work
    obs.work.filter { case (k, _) => constructKeys(k) }.values.foreach(cons += _)
    def phase(p: String) = obs.plans.filter(_.phase == p).map(x => x.end - x.start).sum.toDouble
    Map(
      "queries.construct_s" -> constructS / per,
      "queries.construct_jobs" -> cons.jobs / per,
      "queries.construct_job_frac" -> (if (all.jobs == 0) 0.0 else cons.jobs.toDouble / all.jobs),
      "queries.result_bytes" -> all.resultBytes / per,
      "plans.analyze_ms" -> phase("analysis") / per,
      "plans.optimize_ms" -> phase("optimization") / per,
      "plans.physical_ms" -> phase("planning") / per,
      "sources.bytes_read" -> all.bytesRead / per,
      "sources.rows_read" -> all.rowsRead / per,
      "exec.jobs" -> all.jobs / per,
      "exec.stages" -> all.stages / per,
      "exec.tasks" -> all.tasks / per,
      "exec.cpu_s" -> all.cpuNs / 1e9 / per,
      "exec.run_s" -> all.runMs / 1e3 / per,
      "exec.gc_s" -> all.gcMs / 1e3 / per,
      "exec.sched_wait_s" -> all.schedWaitMs / 1e3 / per,
      "exec.shuffle_read_bytes" -> all.shuffleRead / per,
      "exec.shuffle_write_bytes" -> all.shuffleWrite / per,
      "exec.spill_bytes" -> all.spill / per,
      "exec.stage_reuse_frac" -> frac(all.skippedStages, all.skippedStages + all.stages),
      "exec.task_retry_frac" -> frac(all.failedTasks, all.tasks),
      "jvm.heap_peak_mb" -> obs.heapPeakMb,
      "disk.blockmgr_mb" -> blockMgrMb(a))
  }

  def frac(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  /** Streaming per-layer figures from progress reports of data and
    * no-data batches alike. */
  def streamLayers(ps: Seq[StreamingQueryProgress], stateDiskBytes: Double,
                   dataBatches: Int): Map[String, Double] = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def mean(f: StreamingQueryProgress => Double) =
      if (ps.isEmpty) 0.0 else ps.map(f).sum / ps.size
    def custom(p: StreamingQueryProgress, k: String): Double =
      p.stateOperators.map(o => Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val last = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
    val inRows = ps.map(_.numInputRows).sum
    val dropped = ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    Map(
      "plans.stream_planning_ms" -> mean(d(_, "queryPlanning")),
      "sources.list_ms" -> mean(p => d(p, "latestOffset") + d(p, "getBatch")),
      "streaming.batches" -> ps.size.toDouble,
      "streaming.batch_ms_mean" -> mean(d(_, "triggerExecution")),
      "streaming.add_batch_ms" -> mean(d(_, "addBatch")),
      "streaming.wal_ms" -> mean(d(_, "walCommit")),
      "streaming.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "streaming.state_mem_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum.toDouble,
      "streaming.state_commit_ms" -> mean(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "streaming.rocksdb_commit_flush_ms" -> mean(custom(_, "rocksdbCommitFlushLatency")),
      "streaming.rocksdb_commit_checkpoint_ms" -> mean(custom(_, "rocksdbCommitCheckpointLatency")),
      "streaming.rocksdb_commit_compact_ms" -> mean(custom(_, "rocksdbCommitCompactLatency")),
      "streaming.rocksdb_file_sync_ms" -> mean(custom(_, "rocksdbCommitFileSyncLatencyMs")),
      "streaming.late_dropped_frac" -> frac(dropped, inRows),
      "streaming.state_disk_bytes" -> (if (dataBatches == 0) 0.0 else stateDiskBytes / dataBatches))
  }

  /** Streaming keys report zero where a batch workload has no stream. */
  val noStream: Map[String, Double] = streamLayers(Nil, 0, 0).map { case (k, _) => k -> 0.0 } ++
    Map("sources.backlog_max" -> 0.0, "streaming.capacity_eps" -> 0.0)

  /** Counter sanity for one batch op (jobs ≥ 1, tasks ≥ stages, CPU within
    * wall × cores), as violations. */
  def sanity(op: String, w: Work, wallS: Double, cores: Int): Seq[String] =
    Seq(
      (w.jobs >= 1) -> s"$op: no Spark job",
      (w.tasks >= w.stages) -> s"$op: ${w.tasks} tasks < ${w.stages} stages",
      (w.cpuNs / 1e9 <= wallS * cores + 0.05) -> f"$op: cpu ${w.cpuNs / 1e9}%.3f s > wall $wallS%.3f s x $cores cores"
    ).collect { case (false, msg) => msg }

  def writeTrace(a: Args, tracer: Tracer, extra: Map[String, Any]): Map[String, Any] = {
    val spans = tracer.spans
    val bad = Trace.nestingViolations(spans)
    val self = Trace.selfByName(spans)
    val f = s"${a.opts.getOrElse("trace-out", s"${a.work}/trace.json")}"
    Files.write(Paths.get(f), Json(Map("spans" -> spans, "self_ms" -> self) ++ extra)
      .getBytes(StandardCharsets.UTF_8))
    Map("trace_file" -> f, "spans" -> spans.size, "self_ms" -> self,
      "nesting_violations" -> bad.take(5).map { case (c, p) => s"${c.name}#${c.id} outside ${p.name}#${p.id}" },
      "nesting_violation_count" -> bad.size)
  }

  def sameRows(got: DataFrame, exp: DataFrame): Boolean =
    got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty
}

/** The 52 behaviour, detector and relational queries: the reference jobs'
  * batch twins, one client in closed loop over a seeded order. */
object BatchWorkload {
  import Main._

  def names: Seq[String] = (graft.queries.BehaviorOracles.all.keys ++
    graft.queries.DetectOracles.all.keys ++ graft.queries.RelationalOracles.all.keys).toSeq.sorted

  final case class OpTime(name: String, pass: Int, constructS: Double, totalS: Double)

  /** Timed passes per run at least; each query's latency is the median of
    * its passes. */
  val MinPasses = 2

  def run(spark: SparkSession, a: Args): Outcome = {
    val qs = SparkEntry.queries
    val order = new scala.util.Random(a.seed).shuffle(names)
    val failures = mutable.ArrayBuffer.empty[String]
    // untimed check pass: every result lands as parquet for the oracle
    // compare; it also warms each query's code path before timing. The
    // percentile queries answer exactly here (the oracle cannot reproduce
    // the sketch); timed passes run the default sketch path.
    // Three client threads share the pass: it is not timed, and the
    // driver-side per-job work it mostly consists of overlaps well.
    val check0 = System.nanoTime()
    spark.conf.set("spark.graft.exactPercentiles", "true")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      order.map { n =>
        pool.submit(() =>
          try { qs(n)(spark, a.data).write.mode("overwrite").parquet(s"${a.work}/out/$n"); None }
          catch { case e: Throwable => Some(s"$n: ${e.getMessage}") })
      }.foreach(_.get().foreach(failures += _))
    } finally pool.shutdown()
    resetState(spark)
    spark.conf.unset("spark.graft.exactPercentiles")
    val checkS = (System.nanoTime() - check0) / 1e9
    val warmEnd = System.currentTimeMillis()
    Files.write(Paths.get(s"${a.work}/out/oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) })
        .getBytes(StandardCharsets.UTF_8))

    // the returned frame's own analysis phase: the noop write plans a new
    // command over the frame, so its tracker never reaches the listener
    val frameAnalysis = mutable.ArrayBuffer.empty[PlanPhase]
    def loop(tracer: Tracer, keys: mutable.Map[String, Int], parent: Int): Seq[OpTime] = {
      val out = mutable.ArrayBuffer.empty[OpTime]
      val sc = spark.sparkContext
      tracer.span("workload", parent, Map("workload" -> a.workload)) { wl =>
        val t0 = System.nanoTime()
        var pass = 0
        while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
          System.gc()
          order.foreach { n =>
            resetState(spark)
            val id = s"$n#$pass"
            tracer.span("op", wl, Map("op" -> id)) { op =>
              val c0 = System.nanoTime()
              val df = tracer.span("queries.construct", op) { s =>
                keys(s"pb:$id:construct") = s
                sc.setJobGroup(s"pb:$id:construct", id, interruptOnCancel = false)
                qs(n)(spark, a.data)
              }
              val c1 = System.nanoTime()
              val ok = tracer.span("exec", op) { s =>
                keys(s"pb:$id:exec") = s
                sc.setJobGroup(s"pb:$id:exec", id, interruptOnCancel = false)
                try { df.write.format("noop").mode("overwrite").save(); true }
                catch { case e: Throwable => failures += s"$id: ${e.getMessage}"; false }
              }
              sc.clearJobGroup()
              val c2 = System.nanoTime()
              if (tracer.enabled) df.queryExecution.tracker.phases.get("analysis").foreach { ph =>
                frameAnalysis += PlanPhase("analysis", ph.startTimeMs, ph.endTimeMs)
              }
              if (ok) out += OpTime(n, pass, (c1 - c0) / 1e9, (c2 - c0) / 1e9)
            }
          }
          pass += 1
        }
      }
      out.toList
    }
    def summary(ts: Seq[OpTime]) = {
      val perQuery = ts.groupBy(_.name).map { case (n, xs) => n -> Stats.median(xs.map(_.totalS)) }
      val lat = perQuery.values.toSeq.map(_ * 1000)
      (perQuery, lat, perQuery.values.sum)
    }

    val plain = loop(new Tracer(false), mutable.Map.empty, 0)
    val (perQuery, lat, wall) = summary(plain)
    val passes = plain.map(_.pass).distinct.size
    val tail = Stats.tail(lat, Seq(0.9, 0.75))
    val e2e = Map("wall_s" -> wall,
      "op_p50_ms" -> Stats.percentile(lat, 0.5).getOrElse(Double.NaN),
      "op_tail_ms" -> tail.map(_._2).getOrElse(Double.NaN))
    val samples = Map("op_latency_n" -> lat.size, "op_tail_q" -> tail.map(_._1),
      "passes" -> passes, "query_runs" -> plain.size, "check_pass_s" -> checkS)
    val attempted = order.size.toLong * (passes + 1)
    val extra = Map("query_s" -> perQuery)
    if (!a.trace) return Outcome(e2e, samples, Map.empty, attempted, failures.toList, warmEnd, extra)

    val tracer = new Tracer(true)
    val keys = mutable.Map.empty[String, Int]
    val (traced, obs) = observe(spark)(tracer.span("run", 0)(run => loop(tracer, keys, run)))
    val obsAll = obs.copy(plans = obs.plans ++ frameAnalysis)
    attach(tracer, obsAll, j => keys.get(j.key))
    val tPasses = traced.map(_.pass).distinct.size
    val (_, _, tWall) = summary(traced)
    // counters per op must be sane: each op's work, summed over its phases
    val opWall = traced.map(t => s"${t.name}#${t.pass}" -> t.totalS).toMap
    val insane = opWall.toSeq.flatMap { case (id, wallS) =>
      val w = new Work
      obs.work.filter(_._1.startsWith(s"pb:$id:")).values.foreach(w += _)
      sanity(id, w, wallS, a.cpus)
    }
    val layers = execLayers(obsAll, tPasses, _.endsWith(":construct"),
      traced.map(_.constructS).sum, a) ++ noStream ++ Map(
      "trace.overhead_s" -> (tWall - wall), "trace.spans" -> tracer.spans.size.toDouble)
    val tr = writeTrace(a, tracer, Map("workload" -> a.workload))
    val nest = tr("nesting_violation_count").asInstanceOf[Int]
    Outcome(e2e, samples ++ Map("traced_passes" -> tPasses), layers,
      attempted + traced.size, failures.toList ++ insane ++
        (if (nest > 0) Seq(s"$nest spans outside their parent") else Nil),
      warmEnd, extra ++ Map("trace" -> tr))
  }
}
