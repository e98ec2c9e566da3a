package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.ops.{RankOps, WindowOps}
import graft.queries.BehaviorQueries
import graft.sources.Tables
import graft.streaming.{Detectors, StreamOps}
import graft.streaming.Detectors._

/** One running streaming query of a workload and the span bookkeeping the
  * traced phase needs. */
final case class Running(name: String, q: StreamingQuery, c0: Double, c1: Double)

/** Open-loop replay of `events` through four streaming twins of the
  * reference jobs, running at once on one session: a windowed count
  * (WindowOps), a complete-mode Top-N ranked in foreachBatch (RankOps), the
  * HLL unique-visitor count (StreamOps) and the order-timeout detector
  * (Detectors.followedBy, a flatMapGroupsWithState operator). A generator
  * thread publishes event-time-ordered slices on a fixed schedule; each
  * slice's latency runs from its due time to the end of the micro-batch
  * that consumed it, per query. */
object StreamWorkload {
  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
  def busyMs(p: StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + busyMs(p)

  private val LogOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r
  def logOffset(json: String): Option[Long] =
    Option(json).flatMap(j => LogOffset.findFirstMatchIn(j)).map(_.group(1).toLong)

  private val LogEntry = "\"path\"\\s*:\\s*\"[^\"]*/([^/\"]+)\".*\"batchId\"\\s*:\\s*(\\d+)".r
  /** Slice file name -> the file source log offset that took it, from the
    * source's metadata log (plain and compacted files alike). */
  def sliceOffsets(log: File): Map[String, Long] =
    Option(log.listFiles()).getOrElse(Array.empty[File]).filterNot(_.getName.startsWith("."))
      .flatMap(f => scala.util.Try(Files.readAllLines(f.toPath).toArray.map(_.toString)).getOrElse(Array.empty[String]))
      .flatMap(l => LogEntry.findFirstMatchIn(l).map(m => m.group(1) -> m.group(2).toLong))
      .toMap

  /** Op spans per query, with construction and batch spans under them;
    * returns the span id of every (query id, batch id) and construct key. */
  def streamSpans(tracer: Tracer, wl: Int, rs: Seq[Running], end: Double,
                  progress: ProgressProbe): (Map[(String, Long), Int], Map[String, Int]) = {
    val batches = mutable.Map.empty[(String, Long), Int]
    val cons = mutable.Map.empty[String, Int]
    rs.foreach { r =>
      val op = tracer.add("op", wl, math.floor(r.c0).toLong, math.ceil(end).toLong,
        Map("op" -> r.name))
      cons(s"pb:${r.name}:construct") =
        tracer.add("queries.construct", op, math.floor(r.c0).toLong, math.ceil(r.c1).toLong)
      progress.of(r.q.id).foreach { p =>
        batches((s"stream:${r.q.id}", p.batchId)) = tracer.add("streaming.batch", op,
          startMs(p), endMs(p), Map("batch" -> p.batchId.toString))
      }
    }
    (batches.toMap, cons.toMap)
  }

  /** Per-layer figures of a traced streaming phase. */
  def layers(a: Args, tracer: Tracer, obs: Observed, rs: Seq[Running], end: Double,
             wl: Int, progress: ProgressProbe, stateDisk: Double, dataBatches: Int,
             extra: Map[String, Double]): (Map[String, Double], Map[String, Any], Seq[String]) = {
    val (batchSpans, consSpans) = streamSpans(tracer, wl, rs, end, progress)
    Main.attach(tracer, obs, j =>
      if (j.key.startsWith("stream:")) batchSpans.get((j.key, j.batchId)) else consSpans.get(j.key))
    val ps = rs.flatMap(r => progress.of(r.q.id))
    val ls = Main.execLayers(obs, 1.0, _.endsWith(":construct"),
      rs.map(r => (r.c1 - r.c0) / 1e3).sum, a) ++
      Main.streamLayers(ps, stateDisk, dataBatches) ++ extra ++
      Map("trace.spans" -> tracer.spans.size.toDouble)
    val tr = Main.writeTrace(a, tracer, Map("workload" -> a.workload))
    val nest = tr("nesting_violation_count").asInstanceOf[Int]
    (ls, tr, if (nest > 0) Seq(s"$nest spans outside their parent") else Nil)
  }

  /** Capacity: input events per second of busy time (data and no-data
    * batches alike), averaged over queries; `batches` holds each query's. */
  def capacity(batches: Seq[Seq[StreamingQueryProgress]]): Double = {
    val per = batches.map { ps =>
      val busy = ps.map(busyMs).sum
      if (busy == 0) 0.0 else ps.map(_.numInputRows).sum * 1000.0 / busy
    }
    per.sum / math.max(per.size, 1)
  }

  val Twins = Seq("window_count", "topn_complete", "hll_uv", "followed_by")

  final case class Phase(rs: Seq[Running], due: Seq[Long], latByQuery: Seq[Seq[Double]],
                         batchS: Double, batchN: Int, backlogMax: Int, lagMaxMs: Long, end: Double,
                         failures: Seq[String], capacity: Double, warmEnd: Long,
                         phaseS: Map[String, Double]) {
    /** Slice latencies (ms) of all queries. */
    def lat: Seq[Double] = latByQuery.flatten
  }

  def run(spark: SparkSession, a: Args): Outcome = {
    val progress = new ProgressProbe
    spark.streams.addListener(progress)
    val plain = phase(spark, a, progress, new Tracer(false), "plain")
    val e2e = Map("wall_s" -> plain.batchS,
      "op_p50_ms" -> Stats.percentile(plain.lat, 0.5).getOrElse(Double.NaN),
      "op_tail_ms" -> Stats.tail(plain.lat, Seq(0.9, 0.75)).map(_._2).getOrElse(Double.NaN))
    val samples = Map("op_latency_n" -> plain.lat.size, "wall_batches_n" -> plain.batchN,
      "op_tail_q" -> Stats.tail(plain.lat, Seq(0.9, 0.75)).map(_._1),
      "slices" -> plain.due.size, "queries" -> Twins.size,
      "generator_lag_max_ms" -> plain.lagMaxMs, "backlog_max" -> plain.backlogMax,
      "capacity_eps" -> plain.capacity, "phase_s" -> plain.phaseS)
    val attempted = plain.lat.size.toLong + Twins.size
    // every batch of the untimed and timed phase, for diagnosis:
    // [batch id, start after the first due time (ms), busy ms, input rows,
    // state commit ms]
    val batches = plain.rs.map { r =>
      r.name -> progress.of(r.q.id).map(p => Seq(p.batchId, startMs(p) - plain.due.head,
        busyMs(p), p.numInputRows, p.stateOperators.map(_.commitTimeMs).sum))
    }.toMap
    if (!a.trace) return Outcome(e2e, samples, Map.empty, attempted, plain.failures,
      plain.warmEnd, Map("batches" -> batches,
        "slice_latency_ms" -> plain.rs.map(_.name).zip(plain.latByQuery).toMap))

    val tracer = new Tracer(true)
    var tp: Phase = null
    var wl = 0
    val (_, obs) = Main.observe(spark)(tracer.span("run", 0) { run =>
      tracer.span("workload", run, Map("workload" -> a.workload)) { w =>
        wl = w
        tp = phase(spark, a, progress, tracer, "traced")
      }
    })
    val disk = Main.dirBytes(new File(s"${a.work}/traced/checkpoints")).toDouble
    val (ls, tr, bad) = layers(a, tracer, obs, tp.rs, tp.end, wl, progress, disk,
      tp.due.size, Map("sources.backlog_max" -> tp.backlogMax.toDouble,
        "streaming.capacity_eps" -> tp.capacity,
        "trace.overhead_s" -> (tp.batchS - plain.batchS)))
    Outcome(e2e, samples, ls, attempted * 2, plain.failures ++ tp.failures ++ bad,
      plain.warmEnd, Map("trace" -> tr))
  }

  def phase(spark: SparkSession, a: Args, progress: ProgressProbe, tracer: Tracer,
            tag: String): Phase = {
    import spark.implicits._
    val staging = new File(s"${a.data}/stream/staging")
    val replayed = s"${a.data}/stream/replayed"
    val base = s"${a.work}/$tag"
    val replay = new File(s"$base/replay")
    replay.mkdirs()
    val warm = a.int("warmup", 1)
    val timed = a.int("timed", 10)
    val interval = a.int("interval-ms", 1000)
    val slices = staging.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(slices.length == warm + timed,
      s"expected ${warm + timed} slices in $staging, found ${slices.length}")
    // publish = copy under a hidden name, then rename into the listed dir
    def publish(f: File): Unit = {
      val tmp = new File(replay, s".${f.getName}.tmp")
      Files.copy(f.toPath, tmp.toPath)
      Files.move(tmp.toPath, new File(replay, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    }

    val (schema, normalizeTs) = Tables.eventsDecode(spark, a.data)
    def src(): DataFrame = normalizeTs(spark.readStream.schema(schema).parquet(replay.getPath))
    def wm(df: DataFrame): DataFrame = df.withWatermark("ts", "1 hour")
    val itemId = get_json_object(col("props"), "$.k").cast("long")
    val isType = (t: String) => col("event_type") === t
    @volatile var collectTop = false
    @volatile var lastTop: Set[(Long, Long, Long)] = Set.empty
    def mem(name: String, df: DataFrame): StreamingQuery =
      df.writeStream.format("memory").queryName(s"${tag}_$name").outputMode("append")
        .option("checkpointLocation", s"$base/checkpoints/$name").start()

    def build(name: String): StreamingQuery = name match {
      case "window_count" => mem(name, WindowOps.epochWindow(
          WindowOps.tumblingCount(wm(src()).filter(isType("view")).select("ts"), col("ts"), "1 hour"))
        .select("window_start", "cnt"))
      case "topn_complete" =>
        wm(src()).filter(isType("view")).select(itemId.as("item_id"), col("ts"))
          .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("item_id"))
          .agg(count(lit(1)).as("cnt"))
          .writeStream.outputMode("complete").queryName(s"${tag}_$name")
          .option("checkpointLocation", s"$base/checkpoints/$name")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val ranked = RankOps.topN(WindowOps.epochWindow(batch), 3,
              Seq(col("window_start")), Seq(col("cnt").desc, col("item_id").asc))
            if (collectTop) lastTop = ranked.select("window_start", "item_id", "rn")
              .as[(Long, Long, Long)].collect().toSet
            else ranked.write.format("noop").mode("overwrite").save()
          }.start()
      case "hll_uv" => mem(name, StreamOps.tumblingApproxDistinct(
          src().filter(isType("view")).select(col("user_id"), col("ts")),
          "ts", "1 hour", "1 day", col("user_id"))
        .select(col("window.start").cast("long").as("ws"), col("uv_approx")))
      case "followed_by" => mem(name, Detectors.followedBy(follow(wm(src())), 3600,
        "payed", "timeout", streaming = true).toDF())
    }
    def follow(df: DataFrame) = df.filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id").as("key"), col("ts").cast("long").as("tsSec"),
        col("event_id").as("id"), isType("view").as("hit"), col("ts")).as[KeyedEvent]

    val sc = spark.sparkContext
    val rs = Twins.map { n =>
      val c0 = tracer.nowMs
      sc.setJobGroup(s"pb:$n:construct", n, interruptOnCancel = false)
      val q = build(n)
      sc.clearJobGroup()
      Running(n, q, c0, tracer.nowMs)
    }
    val failures = mutable.ArrayBuffer.empty[String]
    def drainAll(): Unit = rs.foreach(_.q.processAllAvailable())
    val w0 = System.currentTimeMillis()
    // warm-up slices: every query compiles its plans and opens its state
    slices.take(warm).foreach(publish)
    drainAll()
    val warmEnd = System.currentTimeMillis()

    // timed open loop: slice i is due at t0 + i * interval
    val timedSlices = slices.slice(warm, warm + timed)
    val t0 = System.currentTimeMillis() + 200
    val due = timedSlices.indices.map(i => t0 + i.toLong * interval)
    val lag = new Array[Long](timed)
    val gen = new Thread(() => timedSlices.indices.foreach { i =>
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      // the Top-N twin keeps the ranking of the batch that takes the last slice
      if (i == timed - 1) collectTop = true
      publish(timedSlices(i))
      lag(i) = System.currentTimeMillis() - due(i)
    }, "perfbench-generator")
    gen.start()
    gen.join()
    // commit time of each timed slice, per query: the file source's log
    // names the log offset that took each slice file, and the first batch
    // whose source end offset reaches it committed the slice
    def commitsOf(r: Running): Seq[Long] = {
      val taken = sliceOffsets(new File(s"$base/checkpoints/${r.name}/sources/0"))
      val ends = progress.of(r.q.id).flatMap(p =>
        p.sources.headOption.flatMap(s => logOffset(s.endOffset)).map(_ -> endMs(p)))
      timedSlices.map(f => taken.get(f.getName)
        .flatMap(k => ends.find(_._1 >= k).map(_._2)).getOrElse(Long.MaxValue))
    }
    val deadline = System.currentTimeMillis() + 60000
    while (rs.exists(r => commitsOf(r).contains(Long.MaxValue)) &&
        System.currentTimeMillis() < deadline) {
      rs.find(_.q.exception.isDefined).foreach(r => throw r.q.exception.get)
      Thread.sleep(50)
    }
    val commits = rs.map(commitsOf)
    rs.zip(commits).filter(_._2.contains(Long.MaxValue))
      .foreach(rc => failures += s"${rc._1.name}: slices not committed in time")
    val lat = commits.map(c => c.indices.filter(c(_) != Long.MaxValue).map(i => (c(i) - due(i)).toDouble))
    // the timed micro-batches (data and no-data) of each query: from the
    // first timed slice's due time to the query's last commit
    val timedBatches = rs.zip(commits).map { case (r, c) =>
      progress.of(r.q.id).filter(p => startMs(p) >= t0 && endMs(p) <= c.last)
    }
    // the stream's wall_s: the mean wall time of a timed micro-batch
    val batchN = timedBatches.flatten.size
    val batchS = timedBatches.flatten.map(busyMs).sum / 1e3 / math.max(batchN, 1)
    val backlog = commits.map(c => due.indices.map(j => (0 to j).count(i => c(i) > due(j))).max).max
    val cap = capacity(timedBatches)

    val s0 = System.currentTimeMillis()
    rs.foreach(_.q.stop())
    // an op ends when its query has stopped: a batch in flight finishes first
    val end = tracer.nowMs
    val dropped = rs.flatMap(r => progress.of(r.q.id))
      .map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    if (dropped != 0) failures += s"$dropped rows dropped by the watermark"
    val k0 = System.currentTimeMillis()
    failures ++= check(spark, replayed, tag, rs.map(_.name), lastTop)
    val phases = Map("warmup_s" -> (t0 - w0) / 1e3, "drain_s" -> (s0 - due.last) / 1e3,
      "stop_s" -> (k0 - s0) / 1e3, "check_s" -> (System.currentTimeMillis() - k0) / 1e3)
    Phase(rs, due, lat, batchS, batchN, backlog, lag.max, end, failures.toList, cap, warmEnd, phases)
  }

  /** Each twin's output against its batch counterpart over exactly the
    * replayed events, the way the parity specs compare them: windows and
    * detector rows already emitted must be batch rows (what the watermark
    * has not closed yet is still pending) and must not be empty; the
    * complete-mode ranking must equal batch. */
  def check(spark: SparkSession, replayed: String, tag: String, names: Seq[String],
            top: Set[(Long, Long, Long)]): Seq[String] = {
    import spark.implicits._
    val ev = Tables.events(spark, replayed)
    def out(n: String) = spark.table(s"${tag}_$n")
    def within(got: DataFrame, exp: DataFrame) = !got.isEmpty && got.exceptAll(exp).isEmpty
    def ok(n: String): Boolean = n match {
      case "window_count" => within(out(n),
        BehaviorQueries.pageViews(spark, replayed).selectExpr("window_start", "pv AS cnt"))
      case "topn_complete" => top.nonEmpty && top ==
        BehaviorQueries.hotItemsTopN(spark, replayed).select("window_start", "item_id", "rn")
          .as[(Long, Long, Long)].collect().toSet
      case "hll_uv" => within(out(n),
        ev.filter(col("event_type") === "view").groupBy(window(col("ts"), "1 day"))
          .agg(approx_count_distinct(col("user_id")).as("uv_approx"))
          .select(col("window.start").cast("long").as("ws"), col("uv_approx")))
      case "followed_by" => within(out(n), Detectors.followedBy(
        ev.filter(col("event_type").isin("view", "purchase"))
          .select(col("user_id").as("key"), col("ts").cast("long").as("tsSec"),
            col("event_id").as("id"), (col("event_type") === "view").as("hit")).as[KeyedEvent],
        3600, "payed", "timeout", streaming = false).toDF())
    }
    names.filterNot(ok).map { n =>
      val emitted = if (n == "topn_complete") top.size.toLong else out(n).count()
      s"$n: stream output ($emitted rows) differs from its batch counterpart"
    }
  }
}
