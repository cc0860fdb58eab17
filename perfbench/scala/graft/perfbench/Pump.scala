package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.PumpMain
import graft.config.PumpConfig

/** Collects every micro-batch progress of the session's queries. A batch
  * is visible once its commit ends: progress timestamp (trigger start)
  * plus its `triggerExecution` duration.
  */
final class BatchLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** Triggers that found no new data and ran no batch. */
  val idleTriggers = new java.util.concurrent.atomic.AtomicLong
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryIdle(e: QueryIdleEvent): Unit = idleTriggers.incrementAndGet()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def of(q: StreamingQuery): Vector[StreamingQueryProgress] =
    progress.asScala.filter(_.id == q.id).toVector.sortBy(_.batchId)
}

object BatchLog {
  def commitEndMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + duration(p, "triggerExecution")

  def duration(p: StreamingQueryProgress, phase: String): Long =
    Option(p.durationMs.get(phase)).map(_.longValue).getOrElse(0L)

  def stateRows(p: StreamingQueryProgress): Long =
    p.stateOperators.map(_.numRowsTotal).sum

  def batchJson(qi: Int, p: StreamingQueryProgress): Map[String, Any] = Map(
    "query" -> qi, "batch" -> p.batchId, "commit_end_ms" -> commitEndMs(p),
    "input_rows" -> p.numInputRows, "state_rows" -> stateRows(p),
    "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
    "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
}

object Pump {
  import Main.secondsSince

  /** Hard stop for one drain: a pump that never finishes fails the run
    * instead of hanging it.
    */
  private val DrainTimeoutMs = 120000L

  /** The cold drain plus three warm ones. */
  private val MinDrains = 4

  /** Physical lines the text source must read per configured directory
    * key (written by the generator next to the config).
    */
  private def expectedLines(ctx: Ctx): Map[String, Long] =
    Files.readAllLines(Paths.get(s"${ctx.work}/lines.tsv")).asScala
      .map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap

  /** One pump start-up: a fresh session, the config load and
    * `PumpMain.startAll` into a fresh sink and checkpoint.
    */
  final case class Started(spark: SparkSession, log: BatchLog,
      queries: Seq[(String, StreamingQuery)], setupS: Double, startAllS: Double, startMs: Long)

  def start(ctx: Ctx, sink: String, ckpt: String): Started = {
    val t0 = System.nanoTime()
    val spark = Main.session(ctx.cpus)
    val log = new BatchLog
    spark.streams.addListener(log)
    val cfg = PumpConfig.load(ctx.config)
      .fold(e => throw new IllegalStateException(e), identity)
    val t1 = System.nanoTime()
    val qs = PumpMain.startAll(spark, cfg, Some(sink), ckpt)
    val setup = secondsSince(t0)
    Started(spark, log, cfg.LogDirectoryMap.keys.toSeq.sorted.zip(qs), setup,
      secondsSince(t1), System.currentTimeMillis())
  }

  def stop(s: Started): Unit = {
    s.queries.foreach(_._2.stop())
    s.spark.streams.removeListener(s.log)
    s.spark.stop()
  }

  /** Block until every query has read all its lines and holds no
    * pending record in state. Returns, per query, the commit end of the
    * batch that completed it, or the error that stopped the query.
    */
  private def awaitDrained(s: Started, lines: Map[String, Long]): Seq[Either[String, Long]] = {
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    def done(key: String, q: StreamingQuery): Option[Either[String, Long]] =
      q.exception.map(e => Left(e.getMessage.linesIterator.next())).orElse {
        var read = 0L
        s.log.of(q).collectFirst(Function.unlift { p =>
          read += p.numInputRows
          if (read >= lines(key) && BatchLog.stateRows(p) == 0)
            Some(Right(BatchLog.commitEndMs(p)))
          else None
        })
      }
    var ends = s.queries.map { case (k, q) => done(k, q) }
    while (ends.exists(_.isEmpty)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"backlog not drained in ${DrainTimeoutMs} ms")
      Thread.sleep(10)
      ends = s.queries.map { case (k, q) => done(k, q) }
    }
    ends.flatten
  }

  /** `backlog`: the generated tree exists before the pump starts; each
    * drain starts the pump into a fresh sink and checkpoint and waits
    * until every record is committed. The first drain of the process is
    * the cold one; warm drains repeat until the run's seconds are used
    * (at least three), so the warm figures are medians over drains. Peak
    * RSS is read after the first `MinDrains` drains, so that it covers
    * the same work however many drains the run's seconds allow.
    */
  def backlog(ctx: Ctx): Unit = {
    val lines = expectedLines(ctx)
    var t0 = System.nanoTime()
    val drains = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (drains.length < MinDrains || secondsSince(t0) < ctx.seconds) {
      if (drains.length == 1) t0 = System.nanoTime()
      val i = drains.length
      val sink = s"${ctx.work}/sink_$i"
      val s = start(ctx, sink, s"${ctx.work}/ckpt_$i")
      val ends = awaitDrained(s, lines)
      val endMs = ends.flatMap(_.toOption).maxOption.getOrElse(System.currentTimeMillis())
      drains += Map("sink" -> sink, "setup_s" -> s.setupS, "start_all_s" -> s.startAllS,
        "start_ms" -> s.startMs, "idle_triggers" -> s.log.idleTriggers.get,
        "errors" -> ends.flatMap(_.left.toOption),
        "end_ms" -> endMs, "wall_s" -> (endMs - s.startMs) / 1000.0,
        "batches" -> s.queries.zipWithIndex.flatMap { case ((_, q), qi) =>
          s.log.of(q).map(BatchLog.batchJson(qi, _)) })
      batchSpans(ctx, s)
      stop(s)
      if (drains.length == MinDrains) ctx.out("peak_rss_mb") = Main.peakRssMb()
    }
    ctx.out("drains") = drains
    if (ctx.trace) {
      val spark = Main.session(ctx.cpus)
      ctx.out("layers") = ctx.spans("layers")(Layers.backlog(ctx, spark))
      spark.stop()
    }
  }

  /** Canonical order of the micro-batch phases in `durationMs`. */
  private val Phases = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit",
    "commitOffsets")

  /** Each micro-batch as a span, its `durationMs` phases as children laid
    * end to end in execution order (Spark reports their lengths, not
    * their start times).
    */
  private def batchSpans(ctx: Ctx, s: Started): Unit = if (ctx.trace) {
    val nsPerMs = 1000000L
    val offset = System.nanoTime() - System.currentTimeMillis() * nsPerMs
    for ((key, q) <- s.queries; p <- s.log.of(q)) {
      val start = Instant.parse(p.timestamp).toEpochMilli * nsPerMs + offset
      val id = ctx.spans.add(s"batch:$key:${p.batchId}", start,
        start + BatchLog.duration(p, "triggerExecution") * nsPerMs)
      var t = start
      Phases.foreach { ph =>
        val d = BatchLog.duration(p, ph) * nsPerMs
        ctx.spans.add(ph, t, t + d, id)
        t += d
      }
    }
  }

  /** Time the pump gets after the writer's last append: the 2 s idle
    * flush plus a few 1 s triggers.
    */
  private val TailGraceMs = 6000L

  /** `tail`: an open-loop writer thread appends pre-rendered records to
    * the current-hour file of each process dir at their due times
    * (`tail_index.tsv`: due ms, relative path, length; bytes in
    * `tail_blob.bin`) while the pump runs. The writer never waits for
    * the pump.
    */
  def tail(ctx: Ctx): Unit = {
    val index = Files.readAllLines(Paths.get(s"${ctx.work}/tail_index.tsv")).asScala
      .map(_.split("\t")).map(a => (a(0).toLong, a(1), a(2).toInt)).toVector
    val blob = Files.readAllBytes(Paths.get(s"${ctx.work}/tail_blob.bin"))
    val root = s"${ctx.work}/logs"
    val sink = s"${ctx.work}/sink_0"
    val s = start(ctx, sink, s"${ctx.work}/ckpt_0")
    val appendedMs = new Array[Long](index.length)
    val writerStart = System.currentTimeMillis() + 500
    val writer = new Thread(() => {
      var off = 0
      index.zipWithIndex.foreach { case ((due, rel, len), i) =>
        val wait = writerStart + due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val out = new java.io.FileOutputStream(s"$root/$rel", true)
        try out.write(blob, off, len) finally out.close()
        appendedMs(i) = System.currentTimeMillis()
        off += len
      }
    }, "perfbench-tail-writer")
    writer.start()
    writer.join()
    Thread.sleep(TailGraceMs)
    val errors = s.queries.flatMap(_._2.exception.map(_.getMessage.linesIterator.next()))
    ctx.out("setup_s") = s.setupS
    ctx.out("peak_rss_mb") = Main.peakRssMb()
    batchSpans(ctx, s)
    ctx.out("tail") = Map("idle_triggers" -> s.log.idleTriggers.get,"sink" -> sink, "writer_start_ms" -> writerStart,
      "appended_ms" -> appendedMs.toSeq, "errors" -> errors,
      "batches" -> s.queries.zipWithIndex.flatMap { case ((_, q), qi) =>
        s.log.of(q).map(BatchLog.batchJson(qi, _)) })
    stop(s)
  }
}
