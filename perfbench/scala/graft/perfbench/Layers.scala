package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.PumpConfig
import graft.etl.Transform
import graft.ingest.RecordAssembler
import graft.parse.TechLogParser
import graft.pipeline.LogPump

/** Per-layer probes of the traced `backlog` run. Each times the calls
  * into one module's public functions on the backlog tree, from outside
  * the program:
  *
  *  - cumulative prefixes of the batch pump sent to Spark's `noop` sink
  *    (read, +parse, +Transform, +route; median of three each) and the
  *    full routed sink; a layer's self time is the difference of
  *    consecutive prefixes, so a layer below the noise can read negative;
  *  - single-thread loops over the same bytes for record split, record
  *    parse and the boundary test (the one-core COST baseline);
  *  - the source's listing and record-aligned admission, the techlog
  *    connector scan, and the config load.
  */
object Layers {
  import Main.{median, secondsSince}

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Median of three runs of `df` into Spark's `noop` sink, in s. */
  private def noop(df: => DataFrame): Double =
    median((1 to 3).map(_ => timed(df.write.format("noop").mode("overwrite").save())._2))

  /** Bytes this process has read through read(2) so far. */
  private def readBytes(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("rchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def logFiles(root: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(p => p.toString.endsWith(".log")).toVector.sortBy(_.toString)
    finally s.close()
  }

  def backlog(ctx: Ctx, spark: SparkSession): Map[String, Double] = {
    val cfg = PumpConfig.load(ctx.config).fold(e => throw new IllegalStateException(e), identity)
    val root = cfg.LogDirectoryMap.values.head
    val default = cfg.ClickHouse.DefaultTable
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val sp = ctx.spans

    m("config.load_ms") = median((1 to 5).map(_ => timed(PumpConfig.load(ctx.config))._2 * 1000))

    // sources: listing, record-aligned admission, connector scan
    val conf = Map("path" -> root, "pathGlobFilter" -> cfg.FilePattern)
    val listed = sp("sources.list")(graft.sources.BenchAccess.listLogFiles(conf))
    m("sources.list_ms") = median((1 to 5).map(_ =>
      timed(graft.sources.BenchAccess.listLogFiles(conf))._2 * 1000))
    val hconf = spark.sparkContext.hadoopConfiguration
    val r0 = readBytes()
    val (_, admitS) = sp("sources.admit")(timed(listed.foreach { case (p, size, _) =>
      graft.sources.TechLogSource.alignedAdmit(p, size, holdBackRecord = true, hconf)
    }))
    m("sources.admit_ms") = admitS * 1000
    m("sources.admit_bytes_read") = (readBytes() - r0).toDouble
    m("sources.scan_s") = sp("sources.scan")(noop(spark.read.format("techlog").load(root)))

    // batch pump prefixes, each to the noop sink
    def records = RecordAssembler.readBatch(spark, Seq(root), cfg.FilePattern)
    def parsed = LogPump.parseRecords(records).toDF()
    def transformed = Transform(parsed)
    def routed = LogPump.withRoute(transformed, cfg.ClickHouse.TableMap, default)
    noop(routed) // first-touch warm-up of the batch plans, untimed
    val read = sp("ingest.assemble")(noop(records.toDF()))
    val parse = sp("parse.prefix")(noop(parsed))
    val transform = sp("etl.prefix")(noop(transformed))
    val route = sp("pipeline.route_prefix")(noop(routed))
    val sinkDir = s"${ctx.work}/layer_sink"
    val (_, sink) = sp("pipeline.sink")(timed(LogPump.writeRoutedExactlyOnce(
      transformed, cfg.ClickHouse.TableMap, default, sinkDir, 0L)))
    m("ingest.assemble_s") = read
    m("parse.parse_s") = parse - read
    m("etl.transform_s") = transform - parse
    m("pipeline.route_s") = route - transform
    m("pipeline.sink_s") = sink - route
    m("ingest.records") = records.count().toDouble
    m("ingest.mb") = listed.map(_._2).sum / 1e6
    m("pipeline.files_written") = {
      val s = Files.walk(Paths.get(sinkDir))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet")).toDouble finally s.close()
    }
    Transform.withReason(parsed).groupBy("drop_reason").count().collect().foreach { r =>
      val reason = r.getString(0)
      m(if (reason == "ok") "etl.rows_ok" else s"etl.dropped.$reason") = r.getLong(1).toDouble
    }
    LogPump.withRoute(transformed, cfg.ClickHouse.TableMap, default)
      .groupBy("__table").count().collect()
      .foreach(r => m(s"pipeline.rows.${r.getString(0)}") = r.getLong(1).toDouble)
    val small = transformed.limit(100).cache()
    small.count()
    m("pipeline.sink_small_batch_ms") = median((1 to 5).map { i =>
      timed(LogPump.writeRoutedExactlyOnce(small, cfg.ClickHouse.TableMap, default,
        s"${ctx.work}/layer_small_sink", i.toLong))._2 * 1000
    })
    small.unpersist()

    // one core over the same bytes: split, parse, boundary test
    val files = logFiles(root).map { p =>
      p.getFileName.toString -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .split("\n", -1).dropRight(1).map(_.stripSuffix("\r")).toVector
    }
    val nLines = files.map(_._2.length).sum
    val (recs, splitS) = sp("ingest.split_single_thread")(timed(
      files.map { case (f, ls) => f -> RecordAssembler.splitRecords(ls.iterator).toVector }))
    val nRecs = recs.map(_._2.length).sum
    val (_, parseS) = sp("parse.parse_single_thread")(timed(recs.foreach { case (_, rs) =>
      rs.foreach(r => TechLogParser.parseLine(r))
    }))
    val (_, boundaryS) = sp("parse.boundary_single_thread")(timed(files.foreach { case (_, ls) =>
      ls.foreach(l => TechLogParser.isNewLogRecord(l))
    }))
    m("ingest.split_ns_per_line") = splitS * 1e9 / nLines
    m("parse.ns_per_record") = parseS * 1e9 / nRecs
    m("parse.boundary_ns_per_line") = boundaryS * 1e9 / nLines
    m("parse.single_thread_records_per_s") = nRecs / (splitS + parseS)
    m.toMap
  }
}
