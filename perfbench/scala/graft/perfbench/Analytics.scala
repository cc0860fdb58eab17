package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.util.{BuildCost, CacheRegistry}

/** Task-level totals of one session, read before and after a pass. */
final class EngineStats extends SparkListener {
  val jobs = new AtomicLong
  val inputRecords = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    inputRecords.addAndGet(m.inputMetrics.recordsRead)
    shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  def snapshot: Map[String, Long] = Map("jobs" -> jobs.get, "input_records" -> inputRecords.get,
    "shuffle_bytes" -> shuffleBytes.get, "spill_bytes" -> spillBytes.get)
}

/** `analytics`: a closed-loop, single-client pass over a fixed query mix
  * from `SparkEntry.queries`, name-sorted. After the set-up, the shared
  * caches and the build ledger are cleared and one cold pass runs; after
  * one untimed pass, warm passes fill the run's seconds.
  */
object Analytics {
  import Main.secondsSince

  /** The mix: the slowest warm query (round-17 bench artifact) of four of
    * the 20 ops modules (Frequency, Clustering, Similarity, PumpOps),
    * name-sorted. Every query costs a second or more even at sf0.001 and
    * a fresh JVM pays about 20 s of first-run cost on top, so the run
    * budget affords no more (q327_hnsw_foldin_policy alone takes 13-17 s
    * at sf0.001).
    */
  val Mix: Seq[String] =
    Seq("q119_pmi", "q150_cc_star", "q155_quant_recall", "q77_partition_prune").sorted

  /** Data sets under the benchmark's data dir: the timed passes read
    * `Scale`, the set-up's JIT warm-up reads `WarmUpScale`.
    */
  val Scale = "sf0.01"
  val WarmUpScale = "sf0.001"

  private def query(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  /** One untimed pass over the mix at the warm-up scale. */
  private def warmUp(spark: SparkSession, warmDir: String): Unit = Mix.foreach { n =>
    val q0 = System.nanoTime()
    query(n)(spark, warmDir).count()
    Main.log(f"warm-up $n ${secondsSince(q0)}%.2f s")
  }

  /** One timed pass: per query the `fn(spark, dir)` call (eager work
    * included), physical planning, and execution to a count.
    */
  private def pass(ctx: Ctx, spark: SparkSession, dir: String, kind: String,
      stats: EngineStats): Map[String, Any] = {
    val before = stats.snapshot
    val t0 = System.nanoTime()
    val perQuery = Mix.map { n =>
      ctx.spans(s"query:$n") {
        val q0 = System.nanoTime()
        val df = ctx.spans("fn")(query(n)(spark, dir))
        val q1 = System.nanoTime()
        // planning is timed apart only when tracing: the untraced pass
        // times exactly fn + count, as graft.Bench does
        if (ctx.trace) ctx.spans("plan")(df.queryExecution.executedPlan)
        val q2 = System.nanoTime()
        ctx.spans("exec")(df.count())
        val q3 = System.nanoTime()
        Main.log(f"$kind $n ${(q3 - q0) / 1e9}%.2f s")
        n -> Map("total_s" -> (q3 - q0) / 1e9, "fn_s" -> (q1 - q0) / 1e9,
          "plan_s" -> (q2 - q1) / 1e9, "exec_s" -> (q3 - q2) / 1e9)
      }
    }
    val wall = secondsSince(t0)
    val after = stats.snapshot
    Map("kind" -> kind, "wall_s" -> wall, "queries" -> perQuery.toMap,
      "engine" -> after.map { case (k, v) => k -> (v - before(k)) })
  }

  def run(ctx: Ctx): Unit = {
    val dir = s"${ctx.data}/$Scale"
    val warmDir = s"${ctx.data}/$WarmUpScale"
    // set-up: the session plus one pass at the warm-up scale, the JIT and
    // codegen warm-up a long-lived engine has already paid; in this fresh
    // JVM it also pays the one-time class loading and initialisation
    val t0 = System.nanoTime()
    val spark = Main.session(ctx.cpus)
    warmUp(spark, warmDir)
    ctx.out("setup_s") = secondsSince(t0)
    // two more warm-up passes let the JIT settle before the cold pass
    (1 to 2).foreach(_ => warmUp(spark, warmDir))
    val stats = new EngineStats
    spark.sparkContext.addSparkListener(stats)
    CacheRegistry.clear()
    BuildCost.reset()
    val passes = mutable.ArrayBuffer(ctx.spans("pass:cold")(pass(ctx, spark, dir, "cold", stats)))
    val builds = BuildCost.snapshot()
    // the first pass after the cold one still carries JIT warm-up: it
    // runs untimed, then warm passes fill the run's seconds (at least 3);
    // peak RSS is read after the first three, so that it covers the same
    // work however many passes the run's seconds allow
    pass(ctx, spark, dir, "warm-up", stats)
    val t1 = System.nanoTime()
    while (passes.length < 4 || secondsSince(t1) < ctx.seconds) {
      passes += ctx.spans("pass:warm")(pass(ctx, spark, dir, "warm", stats))
      if (passes.length == 4) ctx.out("peak_rss_mb") = Main.peakRssMb()
    }
    ctx.out("mix") = Mix
    ctx.out("sf_dir") = dir
    ctx.out("passes") = passes
    ctx.out("builds") = builds
    // results for the oracle check, outside the timed region
    val results = s"${ctx.work}/results"
    Mix.foreach { n =>
      query(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$results/$n")
    }
    Files.writeString(Paths.get(s"$results/oracle_sql.json"),
      Json(Mix.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    CacheRegistry.clear()
  }
}
