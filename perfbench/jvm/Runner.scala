package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, Memo, Sessions, SparkEntry}

/** The benchmark's JVM runner. It calls the program only through its
  * public entry points (`SparkEntry.queries`, the `FourCE` file functions and
  * `writeCsv`, `Memo.buildCount`), runs one op at a time, and
  * materializes every result: catalogue ops into Spark's `noop` sink,
  * 4CE files into CSV. It writes one JSON document of raw samples; the
  * arithmetic (medians, percentiles, span self time) lives in run.py.
  *
  * Usage: `perfbench.Runner <workload> <opsFile|-> <sfDir> <scratch>
  * <seed> <seconds> <trace 0|1> <launchEpochMs>`, where `-` stands for
  * fource_site's op list, which is fixed in code; the working directory
  * must be a scratch directory, because the query modules write
  * `target/...` relative to it. */
object Runner {

  final case class OpRun(name: String, wallS: Double, rows: Long,
      err: Option[String], df: Option[DataFrame])

  /** One unit of work: the registered-row or 4CE-file call, then the
    * action that materializes its result. */
  final case class Op(name: String, fn: () => DataFrame,
      act: DataFrame => Unit)

  def main(args: Array[String]): Unit = {
    val Array(workload, opsFile, sfDir, scratchS, seedS, secondsS, traceS,
      launchS) = args
    val scratch = Paths.get(scratchS).toAbsolutePath
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val launchMs = launchS.toDouble
    val mainEntryMs = System.currentTimeMillis().toDouble

    // ---- set-up: the JVM and the session; the tables are first read by
    // the cold pass
    val spark = Sessions.local("perfbench")
    // stream checkpoints default to /dev/shm; keep them in the scratch root
    spark.conf.set("graft.stream.checkpointRoot",
      scratch.resolve("checkpoints").toString)
    spark.sparkContext.setLogLevel("ERROR")
    val setupMs = System.currentTimeMillis().toDouble
    val marks = scala.collection.mutable.ArrayBuffer(
      "main" -> mainEntryMs, "setup" -> setupMs)
    def mark(k: String): Unit = marks += k -> System.currentTimeMillis().toDouble
    val trace = new Trace(spark)
    val heap = new HeapAfterGc
    val ops: Seq[Op] =
      if (workload == "fource_site") FourCESite.ops(spark, sfDir, scratch)
      else readOps(Paths.get(opsFile)).map { n =>
        val fn = SparkEntry.queries.getOrElse(n,
          throw new IllegalArgumentException(s"no registered row $n"))
        Op(n, () => fn(spark, sfDir),
          df => df.write.format("noop").mode("overwrite").save())
      }
    val calibBefore = (Bench.calibMs(), Bench.ioCalibMbs(scratch.resolve("io")))
    heap.collect()
    heap.takePeak()

    // ---- timed passes: one cold pass, then warm passes until `seconds`
    // of warm time has run. Traced runs switch listeners on and off over
    // the warm passes in on-off-off-on blocks, so one run also yields the
    // tracing overhead, and the warm-up that still speeds up later passes
    // does not count as overhead.
    mark("calib")
    val rng = new Random(seed)
    val wl = trace.newId()
    val wlStart = trace.nowMs()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Trace.Rec]
    var warmS = 0.0
    var idx = 0
    var coldRows = Map.empty[String, Long]
    var lastRuns = Seq.empty[OpRun]
    val block = if (traced) 4 else 1
    while (idx < 2 || warmS < seconds || (idx - 1) % block != 0) {
      val on = traced && (idx == 0 || idx % 4 < 2)
      trace.set(on)
      // the seed permutes op order; a site run builds its cohort first
      val order =
        if (workload == "fource_site") ops.head +: rng.shuffle(ops.tail)
        else rng.shuffle(ops)
      val pass = trace.newId()
      val pStart = trace.nowMs()
      val builds0 = Memo.buildCount
      val runs = order.map(op => runOp(spark, trace, op, pass))
      val pEnd = trace.nowMs()
      val builds = Memo.buildCount - builds0
      val cachedMb = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0
      // the pass's peak, with a full collection at its end that still
      // holds the persisted cohort; then a collection after the unpersist,
      // so the next pass starts from a collected heap
      heap.collect()
      val heapMb = heap.takePeak()
      if (workload == "fource_site") FourCESite.unpersist()
      heap.collect()
      heap.takePeak()
      trace.span("pass", s"pass$idx", wl, pStart, pEnd, pass)
      if (idx == 0) coldRows = runs.map(r => r.name -> r.rows).toMap
      val rowsOk = runs.map(r => r.err.isEmpty && coldRows.get(r.name)
        .forall(_ == r.rows))
      trace.drain()
      val wallS = (pEnd - pStart) / 1e3
      if (idx > 0) warmS += wallS
      passes += Map("idx" -> idx, "traced" -> on, "wall_s" -> wallS,
        "builds" -> builds, "cached_mb" -> cachedMb, "heap_mb" -> heapMb,
        "out_mb" -> FourCESite.outMb(scratch),
        "ops" -> runs.zip(rowsOk).map { case (r, ok) =>
          Map("name" -> r.name, "wall_s" -> r.wallS, "rows" -> r.rows,
            "ok" -> ok, "err" -> r.err)
        })
      lastRuns = runs
      idx += 1
      if (idx > 200) warmS = seconds // runaway guard for tiny passes
    }
    trace.set(false)
    trace.span("workload", workload, 0L, wlStart, trace.nowMs(), wl)
    mark("passes")
    val calibAfter = (Bench.calibMs(), Bench.ioCalibMbs(scratch.resolve("io")))
    mark("calib")
    // the oracle queries run in run.py from here on, beside the dump below
    val oracles = SparkEntry.oracleSql
    val sql = ops.map(o => FourCESite.oracleNames.getOrElse(o.name, o.name))
      .flatMap(n => oracles.get(n).map(n -> _)).toMap
    Trace.mapper.writeValue(scratch.resolve("oracle_sql.tmp").toFile, sql)
    Files.move(scratch.resolve("oracle_sql.tmp"),
      scratch.resolve("oracle_sql.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    // ---- outputs for the oracle check, written after the timed passes:
    // the DataFrames the last pass materialized, stored as parquet
    val checkDir = scratch.resolve("check")
    val checks =
      if (workload == "fource_site")
        FourCESite.readBack(spark, sfDir, scratch, checkDir)
      else lastRuns.sortBy(_.name).map { r =>
        val path = checkDir.resolve(r.name).toString
        try {
          r.df.get.coalesce(1).write.mode("overwrite").parquet(path)
          Map("name" -> r.name, "oracle" -> r.name, "path" -> path)
        } catch { case t: Throwable =>
          Map("name" -> r.name, "oracle" -> r.name,
            "err" -> String.valueOf(t.getMessage).take(300))
        }
      }
    mark("check")
    Trace.mapper.writeValue(scratch.resolve("result.json").toFile, Map(
      "workload" -> workload, "seed" -> seed, "fixture" -> sfDir,
      "cores" -> Sessions.cpuCount,
      "marks" -> marks.map { case (k, v) => Map("at" -> k, "ms" -> v) },
      "setup_s" -> (setupMs - launchMs) / 1e3,
      "calib" -> Map(
        "before" -> Map("cpu_ms" -> calibBefore._1, "io_mbs" -> calibBefore._2),
        "after" -> Map("cpu_ms" -> calibAfter._1, "io_mbs" -> calibAfter._2)),
      "passes" -> passes,
      "checks" -> checks,
      "trace" -> (if (traced) Some(trace.records) else None)))

    // release what the run cached and stop the state-store maintenance
    // thread before the session ends, as graft.Bench does
    spark.sparkContext.setLogLevel("OFF")
    try graft.queries.Extras.releaseCacheReuse(spark)
    catch { case _: Throwable => () }
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
    sys.exit(0)
  }

  /** A workload's frozen op list, read from workloads/<name>.txt: one
    * registered row per line; `#` starts a comment line. */
  private def readOps(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  private def runOp(spark: SparkSession, trace: Trace, op: Op,
      pass: Long): OpRun = {
    val id = trace.newId()
    spark.sparkContext.setLocalProperty(Trace.OpProperty, id.toString)
    val t0 = trace.nowMs()
    try {
      val df = op.fn()
      val t1 = trace.nowMs()
      if (trace.enabled) trace.phasesOf(df.queryExecution, id)
      val obs = Observation(s"perfbench_$id")
      op.act(df.observe(obs, count(lit(1)).as("n")))
      val ta = trace.nowMs()
      val rows = obs.get("n").asInstanceOf[Long]
      val t2 = trace.nowMs()
      trace.span("fn", op.name, id, t0, t1)
      trace.span("action", op.name, id, t1, ta)
      trace.span("op", op.name, pass, t0, t2, id)
      OpRun(op.name, (t2 - t0) / 1e3, rows, None, Some(df))
    } catch { case t: Throwable =>
      val t2 = trace.nowMs()
      trace.span("op", op.name, pass, t0, t2, id)
      OpRun(op.name, (t2 - t0) / 1e3, -1L,
        Some(s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"),
        None)
    } finally spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
  }
}

/** The largest heap occupancy right after a garbage collection, from
  * the JVM's GC notifications: every collection while the passes run,
  * young ones included, reports its after-collection heap here. */
final class HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peakMb = 0.0
  private var explicitGcs = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val usedMb = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum / 1048576.0
        HeapAfterGc.this.synchronized {
          peakMb = math.max(peakMb, usedMb)
          if (info.getGcCause == "System.gc()") explicitGcs += 1
          HeapAfterGc.this.notifyAll()
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter]
      .addNotificationListener(listener, null, null))

  /** A full collection, returning once its notification has arrived (and
    * with it every earlier one: the JVM sends them in order). */
  def collect(): Unit = synchronized {
    val n = explicitGcs
    System.gc()
    val deadline = System.currentTimeMillis() + 5000
    while (explicitGcs == n && System.currentTimeMillis() < deadline)
      wait(100)
  }

  /** The peak since the last call. */
  def takePeak(): Double = synchronized {
    val p = peakMb
    peakMb = 0.0
    p
  }
}
