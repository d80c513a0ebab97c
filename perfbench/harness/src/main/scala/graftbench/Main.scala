package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark run in a fresh JVM: set up the session several times, run
  * one workload for the requested time, and write the raw record as a bare
  * JSON file. All statistics are computed by `perfbench/run.py`.
  *
  * Usage: graftbench.Main key=value ... with keys workload, seconds, trace,
  * cores, out (run dir), and per workload: data (generated tables), tiny
  * (warm-up tables) and seed (query order), or stream (generated readings).
  */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val conf = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val workload = conf("workload")
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val cores = conf("cores").toInt
    val out = conf("out")
    val run = new Run(conf.getOrElse("data", ""), conf.getOrElse("tiny", ""), out, cores, traced)
    val w: Workload = workload match {
      case "batch"         => new QueryList(conf("seed").toLong)
      case "sensor_stream" => new SensorStream(conf("stream"))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: the first one is timed from JVM start, the others from the
    // moment the previous session has stopped
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setups = (1 to SetupRepeats).map { k =>
      if (k > 1) run.stop()
      val t0 = if (k == 1) jvmStart else System.currentTimeMillis().toDouble
      val sessionMs = run.start(k)
      w.warmUp(run)
      val setupS = (System.currentTimeMillis() - t0) / 1000.0
      System.err.println(f"[perfbench] set-up $k: $setupS%.3f s")
      Map("setup_s" -> setupS, "session_ms" -> sessionMs)
    }

    w.prepare(run)
    if (traced) run.installListeners()
    val cpu0 = Cpu.seconds()
    val wall0 = System.nanoTime()
    val timed = w.run(run, seconds)
    val timedS = (System.nanoTime() - wall0) / 1e9
    System.err.println(f"[perfbench] timed region: $timedS%.3f s")
    val cpuS = Cpu.seconds() - cpu0
    val heapLiveMb = Heap.liveOldGenMb()
    if (traced) run.awaitListeners()
    val extra = if (traced) w.traceExtras(run) else Map.empty[String, Any]
    val record = Map(
      "workload" -> workload,
      "setups" -> setups,
      "timed_s" -> timedS,
      "cpu_s" -> cpuS,
      "heap_live_mb" -> heapLiveMb,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "calibration_s" -> Calibrate.seconds(),
      "workload_record" -> timed,
      "trace" -> (if (traced) run.traceRecord ++ extra else Map.empty))
    run.stop()
    Files.writeString(Paths.get(out, "jvm_result.json"),
      Serialization.write(record)(DefaultFormats))
  }
}

/** Session life cycle and the listeners of one run. */
final class Run(val data: String, val tiny: String, val out: String, val cores: Int,
    val traced: Boolean) {
  val rec = new Recorder
  var spark: SparkSession = _
  var warehouse: java.nio.file.Path = _
  val exec = new ExecListener
  val plan = new PlanListener
  val progress = new ProgressListener

  /** Starts a session whose warehouse is fresh for set-up `k`, so every
    * staged table is built inside the run. Returns the session start ms. */
  def start(k: Int): Double = {
    graft.core.StagedTable.resetCache()
    warehouse = Paths.get(out, s"warehouse-$k")
    val t0 = System.nanoTime()
    spark = graft.core.GraftSession.builder(cores, "graft-perfbench")
      .config("spark.sql.warehouse.dir", warehouse.toUri.toString)
      .config("spark.local.dir", Paths.get(out, "spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    val ms = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    ms
  }

  /** Forgets every staged table of the session, in memory and on disk (its
    * fingerprint sidecar), so the next consumer builds it again. */
  def forgetStages(): Unit = {
    graft.core.StagedTable.resetCache()
    if (Files.isDirectory(warehouse)) {
      val all = Files.walk(warehouse)
      try all.iterator.asScala.filter(_.getFileName.toString == "_graft_fingerprint")
        .toList.foreach(Files.delete)
      finally all.close()
    }
  }

  def stop(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def installListeners(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plan)
    spark.streams.addListener(progress)
  }

  def awaitListeners(): Unit = Fence.await(spark, exec, plan)

  /** Runs `body` with Spark jobs tagged by the span's id. */
  def inSpan[T](kind: String, name: String, parent: Long)(body: => T): (T, Double) = {
    val s = rec.open(kind, name, parent)
    spark.sparkContext.setJobGroup(s.id.toString, s"$kind $name")
    try {
      val r = body
      (r, rec.close(s))
    } finally {
      if (s.end.isNaN) rec.close(s)
      spark.sparkContext.clearJobGroup()
    }
  }

  def traceRecord: Map[String, Any] = exec.synchronized {
    Map(
      "spans" -> rec.toSeq,
      "jobs" -> exec.jobs.values.toSeq.map(j => Map("id" -> j.id, "group" -> j.group,
        "start" -> j.start, "end" -> j.end, "stage_ids" -> j.stageIds, "ok" -> j.ok)),
      "stages" -> exec.stages.values.toSeq.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
        "name" -> s.name, "submitted" -> s.submitted, "completed" -> s.completed,
        "num_tasks" -> s.numTasks) ++ s.agg.toMap),
      "plans" -> plan.execs.asScala.toSeq.map(e => Map("func" -> e.funcName,
        "planned" -> e.planned, "duration_ms" -> e.durationMs, "phases_ms" -> e.phasesMs,
        "staged_write" -> e.stagedWrite, "ok" -> e.ok)),
      "progress" -> progress.progress.asScala.toSeq)
  }
}

/** A workload: a warm-up on small inputs in every set-up, untimed
  * preparation, then the timed region. */
trait Workload {
  def warmUp(run: Run): Unit
  def prepare(run: Run): Unit = ()
  def run(run: Run, seconds: Double): Map[String, Any]
  /** Extra per-layer measurements taken after the timed region. */
  def traceExtras(run: Run): Map[String, Any] = Map.empty
}

object Heap {
  /** Old-generation occupancy right after a full collection. The first
    * collection lets Spark's cleaner release what only weak references
    * held; the second measures what is left. */
  def liveOldGenMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.toLowerCase.contains("old"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed))
      .sum / 1048576.0
  }
}

object Cpu {
  private val bean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time, user plus system, in seconds. */
  def seconds(): Double = bean.getProcessCpuTime / 1e9
}

/** A fixed integer-hash loop whose time depends only on the host's CPU. */
object Calibrate {
  def seconds(): Double = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 100000000L) {
      h ^= i; h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.println("calibration sentinel")
    s
  }
}
