package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.SensorReading
import graft.streaming.{EventTimePipelines, Sinks, StatefulOps}

/** The reference topologies on generated sensor readings: W1 (windowed
  * average, update mode, memory sink) and P1 (temperature alerts into the
  * exactly-once file sink). Each reads its own memory stream; every block
  * of rows goes to both.
  *
  * Input files (written by the benchmark's generator):
  *  - `warm.csv`, `drain.csv`: chunk,id,timestamp,temperature
  *  - `open.csv`: scheduled_ms,id,event_offset_ms,temperature, where the
  *    event time is the run's open-loop start + scheduled_ms + offset. */
final class SensorStream(inputDir: String) extends Workload {
  val Threshold = 0.8
  /** Generator period; a memory-stream block per tick. */
  val TickMs = 20.0
  private var warmRuns = 0

  private def chunks(file: String): Seq[Seq[SensorReading]] = {
    val rows = Files.readAllLines(Paths.get(inputDir, file)).asScala.toSeq.map(_.split(','))
    rows.groupBy(_(0).toInt).toSeq.sortBy(_._1).map(_._2.map(r =>
      SensorReading(r(1), r(2).toLong, r(3).toDouble)))
  }

  private final class Topology(run: Run, tag: String) {
    private val spark = run.spark
    implicit private val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val memW = MemoryStream[SensorReading]
    val memP = MemoryStream[SensorReading]
    private val base = Paths.get(run.out, "stream", tag)
    val sinkDir = base.resolve("p1_out").toString
    val w1: StreamingQuery = Sinks.queryable(
      EventTimePipelines.windowedAvg(memW.toDS(), "1 second", "5 seconds"),
      s"w1_$tag", "update")
      .option("checkpointLocation", base.resolve("w1_ckpt").toString).start()
    val p1: StreamingQuery = Sinks.exactlyOnceFiles(
      StatefulOps.temperatureAlerts(memP.toDS(), Threshold).toDF("id", "temperature", "diff"),
      sinkDir, base.resolve("p1_ckpt").toString).start()

    def add(rows: Seq[SensorReading]): Unit = { memW.addData(rows); memP.addData(rows) }
    def settle(): Unit = { w1.processAllAvailable(); p1.processAllAvailable() }
    def stop(): Unit = { w1.stop(); p1.stop() }
  }

  def warmUp(run: Run): Unit = {
    warmRuns += 1
    val t = new Topology(run, s"warm$warmRuns")
    chunks("warm.csv").foreach { c => t.add(c); t.settle() }
    t.stop()
  }

  private var drain: Seq[Seq[SensorReading]] = Nil
  private var open: IndexedSeq[Array[String]] = IndexedSeq.empty
  private var sched: IndexedSeq[Double] = IndexedSeq.empty

  override def prepare(run: Run): Unit = {
    drain = chunks("drain.csv")
    open = Files.readAllLines(Paths.get(inputDir, "open.csv")).asScala.toIndexedSeq
      .map(_.split(','))
    sched = open.map(_(0).toDouble)
  }

  def run(run: Run, seconds: Double): Map[String, Any] = {
    val t = new Topology(run, "timed")
    val w = run.rec.open("workload", "sensor_stream", 0L)

    // closed loop: each chunk is added once the previous one is committed
    val d0 = System.nanoTime()
    drain.foreach { c => t.add(c); t.settle() }
    val drainS = (System.nanoTime() - d0) / 1e9
    System.err.println(f"[perfbench] drained ${drain.size} chunks in $drainS%.3f s")

    // open loop: every tick, this thread adds the rows whose scheduled time
    // has come, whether or not the queries keep up
    val blocks = Seq.newBuilder[Map[String, Any]]
    val t0 = run.rec.now() + TickMs
    var i, tick = 0
    while (i < open.size) {
      tick += 1
      val wait = t0 + tick * TickMs - run.rec.now()
      if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
      val rel = run.rec.now() - t0
      var j = i
      while (j < open.size && sched(j) <= rel) j += 1
      if (j > i) {
        t.add((i until j).map { k =>
          val r = open(k)
          SensorReading(r(1), (t0 + sched(k)).toLong + r(2).toLong, r(3).toDouble)
        })
        blocks += Map("first" -> i, "rows" -> (j - i), "added" -> run.rec.now())
        i = j
      }
    }
    val genEnd = run.rec.now()
    t.settle()
    run.rec.close(w)

    val w1Rows = run.spark.table("w1_timed").collect().map(r =>
      s"${r.getString(0)},${r.getLong(1)},${r.getDouble(2)}")
    Files.write(Paths.get(run.out, "w1_final.csv"), w1Rows.toSeq.asJava)
    val rec = Map(
      "drain_s" -> drainS,
      "drain_rows" -> drain.map(_.size).sum,
      "drain_chunks" -> drain.size,
      "open_t0" -> t0,
      "open_gen_end" -> genEnd,
      "open_blocks" -> blocks.result(),
      "p1_sink" -> t.sinkDir,
      "w1_progress" -> t.w1.recentProgress.toSeq.map(_.json),
      "p1_progress" -> t.p1.recentProgress.toSeq.map(_.json))
    t.stop()
    rec
  }
}
