package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.functions.{bit_xor, col, expr}

/** A fixed list of registered queries, timed one after another: the build
  * (`SparkEntry.queries(name)(spark, dir)`, with whatever eager work it
  * does) and then the execution of the result, written as parquet for the
  * correctness check. A run times a fixed number of laps, set by the
  * requested time alone, so a slower program does not do less work; each
  * lap starts with no staged table, so every lap builds the stage and then
  * reads it.
  *
  * The seed permutes the `graft.batch` queries; the `graft.llm` chains
  * follow in their fixed order, the query that builds a stage before the
  * one that reads it. */
final class QueryList(orderSeed: Long) extends Workload {
  import QueryList._
  private val names: Seq[String] = new scala.util.Random(orderSeed).shuffle(Batch) ++ Llm

  private def one(run: Run, dir: String, name: String, lap: Int, parent: Long,
      resultDir: String): Map[String, Any] = {
    val fn = graft.SparkEntry.queries(name)
    val builds0 = graft.core.StagedTable.stagingsComputed
    val q = run.rec.open("query", name, parent, Map("lap" -> lap))
    var buildMs, execMs = Double.NaN
    var df: org.apache.spark.sql.DataFrame = null
    val error = try {
      val (built, b) = run.inSpan("build", name, q.id)(fn(run.spark, dir))
      df = built
      buildMs = b
      execMs = run.inSpan("execute", name, q.id) {
        df.write.mode("overwrite").parquet(Paths.get(resultDir, name).toString)
      }._2
      null
    } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
    val totalMs = run.rec.close(q)
    // traced runs only, outside the query's span: the build analyzed the
    // Dataset eagerly, which no listener sees, and the staged tables it scans
    val (analysisMs, stagedReads) =
      if (!run.traced || error != null) (0.0, 0)
      else (df.queryExecution.tracker.phases.get("analysis")
          .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0),
        df.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation
              if r.catalogTable.exists(_.identifier.table.startsWith(Fence.StagedPrefix)) => 1
        }.sum)
    run.spark.catalog.clearCache()
    Map("name" -> name, "module" -> (if (Llm.contains(name)) "llm" else "batch"),
      "lap" -> lap, "build_ms" -> buildMs, "exec_ms" -> execMs,
      "total_ms" -> totalMs, "error" -> error,
      "staged_builds" -> (graft.core.StagedTable.stagingsComputed - builds0),
      "staged_reads" -> stagedReads, "analysis_ms" -> analysisMs)
  }

  def warmUp(run: Run): Unit = {
    val dir = Paths.get(run.out, "warmup-results").toString
    WarmUp.foreach(n => one(run, run.tiny, n, -1, 0L, dir))
  }

  /** Runs the llm chain once on the small tables, untimed, so that the
    * first lap does not pay its first-time code generation. */
  override def prepare(run: Run): Unit = {
    val dir = Paths.get(run.out, "warmup-results").toString
    Llm.foreach(n => one(run, run.tiny, n, -1, 0L, dir))
  }

  def run(run: Run, seconds: Double): Map[String, Any] = {
    val w = run.rec.open("workload", "batch", 0L)
    val ops = Seq.newBuilder[Map[String, Any]]
    val lapsS, lapsCpuS = Seq.newBuilder[Double]
    for (lap <- 0 until laps(seconds)) {
      run.forgetStages()
      val c0 = Cpu.seconds()
      val l0 = System.nanoTime()
      val resultDir = Paths.get(run.out, "results", s"lap$lap").toString
      names.foreach(n => ops += one(run, run.data, n, lap, w.id, resultDir))
      lapsS += (System.nanoTime() - l0) / 1e9
      lapsCpuS += Cpu.seconds() - c0
    }
    run.rec.close(w)
    val oracle = graft.SparkEntry.oracleSql
    Map("ops" -> ops.result(), "laps_s" -> lapsS.result(), "laps_cpu_s" -> lapsCpuS.result(),
      "oracle" -> names.map(n => n -> oracle.get(n).orNull).toMap)
  }

  /** Per-call cost of `Tables.load` for each table the workload reads, and
    * the per-row cost of each registered kernel on the workload's own
    * columns. */
  override def traceExtras(run: Run): Map[String, Any] = {
    val s = run.spark
    val loads = graft.core.Tables.All.map { t =>
      val ms = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        graft.core.Tables.load(s, run.data, t)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      t -> ms(ms.size / 2)
    }.toMap
    // the workload's own columns, repeated until a kernel's cost stands
    // clear of the per-job overhead (at least 0.2 s, or 64 times the start
    // count); the same scan with only a null test on the input is
    // subtracted
    val docs = graft.core.Tables.documents(s, run.data).selectExpr("text",
      "rolling_hash(text, 5) AS hs", "md5_grams(text, 5) AS grams",
      "array_sort(array_distinct(rolling_hash(text, 5))) AS hsorted").cache()
    val embs = graft.core.Tables.embeddings(s, run.data).select("embedding").cache()
    def ns(df: org.apache.spark.sql.DataFrame, e: String): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.select(expr(s"xxhash64($e)").as("h")).agg(bit_xor(col("h"))).collect()
      (System.nanoTime() - t0).toDouble
    }.min
    def perRow(df: org.apache.spark.sql.DataFrame, startRows: Long, e: String,
        base: String): Double = {
      val n = df.count()
      var copies = math.max(1L, startRows / n)
      val limit = copies * 64
      var result = Double.NaN
      while (result.isNaN) {
        val rows = df.crossJoin(s.range(copies).toDF("copy"))
        val diff = ns(rows, e) - ns(rows, base)
        if (diff >= 2e8 || copies >= limit) result = math.max(0.0, diff) / (n * copies)
        copies *= 4
      }
      result
    }
    val cases = Seq(
      ("minhash_sigs", docs, "minhash_sigs(hs)", "hs"),
      ("simhash_sig", docs, "simhash_sig(hs)", "hs"),
      ("md5_long60", docs, "md5_long60(text)", "text"),
      ("md5_grams", docs, "md5_grams(text, 5)", "text"),
      ("rolling_hash", docs, "rolling_hash(text, 5)", "text"),
      ("winnow", docs, "winnow(grams, 4)", "grams"),
      ("vector_dot", embs, "vector_dot(embedding, embedding)", "embedding"),
      ("vector_quantize", embs, "vector_quantize(embedding, 1000)", "embedding"),
      ("sorted_intersect_count", docs, "sorted_intersect_count(hsorted, hsorted)", "hsorted"))
    val kernels = cases.map { case (k, df, e, input) =>
      k -> perRow(df, if (df eq embs) 200000L else 24000L, e, s"isnull($input)")
    }.toMap
    docs.unpersist()
    embs.unpersist()
    Map("tables_load_ms" -> loads, "kernel_ns_per_row" -> kernels)
  }
}

object QueryList {
  /** `graft.batch` queries from all five modules (transform, aggregation
    * and windows, joins, event funnels, stateful twins), dominated by fixed
    * per-job cost: many small Spark jobs and tasks, with planning a small
    * share. One lap of all 63 takes about 47 s on a 4-core host, longer
    * than a run can afford. */
  val Batch = Seq("t1_celsius", "a1_max_by", "w1_window_avg", "q1_pricing_summary",
    "q5_revenue_by_region", "j_asof", "ev_funnel", "ev_retention", "p1_jump_alert")

  /** `graft.llm` near-duplicate clustering: the first builds the staged
    * cluster table, running the component loop's Spark jobs inside its
    * builder, and the second reads it. */
  val Llm = Seq("llm_cluster_stage", "dd_split_staged")

  /** Laps per run: one per `LapSeconds` of the requested time, at least
    * two. */
  val LapSeconds = 6.0
  def laps(seconds: Double): Int = math.max(2, math.round(seconds / LapSeconds).toInt)

  /** Each set-up's warm-up: one relational and one event query. */
  val WarmUp = Seq("q1_pricing_summary", "ev_funnel")
}
