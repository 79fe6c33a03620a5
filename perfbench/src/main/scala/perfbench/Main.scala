package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's JVM entry point (launched by `run.py`).
  *
  *   --workload etl_monthly|serve_dashboard
  *   --seed N --seconds S --trace 0|1 --work DIR [--trace-out FILE]
  *
  * A miniature of the workload runs first, untimed, so class loading and
  * code generation do not land in a timed step. Set-up then runs three
  * times and `setup_s` is their median. With `--trace 0` the last set-up's
  * state is measured for S seconds with no tracing and the end-to-end
  * metrics are reported. With `--trace 1` the second set-up is measured
  * untraced, the third traced, and the per-layer metrics are reported
  * (`trace.overhead_pct` compares the two). The result is printed as one
  * JSON object on a line starting with `PERFBENCH_RESULT `.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "op_p50_ms" -> "ms")

  /** Every per-layer metric, on every workload; a layer a workload does
    * not exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "driver.s" -> "s", "driver.plan_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s_sum" -> "s",
    "spark.task_s_max" -> "s", "spark.task_s_p50" -> "s",
    "spark.single_task_stages" -> "count", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "plan.exchanges" -> "count", "plan.broadcast_exchanges" -> "count",
    "jvm.heap_peak_mb" -> "MiB", "trace.overhead_pct" -> "%",
    "trace.span_coverage_pct" -> "%", "trace.untraced_s" -> "s",
    "host.cpu_probe_s" -> "s",
    "etl.items_per_s" -> "items/s",
    "standardize.self_s" -> "s", "quality.self_s" -> "s", "merge.self_s" -> "s",
    "merge.shuffle_bytes" -> "bytes", "sinks.listing_write_s" -> "s",
    "sinks.bytes_per_item" -> "bytes",
    "serve.p50_ms" -> "ms", "serve.p95_ms" -> "ms",
    "analytics.monthly_counts_p50_ms" -> "ms", "analytics.crawl_report_p50_ms" -> "ms",
    "analytics.report_totals_p50_ms" -> "ms", "analytics.queue_stats_p50_ms" -> "ms",
    "analytics.queue_page_p50_ms" -> "ms", "analytics.tag_counts_p50_ms" -> "ms",
    "analytics.domains_p50_ms" -> "ms", "export.to_dict_page_p50_ms" -> "ms",
    "analytics.rows_scanned_per_row_returned" -> "ratio",
    "driver.plan_ms_per_req" -> "ms", "spark.jobs_per_req" -> "count",
    "index.screen_docs_per_s" -> "docs/s", "index.append_docs_per_s" -> "docs/s",
    "index.compact_s" -> "s",
    "dedupindex.screen_exact_s" -> "s", "dedupindex.screen_neardup_s" -> "s",
    "dedupindex.append_s" -> "s", "dedupindex.delete_s" -> "s",
    "dedupindex.files_live_before_compact" -> "count",
    "dedupindex.files_live_after_compact" -> "count",
    "dedupindex.compact_bytes_rewritten" -> "bytes",
    "dedupindex.bytes_per_live_doc" -> "bytes", "dedupindex.write_amp" -> "ratio",
    "dedupindex.neardup_recall" -> "ratio",
    "textops.shingle_docs_per_s" -> "docs/s",
    "textops.neardup_candidates_per_hit" -> "ratio")

  /** The workload-specific figures that are also reported per layer. */
  private val NamedAsLayer = Map("etl_items_per_s" -> "etl.items_per_s",
    "serve_p50_ms" -> "serve.p50_ms", "serve_p95_ms" -> "serve.p95_ms",
    "index_screen_docs_per_s" -> "index.screen_docs_per_s",
    "index_append_docs_per_s" -> "index.append_docs_per_s",
    "index_compact_s" -> "index.compact_s")

  private val started = System.nanoTime()
  private def log(s: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - started) / 1e9}%6.1f s] $s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = graft.GraftSession.builder("perfbench", cpus.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoint")

    def mk(rep: Int, tiny: Boolean = false): Workload = workload match {
      case "etl_monthly" => new EtlMonthly(spark, seed, work, rep, tiny)
      case "serve_dashboard" => new ServeDashboard(spark, seed, work, rep, tiny)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    def setUp(rep: Int): Workload = {
      val w = mk(rep)
      val t0 = System.nanoTime()
      w.setup()
      setupTimes += (System.nanoTime() - t0) / 1e9
      w
    }

    try {
      // a miniature of the workload first, untimed: the JVM's first
      // Spark jobs pay class loading and code generation, which would
      // otherwise land in whichever set-up or operation came first
      log("session ready")
      val warmRec = new Rec
      val tiny = mk(0, tiny = true)
      tiny.setup()
      (0 until tiny.warmOps).foreach(tiny.op(_, warmRec, None))
      tiny.teardown()
      log("miniature warm-up done")
      setUp(1).teardown()
      val first = setUp(2)
      log(s"$workload seed=$seed cpus=$cpus: ${first.properties}")
      val (w, rec) =
        if (!trace) { first.teardown(); val w = setUp(3); (w, measure(w, seconds, None)) }
        else { val r = measure(first, seconds, None); first.teardown(); (first, r) }
      if (warmRec.failures.nonEmpty) {
        rec.attempted += 1; rec.failed += 1; rec.failures ++= warmRec.failures
      }
      val e2e = endToEnd(w, rec, Stat.median(setupTimes.toSeq))
      w.named(rec).foreach { case (n, v, u) => log(f"$n%-26s $v%14.4f $u") }
      EndToEnd.foreach { case (n, u) => log(f"$n%-26s ${e2e(n)}%14.4f $u") }
      log(s"attempted=${rec.attempted} failed=${rec.failed} setup_s=${setupTimes.mkString(",")}")
      rec.failures.take(10).foreach(f => log(s"CHECK FAILED $f"))

      val (metrics, attempted, failed, failures) =
        if (!trace) (EndToEnd.map { case (n, u) => n -> (e2e(n), u) }, rec.attempted, rec.failed, rec.failures)
        else {
          val probe = cpuProbe(spark, cpus)
          val tw = setUp(3)
          val tr = new Tracer(spark)
          tr.start()
          Tracer.resetHeapPeak()
          val trec = measure(tw, seconds, Some(tr))
          val heap = Tracer.heapPeakMb()
          tr.stop()
          val layer = perLayer(tw, trec, tr, rec, probe, heap)
          a.get("trace-out").foreach(p => writeTrace(p, workload, seed, tw, rec, trec, e2e, layer, tr))
          tw.teardown()
          (PerLayer.map { case (n, u) => n -> (layer.getOrElse(n, 0.0), u) },
            rec.attempted + trec.attempted, rec.failed + trec.failed, rec.failures ++ trec.failures)
        }
      val finite = metrics.forall(m => java.lang.Double.isFinite(m._2._1))
      val json = metrics.map { case (n, (v, u)) =>
        s""""$n": {"value": ${if (java.lang.Double.isFinite(v)) v.toString else "0"}, "unit": "$u"}"""
      }.mkString("{", ", ", "}")
      val correct = failed == 0 && failures.isEmpty && finite && attempted > 0
      println(s"""PERFBENCH_RESULT {"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    } finally spark.stop()
  }

  /** Closed loop, one client: the next operation starts when the last
    * one has returned. Runs at least `seconds`, then until the workload
    * may stop (the end of a compaction cycle, of a request deck). */
  def measure(w: Workload, seconds: Double, tr: Option[Tracer]): Rec = {
    val rec = new Rec
    log(s"measuring ${if (tr.isEmpty) "untraced" else "traced"}")
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (!(elapsed >= seconds && w.canStop(i)) && elapsed < seconds * 6 + 30) {
      rec.attempted += 1
      val before = rec.failures.size
      try w.op(i, rec, tr)
      catch {
        case e: Exception =>
          rec.failures += s"${w.name} op $i: $e"
          e.printStackTrace()
      }
      if (rec.failures.size > before) rec.failed += 1
      i += 1
    }
    log(s"measured ${rec.attempted} operations")
    rec
  }

  def endToEnd(w: Workload, rec: Rec, setup: Double): Map[String, Double] = {
    val l = w.latencies(rec)
    Map("setup_s" -> setup,
      "throughput_per_s" -> w.throughput(rec),
      "op_p50_ms" -> (if (l.isEmpty) Double.NaN else Stat.median(l) * 1000))
  }

  /** A fixed Spark job of built-in functions only: no engine code runs,
    * so it moves with the host and not with a change. Median of three. */
  def cpuProbe(spark: SparkSession, cpus: Int): Double = Stat.median((0 until 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 40000000L, 1L, cpus)
      .select(sum(xxhash64(col("id"), lit(7)) % 1000).as("s")).collect()
    (System.nanoTime() - t0) / 1e9
  })

  def perLayer(w: Workload, rec: Rec, tr: Tracer, untraced: Rec, probe: Double,
               heapMb: Double): Map[String, Double] = {
    val ops = tr.spans.filter(_.name == "op")
    val opIds = ops.map(_.id).toSet
    // per workload operation (a monthly batch, a request), whatever the
    // number of engine calls inside it
    val nOps = math.max(w.latencies(rec).size, 1).toDouble
    val c = tr.sumWhere(s => opIds(s.op))
    // coverage over the workload's operations only: the benchmark's own
    // input generation, checks and probes are neither wall nor layer time
    val wall = ops.map(_.seconds).sum
    val covered = tr.spans.filter(s => opIds(s.parent)).map(_.seconds).sum
    val driver = ops.map(s => tr.driverOnlySeconds(tr.epochMs(s.startNs), tr.epochMs(s.endNs))).sum
    val taskS = c.taskMs.map(_ / 1000.0).toSeq
    val common = Map(
      "driver.s" -> driver / nOps,
      "driver.plan_ms" -> c.planMs / nOps,
      "spark.jobs" -> c.jobs / nOps,
      "spark.tasks" -> c.tasks / nOps,
      "spark.task_s_sum" -> taskS.sum / nOps,
      "spark.task_s_max" -> (if (taskS.isEmpty) 0.0 else taskS.max),
      "spark.task_s_p50" -> (if (taskS.isEmpty) 0.0 else Stat.median(taskS)),
      "spark.single_task_stages" -> c.singleTaskStages / nOps,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes / nOps,
      "spark.spill_bytes" -> c.spillBytes / nOps,
      "spark.gc_s" -> c.gcMs / 1000.0 / nOps,
      "plan.exchanges" -> c.exchanges / nOps,
      "plan.broadcast_exchanges" -> c.broadcastExchanges / nOps,
      "jvm.heap_peak_mb" -> heapMb,
      "trace.overhead_pct" -> (w.throughput(untraced) / w.throughput(rec) - 1) * 100,
      "trace.span_coverage_pct" -> covered / wall * 100,
      "trace.untraced_s" -> (wall - covered) / nOps,
      "host.cpu_probe_s" -> probe)
    if (covered / wall < 0.9)
      log(f"FLAG: layer spans cover ${covered / wall * 100}%.1f%% of the operations' wall; " +
        f"untraced remainder ${wall - covered}%.3f s")
    common ++ w.perLayer(rec, tr) ++
      w.named(untraced).flatMap { case (n, v, _) => NamedAsLayer.get(n).map(_ -> v) }
  }

  private def jsonMap(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
    .map { case (k, v) => s""""$k": ${if (java.lang.Double.isFinite(v)) v.toString else "null"}""" }
    .mkString("{", ", ", "}")

  def writeTrace(path: String, workload: String, seed: Long, w: Workload, untraced: Rec,
                 traced: Rec, e2e: Map[String, Double], layer: Map[String, Double],
                 tr: Tracer): Unit = {
    val named = w.named(untraced).map { case (n, v, _) => n -> v }.toMap
    val body =
      s"""{"workload": "$workload", "seed": $seed,
         |"properties": "${w.properties.replace("\"", "'")}",
         |"untraced_attempted": ${untraced.attempted}, "traced_attempted": ${traced.attempted},
         |"end_to_end": ${jsonMap(e2e)},
         |"named": ${jsonMap(named)},
         |"per_layer": ${jsonMap(layer)},
         |"spans": ${tr.spansJson}}
         |""".stripMargin
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
    log(s"trace written to $path")
  }
}
