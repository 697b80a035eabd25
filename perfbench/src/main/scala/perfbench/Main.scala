package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM at local[nproc].
  *
  * {{{
  * Main --workload ops_cycle|bulk_load --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Prints the run's metrics one per line (`name value unit`), then one
  * line `RESULT {json}`: end-to-end metrics with `--trace 0`, per-layer
  * metrics with `--trace 1`. A traced run also writes its spans to
  * `DIR/trace.json`. Exits 1 when any output check failed. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "fresh_s" -> "s", "index_s" -> "s",
    "sitemap_s" -> "s", "store_bytes_per_record" -> "B", "peak_rss_mb" -> "MiB")

  /** Spans every traced run opens and reports. Each workload calls the
    * same modules: `pipeline.run_batch` is the wave (keyed) or the load
    * (table-wide), `cli.index` the feed sweep or the forced rebuild,
    * `cli.sitemap` the cadence or the bootstrap. `cli.vacuum` runs no
    * Spark job, so it stays in the trace artifact only. */
  val Spans: Seq[String] = Seq(
    "streaming.decode", "pipeline.run_batch", "cli.index", "cli.sitemap",
    "sources.lookup_probe", "sources.changes_since", "operators.merge_upsert",
    "transform.index_payloads", "sinks.write_solr")
  val SpanSuffixes: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s",
    "jobs" -> "count", "tasks" -> "count", "exec_cpu_s" -> "s",
    "shuffle_bytes" -> "B", "driver_gap_s" -> "s")
  val Stages: Seq[String] =
    Seq("merge_read", "publish", "report").map(stage => s"pipeline.run_batch.${stage}_s")
  /** Counters from the ctx series: name, unit, and how a run's values
    * reduce to one number. */
  val Counters: Seq[(String, String, Seq[Double] => Double)] = {
    val med: Seq[Double] => Double = Workloads.median
    val last: Seq[Double] => Double = _.lastOption.getOrElse(0.0)
    val sum: Seq[Double] => Double = _.sum
    Seq(("sources.master_layers", "count", last), ("sources.sitemap_layers", "count", last),
      ("sources.folds", "count", sum), ("sources.bytes_written", "B", med),
      ("sinks.solr_docs", "count", med), ("sinks.bulk_docs", "count", med),
      ("sinks.send_calls", "count", med), ("sinks.payload_bytes", "B", med),
      ("operators.index.delivered_ratio", "ratio", med),
      ("streaming.reject_ratio", "ratio", med),
      ("spark.persisted_rdds_after", "count", last),
      ("spark.storage_bytes_after", "B", last),
      ("spark.spill_bytes", "B", sum), ("jvm.gc_s", "s", sum))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rc = try {
      val tracer = new Tracer(spark.sparkContext, traced)
      val ctx = new Ctx(spark, tracer, opts("seed").toLong, opts("seconds").toInt,
        Ctx.freshDir(work.resolve("data")))
      val outcome = workload match {
        case "ops_cycle" => Workloads.opsCycle(ctx)
        case "bulk_load" => Workloads.bulkLoad(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      tracer.flush()
      ctx.record("spark.spill_bytes", tracer.all.map(_.spillBytes).sum.toDouble)
      val metrics: Seq[(String, Double, String)] =
        if (!traced) EndToEnd.map { case (n, u) => (n, outcome.endToEnd(n), u) }
        else layerMetrics(ctx)
      outcome.lines.foreach(println)
      metrics.foreach { case (n, v, u) => println(s"$n $v $u") }
      val failedRatio = ctx.failures.size.toDouble / math.max(ctx.attempted, 1L)
      println(f"failed_ops_ratio $failedRatio%.4f (${ctx.failures.size} of ${ctx.attempted})")
      ctx.failures.foreach(f => println(s"MISMATCH $f"))
      println(s"first_pass_s ${outcome.firstPassS} s")
      if (traced) {
        val cycles = tracer.all.filter(_.name == "cycle")
        if (cycles.nonEmpty)
          println(s"per_cycle jobs ${cycles.map(tracer.inclusive(_).jobs).mkString(",")}")
        for (n <- Seq("sources.master_layers", "sources.sitemap_layers", "sources.folds"))
          println(s"per_cycle $n ${ctx.series.getOrElse(n, Nil).map(_.toLong).mkString(",")}")
        for ((name, occ) <- tracer.all.groupBy(_.name).toSeq.sortBy(_._1))
          println(f"self_s $name ${occ.map(tracer.selfS).sum}%.3f s (${occ.size} spans)")
        Files.write(work.resolve("trace.json"), traceJson(ctx).getBytes("UTF-8"))
        println(s"unattributed_jobs ${tracer.unattributedJobs} count")
        println(s"trace artifact ${work.resolve("trace.json")}")
      }
      tracer.close()
      println("RESULT " + resultJson(ctx, metrics))
      if (ctx.failures.isEmpty) 0 else 1
    } finally spark.stop()
    sys.exit(rc)
  }

  /** Per-layer metrics: each span's counters (median over its occurrences,
    * one per cycle on ops_cycle), the stage timers, and the counters. */
  private def layerMetrics(ctx: Ctx): Seq[(String, Double, String)] = {
    val t = ctx.tracer
    val spans = for (name <- Spans; (suffix, unit) <- SpanSuffixes) yield {
      val occ = t.all.filter(_.name == name).map { s =>
        val tot = t.inclusive(s)
        suffix match {
          case "wall_s" => s.wallS
          case "self_s" => t.selfS(s)
          case "jobs" => tot.jobs.toDouble
          case "tasks" => tot.tasks.toDouble
          case "exec_cpu_s" => tot.execCpuNs / 1e9
          case "shuffle_bytes" => tot.shuffleBytes.toDouble
          case "driver_gap_s" => t.driverGapS(s)
        }
      }
      (s"$name.$suffix", Workloads.median(occ), unit)
    }
    val stages = Stages.map(n => (n, Workloads.median(ctx.series.get(n).toSeq.flatten), "s"))
    val counters = Counters.map { case (n, u, reduce) =>
      (n, reduce(ctx.series.get(n).toSeq.flatten), u) }
    spans ++ stages ++ counters
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def resultJson(ctx: Ctx, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct":${ctx.failures.isEmpty},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failures.size},"metrics":{""" +
      metrics.map { case (n, v, u) => s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}""" }
        .mkString(",") + "}}"

  /** Every span with its interval, parent and counters, plus the per-cycle
    * series, for reading a run after the fact. */
  private def traceJson(ctx: Ctx): String = {
    val t = ctx.tracer
    val spans = t.all.map { s =>
      val tot = t.inclusive(s)
      s"""{"id":${s.id},"name":${str(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${num(s.wallS)},""" +
        s""""self_s":${num(t.selfS(s))},"jobs":${tot.jobs},"tasks":${tot.tasks},""" +
        s""""exec_cpu_s":${num(tot.execCpuNs / 1e9)},"shuffle_bytes":${tot.shuffleBytes},""" +
        s""""spill_bytes":${tot.spillBytes},"driver_gap_s":${num(t.driverGapS(s))}}"""
    }
    val series = ctx.series.map { case (n, vs) =>
      s"${str(n)}:[${vs.map(num).mkString(",")}]" }
    s"""{"spans":[${spans.mkString(",\n")}],\n"series":{${series.mkString(",\n")}},""" +
      s""""unattributed_jobs":${t.unattributedJobs}}"""
  }
}
