package perfbench

import java.nio.file.Paths
import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

import graft.Pipeline
import graft.operators.{IndexJob, MergeEngine, Sitemap}
import graft.records.MasterRecord
import graft.sources.{MasterStore, Sinks}
import graft.streaming.{QueueDecode, Watermark}

/** What a workload run measured: end-to-end values (tracing off) and the
  * run's lines for a human reader. Per-layer values come from the tracer
  * and the ctx series. */
final case class Outcome(endToEnd: Map[String, Double], firstPassS: Double,
    lines: Seq[String])

object Workloads {
  val MalformedShare = 0.02
  val RedeliverShare = 0.10

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** High-water resident set of this JVM, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  private def stamped(ctx: Ctx, prefix: String): (String, Double) => Unit =
    (stage, s) => ctx.record(s"$prefix.${stage}_s", s)

  /** Bytes on disk per live record of the master store. */
  private def bytesPerRecord(ctx: Ctx, root: String): Double = {
    val live = ctx.master(root).read(ctx.spark).count()
    ctx.check(live > 0, "master store is empty at run end")
    ctx.files(Paths.get(root)).values.sum.toDouble / math.max(live, 1L)
  }

  /** File sizes of the master and sitemap stores, by relative path. */
  private def storeFiles(ctx: Ctx, root: String): Map[String, Long] =
    ctx.files(Paths.get(root)) ++
      ctx.files(Paths.get(s"$root-sitemap")).map { case (k, v) => s"sm/$k" -> v }

  /** Per-step resource counters, recorded once per cycle or pass. */
  private def storeCounters(ctx: Ctx, root: String,
      before: Map[String, Long], baseGens: (Long, Long)): (Map[String, Long], (Long, Long)) = {
    val (m, s) = (ctx.master(root).stats.get, ctx.sitemapStore(root).stats)
    ctx.record("sources.master_layers", m.layerCount)
    ctx.record("sources.sitemap_layers", s.map(_.layerCount).getOrElse(0).toDouble)
    val gens = (m.baseGen, s.map(_.baseGen).getOrElse(0L))
    ctx.record("sources.folds",
      Seq(gens._1 != baseGens._1, gens._2 != baseGens._2).count(identity))
    val after = storeFiles(ctx, root)
    ctx.record("sources.bytes_written", ctx.newBytes(before, after))
    val (rdds, bytes) = ctx.storageAfter()
    ctx.record("spark.persisted_rdds_after", rdds)
    ctx.record("spark.storage_bytes_after", bytes)
    (after, gens)
  }

  private def sinkDeltas[T](ctx: Ctx)(body: => T): (T, Long) = {
    val (s0, b0, c0, p0) = (ctx.solrCounts.docs.get, ctx.bulkCounts.docs.get,
      ctx.solrCounts.calls.get + ctx.bulkCounts.calls.get,
      ctx.solrCounts.bytes.get + ctx.bulkCounts.bytes.get)
    val r = body
    val solrDocs = ctx.solrCounts.docs.get - s0
    ctx.record("sinks.solr_docs", solrDocs)
    ctx.record("sinks.bulk_docs", ctx.bulkCounts.docs.get - b0)
    ctx.record("sinks.send_calls",
      ctx.solrCounts.calls.get + ctx.bulkCounts.calls.get - c0)
    ctx.record("sinks.payload_bytes",
      ctx.solrCounts.bytes.get + ctx.bulkCounts.bytes.get - p0)
    (r, solrDocs)
  }

  /** Table-wide ingest of a generated batch with all three sinks on. */
  private def load(ctx: Ctx, store: MasterStore, batch: Batch,
      spanName: String, decodeSpan: String,
      raw: Option[Dataset[String]] = None): Pipeline.RunReport = {
    val t = ctx.tracer
    val decoded = t.span(decodeSpan)(ctx.decode(batch, raw))
    val report = t.span(spanName)(Pipeline.runBatch(ctx.spark, store,
      QueueDecode.messages(decoded), ctx.solr, ctx.bulk, now = ctx.now,
      stageTimer = stamped(ctx, spanName)))
    decoded.unpersist()
    ctx.check(report.solrOk == batch.records && report.solrFailed == 0,
      s"load delivered solrOk=${report.solrOk} solrFailed=${report.solrFailed}, " +
        s"expected ${batch.records}")
    report
  }

  // ──────────────────────────────────────────────────────────── ops_cycle

  val OpsRecords = 3000
  val OpsWave = 150
  /** Keys the lookup probe reads: one wave's worth. */
  val ProbeKeys = OpsWave
  /** Cycles per run: untraced runs measure one (then more only while
    * `--seconds` has not elapsed); traced runs a fixed two, enough to see
    * the delta layers climb. */
  val OpsMinCycles = 1
  val TracedCycles = 2

  /** The daily loop over a standing, fully indexed, sitemap-bootstrapped
    * corpus: wave → index sweep → sitemap cadence → vacuum, closed loop. */
  def opsCycle(ctx: Ctx): Outcome = {
    val t = ctx.tracer
    val root = ctx.path("master")
    val v0 = Ctx.hourFloor(System.currentTimeMillis()) - 24 * Ctx.Hour

    // set-up: the standing corpus, both cursor bootstraps (the sitemap
    // cadence's table-scan run also fills the sitemap state), then both
    // stores folded to a base with no delta layers
    val t0 = System.nanoTime()
    val gen = new Gen(ctx.seed, OpsRecords)
    ctx.now = new Timestamp(v0 - Ctx.Hour)
    val store = ctx.master(root)
    load(ctx, store, gen.corpus(v0 - 2 * Ctx.Hour, MalformedShare), "setup.load",
      "setup.decode")
    ctx.now = new Timestamp(v0)
    t.span("setup.index_from_feed")(ctx.cli(root, "discovery=table-scan",
      "--index-from-feed"))
    t.span("setup.sitemap_cadence")(ctx.cli(root, "table-scan discovery",
      "--update-sitemaps-auto", "--days-back", "1"))
    val smStore = ctx.sitemapStore(root)
    t.span("setup.compact") {
      store.compact(ctx.spark)
      smStore.compact(ctx.spark)
    }
    t.span("setup.vacuum")(ctx.cli(root, "vacuum master", "--vacuum", "--retain", "2"))
    val setupS = ctx.secs(t0)
    ctx.check(store.stats.exists(_.layerCount == 0) &&
      smStore.stats.exists(_.layerCount == 0),
      s"set-up must leave compacted stores, got master ${store.stats} " +
        s"sitemap ${smStore.stats}")

    val wmIndex = s"$root-watermarks"
    val wmSitemap = s"$root-sitemap-watermarks"
    def cursor(dir: String, key: String): Long =
      Watermark.readGen(ctx.spark, dir, key).getOrElse(-1L)

    var files = storeFiles(ctx, root)
    var baseGens = (store.stats.get.baseGen, smStore.stats.get.baseGen)
    val gc0 = ctx.gcSeconds
    val cycles = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val loopT0 = System.nanoTime()
    var c = 0
    while (c < (if (t.enabled) TracedCycles else OpsMinCycles) ||
        (!t.enabled && ctx.secs(loopT0) < ctx.seconds)) {
      c += 1
      val vnow = v0 + c * Ctx.Hour
      val wave = gen.wave(OpsWave, vnow - Ctx.Hour, RedeliverShare, MalformedShare)
      val idxCur = cursor(wmIndex, Pipeline.GenCursorKey)
      val smCur = cursor(wmSitemap, "last.sitemaps.generation")
      val feedFrom = store.currentVersion.getOrElse(0L)
      val step = collection.mutable.Map.empty[String, Double]
      def timed[T](name: String)(body: => T): T = {
        val s0 = System.nanoTime()
        try t.span(name)(body) finally step(name) = ctx.secs(s0)
      }
      t.span("cycle") {
        ctx.now = new Timestamp(vnow - Ctx.Hour / 2)
        val decoded = timed("streaming.decode")(ctx.decode(wave))
        timed("pipeline.run_batch")(Pipeline.runBatch(ctx.spark, store,
          QueueDecode.messages(decoded), ctx.solr, ctx.bulk, now = ctx.now,
          sinks = Set.empty, keyLocal = true,
          stageTimer = stamped(ctx, "pipeline.run_batch")))
        decoded.unpersist()
        ctx.now = new Timestamp(vnow)
        val (out, delivered) = sinkDeltas(ctx)(timed("cli.index")(
          ctx.cli(root, "discovery=feed", "--index-from-feed")))
        ctx.check(delivered == wave.changed,
          s"cycle $c: SOLR received $delivered docs, the wave changed ${wave.changed}")
        val selected = ctx.outputInt(out, "indexed")
        ctx.record("operators.index.delivered_ratio",
          delivered.toDouble / math.max(selected, 1L))
        timed("cli.sitemap")(ctx.cli(root, "feed discovery",
          "--update-sitemaps-auto", "--days-back", "1"))
        timed("cli.vacuum")(ctx.cli(root, "vacuum master", "--vacuum",
          "--retain", "2", "--orphans", "--orphan-grace-min", "60"))
      }
      ctx.check(cursor(wmIndex, Pipeline.GenCursorKey) > idxCur,
        s"cycle $c: index cursor did not advance")
      ctx.check(cursor(wmSitemap, "last.sitemaps.generation") > smCur,
        s"cycle $c: sitemap cursor did not advance")
      val (f, g) = storeCounters(ctx, root, files, baseGens)
      files = f; baseGens = g
      cycles += step.toMap
      if (t.enabled) probe(ctx, store, wave, feedFrom)
    }
    ctx.record("jvm.gc_s", ctx.gcSeconds - gc0)

    ctx.check(store.versions.size <= 3 && smStore.versions.size <= 3,
      s"vacuum must bound generations, got master ${store.versions} " +
        s"sitemap ${smStore.versions}")
    val consumers = store.consumerCursors.keySet
    ctx.check(consumers == Set("reindex", "sitemaps") &&
      store.stats.exists(_.consumersBehind == 0),
      s"both consumers must be registered and current, got $consumers " +
        s"behind=${store.stats.map(_.consumersBehind)}")

    def stepMedian(names: String*): Double =
      median(cycles.toSeq.map(s => names.map(s).sum))
    val all = Seq("streaming.decode", "pipeline.run_batch", "cli.index",
      "cli.sitemap", "cli.vacuum")
    val cycleS = stepMedian(all: _*)
    val freshS = stepMedian("streaming.decode", "pipeline.run_batch", "cli.index")
    val perCycle = cycles.map(s => f"${all.map(s).sum}%.2f").mkString(",")
    Outcome(
      Map("setup_s" -> setupS, "pass_s" -> cycleS, "fresh_s" -> freshS,
        "index_s" -> stepMedian("cli.index"),
        "sitemap_s" -> stepMedian("cli.sitemap"),
        "store_bytes_per_record" -> bytesPerRecord(ctx, root),
        "peak_rss_mb" -> peakRssMb()),
      all.map(cycles.head).sum,
      Seq(f"cycle_s $cycleS%.3f s (median of ${cycles.size} cycles: $perCycle)",
        f"fresh_s $freshS%.3f s (median, ${cycles.size} cycles)",
        f"records_per_s ${OpsWave / cycleS}%.1f rec/s (wave of $OpsWave over " +
          f"a $OpsRecords-record corpus)"))
  }

  // ──────────────────────────────────────────────────────────── bulk_load

  val BulkRecords = 8000
  val WarmRecords = 500

  /** Bulk ingest into an empty store with all sinks on, the sitemap
    * bootstrap, then a forced full rebuild. */
  def bulkLoad(ctx: Ctx): Outcome = {
    val t = ctx.tracer
    val root = ctx.path("master")
    val v0 = Ctx.hourFloor(System.currentTimeMillis()) - 24 * Ctx.Hour

    // set-up: the same three phases on a small batch in a scratch store,
    // so the measured pass runs warm code; then the measured batch,
    // spooled to a text file, the queue the load drains
    val t0 = System.nanoTime()
    val warmRoot = ctx.path("warmup")
    ctx.now = new Timestamp(v0 - Ctx.Hour)
    load(ctx, ctx.master(warmRoot),
      new Gen(~ctx.seed, WarmRecords).corpus(v0 - 2 * Ctx.Hour, MalformedShare),
      "setup.load", "setup.decode")
    ctx.now = new Timestamp(v0)
    t.span("setup.sitemap_bootstrap")(ctx.cli(warmRoot, "bootstrap done",
      "--manage-sitemap", "--action", "bootstrap"))
    ctx.now = new Timestamp(v0 + Ctx.Hour)
    t.span("setup.rebuild")(ctx.cli(warmRoot, "solrFailed=0", "-r", "sml", "-f"))
    val batch = new Gen(ctx.seed, BulkRecords).corpus(v0 - 2 * Ctx.Hour, MalformedShare)
    val spool = ctx.path("spool")
    locally {
      import ctx.spark.implicits._
      ctx.spark.createDataset(batch.envelopes).write.text(spool)
    }
    val setupS = ctx.secs(t0)
    val store = ctx.master(root)
    val gc0 = ctx.gcSeconds

    val ((loadS, bootS, rebuildS, included), solrDocs) =
      sinkDeltas(ctx)(bulkPass(ctx, store, batch, root, spool, v0))
    ctx.check(solrDocs == 2L * BulkRecords,
      s"SOLR received $solrDocs docs over load and rebuild, expected ${2 * BulkRecords}")
    storeCounters(ctx, root, Map.empty, (0L, 0L))
    ctx.record("jvm.gc_s", ctx.gcSeconds - gc0)

    // the table-wide writes retain no change feed: read it from its horizon
    if (t.enabled) probe(ctx, store, batch, store.stats.map(_.feedFrom).getOrElse(0L))

    val passS = loadS + bootS + rebuildS
    Outcome(
      Map("setup_s" -> setupS, "pass_s" -> passS,
        "fresh_s" -> loadS, "index_s" -> rebuildS, "sitemap_s" -> bootS,
        "store_bytes_per_record" -> bytesPerRecord(ctx, root),
        "peak_rss_mb" -> peakRssMb()),
      passS,
      Seq(f"load_records_per_s ${BulkRecords / loadS}%.1f rec/s",
        f"bootstrap_records_per_s ${included / bootS}%.1f rec/s",
        f"rebuild_records_per_s ${BulkRecords / rebuildS}%.1f rec/s"))
  }

  /** The measured pass: load, bootstrap, rebuild, each checked. Returns
    * the three phase times and the sitemap's included record count. */
  private def bulkPass(ctx: Ctx, store: MasterStore, batch: Batch, root: String,
      spool: String, v0: Long): (Double, Double, Double, Long) = {
    val t = ctx.tracer
    ctx.now = new Timestamp(v0 - Ctx.Hour)
    val tLoad = System.nanoTime()
    load(ctx, store, batch, "pipeline.run_batch", "streaming.decode",
      Some(ctx.spark.read.textFile(spool)))
    val loadS = ctx.secs(tLoad)

    ctx.now = new Timestamp(v0)
    val tBoot = System.nanoTime()
    t.span("cli.sitemap")(ctx.cli(root, "bootstrap done",
      "--manage-sitemap", "--action", "bootstrap"))
    val bootS = ctx.secs(tBoot)
    val included = ctx.sitemapStore(root).read(ctx.spark).count()
    val perFile = Sitemap.MaxRecordsPerSitemap
    for (site <- Sitemap.Sites.keys.toSeq.sorted) {
      val dir = Paths.get(s"$root-sitemaps", site).toFile
      val n = Option(dir.listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.startsWith("sitemap_bib_") && f.getName.endsWith(".xml"))
      val want = (included + perFile - 1) / perFile
      ctx.check(n == want, s"site $site has $n sitemap files, expected $want " +
        s"for $included included records")
    }

    ctx.now = new Timestamp(v0 + Ctx.Hour)
    val tRebuild = System.nanoTime()
    val out = t.span("cli.index")(ctx.cli(root, "solrFailed=0", "-r", "sml", "-f"))
    val rebuildS = ctx.secs(tRebuild)
    val (solrOk, indexed) = (ctx.outputInt(out, "solrOk"), ctx.outputInt(out, "indexed"))
    ctx.check(solrOk == BulkRecords,
      s"rebuild delivered solrOk=$solrOk, expected $BulkRecords")
    ctx.record("operators.index.delivered_ratio", solrOk.toDouble / math.max(indexed, 1L))
    (loadS, bootS, rebuildS, included)
  }

  /** Probe-only spans (traced run, both workloads): layers that
    * `runBatch` and `Cli.run` compose, each called on its own over the
    * store as it stands. `batch` supplies the keys and messages, `fromGen`
    * the change-feed start. */
  private def probe(ctx: Ctx, store: MasterStore, batch: Batch, fromGen: Long): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    import spark.implicits._
    t.span("sources.lookup_probe")(store.lookupFrame(spark,
      batch.keys.take(ProbeKeys).toDF("bibcode")).count())
    t.span("sources.changes_since")(store.changesSince(spark, fromGen).count())
    val decoded = ctx.decode(batch)
    t.span("operators.merge_upsert")(MergeEngine.upsert(store.read(spark),
      QueueDecode.messages(decoded)).master.count())
    decoded.unpersist()
    val selected = store.read(spark).as[MasterRecord]
    val docs = t.span("transform.index_payloads") {
      val b = IndexJob.run(selected, ignoreChecksums = true)
      Seq(b.metrics, b.links).foreach(_.write.format("noop").mode("overwrite").save())
      val d = b.solr.select(col("bibcode"), col("payload")).cache()
      d.count()
      d
    }
    val sink = new Sinks.Transport { def send(p: Seq[String]): Unit = () }
    t.span("sinks.write_solr")(Sinks.writeSolr(docs, sink).count())
    docs.unpersist()
  }
}
