package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.Cli
import graft.sources.{MasterStore, Sinks}
import graft.streaming.QueueDecode

/** Sink transport that accepts every batch and counts what it received.
  * Counters are process-wide: in local mode the executors share the JVM. */
final class CountingTransport(kind: String) extends Sinks.Transport {
  def send(payloads: Seq[String]): Unit = {
    val c = CountingTransport.of(kind)
    c.calls.incrementAndGet()
    c.docs.addAndGet(payloads.size)
    c.bytes.addAndGet(payloads.iterator.map(_.length.toLong).sum)
  }
}

object CountingTransport {
  final class Counts {
    val calls = new AtomicLong
    val docs = new AtomicLong
    val bytes = new AtomicLong
  }
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Counts]()
  def of(kind: String): Counts = counts.computeIfAbsent(kind, _ => new Counts)
}

/** One benchmark run's shared state: the session, the tracer, the run's
  * work directory and the failure ledger behind `attempted`/`failed`. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Int, val work: Path) {
  val solr = new CountingTransport("solr")
  val bulk = new CountingTransport("bulk")
  def solrCounts: CountingTransport.Counts = CountingTransport.of("solr")
  def bulkCounts: CountingTransport.Counts = CountingTransport.of("bulk")

  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Named series the traced run reports per cycle (or once per pass). */
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def record(name: String, v: Double): Unit =
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Virtual clock handed to the engine as "now". */
  var now: Timestamp = new Timestamp(0L)

  /** Count one attempted operation; a false `ok` is a named failure. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) failures += what
    ok
  }

  private val cliOut = new java.lang.StringBuilder
  val deps: Cli.Deps = Cli.Deps(solr, bulk, now = () => now,
    out = s => { cliOut.append(s).append('\n'); () })

  /** One `Cli.run` call; a non-zero exit or missing `expect` text is a
    * failure. Returns the command's output. */
  def cli(store: String, expect: String, args: String*): String = {
    cliOut.setLength(0)
    val rc = try Cli.run(spark, Seq("--store", store) ++ args, deps)
    catch { case e: Exception => cliOut.append(s"exception: $e\n"); -1 }
    val out = cliOut.toString
    check(rc == 0 && out.contains(expect),
      s"cli ${args.mkString(" ")}: rc=$rc, expected '$expect' in: ${out.trim}")
    out
  }

  /** Decode a batch's envelopes (`raw`, or the batch itself handed over
    * in memory) into a cached outcome frame, materialized by the reject
    * count; checks that exactly the malformed envelopes were rejected. The
    * caller unpersists the frame. */
  def decode(b: Batch, raw: Option[Dataset[String]] = None): Dataset[QueueDecode.Decoded] = {
    import spark.implicits._
    val lines = raw.getOrElse(spark.createDataset(b.envelopes))
    val decoded = QueueDecode.decode(lines, now).cache()
    val rejects = QueueDecode.rejects(decoded).count()
    check(rejects == b.malformed,
      s"decode rejected $rejects envelopes, ${b.malformed} were malformed")
    record("streaming.reject_ratio", rejects.toDouble / b.envelopes.size)
    decoded
  }

  def outputInt(out: String, key: String): Long =
    s"""$key=(-?\\d+)""".r.findFirstMatchIn(out).map(_.group(1).toLong).getOrElse(-1L)

  /** Bytes of regular files under `root`, by relative path. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.collect { case (f, n) if !before.get(f).contains(n) => n }.sum

  def gcSeconds: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Spark storage still held: persisted RDD count and their bytes. */
  def storageAfter(): (Int, Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def master(root: String): MasterStore = new MasterStore(root)
  def sitemapStore(root: String): MasterStore =
    new MasterStore(s"$root-sitemap", empty = graft.operators.SitemapState.empty)

  def path(name: String): String = work.resolve(name).toString
}

object Ctx {
  def freshDir(p: Path): Path = {
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally walk.close()
    }
    Files.createDirectories(p)
  }
  val Hour: Long = 3600000L
  def hourFloor(ms: Long): Long = ms - ms % Hour
}
