package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Everything the engine receives is made here,
  * as raw JSON queue envelopes (one per line, the format `QueueDecode`
  * reads): the same seed gives the same envelopes, keys, revisions and
  * arrival offsets. Arrival times are `epochMs` plus seeded offsets.
  *
  * Each record carries four slots (metadata, nonbib_data, orcid_claims,
  * metrics). A wave draws its keys uniformly over the whole key space, so
  * it touches every store bucket; a fixed share of its records is
  * redelivered with unchanged content, and a fixed share of extra
  * envelopes is malformed. */
final class Gen(seed: Long, val records: Int) {
  private val rnd = new SplittableRandom(seed)
  /** Current revision of each record's metadata and nonbib slots. */
  private val rev = Array.fill(records)(rnd.nextInt(1, 1000))

  def bibcode(id: Int): String = f"2026Perf$id%07d....A"

  private def metadata(id: Int): String = {
    val r = rev(id)
    s"""{"bibcode":"${bibcode(id)}","title":["Title $id rev $r","beta"],""" +
      s""""author":["Author, A$id","Author, B${r % 97}"],"author_count":2,""" +
      s""""abstract":"Abstract body $id rev $r with several words of text",""" +
      s""""database":["astronomy"],"doctype":"article",""" +
      s""""first_author":"Author, A$id","identifier":["arXiv:$id"],""" +
      s""""links_data":["{\\"access\\": \\"open\\", \\"url\\": \\"http://x/$id\\"}"],""" +
      s""""pub":"The Journal","volume":"${id % 900 + 1}","year":"${2000 + r % 25}"}"""
  }

  private def nonbib(id: Int): String = {
    val r = rev(id)
    s"""{"boost":0.${f"${(id + r) % 100}%02d"},"citation_count":${(id + 7 * r) % 999},""" +
      s""""read_count":${id % 500},"data":["SIMBAD:${id % 40}"],""" +
      s""""property":["ESOURCE","ARTICLE"],"reference":["2020A$id","2021B$r"],""" +
      s""""reference_count":2}"""
  }

  private def orcid(id: Int): String =
    s"""{"verified":["0000-0002-${f"${id % 9999}%04d"}"],"unverified":[]}"""

  private def metrics(id: Int): String =
    s"""{"bibcode":"${bibcode(id)}","citation_num":${(id + 7 * rev(id)) % 999},""" +
      s""""reads":[${id % 50},${(id + 1) % 50}]}"""

  private def envelope(mtype: String, id: Int, tsMs: Long, payload: String): String =
    s"""{"type":"$mtype","bibcode":"${bibcode(id)}","timestamp":$tsMs,""" +
      s""""status":"active","payload":$payload}"""

  private val junkShapes: Seq[Int => String] = Seq(
    i => s"""{"type":"no_such_type","bibcode":"${bibcode(i)}","payload":{}}""",
    i => s"""{"type":"metadata","payload":{"title":["orphan $i"]}}""",
    i => s"""{"type":"nonbib_records","records":[]}""",
    i => s"not json $i")

  private def junk(n: Int): Seq[String] =
    Seq.fill(n)(junkShapes(rnd.nextInt(junkShapes.size))(rnd.nextInt(records)))

  /** Every record with all four slots, plus `malformedShare` extra
    * malformed envelopes, in seeded order. */
  def corpus(epochMs: Long, malformedShare: Double): Batch = {
    val good = (0 until records).flatMap { id =>
      val ts = epochMs + rnd.nextInt(3600 * 1000)
      Seq(envelope("metadata", id, ts, metadata(id)),
        envelope("nonbib_data", id, ts + 1, nonbib(id)),
        envelope("orcid_claims", id, ts + 2, orcid(id)),
        envelope("metrics", id, ts + 3, metrics(id)))
    }
    val bad = junk(math.round(good.size * malformedShare).toInt)
    Batch(shuffle(good ++ bad), records, records, bad.size,
      (0 until records).map(bibcode))
  }

  /** One ingest wave of `size` distinct keys drawn over the whole key
    * space. The first `size * (1 - redeliverShare)` get a new revision of
    * their metadata and nonbib slots; the rest are redelivered unchanged. */
  def wave(size: Int, epochMs: Long, redeliverShare: Double,
      malformedShare: Double): Batch = {
    val keys = sample(size)
    val unchanged = math.round(size * redeliverShare).toInt
    val changed = keys.dropRight(unchanged)
    changed.foreach(id => rev(id) += 1)
    val good = keys.flatMap { id =>
      val ts = epochMs + rnd.nextInt(1800 * 1000)
      Seq(envelope("metadata", id, ts, metadata(id)),
        envelope("nonbib_data", id, ts + 1, nonbib(id)))
    }
    val bad = junk(math.round(good.size * malformedShare).toInt)
    Batch(shuffle(good ++ bad), keys.size, changed.size, bad.size,
      keys.map(bibcode))
  }

  private def sample(k: Int): Seq[Int] = {
    val picked = new java.util.HashSet[Integer]()
    val out = Vector.newBuilder[Int]
    while (picked.size < k) {
      val id = rnd.nextInt(records)
      if (picked.add(id)) out += id
    }
    out.result()
  }

  /** Seeded Fisher-Yates permutation. */
  private def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}

/** A generated batch: the raw envelopes plus what the checks expect from
  * them. `records` distinct keys, of which `changed` carry new content;
  * `malformed` envelopes must be rejected by the decode. */
final case class Batch(envelopes: Seq[String], records: Int, changed: Int,
    malformed: Int, keys: Seq[String] = Nil)
