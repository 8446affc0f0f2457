package graft.perfbench

import graft.cdc.Unwrap
import graft.streaming.StreamApply
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One Kafka record as the CDC consumer receives it: `value` is the
  * Debezium JSON, or null for a tombstone.
  */
final case class Wire(seq: Long, key: String, value: String)

/** The seeded synthetic Debezium feed of `public.customer` changes and
  * its oracle.
  *
  *   - The kind of each change replays the bundled `events` table, the
  *     repository's CDC analog (FIXTURES.md), in `event_id` order from a
  *     seeded offset, with `cdc.CdcModel.opCol`'s mapping: `error` is a
  *     DELETE, `signup` an INSERT, the rest UPDATEs (at sf0.01: 20.1 %,
  *     20.2 %, 59.7 %). An INSERT takes a new key, as the reference's
  *     SERIAL id does; an UPDATE or DELETE hits a live key drawn
  *     uniformly, as `user_id` is drawn in that table. So the live state
  *     stays near its seeded size.
  *   - Wire shapes follow the reference connector (`ExtractNewRecordState`
  *     with `delete.handling.mode=rewrite`, `drop.tombstones=false`): an
  *     INSERT or UPDATE is one flat row, a DELETE is a delete rewrite
  *     followed by a tombstone for the same key.
  *   - Every `ReplayEvery`-th micro-batch redelivers the batch before it
  *     with its original `seq`s, as an at-least-once consumer does with
  *     uncommitted records after a restart (ROADMAP: replaying a batch
  *     changes nothing).
  */
final class CdcFeed(rnd: java.util.SplittableRandom, ops: IndexedSeq[Char], nKeys: Int) {
  import CdcFeed._

  private var nextSeq = 0L
  private var nextKey = nKeys
  private var opAt = rnd.nextInt(ops.size)
  private var batches = 0L
  private var lastBatch = Seq.empty[Wire]
  private val sent = scala.collection.mutable.ArrayBuffer.empty[Wire]
  private val pending = scala.collection.mutable.Queue.empty[Wire]
  // the live keys, with each key's index in `live`, for uniform draws
  private val live = scala.collection.mutable.ArrayBuffer.from(0 until nKeys)
  private val liveAt = scala.collection.mutable.HashMap.from((0 until nKeys).map(k => k -> k))

  /** Flat upserts for keys `0 until nKeys`: the live state a store starts from. */
  lazy val initial: Seq[Wire] = (0 until nKeys).map(record(_, upsert = true))

  /** One micro-batch of `size` wire records. */
  def batch(size: Int): Seq[Wire] = {
    batches += 1
    if (batches % ReplayEvery == 0 && lastBatch.nonEmpty) {
      sent ++= lastBatch
      return lastBatch
    }
    while (pending.size < size) change()
    lastBatch = Seq.fill(size)(pending.dequeue())
    lastBatch
  }

  private def change(): Unit = {
    val op = ops(opAt)
    opAt = (opAt + 1) % ops.size
    op match {
      case 'c' =>
        val k = nextKey
        nextKey += 1
        liveAt(k) = live.size
        live += k
        pending += record(k, upsert = true)
      case 'u' =>
        pending += record(live(rnd.nextInt(live.size)), upsert = true)
      case _ =>
        val k = live(rnd.nextInt(live.size))
        val i = liveAt.remove(k).get
        val moved = live.last
        live(i) = moved
        live.dropRightInPlace(1)
        if (moved != k) liveAt(moved) = i
        pending += record(k, upsert = false)
        pending += record(k, upsert = false, tombstone = true)
    }
  }

  private def record(key: Int, upsert: Boolean, tombstone: Boolean = false): Wire = {
    nextSeq += 1
    val seq = nextSeq
    val value =
      if (tombstone) null
      else if (!upsert) deleteRewrite(key)
      else {
        val cls = Classes(rnd.nextInt(Classes.size))
        val ts = java.time.Instant.ofEpochMilli(createdAtMs(seq))
        s"""{"id":$key,"full_name":"Customer $key v$seq","email":"c$key@example.com","phone":"+1-555-${1000 + key % 9000}","classification":"$cls","created_at":"$ts"}"""
      }
    val w = Wire(seq, key.toString, value)
    sent += w
    w
  }

  /** Every record handed to the source so far, redeliveries included. */
  def all: Seq[Wire] = sent.toSeq
}

object CdcFeed {
  /** The reference's `CHECK (classification IN ('public','private'))`. */
  val Classes = IndexedSeq("public", "private")
  /** One micro-batch in this many is a redelivery of the one before. */
  val ReplayEvery = 16
  val BaseMs = 1735689600000L // 2025-01-01T00:00:00Z
  /** `created_at` spreads over 60 days. */
  def createdAtMs(seq: Long): Long = BaseMs + (seq * 7919L % (60L * 86400L)) * 1000L

  private def deleteRewrite(key: Int): String =
    s"""{"op":"d","before":{"id":$key,"full_name":"gone","email":"c$key@example.com","classification":"public"},"after":null}"""

  val Payload = Seq("full_name", "email", "phone", "classification", "created_at")

  /** The op of every row of the bundled `events` table in `event_id`
    * order, as `cdc.CdcModel.opCol` maps `event_type`.
    */
  def eventOps(spark: SparkSession, dataDir: String): IndexedSeq[Char] =
    spark.read.parquet(s"$dataDir/sf0.01/events.parquet")
      .orderBy("event_id").select("event_type").collect()
      .map(_.getString(0) match {
        case "error" => 'd'
        case "signup" => 'c'
        case _ => 'u'
      }).toIndexedSeq

  /** The FIXTURES.md oracle: a sequential fold in `seq` order, last
    * write wins, a key whose last op is a delete is absent. Returns
    * (live rows, order-independent hash) over the same canonical row
    * string [[viewDigest]] computes from the store.
    */
  def fold(events: Seq[Wire]): (Long, Long) = {
    val last = scala.collection.mutable.HashMap.empty[String, Wire]
    events.foreach { w =>
      last.get(w.key) match {
        case Some(p) if p.seq >= w.seq => ()
        case _ => last(w.key) = w
      }
    }
    val live = last.values.filter(w => w.value != null && !w.value.startsWith("{\"op\":\"d\""))
    (live.size.toLong, live.iterator.map(w => digest(canonical(w))).sum)
  }

  /** Canonical text of one live fed record: the fields the view keeps. */
  private def canonical(w: Wire): String = {
    def field(name: String): String = {
      val m = s""""$name":"""
      val i = w.value.indexOf(m)
      if (i < 0) "null"
      else {
        val s = i + m.length + 1
        w.value.substring(s, w.value.indexOf('"', s))
      }
    }
    val ms = java.time.Instant.parse(field("created_at")).toEpochMilli
    s"${w.key}|${w.seq}|${field("full_name")}|${field("email")}|${field("phone")}|${field("classification")}|$ms"
  }

  private def canonical(r: Row): String = {
    def s(i: Int) = if (r.isNullAt(i)) "null" else r.get(i).toString
    val ms = r.getAs[java.sql.Timestamp](7).getTime
    s"${r.getInt(0)}|${r.getLong(1)}|${s(3)}|${s(4)}|${s(5)}|${s(6)}|$ms"
  }

  def digest(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** (live rows, hash) of a store's serving view. */
  def viewDigest(view: DataFrame): (Long, Long) = {
    val rows = view.select((Seq("key", "seq", "op") ++ Payload).map(col): _*).collect()
    (rows.length.toLong, rows.iterator.map(r => digest(canonical(r))).sum)
  }

  /** The consumer: normalise the three wire shapes, then flatten the
    * row so the store keeps one column per payload field.
    */
  def normalised(raw: DataFrame): DataFrame =
    Unwrap.unwrap(raw).select(
      (Seq(col("seq"), col("key"), col("op")) ++ Payload.map(f => col(s"row.$f").as(f))): _*)

  /** A fresh store holding the live state of `initial`. */
  def seededStore(spark: SparkSession, dir: String, initial: Seq[Wire])
      : StreamApply.ParquetUpsertStore = {
    import spark.implicits._
    val store = new StreamApply.ParquetUpsertStore(spark, dir, key = "key", seq = "seq",
      opCol = "op", deleteOp = "d", payloadCols = Payload)
    store.merge(normalised(initial.toDF().repartition(4)), 0L)
    store
  }

  /** Q1 of the reference dashboards (`analytics.Dashboards`): live
    * customers per classification, largest first.
    */
  def termsPanel(view: DataFrame): Array[Row] =
    view.groupBy("classification").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("classification")).collect()

  /** Live files and bytes of the store's current version. */
  def liveFiles(dir: String): (Long, Long) = {
    val cur = java.nio.file.Paths.get(dir, "CURRENT")
    val ver = new String(java.nio.file.Files.readAllBytes(cur), "UTF-8").trim
    val parts = Option(new java.io.File(dir, ver).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-"))
    (parts.length.toLong, parts.map(_.length).sum)
  }
}
