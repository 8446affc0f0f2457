package graft.perfbench

import graft.streaming.StreamApply
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** `cdc_ingest`: closed-loop ingest with one producer. Each fixed-size
  * micro-batch of Debezium records goes through `Unwrap.unwrap` →
  * `StreamApply.upsertWriter` into a `ParquetUpsertStore` that set-up
  * seeded with 100 batches' worth of live keys; after each commit the
  * terms-by-classification panel runs over `store.view()`.
  */
object CdcIngest {

  val Batch = 200
  val StateKeys = 100 * Batch
  val Setups = 3
  val WarmBatches = 8
  val SourceParts = 4

  /** Seed a fresh store `Setups` times (the median is `setup_s`); keep
    * the last.
    */
  private def setUp(spark: SparkSession, run: Run, initial: Seq[Wire])
      : (StreamApply.ParquetUpsertStore, String, Seq[Double]) = {
    val made = (0 until Setups).map { i =>
      val dir = run.dir(s"store-$i")
      val (store, t) = Stats.timed(CdcFeed.seededStore(spark, dir, initial))
      (store, dir, t)
    }
    (made.last._1, made.last._2, made.map(_._3))
  }

  def run(spark: SparkSession, run: Run, trace: Option[Trace]): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = new CdcFeed(run.rnd, CdcFeed.eventOps(spark, run.dataDir), StateKeys)
    val (store, dir, setups) = setUp(spark, run, feed.initial)
    run.endToEnd("setup_s") = Stats.median(setups)
    run.note(s"set-ups ${setups.mkString(" ")}")

    val in = MemoryStream[Wire](SourceParts)
    val q = Trace.tagged(spark, "store.merge") {
      StreamApply.withStreamShuffle(spark)(
        StreamApply.upsertWriter(CdcFeed.normalised(in.toDF()), store,
          run.dir("checkpoint")).start())
    }
    def terms() = Trace.tagged(spark, "panel.terms") {
      val (v, tv) = Stats.timed(store.view())
      val (_, tp) = Stats.timed(CdcFeed.termsPanel(v))
      (tv, tp)
    }
    // untimed: micro-batches and panels until the JIT has settled (the
    // per-batch time still falls ~25 % over the first eight batches)
    (0 until WarmBatches).foreach { i =>
      run.op(s"warmup-batch-$i") {
        in.addData(feed.batch(Batch)); q.processAllAvailable(); terms()
      }
    }

    val fresh, viewS, termsS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val fed = scala.collection.mutable.ArrayBuffer.empty[Seq[Wire]]
    var alive = true
    trace.foreach(_.mark())
    val t0 = System.nanoTime()
    try {
      while (alive && System.nanoTime() - t0 < run.seconds * 1000000000L) {
        val batch = feed.batch(Batch)
        fed += batch
        val r = run.op(s"batch-${fed.size - 1}") {
          val b0 = System.nanoTime()
          in.addData(batch)
          q.processAllAvailable()
          val (tv, tp) = terms()
          viewS += tv; termsS += tp
          (System.nanoTime() - b0) / 1e9
        }
        r.foreach(fresh += _)
        alive = r.isDefined
      }
    } finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val events = fed.map(_.size).sum.toLong

    // the output check: the store's view against the sequential fold of
    // every record fed, the set-up state and redeliveries included
    val (wantRows, wantHash) = CdcFeed.fold(feed.all)
    val got = run.op("final_view")(CdcFeed.viewDigest(store.view()))
    run.check("final_view_equals_fold", got.contains((wantRows, wantHash)),
      s"store ${got.getOrElse("unreadable")} vs fold ($wantRows,$wantHash)")

    run.endToEnd("throughput_per_s") = events / wall
    run.endToEnd("op_p50_s") = Stats.median(fresh.toSeq)
    run.named("ingest_events_per_s") = (events / wall, "events/s")
    run.named("freshness_p50_s") = (Stats.median(fresh.toSeq), "s")
    run.named("freshness_p90_s") = (Stats.quantile(fresh.toSeq, 0.9), "s")
    run.context("batches") = fed.size.toString
    trace.foreach { tr =>
      tr.recordCommon(run, fed.size)
      // per merge, over the timed batches
      val m = tr.workWhere(_ == "store.merge")
      val n = fed.size.toDouble
      run.layer("store.merge_s") = tr.durationMedianMs("addBatch") / 1e3
      run.layer("store.merge_jobs") = m.jobs / n
      run.layer("store.merge_tasks") = m.tasks / n
      run.layer("store.merge_task_s") = m.taskMs / 1e3 / n
      run.layer("store.merge_read_bytes") = m.inputBytes / n
      run.layer("store.merge_write_bytes") = m.outputBytes / n
      run.layer("store.merge_shuffle_bytes") = m.shuffleBytes / n
      run.layer("store.bytes_per_event") = m.outputBytes.toDouble / events
      run.layer("store.view_s") = Stats.median(viewS.toSeq)
      run.layer("panel.terms_s") = Stats.median(termsS.toSeq)
      val (files, bytes) = CdcFeed.liveFiles(dir)
      run.layer("store.live_files") = files.toDouble
      run.layer("store.live_bytes") = bytes.toDouble
      run.layer("store.live_rows") = got.map(_._1.toDouble).getOrElse(0.0)
      // the consumer's projection on its own, forced per fed batch after
      // the timed loop, so it does not perturb the loop's timings
      val unwrapped = fed.toSeq.map { b =>
        Stats.timed(Trace.tagged(spark, "cdc.unwrap") {
          val u = graft.cdc.Unwrap.unwrap(b.toDF())
          (u.count(), u.filter($"op" === "d").count())
        })
      }
      run.layer("cdc.unwrap_s") = Stats.median(unwrapped.map(_._2))
      run.layer("cdc.unwrap_rows_in") = unwrapped.map(_._1._1).sum.toDouble
      run.layer("cdc.unwrap_deletes_out") = unwrapped.map(_._1._2).sum.toDouble
    }
  }
}
