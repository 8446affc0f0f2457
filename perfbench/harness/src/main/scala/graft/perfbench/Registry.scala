package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `registry`: passes over one query of every `SparkEntry.modules`
  * entry at the bundled sf0.01 corpus, in a seeded order, closed loop,
  * one query at a time. Set-up is one warm-up pass that also builds,
  * into the run's empty index directory, every corpus index the subset
  * reads.
  */
object Registry {

  /** Per module, the oracle-covered query whose sf0.1 time in
    * `BENCH_FULL.json` is the module's median (lower median for an even
    * count), so each module is represented by a typical query.
    */
  val Keys = Seq("o16_log_compact", "q6_top_movers", "t4_segment_priority",
    "d15_span_coverage", "s11_recall_eval", "x10_tfidf_terms", "m5_png_roundtrip",
    "k11_top_paths", "r7_hll_registers", "p6_shard_plan", "a10_m4_downsample",
    "c16_curriculum", "u4_bag_set_ops", "x21_facets", "b1_bloom_prune", "v4_value_drift")

  final case class Query(module: String, name: String,
      fn: (SparkSession, String) => DataFrame)

  def subset: Seq[Query] = {
    val qs = SparkEntry.modules.flatMap { case (m, qs, _) =>
      Keys.filter(qs.contains).map(k => Query(m, k, qs(k)))
    }
    require(qs.map(_.name).sorted == Keys.sorted, s"unknown registry keys in ${Keys}")
    require(qs.map(_.module) == SparkEntry.modules.map(_._1),
      "the subset must hold exactly one query per module")
    qs
  }

  /** Drop the session's registered index tables and memoised frames and
    * delete the index directory, so the next build starts from nothing.
    */
  private def resetIndexes(spark: SparkSession, indexDir: String): Unit = {
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_idx_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    graft.ext.Dedup.clearMemos(spark)
    val dir = java.nio.file.Paths.get(indexDir)
    if (java.nio.file.Files.exists(dir)) graft.sources.CorpusIndex.deleteRecursively(dir)
  }

  /** Evaluate every output column (as `Bench.force` does, through
    * `queryExecution.toRdd`) and fold the rows into (count, hash).
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd
      .map(r => CdcFeed.digest(Canon.row(r, schema)))
      .aggregate((0L, 0L))((a, h) => (a._1 + 1, a._2 + h),
        (a, b) => (a._1 + b._1, a._2 + b._2))
  }

  def run(spark: SparkSession, run: Run, trace: Option[Trace],
      expected: Map[String, (Long, Long)]): Unit = {
    val sf = s"${run.dataDir}/sf0.01"
    val indexDir = sys.env.getOrElse("GRAFT_INDEX_DIR",
      sys.error("GRAFT_INDEX_DIR must name this run's index directory"))
    val order = Stats.shuffled(subset, run.rnd)

    // set-up: one warm-up pass at the measured scale over an empty index
    // directory, so it also builds every corpus index the subset reads
    resetIndexes(spark, indexDir)
    val (_, setupS) = Stats.timed(order.foreach { q =>
      run.op(s"warmup:${q.name}")(Trace.tagged(spark, "warmup")(fingerprint(q.fn(spark, sf))))
    })
    run.endToEnd("setup_s") = setupS
    run.note(s"set-up $setupS")

    val done = scala.collection.mutable.ArrayBuffer.empty[(Query, Double, Double)]
    val catalyst = Array(0.0, 0.0, 0.0) // analysis, optimization, planning
    trace.foreach(_.mark())
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || System.nanoTime() - t0 < run.seconds * 1000000000L) {
      order.foreach { q =>
        // every query pays the shared intermediates it reads (table
        // listings, term frequencies, token hashes) itself, so its time
        // does not depend on which queries ran before it
        graft.ext.Dedup.clearMemos(spark)
        System.gc()
        val r = run.op(q.name) {
          val (df, tb) = Stats.timed(Trace.tagged(spark, s"build:${q.module}")(q.fn(spark, sf)))
          val (fp, te) = Stats.timed(Trace.tagged(spark, s"exec:${q.module}")(fingerprint(df)))
          val phases = df.queryExecution.tracker.phases
          def phase(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
          (fp, tb, te, (phase("analysis"), phase("optimization"), phase("planning")))
        }
        if (pass == 0) {
          val want = expected.get(q.name)
          run.check(s"fingerprint:${q.name}", want.isDefined && r.map(_._1) == want,
            s"got ${r.map(_._1.toString).getOrElse("no result")}, stored ${want.getOrElse("none")}")
        }
        r.foreach { case (fp, tb, te, ph) =>
          done += ((q, tb, te))
          catalyst(0) += ph._1; catalyst(1) += ph._2; catalyst(2) += ph._3
        }
      }
      pass += 1
    }
    val lat = done.map(d => d._2 + d._3).toSeq
    // queries per second of query time: the forced GC between queries
    // is not the engine's work
    run.endToEnd("throughput_per_s") = done.size / lat.sum
    run.endToEnd("op_p50_s") = Stats.median(lat)
    run.named("registry_total_s") = (lat.sum / pass, "s")
    run.named("query_p50_s") = (Stats.median(lat), "s")
    run.named("query_p95_s") = (Stats.quantile(lat, 0.95), "s")
    run.context("queries") = s"${order.size} x $pass passes"
    trace.foreach { tr =>
      tr.recordCommon(run, pass)
      run.layer("registry.build_s") = done.map(_._2).sum / pass
      run.layer("registry.exec_s") = done.map(_._3).sum / pass
      run.layer("registry.eager_jobs") = tr.workWhere(_.startsWith("build:")).jobs.toDouble / pass
      run.layer("catalyst.analysis_s") = catalyst(0) / pass
      run.layer("catalyst.optimization_s") = catalyst(1) / pass
      run.layer("catalyst.planning_s") = catalyst(2) / pass
      SparkEntry.modules.foreach { case (m, _, _) =>
        run.layer(s"module.${m}_s") =
          done.filter(_._1.module == m).map(d => d._2 + d._3).sum / pass
      }
      // every durable corpus index, built from nothing after the timed
      // passes (traced runs only: one build takes ~20 s)
      resetIndexes(spark, indexDir)
      run.layer("sources.index_build_s") = Stats.timed(Trace.tagged(spark, "sources.index") {
        graft.sources.CorpusIndex.buildAll(spark, sf)
      })._2
    }
  }

  /** Record the subset's fingerprints at sf0.01 (the reference the
    * output check compares against).
    */
  def record(spark: SparkSession, dataDir: String): Seq[(String, (Long, Long))] =
    subset.map(q => q.name -> fingerprint(q.fn(spark, s"$dataDir/sf0.01")))
}

/** The canonical text of one result row, as `tools/check_oracle.py`
  * compares results: columns in name order, values in a type-stable
  * spelling. Floating-point values are rounded to 9 significant digits
  * (6 for FLOAT) so a different summation order cannot flip the hash.
  */
object Canon {
  def row(r: InternalRow, schema: StructType): String = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    order.map(i => value(r.get(i, schema.fields(i).dataType), schema.fields(i).dataType))
      .mkString("\u0001")
  }

  private def round(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(digits))
      .stripTrailingZeros.toPlainString

  def value(v: Any, t: DataType): String = if (v == null) "NULL" else t match {
    case DoubleType => round(v.asInstanceOf[Double], 9)
    case FloatType => round(v.asInstanceOf[Float].toDouble, 6)
    case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.toPlainString
    case _: StringType => v.asInstanceOf[UTF8String].toString
    case BinaryType => v.asInstanceOf[Array[Byte]].map(b => f"$b%02x").mkString
    case s: StructType =>
      val r = v.asInstanceOf[InternalRow]
      s.fields.indices.map(i => value(r.get(i, s.fields(i).dataType), s.fields(i).dataType))
        .mkString("{", ",", "}")
    case a: ArrayType =>
      val d = v.asInstanceOf[ArrayData]
      (0 until d.numElements()).map(i =>
        if (d.isNullAt(i)) "NULL" else value(d.get(i, a.elementType), a.elementType))
        .mkString("[", ",", "]")
    case m: MapType =>
      val d = v.asInstanceOf[MapData]
      val ks = d.keyArray(); val vs = d.valueArray()
      (0 until d.numElements()).map { i =>
        value(ks.get(i, m.keyType), m.keyType) + "->" +
          (if (vs.isNullAt(i)) "NULL" else value(vs.get(i, m.valueType), m.valueType))
      }.sorted.mkString("<", ",", ">")
    case _ => v.toString
  }
}
