package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM and its own work directory:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --data <dir> --fingerprints <file> --out <file>
  * Main --record <file> --work <dir> --data <dir>
  * }}}
  *
  * `perfbench/run.py` builds the classpath and calls it; the result
  * (metrics, checks, failures) is written as one JSON object to `--out`.
  * `--record` writes the registry subset's fingerprints instead.
  */
object Main {

  val Workloads = Seq("cdc_ingest", "registry")

  def session(workDir: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loadFingerprints(path: String): Map[String, (Long, Long)] = {
    val line = """\s*"([^"]+)"\s*:\s*\[\s*(-?\d+)\s*,\s*(-?\d+)\s*\]""".r
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    line.findAllMatchIn(text).map(m => m.group(1) -> ((m.group(2).toLong, m.group(3).toLong))).toMap
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val spark = session(work)
    try {
      a.get("record") match {
        case Some(out) =>
          val fps = Registry.record(spark, a("data"))
          val body = fps.map { case (n, (c, h)) => s"  ${Json.str(n)}: [$c, $h]" }
            .mkString("{\n", ",\n", "\n}\n")
          java.nio.file.Files.write(java.nio.file.Paths.get(out), body.getBytes("UTF-8"))
        case None => runWorkload(spark, a)
      }
    } finally spark.stop()
  }

  private def runWorkload(spark: SparkSession, a: Map[String, String]): Unit = {
    val trace = a("trace") == "1"
    val run = new Run(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("work"), a("data"))
    require(Workloads.contains(run.workload), s"unknown workload ${run.workload}")
    run.note("session up")
    run.context("loadavg_pre") = Trace.loadavg()
    if (trace) run.context("host_pre") = Trace.hostMarker()
    val tr = if (trace) Some(new Trace(spark)) else None
    run.workload match {
      case "cdc_ingest" => CdcIngest.run(spark, run, tr)
      case "registry" => Registry.run(spark, run, tr, loadFingerprints(a("fingerprints")))
    }
    tr.foreach(_.close())
    run.context("loadavg_post") = Trace.loadavg()
    if (trace) run.context("host_post") = Trace.hostMarker()
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      (run.toJson + "\n").getBytes("UTF-8"))
  }
}
