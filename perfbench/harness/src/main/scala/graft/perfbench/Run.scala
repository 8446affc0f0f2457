package graft.perfbench

import scala.collection.mutable

/** Everything one benchmark run records: the operations it attempted,
  * the ones that failed (by name, with the exception class), the output
  * checks, the end-to-end metrics, the per-layer metrics and the
  * context notes. `Main` serialises it to the result file.
  */
final class Run(val workload: String, seed: Long, val seconds: Int,
    val workDir: String, val dataDir: String) {

  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own metrics under the names BENCHMARK.md uses. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val context = mutable.LinkedHashMap.empty[String, String]

  val rnd = new java.util.SplittableRandom(seed)

  private val born = System.nanoTime()
  /** A progress line on stderr (the run's log), stamped with run time. */
  def note(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - born) / 1e9}%7.2f s $msg")

  /** One attempted operation. A throw is recorded by name and class and
    * the op reports None — it is never retried and never dropped.
    */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch { case scala.util.control.NonFatal(e) =>
      val cls = rootCause(e).getClass.getName
      failures += ((name, cls))
      System.err.println(s"perfbench: op $name failed: $cls: ${e.getMessage}")
      None
    }
  }

  /** An output check. A mismatch counts as one attempted, failed op. */
  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    checks += ((name, ok, detail))
    if (!ok) {
      failures += ((name, "OutputMismatch"))
      System.err.println(s"perfbench: check $name failed: $detail")
    }
  }

  def dir(name: String): String = {
    val d = java.nio.file.Paths.get(workDir, name)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  private def rootCause(e: Throwable): Throwable = {
    var c = e
    while (c.getCause != null && c.getCause != c &&
        c.isInstanceOf[org.apache.spark.SparkException]) c = c.getCause
    c
  }

  def toJson: String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val fails = failures.map { case (n, c) =>
      obj(Seq("name" -> Json.str(n), "exception" -> Json.str(c))) }
    val chk = checks.map { case (n, ok, d) =>
      obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d))) }
    obj(Seq(
      "workload" -> Json.str(workload),
      "correct" -> (checks.nonEmpty && checks.forall(_._2)).toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> fails.mkString("[", ",", "]"),
      "checks" -> chk.mkString("[", ",", "]"),
      "end_to_end" -> obj(endToEnd.map { case (k, v) => k -> num(v) }),
      "named" -> obj(named.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> Json.str(u))) }),
      "per_layer" -> obj(layer.map { case (k, v) => k -> num(v) }),
      "context" -> obj(context.map { case (k, v) => k -> Json.str(v) })))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}

object Stats {
  /** Linear-interpolation quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Fisher-Yates shuffle driven by the run's seeded generator. */
  def shuffled[T](xs: Seq[T], rnd: java.util.SplittableRandom): Seq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
