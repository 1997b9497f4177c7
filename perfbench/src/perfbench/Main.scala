package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up, measure one workload for
  * a fixed number of seconds, check what can be checked in Spark, and
  * write `result.json` for `run.py`, which adds the DuckDB oracle
  * checks and prints the final line.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  */
object Main {

  /** What a workload hands back. `e2e` holds the end-to-end metrics,
    * `layers` the per-layer ones (traced runs only), `gateOutputs`
    * the result directories the oracle check reads.
    */
  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val gateOutputs = mutable.ArrayBuffer.empty[GateOutput]
    val oracleSql = mutable.LinkedHashMap.empty[String, String]
    var corpusDir: Option[String] = None

    def fail(n: Long, why: String): Unit = { failed += n; failures += why }
  }

  /** Where one timed gate call wrote its result; `pass` is `stream<i>`,
    * `cold<i>` or `warm<i>`, and a warm result must equal its cold twin's.
    */
  final case class GateOutput(gate: String, path: String, pass: String)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1", Paths.get(argv(4)))
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out = new Outcome
    val trace = if (a.trace) Some(new Trace(spark)) else None
    try {
      a.workload match {
        case "vote_live" => Votes.live(spark, a, sessionS, trace, out)
        case "gates" => Gates.run(spark, a, sessionS, trace, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        out.fail(1, s"workload threw: $e")
        e.printStackTrace()
    }
    out.e2e("peak_rss_mb") = Main.peakRssMb()
    trace.foreach(_.writeSpans(a.work.resolve("spans.json")))
    writeResult(a.work.resolve("result.json"), out)
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }

  /** The JVM's peak resident set (`VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def json(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeResult(path: Path, o: Outcome): Unit = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s"${json(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val outputs = o.gateOutputs.map { g =>
      s"""{"gate": ${json(g.gate)}, "path": ${json(g.path)}, "pass": ${json(g.pass)}}"""
    }.mkString("[", ", ", "]")
    val oracle = o.oracleSql.map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ", ", "}")
    val text =
      s"""{"attempted": ${o.attempted}, "failed": ${o.failed},
         | "failures": ${o.failures.map(json).mkString("[", ", ", "]")},
         | "e2e": ${obj(o.e2e)}, "layers": ${obj(o.layers)},
         | "gate_outputs": $outputs, "oracle_sql": $oracle,
         | "corpus_dir": ${o.corpusDir.map(json).getOrElse("null")}}
         |""".stripMargin
    Files.writeString(path, text)
  }
}
