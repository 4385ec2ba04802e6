package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command line of one benchmark process (one workload, one seed).
  *
  * `--work` is a private scratch directory inside the checkout that the
  * runner creates and deletes; every input, table, checkpoint and output
  * of the run lives under it. `--scale tiny` shrinks every input for the
  * benchmark's own smoke tests; `--corrupt 1` tampers with one result
  * before its output check, to prove the check counts it as a failed op;
  * `--gen-only 1` only writes the seeded inputs under `work/input`.
  */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: File,
    tiny: Boolean,
    corrupt: Boolean,
    genOnly: Boolean)

object Opts {
  def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", new File(need("work")),
      kv.getOrElse("scale", "full") == "tiny", kv.getOrElse("corrupt", "0") == "1",
      kv.getOrElse("gen-only", "0") == "1")
  }
}

final case class Metric(value: Double, unit: String)

/** Everything one run measured and checked. `contract` holds the
  * workload-independent metrics the runner reports on its last line;
  * `named` holds every metric under the name this workload gives it.
  */
final class Report {
  val contract = mutable.LinkedHashMap.empty[String, Metric]
  val named = mutable.LinkedHashMap.empty[String, Metric]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = named(name) = Metric(value, unit)

  /** `setup_s`: session start plus the median of the repeated table loads. */
  def setup(sessionS: Double, loadsMs: Seq[Double]): Unit = {
    put("setup.session_s", sessionS, "s")
    put("setup.load_ms_p50", Stats.median(loadsMs), "ms")
    put("setup_s", sessionS + Stats.median(loadsMs) / 1000, "s")
    contract("setup_s") = named("setup_s")
  }

  /** Record an output check; a failed one counts as a failed op. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (ok) checks += ((name, true, "")) else fail(name, detail)
    ok
  }

  def fail(name: String, detail: String): Unit = {
    checks += ((name, false, detail))
    failed += 1
  }

  def toJson(extra: Map[String, Double]): String = {
    def metrics(m: mutable.LinkedHashMap[String, Metric]) = m.map { case (k, v) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v.value)}, \"unit\": ${Json.str(v.unit)}}"
    }.mkString("{", ", ", "}")
    val cs = checks.map { case (n, ok, d) =>
      s"{\"name\": ${Json.str(n)}, \"ok\": $ok, \"detail\": ${Json.str(d)}}" }.mkString("[", ", ", "]")
    val ex = extra.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    s"{\"attempted\": $attempted, \"failed\": $failed, \"contract\": ${metrics(contract)}, " +
      s"\"named\": ${metrics(named)}, \"checks\": $cs, \"extra\": $ex}"
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** Percentiles with linear interpolation between closest ranks. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def ms(nanos: Long): Double = nanos / 1e6
}

object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStart = System.nanoTime()
    val o = Opts.parse(argv)
    o.work.mkdirs()
    if (o.genOnly) { Gen.writeAll(o); return }
    val spark = Engine.session(o)
    val sessionS = (System.nanoTime() - jvmStart) / 1e9
    val tracer = new Tracer(spark, o.trace)
    val rep = new Report
    try o.workload match {
      case "log_stream" => LogStream.run(spark, o, tracer, rep, sessionS)
      case "log_dashboard" => Dashboard.run(spark, o, tracer, rep, sessionS)
      case "corpus" => Corpus.run(spark, o, tracer, rep, sessionS)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rep.attempted = math.max(rep.attempted, 1L)
        rep.fail("run completed", s"${e.getClass.getName}: ${e.getMessage}")
    }
    Engine.phase("measured")
    val overhead = tracer.finish(new File(o.work, "spans.jsonl"))
    Files.write(new File(o.work, "result.json").toPath,
      rep.toJson(Map("tracer_ms" -> overhead)).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    Engine.phase("stopped")
  }
}

/** The one place the benchmark's Spark session is configured: local mode
  * on every core the process may use, the engine's own settings (AQE on,
  * shuffle width = cores, UTC), and all Spark scratch space inside the
  * run's work directory.
  */
object Engine {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()

  /** Progress note on stderr (the runner keeps it in the run's JVM log). */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $name")

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, Stats.ms(System.nanoTime() - t0))
  }

  /** Write `df` as the single parquet file `f`, the layout of the fixture
    * tables (`<sf>/<table>.parquet`) that the engine and the DuckDB
    * oracles both read.
    */
  def writeParquetFile(df: DataFrame, f: File): Unit = {
    val tmp = new File(f.getParentFile, f.getName + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    f.delete()
    Files.move(part.toPath, f.toPath)
    rmrf(tmp)
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  /** Block-manager view of what is pinned: cached RDDs and the storage
    * memory they occupy, in MB.
    */
  def pins(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    (sc.getPersistentRDDs.size, used / 1048576.0)
  }
}
