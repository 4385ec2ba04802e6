package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import graft.SparkEntry

/** `log_dashboard`: one closed-loop client issues the `Analytics` event
  * queries in seeded order over a generated events table and fetches
  * every result in full (`collect`), as a dashboard would. Each query is
  * checked once against its DuckDB oracle (by the runner, on the result
  * written here before the timed loop); every timed repetition must then
  * return the same row hash.
  */
object Dashboard extends AdaptiveSparkPlanHelper {

  /** The dashboard's queries, run in equal shares. The reference's
    * Superset datasets are plain `SELECT * FROM <table>` and name no chart
    * queries, so the `Analytics` event queries stand in for the charts;
    * which ones, and the equal weights, are an unverified choice.
    */
  val Mix: Seq[String] = Seq(
    "q_hourly_traffic", "q_traffic_stats", "q_top_event_types", "q_time_range_scan",
    "q_json_extract_agg", "q_value_class", "q_hist_baseline", "q_zscore_anomaly",
    "q_rollup_traffic", "q_window_top_per_user")

  /** sf0.1 has 100k events; the tiny scale is for smoke tests. */
  def rows(o: Opts): Int = if (o.tiny) 3000 else 100000

  /** Untimed rounds of the mix on the real table before the checked pass.
    * The queries keep speeding up (JIT) for many rounds: in a 24 s loop
    * after only two warm rounds, a round took about 1.6 s over the first
    * 8 s and about 1.45 s over the next 8 s.
    */
  def warmSeconds(o: Opts): Double = if (o.tiny) 0.5 else 6.0

  /** Load the generated TSV as the engine's `events.parquet` (timestamps
    * written without a time zone, as in the fixture tables).
    */
  def load(spark: SparkSession, tsv: File, sfDir: File): Unit =
    Engine.writeParquetFile(spark.read.option("sep", "\t")
      .schema("event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .csv(tsv.getAbsolutePath)
      .withColumn("ts", to_timestamp_ntz(col("ts"))), new File(sfDir, "events.parquet"))

  def rowHash(rows: Array[Row]): Long =
    rows.foldLeft(17L)((h, r) => h * 1000003L + r.toSeq.map(v => String.valueOf(v)).mkString("\u0001").hashCode)

  /** Nodes of the final (adaptive) plan, query stages and subqueries
    * included, that satisfy `p`.
    */
  private def count(plan: SparkPlan)(p: SparkPlan => Boolean): Int =
    collectWithSubqueries(plan) { case n if p(n) => n }.size

  final case class Sample(query: String, ms: Double, planMs: Double, execMs: Double,
      exchanges: Int, smj: Int)

  def run(spark: SparkSession, o: Opts, tr: Tracer, rep: Report, sessionS: Double): Unit = {
    val in = new File(o.work, "input")
    val sf = new File(o.work, "sf")
    val tsv = new File(in, "events.tsv")
    Gen.write(tsv, Gen.events(o.seed, rows(o)))
    // set-up: the table load, five times over the same file (median)
    val loads = (0 until 5).map(_ => Engine.time(load(spark, tsv, sf))._2)
    rep.setup(sessionS, loads)
    val d = sf.getAbsolutePath
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql

    Engine.phase("set-up done")
    // warm-up, untimed: every query once on a tiny table, then rounds of
    // every query on the real one for warmSeconds; the checked pass below
    // runs each once more
    locally {
      val wsf = new File(o.work, "warm-sf")
      val tsv = new File(o.work, "warm.tsv")
      Gen.write(tsv, Gen.events(o.seed + 1, 3000))
      load(spark, tsv, wsf)
      for (q <- Mix) queries(q)(spark, wsf.getAbsolutePath).collect()
      val until = System.nanoTime() + (warmSeconds(o) * 1e9).toLong
      while ({ for (q <- Mix) queries(q)(spark, d).collect(); System.nanoTime() < until }) ()
    }

    // the checked pass: each query once, its result kept for the oracle
    // check, in the layout tools/check.py reads (<out>/<query>/*.parquet
    // and <out>/oracle_sql.json)
    val results = new File(o.work, "results")
    val expected = mutable.Map.empty[String, Long]
    for (q <- Mix) {
      val df = queries(q)(spark, d)
      val rows = df.collect()
      expected(q) = rowHash(rows)
      val kept = if (o.corrupt && q == Mix.head) rows.drop(1) else rows
      spark.createDataFrame(java.util.Arrays.asList(kept: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(new File(results, q).getAbsolutePath)
    }
    Gen.write(new File(results, "oracle_sql.json"), Iterator(
      Mix.map(q => s"${Json.str(q)}: ${Json.str(oracles(q))}").mkString("{", ", ", "}")))

    Engine.phase("checked pass done")
    // the timed closed loop: rounds of every query once, each round in a
    // seeded order
    val r = Gen.rng(o.seed, 4)
    var round = Iterator.empty[String]
    def pick(): String = {
      if (!round.hasNext) round = r.shuffle(Mix).iterator
      round.next()
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline) {
      val q = pick()
      val op = s"q$n"
      n += 1
      rep.attempted += 1
      try tr.span(q, op) {
        val a = System.nanoTime()
        val df = queries(q)(spark, d)
        tr.span("plan", op)(df.queryExecution.executedPlan)
        val b = System.nanoTime()
        val rows = tr.span("exec", op)(df.collect())
        val c = System.nanoTime()
        val plan = df.queryExecution.executedPlan
        if (rowHash(rows) != expected(q))
          rep.fail(s"$q row hash", s"repetition $n returned a different row hash")
        val (ex, smj) = if (tr.enabled)
          (count(plan)(_.isInstanceOf[ShuffleExchangeLike]), count(plan)(_.isInstanceOf[SortMergeJoinExec]))
        else (0, 0)
        samples += Sample(q, Stats.ms(c - a), Stats.ms(b - a), Stats.ms(c - b), ex, smj)
      } catch {
        case e: Exception => rep.fail(s"$q threw", String.valueOf(e.getMessage))
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    Engine.phase("timed loop done")
    val ms = samples.map(_.ms).toSeq
    rep.put("query_p50_ms", Stats.median(ms), "ms")
    rep.put("query_p95_ms", Stats.pct(ms, 95), "ms")
    rep.put("queries_per_s", samples.size / wallS, "1/s")
    rep.put("ops", n, "count")
    rep.contract("throughput_per_s") = rep.named("queries_per_s")
    val perQuery = Mix.flatMap { q =>
      val xs = samples.filter(_.query == q).map(_.ms).toSeq
      if (xs.isEmpty) None else Some(q -> Stats.median(xs))
    }
    // The p50 of the pooled samples jumps between the per-query modes;
    // the mean of the per-query medians does not.
    rep.put("query_mix_p50_ms", perQuery.map(_._2).sum / perQuery.size, "ms")
    rep.put("dashboard_load_ms", perQuery.map(_._2).sum, "ms")
    rep.contract("latency_p50_ms") = rep.named("query_mix_p50_ms")

    if (tr.enabled) {
      tr.settle()
      rep.put("analytics.plan_ms_p50", Stats.median(samples.map(_.planMs).toSeq), "ms")
      rep.put("analytics.exec_ms_p50", Stats.median(samples.map(_.execMs).toSeq), "ms")
      val ops = (0 until n).flatMap(i => Option(tr.ops.get(s"q$i")))
      rep.put("analytics.shuffle_bytes_per_op", Tracer.perOp(ops)(_.shuffleBytes.get), "bytes")
      rep.put("analytics.scan_rows_per_op", Tracer.perOp(ops)(_.inputRows.get), "count")
      rep.put("analytics.exchanges", samples.map(_.exchanges.toDouble).sum / samples.size, "count")
      rep.put("analytics.smj", samples.map(_.smj.toDouble).sum / samples.size, "count")
      perQuery.foreach { case (q, ms) => rep.put(s"analytics.$q.ms_p50", ms, "ms") }
      Layers.sched(rep, ops, wallS * 1000)
      Layers.pins(spark, rep, 0, 0.0)
      Layers.trace(tr, rep)
    }
  }
}
