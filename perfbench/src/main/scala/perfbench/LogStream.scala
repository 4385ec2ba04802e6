package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.parse.LogParse
import graft.streaming.StreamPipelines

/** `log_stream`: an open-loop generator releases nginx JSON line chunks at
  * a fixed rate into a watched directory; `StreamPipelines.ingest` parses
  * them into a parquet sink while `StreamPipelines.anomalyPipeline` scores
  * the same lines against a baseline. The stream's first `warmChunks`
  * chunks warm it up and are not timed; the next `chunks` are. A
  * catch-up phase then drains all the run's lines again as a preloaded
  * backlog, a bounded number of files per micro-batch.
  */
object LogStream {

  final case class Params(rate: Int, chunkMs: Int, warmChunks: Int, chunks: Int, catchupFiles: Int,
      catchupReps: Int) {
    def chunkLines: Int = rate * chunkMs / 1000
    def total: Int = warmChunks + chunks
    def lines: Long = chunkLines.toLong * total
  }

  /** The anomaly stream's trigger interval. The reference scores once a
    * minute; a run is far shorter than that, so it scores every second,
    * and the baseline expects one second's requests per batch.
    */
  val AnomalyTriggerMs = 1000L

  object Params {
    def apply(o: Opts): Params = {
      val rate = if (o.tiny) 1000 else 5000
      val chunkMs = 50
      // a warm-up shorter than 6 s leaves the per-batch path still
      // speeding up (JIT) through the timed window
      Params(rate, chunkMs, if (o.tiny) 20 else 6000 / chunkMs,
        math.max(4, (o.seconds * 1000 / chunkMs).toInt), 50, if (o.tiny) 1 else 3)
    }
  }

  /** The run's chunks, warm-up first, in memory. */
  def chunks(seed: Long, p: Params): Array[Gen.Chunk] = {
    val r = Gen.rng(seed, 1)
    val zipf = new Gen.Zipf(Gen.LogIps, Gen.IpSkew)
    Array.tabulate(p.total)(i =>
      Gen.logChunk(r, zipf, i.toLong * p.chunkLines, p.chunkLines, 1000.0 / p.rate))
  }

  private def chunkFile(dir: File, i: Int): File = new File(dir, f"c$i%06d.jsonl")

  /** Write the chunk files and the anomaly baseline: the form the
    * byte-identity test compares.
    */
  def generate(seed: Long, p: Params, dir: File): Unit = {
    chunks(seed, p).zipWithIndex.foreach { case (c, i) =>
      Gen.write(chunkFile(new File(dir, "stage"), i), c.lines.iterator)
    }
    writeBaseline(p, dir)
  }

  def writeBaseline(p: Params, dir: File): Unit =
    Gen.write(new File(dir, "baseline.tsv"), Gen.baseline(new Gen.Zipf(Gen.LogIps, Gen.IpSkew), p.rate, AnomalyTriggerMs))

  private def chunkOf(path: String): Int =
    path.substring(path.lastIndexOf('/') + 1).stripPrefix("c").stripSuffix(".jsonl").toInt

  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  /** A foreachBatch sink wrapper that records, per micro-batch, which chunk
    * files it held and when the wrapped sink returned (the commit). The
    * files come from the file source's own log in the query checkpoint
    * (`sources/0/<batch>`, or the compacted `<batch>.compact`), read after
    * Spark wrote it and before the batch commits.
    */
  final class Commits(inner: (DataFrame, Long) => Unit, val checkpoint: String) {
    val at = new ConcurrentHashMap[Int, java.lang.Long]()
    /** (commit time in ns, sink time in ms) of every batch that held chunks. */
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()

    def filesOf(id: Long): Seq[String] = {
      val dir = new File(checkpoint, "sources/0")
      Seq(new File(dir, id.toString), new File(dir, s"$id.compact")).find(_.exists).toSeq.flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().drop(1).toList.flatMap { l =>
          if (BatchRe.findFirstMatchIn(l).exists(_.group(1).toLong == id))
            PathRe.findFirstMatchIn(l).map(_.group(1))
          else None
        } finally src.close()
      }
    }

    val sink: (DataFrame, Long) => Unit = (df, id) => {
      val files = filesOf(id)
      val t0 = System.nanoTime()
      inner(df, id)
      val t1 = System.nanoTime()
      if (files.nonEmpty) writes.add((t1, Stats.ms(t1 - t0)))
      files.foreach(f => at.putIfAbsent(chunkOf(f), t1))
    }
  }

  private def baseline(spark: SparkSession, dir: File): DataFrame =
    spark.read.option("sep", "\t")
      .schema("remote_addr STRING, avg_requests DOUBLE, stddev_requests DOUBLE")
      .csv(new File(dir, "baseline.tsv").getAbsolutePath)

  /** `t0` is when the phase began; `start` (ns) and `startWallMs` are when
    * the timed chunks began, after the warm-up ones.
    */
  final case class Live(
      t0: Long, start: Long, startWallMs: Long, released: Array[Long], ingest: Commits,
      anomaly: Commits, ingestQ: StreamingQuery, anomalyQ: StreamingQuery)

  /** The open-loop phase: chunk i is due at t0 + (i+1)·chunkMs, when the
    * generator writes it and moves it into the watched directory. Writing
    * each chunk when it is due keeps the disk write-back of the inputs
    * spread evenly over the phase instead of landing in it as one burst
    * from set-up.
    */
  def live(spark: SparkSession, p: Params, cs: Array[Gen.Chunk], run: File, hist: DataFrame): Live = {
    val stage = new File(run, "stage")
    val liveDir = new File(run, "live"); liveDir.mkdirs()
    val out = new File(run, "ingested").getAbsolutePath
    val ingest = new Commits(StreamPipelines.parquetAppendSink(out),
      new File(run, "cp-ingest").getAbsolutePath)
    val anomaly = new Commits(StreamPipelines.parquetAppendSink(new File(run, "anomalies").getAbsolutePath),
      new File(run, "cp-anomaly").getAbsolutePath)
    val ingestQ = StreamPipelines.ingest(StreamPipelines.fileLinesSource(spark, liveDir.getAbsolutePath),
      ingest.sink, ingest.checkpoint)
    val anomalyQ = StreamPipelines.anomalyPipeline(
      LogParse.ingestChain(StreamPipelines.fileLinesSource(spark, liveDir.getAbsolutePath)),
      hist, anomaly.sink, anomaly.checkpoint,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(AnomalyTriggerMs))
    val released = new Array[Long](p.total)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    for (i <- 0 until p.total) {
      val due = t0 + (i + 1L) * p.chunkMs * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      Gen.write(chunkFile(stage, i), cs(i).lines.iterator)
      Files.move(chunkFile(stage, i).toPath, chunkFile(liveDir, i).toPath, StandardCopyOption.ATOMIC_MOVE)
      released(i) = System.nanoTime()
    }
    ingestQ.processAllAvailable()
    anomalyQ.processAllAvailable()
    ingestQ.stop(); anomalyQ.stop()
    val warmMs = p.warmChunks.toLong * p.chunkMs
    Live(t0, t0 + warmMs * 1000000L, wall0 + warmMs, released, ingest, anomaly, ingestQ, anomalyQ)
  }

  /** Lag of every timed line: its commit minus its creation time, lines
    * spread evenly over their chunk's interval. Missing commits are skipped
    * and reported separately.
    */
  def lags(p: Params, l: Live, c: Commits): Array[Double] = {
    val n = p.chunkLines
    (p.warmChunks until p.total).iterator.filter(c.at.containsKey).flatMap { i =>
      val commit = c.at.get(i).longValue
      Iterator.tabulate(n) { j =>
        val k = i - p.warmChunks
        val created = l.start + ((k.toDouble + j.toDouble / n) * p.chunkMs * 1e6).toLong
        Stats.ms(commit - created)
      }
    }.toArray
  }

  /** Drain every chunk of `liveDir` again, `catchupFiles` files per
    * micro-batch; returns (raw lines per second, committed rows).
    */
  def catchup(spark: SparkSession, p: Params, run: File, k: Int): (Double, Long) = {
    val liveDir = new File(run, "live").getAbsolutePath
    val out = new File(run, s"catchup-$k").getAbsolutePath
    val raw = spark.readStream.option("maxFilesPerTrigger", p.catchupFiles.toString).text(liveDir)
    val t0 = System.nanoTime()
    val q = StreamPipelines.ingest(raw, StreamPipelines.parquetAppendSink(out),
      new File(run, s"cp-catchup-$k").getAbsolutePath)
    q.processAllAvailable()
    val s = (System.nanoTime() - t0) / 1e9
    q.stop()
    (p.lines / s, spark.read.parquet(out).count())
  }

  def run(spark: SparkSession, o: Opts, tr: Tracer, rep: Report, sessionS: Double): Unit = {
    val p = Params(o)
    // the lines stay in memory; the live phase writes each chunk when it
    // is due
    val in = new File(o.work, "input")
    val cs = chunks(o.seed, p)
    val valid = cs.map(_.valid)
    writeBaseline(p, in)
    // set-up: the cached baseline load, five times (median)
    val loads = (0 until 5).map { k =>
      val (h, ms) = Engine.time { val h = baseline(spark, in).cache(); h.count(); h }
      if (k < 4) h.unpersist(blocking = true)
      (h, ms)
    }
    val hist = loads.last._1
    rep.setup(sessionS, loads.map(_._2))

    Engine.phase("set-up done")
    val run = new File(o.work, "run")
    val l = tr.span("live", "live")(live(spark, p, cs, run, hist))
    Engine.phase("live done")
    rep.attempted += p.total
    val lost = (0 until p.total).count(i => !l.ingest.at.containsKey(i) || !l.anomaly.at.containsKey(i))
    rep.check("every chunk committed by both sinks", lost == 0, s"$lost chunks never committed")
    val lag = lags(p, l, l.ingest)
    val aLag = lags(p, l, l.anomaly)
    val validTotal = valid.map(_.toLong).sum
    val committed = spark.read.parquet(new File(run, "ingested").getAbsolutePath).count()
    rep.check("committed rows == generated valid lines",
      committed + (if (o.corrupt) 1 else 0) == validTotal, s"committed $committed, valid $validTotal")
    val anomalies = new File(run, "anomalies")
    val flagged = if (!anomalies.exists) 0L
      else spark.read.parquet(anomalies.getAbsolutePath).filter(col("remote_addr") === Gen.BurstIp).count()
    rep.check("burst IP flagged", flagged > 0, "burst IP never flagged")

    // the first drain warms the catch-up path up and is not timed
    val drains = (0 to p.catchupReps).map { k =>
      tr.span("catchup", s"catchup-$k")(catchup(spark, p, run, k))
    }
    drains.foreach { case (_, rows) =>
      rep.check("catch-up committed rows == generated valid lines", rows == validTotal,
        s"catch-up committed $rows, valid $validTotal")
    }
    val catchupRate = Stats.median(drains.tail.map(_._1))
    Engine.phase("catch-up done")

    rep.put("ingest_lag_p50_ms", Stats.median(lag.toSeq), "ms")
    rep.put("ingest_lag_p99_ms", Stats.pct(lag.toSeq, 99), "ms")
    rep.put("ingest_catchup_rows_per_s", catchupRate, "1/s")
    rep.put("ingest_lag_samples", lag.length, "count")
    rep.put("anomaly_lag_p50_ms", Stats.median(aLag.toSeq), "ms")
    val late = l.released.indices.map(i => Stats.ms(l.released(i) - l.t0) - (i + 1.0) * p.chunkMs)
    rep.put("gen.late_p99_ms", Stats.pct(late, 99), "ms")
    rep.put("ops", p.chunks, "count")
    // The gated lag is the anomaly sink's. The ingest stream triggers as
    // soon as its previous batch ends, so its lag is about 1.5 batch times
    // and moves with every change in the machine's speed; the anomaly
    // lag's fixed trigger wait does not.
    rep.contract("latency_p50_ms") = rep.named("anomaly_lag_p50_ms")
    rep.contract("throughput_per_s") = rep.named("ingest_catchup_rows_per_s")

    if (tr.enabled) layers(spark, p, tr, rep, l, run, validTotal)
  }

  private def layers(spark: SparkSession, p: Params, tr: Tracer, rep: Report,
      l: Live, run: File, validTotal: Long): Unit = {
    tr.settle()
    // batches of the timed window
    def prog(q: StreamingQuery) = q.recentProgress.filter(b =>
      b.numInputRows > 0 && java.time.Instant.parse(b.timestamp).toEpochMilli >= l.startWallMs).toSeq
    def dur(q: StreamingQuery, k: String) =
      prog(q).map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0))
    val ing = prog(l.ingestQ)
    rep.put("streaming.batch_ms_p50", Stats.median(dur(l.ingestQ, "triggerExecution")), "ms")
    rep.put("streaming.planning_ms_p50", Stats.median(dur(l.ingestQ, "queryPlanning")), "ms")
    rep.put("streaming.commit_ms_p50", Stats.median(dur(l.ingestQ, "commitOffsets")), "ms")
    rep.put("sink.write_ms_p50",
      Stats.median(l.ingest.writes.asScala.collect { case (t, ms) if t >= l.start => ms }.toSeq), "ms")
    // parquet files the sink wrote per batch that held chunks (all batches)
    val files = Option(new File(run, "ingested").listFiles()).getOrElse(Array.empty[File])
      .count(_.getName.endsWith(".parquet"))
    rep.put("sink.files_per_batch", files.toDouble / math.max(1, l.ingest.writes.size), "count")
    // backlog at each commit of timed chunks: timed lines created by then
    // minus timed lines committed
    val timedLines = p.chunks.toLong * p.chunkLines
    val commits = l.ingest.at.asScala.toSeq.filter(_._1 >= p.warmChunks)
      .groupBy(_._2.longValue).toSeq.sortBy(_._1)
    var done = 0L
    val backlog = commits.map { case (t, cs) =>
      done += cs.size.toLong * p.chunkLines
      val created = math.min(timedLines, ((t - l.start) / 1e6 / p.chunkMs * p.chunkLines).toLong)
      (created - done).toDouble
    }
    rep.put("streaming.backlog_max_rows", if (backlog.isEmpty) 0.0 else backlog.max, "count")
    rep.put("streaming.batches", ing.size, "count")
    rep.put("streaming.rows_per_batch_p50", Stats.median(ing.map(_.numInputRows.toDouble)), "count")
    rep.put("anomaly.batch_ms_p50", Stats.median(dur(l.anomalyQ, "triggerExecution")), "ms")
    // the parse chain alone over the run's lines as a static frame
    val liveDir = new File(run, "live").getAbsolutePath
    val parseNs = (0 until 3).map { k =>
      tr.span("parse", s"parse-$k") {
        val (_, ms) = Engine.time(LogParse.ingestChain(spark.read.text(liveDir))
          .write.format("noop").mode("overwrite").save())
        ms * 1e6 / p.lines
      }
    }
    rep.put("parse.ns_per_row", Stats.median(parseNs), "ns")
    val kept = LogParse.ingestChain(spark.read.text(liveDir)).count()
    val ratio = kept.toDouble / p.lines
    rep.put("parse.valid_ratio", ratio, "ratio")
    rep.check("parse.valid_ratio == planted valid share", kept == validTotal,
      s"kept $kept of ${p.lines}, planted valid $validTotal")
    val ops = tr.opsWithPrefix(l.ingestQ.id.toString)
    Layers.sched(rep, ops, ing.map(_.batchDuration.toDouble).sum)
    Layers.pins(spark, rep, 0, 0.0)
    Layers.trace(tr, rep)
  }
}
