package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AnnMaintain, BpeTrain, Dedup, TrainingPrep}
import graft.streaming.StreamPipelines

/** `corpus`: a `build` phase runs full-corpus prep and pins the at-rest
  * artifacts (minhash index and split table, BPE merges, the bucketed
  * dedup index the admission gate probes, ANN quantizers); a `delta`
  * phase then feeds seeded batches through
  * `StreamPipelines.streamingCorpusIngest`, whose index appends and split
  * folds land in the same bucketed tables its probes read.
  */
object Corpus {

  /** The at-rest prefix `TrainingPrep.corpusPrepDelta` pins its dedup
    * index under, and which the admission gate always probes; the delta
    * phase appends to the same tables.
    */
  val Prefix = "deltadx"

  final case class Params(atRest: Int, batches: Int, batchDocs: Int)

  /** Untimed delta batches before the window. The first batch takes about
    * 1.5 times as long as the later ones; the second is already as fast
    * as the rest.
    */
  val WarmBatches = 1

  object Params {
    /** Enough batches for the warm-up and a window of `o.seconds` at two
      * seconds or more per batch.
      */
    def apply(o: Opts): Params =
      if (o.tiny) Params(400, 4, 20) else Params(5000, WarmBatches + math.ceil(o.seconds / 2).toInt, 250)
  }

  /** Write documents, embeddings, the batch files and their manifest
    * (batch, doc id, planted kind, source doc).
    */
  def generate(seed: Long, p: Params, dir: File): Unit = {
    val c = Gen.corpus(seed, p.atRest, p.batches, p.batchDocs)
    Gen.write(new File(dir, "documents.tsv"), c.docs.iterator)
    Gen.write(new File(dir, "embeddings.tsv"), c.embeddings.iterator)
    c.batches.zipWithIndex.foreach { case (b, i) =>
      Gen.write(new File(dir, f"batches/b$i%04d.json"), b.iterator)
    }
    Gen.write(new File(dir, "manifest.tsv"), c.manifest.iterator)
  }

  /** Load the generated TSVs as the engine's `documents` and `embeddings`
    * parquet tables.
    */
  def load(spark: SparkSession, in: File, sf: File): Unit = {
    def tsv(name: String, schema: String) =
      spark.read.option("sep", "\t").schema(schema).csv(new File(in, name).getAbsolutePath)
    Engine.writeParquetFile(
      tsv("documents.tsv", "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
      new File(sf, "documents.parquet"))
    Engine.writeParquetFile(tsv("embeddings.tsv", "vec_id BIGINT, label INT, v STRING")
      .select(col("vec_id"), split(col("v"), ",").cast("array<float>").as("embedding"), col("label")),
      new File(sf, "embeddings.parquet"))
  }

  final case class Built(centroids: DataFrame, codebooks: DataFrame, stepMs: Map[String, Double])

  /** The build phase, one span per public call. */
  def build(spark: SparkSession, tr: Tracer, d: String): Built = {
    val steps = mutable.LinkedHashMap.empty[String, Double]
    def step[T](name: String)(body: => T): T = {
      val (r, ms) = Engine.time(tr.span(name, s"build-$name")(body))
      steps(name) = ms
      r
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val split = step("minhash_pin") {
      val rows = Dedup.splitLeakageFree(spark, d).collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        Dedup.splitLeakageFree(spark, d).schema)
    }
    step("bpe")(BpeTrain.bpeTrain(spark, d).collect())
    step("prep")(noop(TrainingPrep.corpusPrep5(spark, d)))
    step("index") {
      noop(TrainingPrep.corpusPrepDelta(spark, d))
      Dedup.writeSplitTable(split.select(col("doc_id"), col("cluster_id").as("label"), col("split")), Prefix)
    }
    val (cdf, bdf) = step("ann") {
      noop(AnnMaintain.annIndexAppend(spark, d))
      (spark.read.parquet(AnnMaintain.CentroidsPath).cache(), spark.read.parquet(AnnMaintain.CodebooksPath).cache())
    }
    Built(cdf, bdf, steps.toMap)
  }

  /** Per-batch stamps the benchmark's own sinks take (ns). */
  final class Stamps {
    val gateIn, gateOut, splitOut, annIn, annOut = new ConcurrentHashMap[Long, java.lang.Long]()
    val admitted = new ConcurrentHashMap[Long, Array[Long]]()
    val done = new AtomicInteger(0)
    @volatile var peakMb = 0.0
    @volatile var peakPins = 0
  }

  /** `released` batches went in; the first [[WarmBatches]] warmed the
    * streaming path up and are not timed; `wallS` is the timed window.
    */
  final case class Delta(stamps: Stamps, released: Int, wallS: Double, q: org.apache.spark.sql.streaming.StreamingQuery)

  /** The delta phase: closed-loop feeding, one batch file at a time
    * (the next is released when the previous batch commits). The first
    * [[WarmBatches]] are an untimed warm-up; then batches are fed until
    * `seconds` have passed, and the last released one is drained.
    */
  def delta(spark: SparkSession, b: Built, d: String, in: File, run: File, seconds: Double): Delta = {
    val st = new Stamps
    val now = () => java.lang.Long.valueOf(System.nanoTime())
    val feed = new File(run, "feed"); feed.mkdirs()
    val src = spark.readStream.schema("doc_id BIGINT, text STRING, lang STRING, v ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", "1").json(feed.getAbsolutePath)
    val q = StreamPipelines.streamingCorpusIngest(src, d, Prefix, b.centroids, b.codebooks,
      admitSink = (df, id) => {
        st.gateIn.put(id, now())
        st.admitted.put(id, df.select(col("doc_id")).collect().map(_.getLong(0)))
        st.gateOut.put(id, now()); ()
      },
      splitSink = (_, id) => { st.splitOut.put(id, now()); () },
      annSink = (df, id) => {
        st.annIn.put(id, now())
        df.collect()
        st.annOut.put(id, now())
        val (n, mb) = Engine.pins(spark)
        st.peakMb = math.max(st.peakMb, mb)
        st.peakPins = math.max(st.peakPins, n)
        st.done.incrementAndGet(); ()
      },
      checkpoint = new File(run, "cp-delta").getAbsolutePath)
    val files = Option(new File(in, "batches").listFiles()).getOrElse(Array.empty[File]).sortBy(_.getName)
    def release(i: Int): Unit =
      Files.move(files(i).toPath, new File(feed, files(i).getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    for (i <- 0 until WarmBatches) {
      release(i)
      q.processAllAvailable()
    }
    var released = WarmBatches
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline && released < files.length) {
      if (released == st.done.get) {
        release(released)
        released += 1
      } else Thread.sleep(2)
    }
    q.processAllAvailable()
    val wallS = (System.nanoTime() - t0) / 1e9
    q.stop()
    Delta(st, released, wallS, q)
  }

  def run(spark: SparkSession, o: Opts, tr: Tracer, rep: Report, sessionS: Double): Unit = {
    val p = Params(o)
    val in = new File(o.work, "input")
    val sf = new File(o.work, "sf")
    generate(o.seed, p, in)
    // set-up: the table load, five times over the same files (median)
    val loads = (0 until 5).map(_ => Engine.time(load(spark, in, sf))._2)
    rep.setup(sessionS, loads)

    // No tiny warm-up here: the build is measured cold on purpose (it runs
    // once per corpus version), and it exercises the operators the delta
    // phase then calls.
    Engine.phase("set-up done")
    val d = sf.getAbsolutePath
    val (b, buildMs) = Engine.time(build(spark, tr, d))
    Engine.phase("build done")
    spark.catalog.refreshTable(s"${Prefix}_grams")
    val gramsBefore = spark.table(s"${Prefix}_grams").count()
    val dl = tr.span("delta", "delta")(delta(spark, b, d, in, new File(o.work, "run"), o.seconds))
    val st = dl.stamps
    Engine.phase("delta done")

    // batches that carried documents, with their doc ids
    val src = scala.io.Source.fromFile(new File(in, "manifest.tsv"))
    val manifest = try src.getLines().map(_.split("\t")).map(a => (a(0).toInt, a(1).toLong, a(2))).toList
      finally src.close()
    val delivered = manifest.filter(_._1 < dl.released)
    val kinds = delivered.map(m => m._2 -> m._3).toMap
    val batchIds = st.annOut.keySet.asScala.toSeq.map(_.longValue).sorted
    rep.attempted += dl.released
    val lost = dl.released - batchIds.size
    rep.check("every released batch committed", lost == 0, s"$lost batches never committed")

    val admitted = batchIds.flatMap(id => st.admitted.get(id).toSeq)
    val exactIn = admitted.count(id => kinds.get(id).contains("exact")) + (if (o.corrupt) 1 else 0)
    rep.check("no planted exact duplicate admitted", exactIn == 0, s"$exactIn exact duplicates admitted")
    val stray = admitted.count(id => !kinds.contains(id))
    rep.check("admitted ⊆ batch", stray == 0, s"$stray admitted ids not in any delivered batch")
    spark.catalog.refreshTable(s"${Prefix}_split")
    val splitRows = spark.table(s"${Prefix}_split").filter(col("doc_id") >= 1000000L)
      .groupBy(col("doc_id")).count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val badSplit = kinds.keys.count(id => !splitRows.get(id).contains(1L)) + splitRows.keys.count(!kinds.contains(_))
    rep.check("one split row per document", badSplit == 0, s"$badSplit documents without exactly one split row")
    spark.catalog.refreshTable(s"${Prefix}_grams")
    val grown = spark.table(s"${Prefix}_grams").count() - gramsBefore
    rep.check("index grows by exactly the appended rows", grown == kinds.size,
      s"grams grew by $grown for ${kinds.size} appended documents")
    val planted = delivered.count(_._3 == "fresh").toDouble / math.max(1, delivered.size)
    val admitRatio = admitted.size.toDouble / math.max(1, delivered.size)
    rep.check("admit ratio matches the planted fresh share", math.abs(admitRatio - planted) <= 0.05,
      f"admitted $admitRatio%.3f, planted fresh share $planted%.3f")

    val all = dl.q.recentProgress.filter(_.numInputRows > 0).toSeq
    Engine.phase(s"delta batches (ms): ${all.map(_.durationMs.get("triggerExecution")).mkString(", ")}")
    val prog = all.filter(_.batchId >= WarmBatches)
    val batchMs = prog.map(_.durationMs.get("triggerExecution").doubleValue)
    rep.put("corpus_build_s", buildMs / 1000, "s")
    rep.put("delta_batch_p50_ms", Stats.median(batchMs), "ms")
    rep.put("delta_batch_p90_ms", Stats.pct(batchMs, 90), "ms")
    rep.put("delta_docs_per_s", prog.map(_.numInputRows).sum / dl.wallS, "1/s")
    rep.put("ops", dl.released, "count")
    rep.contract("latency_p50_ms") = rep.named("delta_batch_p50_ms")
    rep.contract("throughput_per_s") = rep.named("delta_docs_per_s")

    if (tr.enabled) {
      tr.settle()
      b.stepMs.foreach { case (k, v) => rep.put(s"build.${k}_ms", v, "ms") }
      val buildOps = tr.opsWithPrefix("build-")
      rep.put("build.shuffle_bytes", buildOps.map(_.shuffleBytes.get.toDouble).sum, "bytes")
      // the timed batches only
      def gap(a: ConcurrentHashMap[Long, java.lang.Long], z: ConcurrentHashMap[Long, java.lang.Long]) =
        Stats.median(batchIds.filter(_ >= WarmBatches).map(id => Stats.ms(z.get(id) - a.get(id))))
      rep.put("delta.gate_ms_p50", gap(st.gateIn, st.gateOut), "ms")
      rep.put("delta.split_ms_p50", gap(st.gateOut, st.splitOut), "ms")
      rep.put("delta.append_ms_p50", gap(st.splitOut, st.annIn), "ms")
      rep.put("delta.ann_ms_p50", gap(st.annIn, st.annOut), "ms")
      val ops = tr.opsWithPrefix(dl.q.id.toString)
      val docsPerBatch = kinds.size.toDouble / math.max(1, batchIds.size)
      rep.put("delta.index_rows_read_per_batch",
        Tracer.perOp(ops)(_.inputRows.get) - docsPerBatch, "count")
      rep.put("delta.admit_ratio", admitRatio, "ratio")
      rep.put("delta.planted_fresh_share", planted, "ratio")
      Layers.sched(rep, ops, prog.map(_.batchDuration.toDouble).sum)
      Layers.pins(spark, rep, st.peakPins, st.peakMb)
      Layers.trace(tr, rep)
    }
  }
}
