package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable
import scala.util.Random

/** Seeded input generator for all three workloads. Every input is a pure
  * function of (seed, scale): the same seed writes byte-identical files.
  * The engine only ever sees these files, or tables loaded from them.
  *
  * Sized traffic dimensions (fixed rates, listed again in the README):
  *  - client IPs: [[LogIps]] addresses, Zipf(s = [[IpSkew]]);
  *  - [[MalformedShare]] malformed JSON, [[MissingKeyShare]] lines without
  *    `status`, [[AgentShare]] monitoring-agent lines (all dropped by the
  *    parse chain), and the burst IP [[BurstIp]] at [[BurstShare]] of all
  *    lines, whose baseline is one request per micro-batch;
  *  - events: user ids Zipf(s = [[UserSkew]]) over [[Users]] users;
  *  - corpus: [[ExactShare]] planted exact and [[NearShare]] planted near
  *    duplicates of at-rest documents in every delta batch.
  *
  * No value here comes from a measured trace: the reference publishes no
  * traffic statistics, so every share, skew and size is an unverified
  * assumption. They are set so that each kind of line the parse chain
  * drops, the burst, and each kind of planted duplicate occur in every
  * micro-batch.
  */
object Gen {
  val LogIps = 4096
  val IpSkew = 1.1
  val MalformedShare = 0.01
  val MissingKeyShare = 0.01
  val AgentShare = 0.02
  val BurstIp = "198.51.100.77"
  val BurstShare = 0.08
  val Users = 1500
  val UserSkew = 0.8
  val ExactShare = 0.10
  val NearShare = 0.10

  /** Inverse-CDF sampler of Zipf(s) over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def prob(i: Int): Double = cdf(i) - (if (i == 0) 0.0 else cdf(i - 1))
    def sample(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def rng(seed: Long, salt: Int): Random = new Random(seed * 1000003L + salt)

  def write(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = Files.newBufferedWriter(f.toPath, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  // ------------------------------------------------------------ nginx logs

  def ip(i: Int): String = s"10.${(i >> 16) & 255}.${(i >> 8) & 255}.${i & 255}"

  private val Uris = Array("/api/users/", "/api/orders/", "/api/items/", "/static/app/",
    "/api/search/", "/health/check/", "/api/login/", "/api/cart/")
  private val Methods = Array("GET", "GET", "GET", "POST", "PUT")
  private val Statuses = Array("200", "200", "200", "200", "201", "304", "404", "500", "503")
  private val Countries = Array("IN", "US", "DE", "BR", "JP", "GB", "FR")

  /** One chunk of nginx JSON log lines. `first` numbers the lines across
    * chunks (request ids, timestamps); returns the lines and how many of
    * them are valid records the parse chain keeps.
    */
  final case class Chunk(lines: Array[String], valid: Int)

  private def pad3(v: Long): String = (if (v < 10) "00" else if (v < 100) "0" else "") + v

  def logChunk(r: Random, zipf: Zipf, first: Long, n: Int, lineMs: Double): Chunk = {
    var valid = 0
    var isoSec = -1L
    var iso = ""
    val sb = new java.lang.StringBuilder(1024)
    def field(k: String, v: String): Unit = {
      if (sb.length > 1) sb.append(", ")
      sb.append('"').append(k).append("\": \"").append(v).append('"')
    }
    val lines = Array.tabulate(n) { j =>
      val k = first + j
      val epochMs = 1753437600000L + (k * lineMs).toLong
      val sec = epochMs / 1000
      if (sec != isoSec) {
        isoSec = sec
        iso = java.time.Instant.ofEpochSecond(sec).toString.replace("Z", "+00:00")
      }
      val u = r.nextDouble()
      val isBurst = r.nextDouble() < BurstShare
      val missing = u >= AgentShare && u < AgentShare + MissingKeyShare
      val malformed = u >= AgentShare + MissingKeyShare && u < AgentShare + MissingKeyShare + MalformedShare
      val addr = if (isBurst) BurstIp else ip(zipf.sample(r))
      val uri = Uris(r.nextInt(Uris.length)) + r.nextInt(1000)
      val method = Methods(r.nextInt(Methods.length))
      val rtMs = 1 + r.nextInt(500)
      val rt = s"${rtMs / 1000}.${pad3(rtMs % 1000)}"
      sb.setLength(0)
      sb.append('{')
      field("msec", s"$sec.${pad3(epochMs % 1000)}")
      field("connection", (k % 9973).toString)
      field("connection_requests", (1 + r.nextInt(5)).toString)
      field("pid", (7 + k % 4).toString)
      val hex = java.lang.Long.toHexString(k)
      field("request_id", "0" * (16 - hex.length) + hex)
      field("request_length", (200 + r.nextInt(800)).toString)
      field("remote_addr", addr)
      field("remote_user", "-")
      field("remote_port", (1024 + r.nextInt(60000)).toString)
      field("time_local", iso)
      field("time_iso8601", iso)
      field("request", s"$method $uri HTTP/1.1")
      field("request_uri", uri)
      field("args", "-")
      if (!missing) field("status", Statuses(r.nextInt(Statuses.length)))
      field("body_bytes_sent", r.nextInt(20000).toString)
      field("bytes_sent", r.nextInt(21000).toString)
      field("http_referer", "-")
      field("http_user_agent", if (u < AgentShare) graft.model.NginxLog.monitoringAgent else "Mozilla/5.0")
      field("http_x_forwarded_for", "-")
      field("http_host", "example.com")
      field("server_name", "example.com")
      field("request_time", rt)
      field("upstream", "10.0.0.2:8080")
      field("upstream_connect_time", "0.001")
      field("upstream_header_time", rt)
      field("upstream_response_time", rt)
      field("upstream_response_length", r.nextInt(20000).toString)
      field("upstream_cache_status", "MISS")
      field("ssl_protocol", "TLSv1.3")
      field("ssl_cipher", "TLS_AES_256_GCM_SHA384")
      field("scheme", "https")
      field("request_method", method)
      field("server_protocol", "HTTP/1.1")
      field("pipe", ".")
      field("gzip_ratio", "2.1")
      field("http_cf_ray", hex + "-BOM")
      field("geoip2_country_code", Countries(r.nextInt(Countries.length)))
      sb.append('}')
      if (u >= AgentShare + MissingKeyShare + MalformedShare) valid += 1
      if (malformed) sb.substring(0, sb.length / 2) else sb.toString
    }
    Chunk(lines, valid)
  }

  /** The anomaly baseline: per known IP, the expected request count of a
    * `batchMs` micro-batch at `rate` lines/s and a generous spread. The
    * burst IP's history is one request per batch, so its burst scores a
    * z-score far above 3 in any batch that holds a handful of its lines.
    */
  def baseline(zipf: Zipf, rate: Double, batchMs: Double): Iterator[String] =
    Iterator.range(0, LogIps).map { i =>
      val mu = zipf.prob(i) * (1 - BurstShare) * rate * batchMs / 1000
      f"${ip(i)}\t$mu%.4f\t${2 * math.sqrt(mu) + 3}%.4f"
    } ++ Iterator(s"$BurstIp\t1.0\t1.0")

  // ---------------------------------------------------------- events table

  private val EventTypes = Array("click", "view", "error", "purchase", "signup")

  /** The dashboard's events table (TSV): 30 days from 2024-01-01, the
    * fixed window every `Analytics` query is written against.
    */
  def events(seed: Long, n: Int): Iterator[String] = {
    val r = rng(seed, 2)
    val zipf = new Zipf(Users, UserSkew)
    val spanMicros = 30L * 86400L * 1000000L
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    Iterator.range(0, n).map { i =>
      val micros = ((i + r.nextDouble()) * spanMicros / n).toLong
      val tsStr = base.plusNanos(micros * 1000).format(fmt)
      val cents = r.nextInt(20000)
      val value = s"${cents / 100}.${if (cents % 100 < 10) "0" else ""}${cents % 100}"
      s"$i\t$tsStr\t${zipf.sample(r)}\t${EventTypes(r.nextInt(EventTypes.length))}\t$value\t{" +
        "\"k\": " + r.nextInt(100) + "}"
    }
  }

  // ---------------------------------------------------------------- corpus

  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  def vocab(r: Random, n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Array.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
    seen.toArray
  }

  def text(r: Random, words: Array[String]): String =
    Array.fill(40 + r.nextInt(40))(words(r.nextInt(words.length))).mkString(" ")

  /** A near copy: the same text with two words replaced. */
  def nearCopy(r: Random, words: Array[String], t: String): String = {
    val ws = t.split(" ")
    for (_ <- 0 until 2) ws(r.nextInt(ws.length)) = words(r.nextInt(words.length))
    ws.mkString(" ")
  }

  /** `x` with five decimals, rounded half up, without the cost of
    * `String.format`.
    */
  def fixed5(x: Double): String = {
    val n = math.round(math.abs(x) * 100000)
    val frac = (n % 100000).toString
    (if (x < 0 && n != 0) "-" else "") + (n / 100000) + "." + "0" * (5 - frac.length) + frac
  }

  private def vector(r: Random, center: Array[Double]): String =
    center.map(c => fixed5(c + r.nextGaussian() * 0.3)).mkString(",")

  /** The at-rest corpus (with sf0.1's 2,000 embeddings for the ANN
    * quantizers) and its delta batches. A document id in golden
    * bucket 7 of 20 is held out of the engine's at-rest dedup index, so
    * planted duplicates only copy documents outside that bucket.
    */
  final case class CorpusData(
      docs: Seq[String], embeddings: Seq[String],
      batches: Seq[Seq[String]], manifest: Seq[String])

  def corpus(seed: Long, atRest: Int, nBatches: Int, batchDocs: Int): CorpusData = {
    val r = rng(seed, 3)
    val words = vocab(r, 3000)
    val centers = Array.fill(10, 64)(r.nextGaussian())
    val texts = new Array[String](atRest)
    for (i <- 0 until atRest)
      texts(i) = if (i > 20 && r.nextDouble() < 0.05) nearCopy(r, words, texts(r.nextInt(i))) else text(r, words)
    val docs = texts.indices.map { i =>
      s"$i\t${texts(i)}\t${Langs(r.nextInt(Langs.length))}\tsrc${i % 20}\t${texts(i).length}"
    }
    val embeddings = (0 until math.min(atRest, 2000)).map { i =>
      val label = r.nextInt(10)
      s"$i\t$label\t${vector(r, centers(label))}"
    }
    val indexed = (0 until atRest).filter(i => (i * graft.GoldenHash.Gamma) % 20 != 7)
    val manifest = mutable.ArrayBuffer.empty[String]
    val batches = (0 until nBatches).map { b =>
      (0 until batchDocs).map { j =>
        val id = 1000000L + b * 10000L + j
        val u = r.nextDouble()
        val (kind, src, t) =
          if (u < ExactShare) { val s = indexed(r.nextInt(indexed.size)); ("exact", s, texts(s)) }
          else if (u < ExactShare + NearShare) {
            val s = indexed(r.nextInt(indexed.size)); ("near", s, nearCopy(r, words, texts(s)))
          } else ("fresh", -1, text(r, words))
        manifest += s"$b\t$id\t$kind\t$src"
        val v = vector(r, centers(r.nextInt(10)))
        s"{\"doc_id\": $id, \"text\": \"$t\", \"lang\": \"${Langs(r.nextInt(Langs.length))}\", \"v\": [$v]}"
      }
    }
    CorpusData(docs, embeddings, batches, manifest.toSeq)
  }

  // ------------------------------------------------------------- all files

  /** Write every generated input of `o.workload` under `work/input`: the
    * form the byte-identity test compares across two runs of one seed.
    */
  def writeAll(o: Opts): Unit = {
    val in = new File(o.work, "input")
    o.workload match {
      case "log_stream" =>
        val p = LogStream.Params(o)
        LogStream.generate(o.seed, p, in)
      case "log_dashboard" =>
        write(new File(in, "events.tsv"), events(o.seed, Dashboard.rows(o)))
      case "corpus" =>
        Corpus.generate(o.seed, Corpus.Params(o), in)
      case w => sys.error(s"unknown workload $w")
    }
  }
}
