package perfbench

import graft.{Corpus, IndexCli}
import graft.core.{Config, IndexRule}
import graft.query.{Enrich, SearchEngine}
import graft.query.SearchEngine.{Request, TextArtifacts}
import graft.serve.{BetaHtml, BetaServer, SearchPage}
import graft.text.{FtsQuery, Tokenize}
import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `serve_serial` and `serve_concurrent`: closed-loop HTTP clients send
  * `GET /-/beta` to a server set up like `ServeCli` over an
  * `IndexCli`-built index (`search_index` cached, postings and positions
  * read from parquet). A round is the seeded request list; its requests
  * are shared out to the clients from one queue, and the round ends when
  * the last response arrives. Set-up ends with one untimed request per
  * class. Rounds repeat until the run's seconds are used.
  */
object ServeWorkload {

  final case class Req(idx: Int, cls: String, slot: String, query: String, expect: String)
  final case class Resp(req: Req, ms: Double, status: Int, body: String) {
    /** An error page where one is expected (`_searchmode=raw` on a
      * malformed query) counts as a success.
      */
    def ok: Boolean =
      if (req.expect == "error") status == 500 && body.startsWith("<h1>500</h1>")
      else status == 200
  }

  /** The display template given to the orders rule, so that each orders
    * result shows its `display_sql` columns and the checks can read them.
    */
  val OrdersDisplay: String =
    Seq("title", "timestamp", "category", "is_public", "search_1", "score",
      "display.o_orderkey", "display.o_totalprice", "display.c_name",
      "display.c_mktsegment")
      .map(f => s"""<span class="f" data-f="$f">{{ $f }}</span>""").mkString

  def rules: Seq[IndexRule] = Corpus.rules.map { r =>
    if (r.displaySql.isDefined) r.copy(display = Some(OrdersDisplay)) else r
  }

  private def readRequests(path: String): Seq[Req] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty)
      .zipWithIndex.map { case (line, i) =>
        val Array(cls, slot, expect, query) = line.split("\t", 4)
        Req(i, cls, slot, query, expect)
      }

  /** Build the index the serve workloads read: `IndexCli.run` over the
    * fixed serve corpus into `--index`, marked complete by a `_COMPLETE`
    * file. `run.py` runs this in a JVM of its own, untimed, once per
    * program source.
    */
  def buildIndex(spark: SparkSession, o: Main.Opts): Unit = {
    val dir = indexDir(o)
    val config = Main.writeConfig(rules, s"${o.work}/config.json")
    val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}"
    Main.deleteTree(tmp)
    val sources = BuildWorkload.SourceTables.map(t => t -> s"${o.data}/$t.parquet").toMap
    IndexCli.run(spark, tmp, config, sources, Tokenize.Porter, None)
    Files.createFile(Paths.get(s"$tmp/_COMPLETE"))
    Main.deleteTree(dir)
    Files.move(Paths.get(tmp), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
  }

  private def indexDir(o: Main.Opts): String =
    o.index.getOrElse(throw new IllegalArgumentException("missing --index"))

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

    def get(req: Req): Resp = {
      val t = System.nanoTime()
      val (status, body) =
        try {
          val resp = http.send(
            HttpRequest.newBuilder(URI.create(s"http://localhost:$port/-/beta?${req.query}"))
              .timeout(Duration.ofSeconds(60)).GET().build(),
            HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
          (resp.statusCode(), resp.body())
        } catch { case e: java.io.IOException => (-1, String.valueOf(e.getMessage)) }
      Resp(req, (System.nanoTime() - t) / 1e6, status, body)
    }

    /** One round: `clients` closed-loop threads share the requests. */
    def round(reqs: Seq[Req], clients: Int): (Seq[Resp], Double) = {
      val queue = new ConcurrentLinkedQueue[Req](reqs.asJava)
      val out = new ConcurrentLinkedQueue[Resp]()
      val t = System.nanoTime()
      val threads = (1 to clients).map { _ =>
        new Thread(() => {
          var next = queue.poll()
          while (next != null) { out.add(get(next)); next = queue.poll() }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (out.asScala.toSeq.sortBy(_.req.idx), (System.nanoTime() - t) / 1e6)
    }
  }

  /** The request the server builds from a query string (the same
    * parameters and last-value-wins rule as `BetaServer`).
    */
  def toRequest(query: String): Request = {
    val p = query.split("&").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    Request(q = p.get("q"), typeFilter = p.get("type"), category = p.get("category"),
      isPublic = p.get("is_public"), timestampDate = p.get("timestamp__date"),
      sort = p.get("sort"), tokenize = Tokenize.Porter,
      rawMode = p.get("_searchmode").contains("raw"))
  }

  def run(spark: SparkSession, o: Main.Opts, r: Result, t0: Long, clients: Int): Unit = {
    r.metric("setup_session_s", Main.elapsedS(t0), "s")
    val config = Main.writeConfig(rules, s"${o.work}/config.json")
    r.check("oracle_index_sql", Json.str(Corpus.oracleIndexBody))
    val dir = indexDir(o)
    require(new File(s"$dir/_COMPLETE").exists(), s"no complete index in $dir")
    // as ServeCli: source views back display_sql, search_index is cached
    BuildWorkload.SourceTables.foreach { t =>
      spark.read.parquet(s"${o.data}/$t.parquet").createOrReplaceTempView(t)
    }
    val parsedRules = Config.parseMetadata(Files.readString(Paths.get(config)))
    val index = spark.read.parquet(s"$dir/search_index").cache()
    index.count()
    val arts = TextArtifacts(
      spark.read.parquet(s"$dir/doc_tokens"),
      spark.read.parquet(s"$dir/postings"),
      Some(spark.read.parquet(s"$dir/positions")))
    val server = BetaServer.start(spark, index, parsedRules, Some(arts), 0, Tokenize.Porter)
    try {
      val client = new Client(server.getAddress.getPort)
      r.metric("setup_load_s", Main.elapsedS(t0), "s")
      o.warmup.foreach(w => client.round(readRequests(w), 1))
      val reqs = readRequests(o.requests.getOrElse(
        throw new IllegalArgumentException("missing --requests")))
      r.metric("data_bytes", Main.cachedBytes(spark).toDouble, "bytes")
      r.metric("setup_s", Main.elapsedS(t0), "s")
      if (o.trace) traced(spark, o, r, client, reqs, clients, index, parsedRules, arts)
      else untraced(o, r, client, reqs, clients)
    } finally server.stop(0)
  }

  /** The request classes of the mix (`mix.py`). `class_p50_ms` is the
    * geometric mean of the median page time of each class that serves a
    * page of results; the malformed class is an escaped search or an
    * error page.
    */
  val Classes: Seq[String] = Seq("timeline", "search", "phrase", "malformed")
  val ScoredClasses: Seq[String] = Seq("timeline", "search", "phrase")

  /** The `p` quantile of response times, failures ranked above successes. */
  private def quantile(resps: Seq[Resp], p: Double): Option[Double] = {
    val ok = resps.filter(_.ok).map(_.ms)
    Stats.rankedQuantile(ok, resps.size - ok.size, p)
  }

  /** Record every response, save the first body of each request for the
    * checks, and note whether repeats of a request returned the same page.
    */
  private final class Pages(o: Main.Opts, r: Result) {
    private val first = mutable.LinkedHashMap.empty[Int, Resp]
    private val same = mutable.Map.empty[Int, Boolean]
    def add(resps: Seq[Resp]): Unit = resps.foreach { x =>
      r.op(x.req.cls, x.ok)
      first.get(x.req.idx) match {
        case None => first(x.req.idx) = x; same(x.req.idx) = true
        case Some(f) => same(x.req.idx) &&= (!f.ok || f.body == x.body)
      }
    }
    def report(): Unit = {
      val pagesDir = s"${o.work}/pages"
      Files.createDirectories(Paths.get(pagesDir))
      r.check("pages", Json.arr(first.values.map { x =>
        val file = s"$pagesDir/${x.req.idx}.html"
        Files.writeString(Paths.get(file), x.body)
        Json.obj(Seq("cls" -> Json.str(x.req.cls), "slot" -> Json.str(x.req.slot),
          "query" -> Json.str(x.req.query), "expect" -> Json.str(x.req.expect),
          "status" -> x.status.toString, "ok" -> x.ok.toString, "ms" -> Json.num(x.ms),
          "file" -> Json.str(file), "repeats_identical" -> same(x.req.idx).toString))
      }))
    }
  }

  private def untraced(o: Main.Opts, r: Result, client: Client, reqs: Seq[Req],
      clients: Int): Unit = {
    val pages = new Pages(o, r)
    val all = ArrayBuffer.empty[Resp]
    var wallMs = 0.0
    val start = System.nanoTime()
    val cpu0 = Main.cpuMs()
    while (all.isEmpty || Main.elapsedS(start) < o.seconds) {
      val (resps, ms) = client.round(reqs, clients)
      all ++= resps
      wallMs += ms
      pages.add(resps)
    }
    r.metric("cpu_ms_per_op", (Main.cpuMs() - cpu0) / all.size, "ms")
    pages.report()
    r.metric("ops_per_s", all.count(_.ok) / (wallMs / 1e3), "1/s")
    quantile(all.toSeq, 0.5).foreach(r.metric("page_p50_ms", _, "ms"))
    if (all.size >= 100) quantile(all.toSeq, 0.9).foreach(r.metric("page_p90_ms", _, "ms"))
    val classP50 = Classes.map(c => c -> quantile(all.filter(_.req.cls == c).toSeq, 0.5)).toMap
    Classes.foreach(c => classP50(c).foreach(r.metric(s"${c}_p50_ms", _, "ms")))
    val scored = ScoredClasses.flatMap(classP50)
    if (scored.size == ScoredClasses.size) r.metric("class_p50_ms", Stats.geomean(scored), "ms")
    r.metric("pages", all.size.toDouble, "count")
  }

  /** Traced run: (A) one untraced round, the overhead base; (B) with more
    * than one client, one round with the listener on, for the traced page
    * time and the most Spark jobs running at once; (C) each request once
    * more over HTTP, then each layer's public function called with the
    * same `Request`. With one client, (C)'s requests give the traced page
    * time and job concurrency. (A) runs first, with code not yet compiled
    * for some request shapes, so the overhead reads low.
    */
  private def traced(spark: SparkSession, o: Main.Opts, r: Result, client: Client,
      reqs: Seq[Req], clients: Int, index: DataFrame, rules: Seq[IndexRule],
      arts: TextArtifacts): Unit = {
    val pages = new Pages(o, r)
    val (base, _) = client.round(reqs, clients)
    pages.add(base)

    val tc = new SparkCounters(spark)
    tc.register()
    val gc0 = SparkCounters.gcMillis()
    tc.drain()
    val concurrent = ArrayBuffer.empty[Counters]
    val roundB =
      if (clients == 1) Seq.empty[Resp]
      else {
        val (resps, _) = client.round(reqs, clients)
        pages.add(resps)
        concurrent += tc.drain()
        resps
      }
    val roundC = ArrayBuffer.empty[Resp]

    val layer = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def rec(name: String, v: Double): Unit = layer.getOrElseUpdate(name, ArrayBuffer.empty) += v
    reqs.foreach { q =>
      val (resp, httpMs, hc) = tc.span(client.get(q))
      pages.add(Seq(resp))
      roundC += resp
      concurrent += hc
      rec("serve.jobs_per_page", hc.jobs)
      rec("serve.tasks_per_page", hc.tasks)
      rec("serve.page_bytes", resp.body.getBytes(StandardCharsets.UTF_8).length)
      if (resp.ok && resp.status == 200) {
        val req = toRequest(q.query)
        val qText = req.q.getOrElse("").trim
        val node = req.q.flatMap { s =>
          val t = System.nanoTime()
          val n = FtsQuery.parseRequest(s, req.tokenize, req.rawMode)
          rec("text.parse_us", (System.nanoTime() - t) / 1e3)
          n
        }
        node.foreach { n =>
          val (rows, ms, _) = tc.span(SearchEngine.matchSet(arts, n).collect())
          rec("query.match_ms", ms)
          rec("query.matched_rows", rows.length)
          val terms = FtsQuery.positiveTerms(n).distinct
          if (terms.nonEmpty) rec("query.bm25_ms",
            tc.span(SearchEngine.bm25Scores(spark, arts.postings, arts.docTokens, terms).collect())._2)
        }
        val results = SearchEngine.search(spark, index, req, Some(arts))
        val (top, topMs, topC) = tc.span(results.collect())
        rec("query.topk_ms", topMs)
        rec("query.tasks_per_search", topC.tasks)
        val present = top.map(_.getAs[String]("type")).toSet
        val enrichMs = rules.filter(x => x.displaySql.isDefined && present(x.typeTag))
          .map(x => tc.span(Enrich.enrichType(spark, x, results, qText).collect())._2).sum
        if (enrichMs > 0) rec("query.enrich_ms", enrichMs)
        val (page, assembleMs, _) = tc.span(SearchPage.assemble(spark, index, rules, req, Some(arts)))
        val (_, renderMs) = Main.timed(BetaHtml.render(page))
        rec("serve.assemble_ms", assembleMs)
        rec("serve.render_ms", renderMs)
        rec("serve.facets_ms", assembleMs - topMs - enrichMs)
        rec("serve.http_ms", httpMs - assembleMs - renderMs)
      }
    }
    val gcMs = SparkCounters.gcMillis() - gc0
    tc.unregister()
    pages.report()

    layer.foreach { case (name, vs) =>
      val unit = name.split('_').last match {
        case "ms" => "ms"
        case "us" => "us"
        case "bytes" => "bytes"
        case _ => "count"
      }
      r.metric(name, Stats.median(vs.toSeq), unit)
    }
    r.metric("serve.concurrent_jobs_max",
      concurrent.map(c => SparkCounters.maxConcurrent(c.jobIntervals)).max.toDouble, "count")
    r.metric("serve.concurrent_queries_max",
      concurrent.map(c => SparkCounters.maxConcurrent(c.queryIntervals)).max.toDouble, "count")
    r.metric("spark.gc_ms", gcMs.toDouble, "ms")
    val tracedRound = if (clients == 1) roundC.toSeq else roundB
    for (b <- quantile(base, 0.5); t <- quantile(tracedRound, 0.5))
      r.metric("trace.page_p50_overhead_ms", t - b, "ms")
  }
}
