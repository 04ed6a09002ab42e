package perfbench

import graft.{Corpus, IndexCli}
import graft.text.Tokenize
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** `build`: `IndexCli.run` with the three `Corpus.rules` into an empty
  * index directory, then a `-d events.db` re-index into the same
  * directory. One round is that pair; rounds repeat until the run's
  * seconds are used. The first round runs in a fresh JVM, as every
  * `dogsheep-beta index` call does. Only the write side runs: no serving
  * code.
  */
object BuildWorkload {

  /** The source views the rules read, as `IndexCli --source` gives them. */
  val SourceTables: Seq[String] = Seq("documents", "events", "orders", "customer")
  val Refresh: Option[Set[String]] = Some(Set("events.db"))

  def run(spark: SparkSession, o: Main.Opts, r: Result, t0: Long): Unit = {
    val sources = SourceTables.map(t => t -> s"${o.data}/$t.parquet").toMap
    val config = Main.writeConfig(Corpus.rules, s"${o.work}/config.json")
    r.metric("setup_s", Main.elapsedS(t0), "s")
    r.check("index_dir", Json.str(s"${o.work}/index_r1"))
    r.check("oracle_index_sql", Json.str(Corpus.oracleIndexBody))
    if (o.trace) traced(spark, o, r, sources, config)
    else untraced(spark, o, r, sources, config)
  }

  private def cli(spark: SparkSession, dir: String, config: String,
      sources: Map[String, String], dbs: Option[Set[String]]): Double =
    Main.timed(IndexCli.run(spark, dir, config, sources, Tokenize.Porter, dbs))._2

  private def untraced(spark: SparkSession, o: Main.Opts, r: Result,
      sources: Map[String, String], config: String): Unit = {
    val builds, refreshes = ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    val cpu0 = Main.cpuMs()
    while (builds.isEmpty || Main.elapsedS(start) < o.seconds) {
      val dir = s"${o.work}/index_r${builds.size + 1}"
      builds += cli(spark, dir, config, sources, None)
      r.op("build", ok = true)
      refreshes += cli(spark, dir, config, sources, Refresh)
      r.op("reindex", ok = true)
      if (builds.size == 1) r.metric("data_bytes", Main.dirBytes(dir).toDouble, "bytes")
      else Main.deleteTree(dir)
    }
    val ops = builds.size + refreshes.size
    r.metric("cpu_ms_per_op", (Main.cpuMs() - cpu0) / ops, "ms")
    r.metric("class_p50_ms",
      Stats.geomean(Seq(Stats.median(builds.toSeq), Stats.median(refreshes.toSeq))), "ms")
    r.metric("ops_per_s", ops / ((builds.sum + refreshes.sum) / 1e3), "1/s")
    r.metric("build_s", Stats.median(builds.toSeq) / 1e3, "s")
    r.metric("reindex_s", Stats.median(refreshes.toSeq) / 1e3, "s")
    r.metric("rounds", builds.size.toDouble, "count")
  }

  /** `IndexCli.run`'s steps, in the order it runs them: the source
    * views, `IndexJob.replaceInto` over `extractAll`→`dedupe`, the
    * `doc_tokens` write, the postings and positions writes, the count.
    */
  val Steps: Seq[String] =
    Seq("sources", "replace", "doc_tokens", "postings", "positions", "count")

  /** One traced `IndexCli.run` call split into [[Steps]]: its top-level SQL
    * executions, grouped by the line of `IndexCli.run` that started them,
    * in order. A step's time runs from the start of its first execution
    * to the end of its last. Fails when the executions no longer fall
    * into these steps, so that a changed `IndexCli.run` is not timed under
    * the old step names.
    */
  def steps(c: Counters): Map[String, (Double, Counters)] = {
    def caller(q: Counters.Query) =
      q.callSite.linesIterator.find(_.contains("graft.IndexCli$.run(")).getOrElse("")
    val groups = c.queries.sortBy(_.start).foldLeft(Vector.empty[Vector[Counters.Query]]) {
      case (gs, q) if gs.nonEmpty && caller(gs.last.head) == caller(q) =>
        gs.init :+ (gs.last :+ q)
      case (gs, q) => gs :+ Vector(q)
    }
    def calls(g: Int, f: String) = groups.lift(g).exists(_.exists(_.callSite.contains(f)))
    require(groups.size == Steps.size && calls(1, "IndexJob$.replaceInto") &&
      calls(3, "TextIndex$.writeTermPartitioned") && calls(4, "TextIndex$.writeTermPartitioned"),
      s"IndexCli.run's SQL executions do not fall into the steps ${Steps.mkString(", ")}; " +
        s"they were started from: ${groups.map(g => caller(g.head)).mkString(" | ")}")
    Steps.zip(groups).map { case (name, qs) =>
      val (s, e) = (qs.map(_.start).min, qs.map(_.end).max)
      name -> ((e - s).toDouble, c.within(s, e))
    }.toMap
  }

  private def traced(spark: SparkSession, o: Main.Opts, r: Result,
      sources: Map[String, String], config: String): Unit = {
    // an untimed warm-up round, then one untraced round as the overhead
    // base, so that base and traced rounds both run compiled code
    cli(spark, s"${o.work}/index_warm", config, sources, None)
    cli(spark, s"${o.work}/index_warm", config, sources, Refresh)
    Main.deleteTree(s"${o.work}/index_warm")
    val baseS = cli(spark, s"${o.work}/index_base", config, sources, None) / 1e3
    cli(spark, s"${o.work}/index_base", config, sources, Refresh)
    Main.deleteTree(s"${o.work}/index_base")
    r.op("build", ok = true); r.op("reindex", ok = true)

    val tc = new SparkCounters(spark)
    tc.register()
    val gc0 = SparkCounters.gcMillis()
    // per call: its wall milliseconds, its counters, and its steps
    type Call = (Double, Counters, Map[String, (Double, Counters)])
    def tracedCli(dir: String, dbs: Option[Set[String]]): Call = {
      val (_, ms, c) = tc.span(IndexCli.run(spark, dir, config, sources, Tokenize.Porter, dbs))
      (ms, c, steps(c))
    }
    val builds, refreshes = ArrayBuffer.empty[Call]
    val start = System.nanoTime()
    while (builds.isEmpty || Main.elapsedS(start) < o.seconds) {
      val dir = s"${o.work}/index_r${builds.size + 1}"
      builds += tracedCli(dir, None)
      r.op("build", ok = true)
      refreshes += tracedCli(dir, Refresh)
      r.op("reindex", ok = true)
      if (builds.size == 1) {
        r.metric("index.search_index_bytes", Main.dirBytes(s"$dir/search_index").toDouble, "bytes")
        r.metric("index.postings_bytes", Main.dirBytes(s"$dir/postings").toDouble, "bytes")
        r.metric("index.positions_bytes", Main.dirBytes(s"$dir/positions").toDouble, "bytes")
      } else Main.deleteTree(dir)
    }
    val gcMs = SparkCounters.gcMillis() - gc0
    tc.unregister()

    def med(calls: Seq[Call], step: String): Double = Stats.median(calls.map(_._3(step)._1)) / 1e3
    r.metric("index.replace_s", med(builds.toSeq, "replace"), "s")
    r.metric("index.reindex_replace_s", med(refreshes.toSeq, "replace"), "s")
    r.metric("index.doc_tokens_s", med(builds.toSeq, "doc_tokens"), "s")
    r.metric("index.postings_s", med(builds.toSeq, "postings"), "s")
    r.metric("index.positions_s", med(builds.toSeq, "positions"), "s")
    r.metric("index.positions_task_skew",
      Stats.median(builds.toSeq.map(_._3("positions")._2.taskSkew)), "ratio")
    r.metric("index.shuffle_bytes",
      Stats.median(builds.toSeq.map(_._2.shuffleWriteBytes.toDouble)), "bytes")
    r.metric("spark.gc_ms", gcMs.toDouble, "ms")
    r.metric("trace.build_overhead_s", Stats.median(builds.toSeq.map(_._1)) / 1e3 - baseS, "s")
  }
}
