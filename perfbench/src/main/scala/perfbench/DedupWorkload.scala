package perfbench

import graft.{Corpus, ExtQueries, SparkEntry}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `dedup_chain`: the dedup artifact build (`ExtQueries.warmDedupArtifacts`)
  * as set-up, then each query of [[DedupWorkload.Queries]] collected. One
  * round is those queries in order; rounds repeat until the run's seconds
  * are used.
  */
object DedupWorkload {

  /** The queries of one round: five of the twenty declared `x_dedup_*`
    * queries, so that a run fits the benchmark's time budget. They read
    * the shingle, MinHash, SimHash and component artifacts, and include
    * `x_dedup_ngram`, the slowest at scale, and the two queries held to
    * properties instead of an oracle. A fixed list, so that a query added
    * to the program later does not change this workload.
    */
  val Queries: Seq[String] = Seq(
    "x_dedup_ngram", "x_dedup_minhash_salted", "x_dedup_components", "x_dedup_simhash",
    "x_dedup_minhash_calibration")

  def run(spark: SparkSession, o: Main.Opts, r: Result, t0: Long): Unit = {
    val defs = Queries.map(n => SparkEntry.allDefs.find(_.name == n)
      .getOrElse(throw new IllegalStateException(s"query $n is not declared")))
    val tc = if (o.trace) Some(new SparkCounters(spark)) else None
    tc.foreach(_.register())
    val gc0 = SparkCounters.gcMillis()
    Corpus.registerSources(spark, o.data)
    val (buildMs, buildSkew) = tc match {
      case Some(c) =>
        val (_, ms, cs) = c.span(ExtQueries.warmDedupArtifacts(spark, o.data))
        (ms, cs.taskSkew)
      case None => (Main.timed(ExtQueries.warmDedupArtifacts(spark, o.data))._2, 1.0)
    }
    r.metric("data_bytes", Main.cachedBytes(spark).toDouble, "bytes")
    r.metric("setup_s", Main.elapsedS(t0), "s")

    val times = mutable.LinkedHashMap(Queries.map(_ -> ArrayBuffer.empty[Double]): _*)
    val counters = mutable.LinkedHashMap(Queries.map(_ -> ArrayBuffer.empty[Counters]): _*)
    val rounds = ArrayBuffer.empty[Double]
    val saved = ArrayBuffer.empty[String]
    val start = System.nanoTime()
    val cpu0 = Main.cpuMs()
    while (rounds.isEmpty || Main.elapsedS(start) < o.seconds) {
      val roundStart = System.nanoTime()
      defs.foreach { d =>
        // `fn` registers the sources and plans the query: both are part
        // of the timed call, as they are of every declared query's run
        def collect() = {
          val df = d.fn(spark, o.data)
          (df.schema, df.collect())
        }
        val ((schema, rows), ms) = tc match {
          case Some(c) =>
            val (res, ms, cs) = c.span(collect())
            counters(d.name) += cs
            (res, ms)
          case None => Main.timed(collect())
        }
        times(d.name) += ms
        r.op("query", ok = true)
        if (rounds.isEmpty) saved += saveRows(o, d.name, d.oracle, schema, rows)
      }
      rounds += (System.nanoTime() - roundStart) / 1e6
    }
    val cpuMs = Main.cpuMs() - cpu0
    r.check("queries", Json.arr(saved))

    if (o.trace) {
      val cs = counters.values.flatten.toSeq
      r.metric("ext.dedup_build_s", buildMs / 1e3, "s")
      times.foreach { case (n, ts) => r.metric(s"ext.${n}_s", Stats.median(ts.toSeq) / 1e3, "s") }
      r.metric("ext.shuffle_bytes",
        cs.map(_.shuffleWriteBytes).sum.toDouble / rounds.size, "bytes")
      r.metric("ext.task_skew_max", (cs.map(_.taskSkew) :+ buildSkew).max, "ratio")
      r.metric("spark.gc_ms", (SparkCounters.gcMillis() - gc0).toDouble, "ms")
      tc.foreach(_.unregister())
    } else {
      val ops = times.values.map(_.size).sum
      r.metric("cpu_ms_per_op", cpuMs / ops, "ms")
      r.metric("class_p50_ms", Stats.geomean(times.values.map(ts => Stats.median(ts.toSeq)).toSeq), "ms")
      r.metric("ops_per_s", ops / (rounds.sum / 1e3), "1/s")
      r.metric("dedup_chain_s", Stats.median(rounds.toSeq) / 1e3, "s")
      r.metric("rounds", rounds.size.toDouble, "count")
    }
  }

  /** The collected rows of one query, typed by its schema, for the DuckDB
    * comparison in `checks.py`.
    */
  private def saveRows(o: Main.Opts, name: String, oracle: Option[String],
      schema: StructType, rows: Array[Row]): String = {
    def enc(v: Any): String = v match {
      case null => "null"
      case d: Double => Json.num(d)
      case f: Float => Json.num(f.toDouble)
      case d: java.math.BigDecimal => Json.str(d.toPlainString)
      case n: java.lang.Number => n.toString
      case b: Boolean => b.toString
      case s: String => Json.str(s)
      case t: java.sql.Timestamp => Json.str(t.toLocalDateTime.toString)
      case t: java.time.LocalDateTime => Json.str(t.toString)
      case d: java.sql.Date => Json.str(d.toString)
      case s: scala.collection.Seq[_] => Json.arr(s.map(enc))
      case other => Json.str(other.toString)
    }
    val dir = s"${o.work}/dedup"
    Files.createDirectories(Paths.get(dir))
    val file = s"$dir/$name.json"
    Files.writeString(Paths.get(file), Json.arr(rows.toSeq.map(row =>
      Json.arr((0 until row.length).map(i => enc(row.get(i)))))))
    Json.obj(Seq(
      "name" -> Json.str(name),
      "oracle" -> oracle.map(Json.str).getOrElse("null"),
      "columns" -> Json.arr(schema.fields.toSeq.map(f =>
        Json.arr(Seq(Json.str(f.name), Json.str(f.dataType.typeName))))),
      "rows" -> Json.str(file)))
  }
}
