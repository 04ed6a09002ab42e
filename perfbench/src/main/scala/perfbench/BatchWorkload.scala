package perfbench

import org.apache.spark.sql.SparkSession

/** `batch`: the program's batch jobs in one JVM, one after another: the
  * `build` workload (the full index build, then the `-d events.db`
  * re-index), then the `dedup_chain` workload (the dedup artifact build,
  * then its queries). No serving code runs.
  *
  * Its end-to-end metrics combine the two: `setup_s` is the session
  * start plus the dedup artifact build; `class_p50_ms` is the geometric
  * mean of the full build, the re-index and the dedup round; `ops_per_s`
  * and `cpu_ms_per_op` count every `IndexCli.run` call and every query;
  * `data_bytes` adds the index dir's bytes on disk and the Spark storage
  * the dedup artifacts hold. Each part's own figures are kept beside
  * them (`build_s`, `reindex_s`, `dedup_chain_s`, and per layer).
  */
object BatchWorkload {

  private val Combined =
    Set("setup_s", "class_p50_ms", "ops_per_s", "cpu_ms_per_op", "data_bytes", "rounds",
      "spark.gc_ms")

  def run(spark: SparkSession, o: Main.Opts, r: Result, t0: Long): Unit = {
    val build, dedup = new Result
    BuildWorkload.run(spark, o, build, t0)
    val dedupData = o.dedupData.getOrElse(
      throw new IllegalArgumentException("missing --dedup-data"))
    DedupWorkload.run(spark, o.copy(data = dedupData), dedup, System.nanoTime())
    r.absorb(build, Combined)
    r.absorb(dedup, Combined)

    if (o.trace) r.metric("spark.gc_ms", build("spark.gc_ms") + dedup("spark.gc_ms"), "ms")
    else {
      val (nb, nd) = (build.attempted.toDouble, dedup.attempted.toDouble)
      r.metric("setup_s", build("setup_s") + dedup("setup_s"), "s")
      r.metric("class_p50_ms", Stats.geomean(
        Seq(build("build_s"), build("reindex_s"), dedup("dedup_chain_s")).map(_ * 1e3)), "ms")
      r.metric("ops_per_s",
        (nb + nd) / (nb / build("ops_per_s") + nd / dedup("ops_per_s")), "1/s")
      r.metric("cpu_ms_per_op",
        (build("cpu_ms_per_op") * nb + dedup("cpu_ms_per_op") * nd) / (nb + nd), "ms")
      r.metric("data_bytes", build("data_bytes") + dedup("data_bytes"), "bytes")
    }
  }
}
