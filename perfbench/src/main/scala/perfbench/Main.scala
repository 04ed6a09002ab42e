package perfbench

import graft.core.IndexRule
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The JVM half of the benchmark; `run.py` starts it once per run.
  *
  * {{{
  * perfbench.Main --workload <name> --seconds <n> --trace <0|1>
  *   --data <source tables dir> --work <scratch dir> --out <result.json>
  *   [--requests <file>] [--warmup <file>] [--index <serve index dir>]
  *   [--dedup-data <dedup source tables dir>]
  * }}}
  * Measurement starts when `main` starts: `setup_s` runs from here to the
  * end of the workload's set-up, so session start-up counts as set-up.
  * `--workload serve_index` builds the serve workloads' index and
  * measures nothing.
  */
object Main {

  final case class Opts(workload: String, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, requests: Option[String],
      warmup: Option[String], index: Option[String], dedupData: Option[String])

  /** Local cores, as `IndexCli` and `ServeCli` default them. */
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // IndexCli.main leaves the graft functions unregistered, and the
    // tokenizer then fails to resolve `token_pipe_e`; register them as
    // Corpus.registerSources and the test session do
    graft.GraftExtensions.register(spark)
    val result = new Result
    try {
      o.workload match {
        case "build"            => BuildWorkload.run(spark, o, result, t0)
        case "serve_serial"     => ServeWorkload.run(spark, o, result, t0, clients = 1)
        case "serve_concurrent" => ServeWorkload.run(spark, o, result, t0, clients = 4)
        case "dedup_chain"      => DedupWorkload.run(spark, o, result, t0)
        case "batch"            => BatchWorkload.run(spark, o, result, t0)
        case "serve_index"      => ServeWorkload.buildIndex(spark, o)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      result.write(o.out)
    } finally spark.stop()
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case bad => throw new IllegalArgumentException(s"bad argument: ${bad.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("out"),
      m.get("requests"), m.get("warmup"), m.get("index"), m.get("dedup-data"))
  }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Time `f` in milliseconds. */
  def timed[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t) / 1e6)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU milliseconds this JVM has used so far, all threads. Time the
    * host takes from the VM (steal) is not in it.
    */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  /** Bytes of every file under `dir`. */
  def dirBytes(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }

  def deleteTree(dir: String): Unit = {
    val f = new File(dir)
    Option(f.listFiles()).toSeq.flatten.foreach(c => deleteTree(c.getPath))
    f.delete()
  }

  /** Bytes Spark holds in its block stores for cached data. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** A rules config in the format `IndexCli` and `ServeCli` read (JSON). */
  def writeConfig(rules: Seq[IndexRule], path: String): String = {
    val byDb = rules.map(_.db).distinct.map { db =>
      db -> Json.obj(rules.filter(_.db == db).map { r =>
        r.docType -> Json.obj(Seq("sql" -> Json.str(r.sql)) ++
          r.displaySql.map(s => "display_sql" -> Json.str(s)) ++
          r.display.map(s => "display" -> Json.str(s)))
      })
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), Json.obj(byDb))
    path
  }
}
