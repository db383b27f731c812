package graftbench

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

import java.io.File

/** What one workload run hands back: operation counts, the metrics of the
  * requested mode, and extra facts that go to the run record only. */
final case class Outcome(attempted: Int, failed: Int,
                         metrics: Seq[(String, Double, String)],
                         record: Seq[(String, String)] = Nil)

/** Everything a workload needs: the session, where the repository's
  * fixtures are, a private scratch dir, the seed and the time budget. */
final case class Ctx(spark: SparkSession, root: String, work: String, seed: Long,
                     seconds: Double, trace: Boolean, tracer: Tracer) {
  def cpus: Int = spark.sparkContext.defaultParallelism
  def log(msg: String): Unit = System.err.println(s"[bench] $msg")
}

/** Harness entry point. Runs ONE workload in a fresh local[nproc] session
  * and prints the result object as the last line of stdout:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --root <checkout> --work <scratch dir> --record <file>
  *
  * With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
  * the per-layer ones (job recorder attached, spans written to the record).
  * The JVM is exited explicitly: the HTTP server's worker pool in
  * `Service.makeServer` is non-daemon and outlives `HttpServer.stop`.
  */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "kg_bulk" -> KgWorkloads.bulk,
    "kg_increments" -> KgWorkloads.increments,
    "shacl_service" -> ServiceWorkload.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try run(opts)
      catch {
        case e: Throwable =>
          System.err.println("[bench] run failed:")
          e.printStackTrace()
          1
      }
    System.out.flush()
    System.err.flush()
    sys.exit(code)
  }

  private def run(opts: Map[String, String]): Int = {
    val name = opts("workload")
    val body = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name (have ${workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = opts("seed").toLong
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    FileUtils.deleteQuietly(work)
    work.mkdirs()

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ctx = Ctx(spark, opts("root"), work.toString, seed, opts("seconds").toDouble,
      trace, new Tracer(spark))
    val out =
      try body(ctx)
      finally spark.stop()

    val metrics = out.metrics.map {
      case ("jvm.peak_rss_mb", _, u) => ("jvm.peak_rss_mb", Stats.peakRssMb(), u)
      case m => m
    }
    val metricsJson = Json.obj(metrics.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val correct = out.failed == 0 && out.attempted > 0
    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> metricsJson))

    opts.get("record").foreach { path =>
      Stats.writeText(path, Json.obj(Seq(
        "workload" -> Json.str(name), "seed" -> seed.toString, "cpus" -> cpus.toString,
        "seconds" -> Json.num(ctx.seconds), "trace" -> trace.toString,
        "failed_frac" -> Json.num(out.failed.toDouble / math.max(1, out.attempted)),
        "result" -> result) ++ out.record ++
        (if (trace) Seq("spans" -> ctx.tracer.spans.toJson) else Nil)) + "\n")
    }
    FileUtils.deleteQuietly(work)
    println(result)
    0
  }
}
