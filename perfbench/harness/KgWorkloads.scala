package graftbench

import graft.kg.{EntityLinker, Extraction, Pipeline, TranscriptTurn, Universe}
import graft.shacl.Report
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.TimeUnit
import scala.collection.mutable

/** The two knowledge-graph workloads. Both time `Pipeline.run(validate =
  * true)` plus the per-shape verdict summary a user reads off
  * `Report.verdictFrame`, each operation in a fresh work dir (a reused one
  * would resume from checkpoints and time a no-op), and check every
  * operation's triples against the generator oracle (precision and recall
  * must both be exactly 1.0).
  */
object KgWorkloads {

  /** Corpus shape of one workload. `minSurfaces`/`maxSurfaces` pin which
    * entity-linker path the input takes (the driver-local path serves at
    * most `localThreshold` = 10,000 distinct surfaces). */
  final case class Spec(name: String, convs: Long, entities: Int,
                        minSurfaces: Long, maxSurfaces: Long)

  /** Data-bound regime: a 6,000-entity universe has 14,000 alias surfaces,
    * so linking takes the distributed path (TextSim blocking plus
    * ConnectedComponents). */
  val BulkSpec = Spec("kg_bulk", 3000L, 6000, 10001L, Long.MaxValue)

  /** Latency-bound regime: periodic 2,000-conversation batches over a
    * 300-entity universe (700 surfaces), so linking runs driver-local. */
  val BatchSpec = Spec("kg_increments", 2000L, 300, 1L, 10000L)

  val stages: Seq[String] = Seq("facts", "surfaces", "links", "triples")

  /** First conversation index for a seed: every seed reads its own range
    * of the generator's conversation space. */
  def firstConv(seed: Long): Long =
    1L + java.lang.Long.remainderUnsigned(Universe.mix64(seed), 10000000L)

  /** Transcript rows of conversations [from, from + n): the same pure
    * functions as `TranscriptGen.generate`, over a seed-chosen range, so
    * mega-conversations (every 997th index) still occur. */
  def corpus(spark: SparkSession, from: Long, n: Long, entities: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n).flatMap { c =>
      (0 until Universe.turnsPerConv(c)).iterator.map { t =>
        val turn = Universe.turn(c, t, entities)
        TranscriptTurn(f"conv$c%08d", t, turn.role, turn.text, turn.tool,
          new Timestamp((1577836800L + c * 3600 + t) * 1000L))
      }
    }.toDF()
  }

  /** The exact triple set the pipeline must emit for that range. */
  def oracle(spark: SparkSession, from: Long, n: Long, entities: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n).flatMap { c =>
      (0 until Universe.turnsPerConv(c)).iterator.flatMap(t => Universe.turn(c, t, entities).facts)
    }.toDF("subj", "pred", "obj").distinct()
  }

  /** One prepared input: corpus and oracle parquet. */
  final case class Input(corpus: String, oracle: String)

  def prepare(spark: SparkSession, spec: Spec, from: Long, dir: String): Input = {
    val in = Input(s"$dir/corpus.parquet", s"$dir/oracle.parquet")
    corpus(spark, from, spec.convs, spec.entities).write.mode("overwrite").parquet(in.corpus)
    oracle(spark, from, spec.convs, spec.entities).write.mode("overwrite").parquet(in.oracle)
    in
  }

  /** What one operation produced. Stage seconds come from
    * `Pipeline.Result.stageSeconds`; stage end times from the lineage files
    * `StageCheckpoint` writes when a stage completes. */
  final case class OpRun(completed: Boolean, ok: Boolean, seconds: Double, triples: Long, dir: String,
                         group: String, startMs: Double, runEndMs: Double, endMs: Double,
                         stageSeconds: Map[String, Double], stageEndMs: Map[String, Double],
                         counters: Map[String, Long], stats: Option[graft.shacl.ValidationStats],
                         checkpointBytes: Long, checkpointFiles: Int)

  /** One timed operation; `check` = compare with the oracle afterwards. */
  def runOp(ctx: Ctx, input: Input, i: Int, check: Boolean = true): OpRun = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/op$i"
    val group = s"kg/op$i"
    val spans = ctx.tracer.spans
    val startMs = spans.nowMs()
    val t0 = System.nanoTime()
    var runEndMs = 0.0
    val attempt = scala.util.Try {
      ctx.tracer.inGroup(group) {
        val res = Pipeline.run(spark, spark.read.parquet(input.corpus), dir, validate = true)
        runEndMs = spans.nowMs()
        val v = res.validation.getOrElse(sys.error("validation result missing"))
        val summary = Report.verdictFrame(spark, v).groupBy("shape", "verdict").count().collect()
        (res, v, summary)
      }
    }
    val seconds = Stats.secondsSince(t0)
    val endMs = spans.nowMs()
    attempt match {
      case scala.util.Failure(e) =>
        ctx.log(s"$group failed: $e")
        OpRun(completed = false, ok = false, seconds, 0L, dir, group, startMs, runEndMs, endMs, Map.empty, Map.empty,
          Map.empty, None, 0L, 0)
      case scala.util.Success((res, v, summary)) =>
        val (p, r) =
          if (check) Pipeline.precisionRecall(res.triples, spark.read.parquet(input.oracle))
          else (1.0, 1.0)
        val ok = p == 1.0 && r == 1.0 && summary.nonEmpty
        if (!ok) ctx.log(f"$group output check failed: precision=$p%.6f recall=$r%.6f shapes=${summary.length}")
        v.unpersist()
        spark.catalog.clearCache()
        val stageEnd = stages.flatMap { s =>
          val f = Paths.get(dir, s"$s.lineage.json")
          if (Files.exists(f)) Some(s -> Files.getLastModifiedTime(f).to(TimeUnit.MICROSECONDS) / 1e3)
          else None
        }.toMap
        val (ckptBytes, ckptFiles) = Stats.dirUsage(new File(dir))
        OpRun(completed = true, ok, seconds, res.counters.getOrElse("triples", 0L), dir, group, startMs, runEndMs,
          endMs, res.stageSeconds, stageEnd, res.counters, Some(v.stats), ckptBytes, ckptFiles)
    }
  }

  val bulk: Ctx => Outcome = ctx => run(ctx, BulkSpec, batches = false)
  val increments: Ctx => Outcome = ctx => run(ctx, BatchSpec, batches = true)

  /** Closed loop, one operation at a time. `batches` = every operation
    * reads the next disjoint conversation range (prepared untimed just
    * before it); otherwise every operation rebuilds the same corpus. */
  private def run(ctx: Ctx, spec: Spec, batches: Boolean): Outcome = {
    val spark = ctx.spark
    val from = firstConv(ctx.seed)
    ctx.log(s"${spec.name}: seed=${ctx.seed} convs=[$from, +${spec.convs}) per op, " +
      s"entities=${spec.entities}, local[${ctx.cpus}]")

    // set-up: prepare the first input three times, report the median
    val setups = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      prepare(spark, spec, from, s"${ctx.work}/input0-$k")
      Stats.secondsSince(t0)
    }
    (1 to 2).foreach(k => FileUtils.deleteQuietly(new File(s"${ctx.work}/input0-$k")))
    var input = Input(s"${ctx.work}/input0-3/corpus.parquet", s"${ctx.work}/input0-3/oracle.parquet")
    val turnsPerOp = spark.read.parquet(input.corpus).count()

    // untimed warm-up: one operation on the first input, so JIT and codegen
    // caches fill on plans of the timed size (a smaller input left the
    // first timed batch about a quarter slower than the later ones)
    val warm = runOp(ctx, input, 0, check = false)
    ctx.log(f"warm-up: ${warm.seconds}%.2fs")
    FileUtils.deleteQuietly(new File(warm.dir))

    Stats.liveHeapMb()
    val runs = mutable.ArrayBuffer[(OpRun, Boolean)]()
    // the run measures for about `--seconds`: the next operation starts
    // only if the last one's length still fits
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var lastNs = 0L
    var heapLive = 0.0
    var i = 1
    while (i == 1 || System.nanoTime() + lastNs <= deadline) {
      // the previous operation's outputs stay until now: the traced run's
      // isolated calls after the loop read the last one's
      runs.lastOption.foreach(r => FileUtils.deleteQuietly(new File(r._1.dir)))
      if (batches && i > 1) {
        FileUtils.deleteQuietly(new File(input.corpus).getParentFile)
        input = prepare(spark, spec, from + (i - 1) * spec.convs, s"${ctx.work}/input$i")
      }
      // traced run: alternate traced and untraced operations, so the
      // difference of their medians is the tracing overhead
      val traced = ctx.trace && i % 2 == 1
      if (traced) ctx.tracer.attach() else ctx.tracer.detach()
      val op = runOp(ctx, input, i)
      if (traced) ctx.tracer.barrier()
      runs += ((op, traced))
      // a full collection between operations: each starts from a clean
      // heap, and the live size is the per-layer jvm.heap_live_mb
      heapLive = math.max(heapLive, Stats.liveHeapMb())
      ctx.log(f"op $i: ${op.seconds}%.3fs triples=${op.triples} ok=${op.ok}${if (traced) " (traced)" else ""}")
      lastNs = (op.seconds * 1e9).toLong
      i += 1
    }

    // an operation that returned wrong triples still completed: it is timed
    // and counted as failed; one that threw is only counted
    val ops = runs.map(_._1)
    val done = ops.filter(_.completed)
    val failed = ops.count(!_.ok)
    val record = Seq(
      "first_conv" -> from.toString, "convs_per_op" -> spec.convs.toString,
      "entities" -> spec.entities.toString, "turns_per_op" -> turnsPerOp.toString,
      "op_seconds" -> Json.arr(ops.map(o => Json.num(o.seconds)).toSeq),
      "setup_seconds" -> Json.arr(setups.map(Json.num)))

    if (!ctx.trace) {
      val lat = done.map(_.seconds * 1000).toSeq
      val metrics =
        if (lat.isEmpty) Seq(("setup_s", Stats.median(setups), "s"))
        else EndToEnd.metrics(Stats.median(setups), Map(spec.name -> lat),
          opsPerS = done.size / done.map(_.seconds).sum,
          triplesPerS = done.map(_.triples).sum / done.map(_.seconds).sum)
      Outcome(ops.size, failed, metrics, record)
    } else {
      ctx.tracer.attach()
      val layers = traceLayers(ctx, spec, runs.toSeq, input, runs.last._1.dir) +
        ("jvm.heap_live_mb" -> heapLive)
      ctx.tracer.detach()
      Outcome(ops.size, failed, Layers.complete(layers), record)
    }
  }

  /** Per-layer numbers of the traced operations (medians over them). */
  private def traceLayers(ctx: Ctx, spec: Spec, runs: Seq[(OpRun, Boolean)],
                          lastInput: Input, lastDir: String): Map[String, Double] = {
    val spans = ctx.tracer.spans
    val rec = ctx.tracer.recorder
    val traced = runs.filter(r => r._2 && r._1.completed).map(_._1)
    require(traced.nonEmpty, "no traced operation completed")
    val untraced = runs.filter(r => !r._2 && r._1.completed).map(_._1)
    val names = stages :+ "validate" :+ "render"
    val MB = 1024.0 * 1024.0

    val perOp: Seq[Map[String, Double]] = traced.map { op =>
      // spans: op -> {facts, surfaces, links, triples, validate, render}
      val opSpan = spans.add(0, op.group, "kg.op", op.startMs, op.endMs)
      val secs = op.stageSeconds + ("render" -> (op.endMs - op.runEndMs) / 1000)
      val ends = stages.map(s => s -> op.stageEndMs(s)).toMap +
        ("validate" -> op.runEndMs) + ("render" -> op.endMs)
      names.foreach { s =>
        spans.add(opSpan, op.group, s"kg.$s", ends(s) - secs(s) * 1000, ends(s))
      }

      // jobs by stage: a job belongs to the first stage that ended after
      // it was submitted
      val jobs = rec.inGroup(op.group)
      val order = names.map(s => s -> ends(s))
      def stageOf(j: JobRecord): String =
        order.find { case (_, end) => j.submitMs <= end }.map(_._1).getOrElse("render")
      val byStage = jobs.groupBy(stageOf)
      def jobsIn(s: String) = byStage.getOrElse(s, Nil)
      def shuffleMb(s: String) = jobsIn(s).map(_.shuffleWriteBytes).sum / MB

      val wall = op.seconds
      val named = names.map(secs).sum
      val st = op.stats.get
      Map(
        "kg.wall_s" -> wall,
        "kg.facts_s" -> op.stageSeconds("facts"),
        "kg.surfaces_s" -> op.stageSeconds("surfaces"),
        "kg.links_s" -> op.stageSeconds("links"),
        "kg.triples_s" -> op.stageSeconds("triples"),
        "kg.render_s" -> secs("render"),
        "kg.other_s" -> (wall - named),
        "kg.facts_rows" -> op.counters("facts").toDouble,
        "kg.surfaces_rows" -> op.counters("surfaces").toDouble,
        "kg.links_rows" -> op.counters("links").toDouble,
        "kg.triples_rows" -> op.counters("triples").toDouble,
        "kg.links_jobs" -> jobsIn("links").size.toDouble,
        "kg.links_shuffle_mb" -> shuffleMb("links"),
        "kg.triples_shuffle_mb" -> shuffleMb("triples"),
        "kg.checkpoint_mb" -> op.checkpointBytes / MB,
        "kg.checkpoint_files" -> op.checkpointFiles.toDouble,
        "shacl.validate_s" -> op.stageSeconds("validate"),
        "shacl.jobs" -> jobsIn("validate").size.toDouble,
        "shacl.shuffle_mb" -> shuffleMb("validate"),
        "shacl.plan_ms" -> st.planMs.toDouble,
        "shacl.eval_ms" -> st.evalMs.toDouble,
        "shacl.saturation_ms" -> st.saturationMs.toDouble,
        "shacl.fixpoint_rounds" -> st.fixpointIterations.toDouble,
        "shacl.queries" -> st.totalQueries.toDouble) ++
        Layers.engine(jobs)
    }
    val surfaces = perOp.map(_("kg.surfaces_rows"))
    require(surfaces.forall(s => s >= spec.minSurfaces && s <= spec.maxSurfaces),
      s"${spec.name}: distinct surfaces $surfaces outside [${spec.minSurfaces}, ${spec.maxSurfaces}] " +
        "(the workload no longer takes its linker path)")

    // isolated calls on the same inputs as the last operation
    val spark = ctx.spark
    def timedCall(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      spans.span(0, name, name)(_ => ctx.tracer.inGroup(name)(f))
      Stats.secondsSince(t0)
    }
    val factsCall = timedCall("kg.facts_call") {
      Extraction.factsCompact(spark.read.parquet(lastInput.corpus))
        .write.format("noop").mode("overwrite").save()
    }
    val linksCall = timedCall("kg.links_call") {
      EntityLinker.link(spark, spark.read.parquet(s"$lastDir/surfaces.parquet"))
        .write.format("noop").mode("overwrite").save()
    }
    FileUtils.deleteQuietly(new File(lastDir))

    val med = Layers.medians(perOp)
    val overhead =
      if (untraced.isEmpty) 0.0
      else 100.0 * (Stats.median(traced.map(_.seconds)) / Stats.median(untraced.map(_.seconds)) - 1)
    med ++ Map(
      "kg.facts_call_s" -> factsCall,
      "kg.links_call_s" -> linksCall,
      "trace.overhead_pct" -> overhead,
      "trace.ops" -> traced.size.toDouble)
  }
}
