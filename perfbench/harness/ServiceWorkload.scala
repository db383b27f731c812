package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Service
import graft.rdf.TripleStore
import graft.shacl._

import java.io.File
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `shacl_service`: two HTTP clients send validation requests in a closed
  * loop to an in-process `Service.makeServer`. The request mix is the
  * repository's own fixtures: the first case of each golden family
  * (recursion with a cyclic SCC, or_constraint, sparql_constraint,
  * inverse_path, two_shapes) over the golden data graph. LUBM (about 20 s
  * and 200 Spark jobs per request) is timed only by the traced run's direct
  * calls: one two-client round of it would outlast the run. Every response
  * is checked against the case's ground truth or the LUBM known-good counts.
  */
object ServiceWorkload {
  val Clients = 2

  /** One request kind and what its response must say. `expectSets` is the
    * flattened (valid, invalid) instance sets; `expectCounts` the per-shape
    * (targets, valid, violated) counts. */
  final case class Kind(name: String, schemaDir: String, dataPath: String,
                        expectSets: Option[(Set[String], Set[String])],
                        expectCounts: Map[String, (Long, Long, Long)])

  private val mapper = new ObjectMapper()

  /** The first case of each golden family: small requests, so a run holds
    * several cycles of the mix. */
  private val goldenCases = Seq(
    "recursion" -> "recursion/case1/definitions/case1a.json",
    "or_constraint" -> "or_constraint/case1/definitions/case1a.json",
    "sparql_constraint" -> "sparql_constraint/case1/definitions/case1.json",
    "inverse_path" -> "inverse_path/case1/definitions/case1.json",
    "two_shapes" -> "two_shapes/case1/definitions/case1.json")

  def kinds(root: String): Seq[Kind] = {
    val res = s"$root/src/test/resources"
    val lubm = Kind("lubm", s"$res/lubm/shapes", s"$res/lubm/LUBM.ttl", None, Map(
      "http://example.org/DepartmentShape" -> ((3L, 3L, 0L)),
      "http://example.org/FullProfessorShape" -> ((5L, 2L, 3L)),
      "http://example.org/GraduateCourseShape" -> ((5L, 5L, 0L)),
      "http://example.org/GraduateStudentShape" -> ((5L, 3L, 2L)),
      "http://example.org/UniversityShape" -> ((5L, 1L, 4L))))
    lubm +: goldenCases.map { case (family, defFile) =>
      val d = mapper.readTree(new File(s"$res/cases/$defFile"))
      def set(k: String) = d.get("groundTruth").get(k).elements().asScala.map(_.asText()).toSet
      Kind(family, d.get("schemaDir").asText().replace("./tests/cases/", s"$res/cases/"),
        s"$res/data/test.ttl", Some((set("valid"), set("invalid"))), Map.empty)
    }
  }

  /** Why a response is wrong, or None when it matches its kind. */
  def check(kind: Kind, status: Int, body: String): Option[String] = {
    val shapes = scala.util.Try(mapper.readTree(body).get("shapes")).toOption.flatMap(Option(_))
    if (status != 200) Some(s"status $status: ${body.take(200)}")
    else if (shapes.isEmpty) Some(s"not a verdict document: ${body.take(200)}")
    else {
      val entries = shapes.get.fields().asScala.map(e => e.getKey -> e.getValue).toMap
      def names(n: JsonNode, k: String) = n.get(k).elements().asScala.map(_.asText()).toSet
      val problems = mutable.ArrayBuffer[String]()
      kind.expectSets.foreach { case (valid, invalid) =>
        val gotValid = entries.values.flatMap(names(_, "valid_instances")).toSet
        val gotInvalid = entries.values.flatMap(names(_, "invalid_instances")).toSet
        if (gotValid != valid) problems += s"valid set differs (${gotValid.size} vs ${valid.size})"
        if (gotInvalid != invalid) problems += s"invalid set differs (${gotInvalid.size} vs ${invalid.size})"
      }
      kind.expectCounts.foreach { case (shape, (t, v, x)) =>
        val got = entries.get(shape).map(n =>
          (n.get("targets").asLong(), n.get("valid").asLong(), n.get("violated").asLong()))
        if (!got.contains((t, v, x))) problems += s"$shape: got $got, want ($t,$v,$x)"
      }
      if (problems.isEmpty) None else Some(problems.mkString("; "))
    }
  }

  def post(port: Int, kind: Kind): (Int, String) = {
    def enc(s: String) = URLEncoder.encode(s, "UTF-8")
    val form = s"schemaDir=${enc(kind.schemaDir)}&dataPath=${enc(kind.dataPath)}"
    val c = new URI(s"http://127.0.0.1:$port/validate").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
      // the JDK's default Accept header lists text/html, which selects the
      // service's HTML rendering
      c.setRequestProperty("Accept", "application/json")
      c.getOutputStream.write(form.getBytes(StandardCharsets.UTF_8))
      c.getOutputStream.close()
      val status = c.getResponseCode
      val in = if (status >= 400) c.getErrorStream else c.getInputStream
      val body = if (in == null) "" else new String(in.readAllBytes(), StandardCharsets.UTF_8)
      (status, body)
    } finally c.disconnect()
  }

  /** `completed` = a response came back; `ok` = it was also correct. */
  final case class Req(client: Int, kind: String, startMs: Double, latencyMs: Double,
                       completed: Boolean, ok: Boolean)

  /** Closed loop in lock-step rounds: in each round the two clients send
    * two different kinds of the mix together (client 1 the kind after
    * client 0's in the mix's fixed order), and the next round starts when
    * both have their response. So every run sees the same pairs of
    * concurrent requests whatever the seed; the seed orders the rounds. A
    * cycle is one round per kind, so each client sends each kind once. A
    * cycle starts if it is the first or if the last cycle's length still
    * fits before `untilNs`: the run measures for about `--seconds` and never
    * cuts a cycle, so the mix is always whole. */
  def clients(ctx: Ctx, port: Int, mix: Seq[Kind], untilNs: Long): Seq[Req] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Clients)
    val out = mutable.ArrayBuffer[Req]()
    val rnd = new scala.util.Random(ctx.seed)
    def send(k: Int, kind: Kind): Req = {
      val startMs = ctx.tracer.spans.nowMs()
      val t0 = System.nanoTime()
      val (completed, verdict) = try {
        val (status, body) = post(port, kind)
        (true, check(kind, status, body))
      } catch { case e: Exception => (false, Some(e.toString)) }
      verdict.foreach(p => ctx.log(s"client $k ${kind.name} failed: $p"))
      Req(k, kind.name, startMs, (System.nanoTime() - t0) / 1e6, completed, verdict.isEmpty)
    }
    try {
      var lastCycleNs = 0L
      while (lastCycleNs == 0L || System.nanoTime() + lastCycleNs <= untilNs) {
        val c0 = System.nanoTime()
        rnd.shuffle(mix.indices.toVector).foreach { j =>
          val round = (0 until Clients).map { k =>
            val kind = mix((j + k) % mix.size)
            pool.submit(new java.util.concurrent.Callable[Req] { def call(): Req = send(k, kind) })
          }
          out ++= round.map(_.get())
        }
        lastCycleNs = System.nanoTime() - c0
      }
    } finally pool.shutdown()
    out.toVector
  }

  val run: Ctx => Outcome = ctx => {
    val spark = ctx.spark
    val all = kinds(ctx.root)
    val mix = all.filter(_.name != "lubm")
    val triplesOf = mutable.Map[String, Long]()

    // set-up: load every data graph (the golden kinds share one), parse
    // every schema, start and probe the server; three times, median reported
    var server: com.sun.net.httpserver.HttpServer = null
    val setups = (1 to 3).map { _ =>
      if (server != null) server.stop(0)
      val t0 = System.nanoTime()
      val triplesIn = all.map(_.dataPath).distinct
        .map(path => path -> TripleStore.fromTurtleFile(spark, path).count()).toMap
      all.foreach { kind =>
        triplesOf(kind.name) = triplesIn(kind.dataPath)
        ShapeParser.parseDir(kind.schemaDir)
      }
      server = Service.makeServer(spark, 0)
      server.start()
      val health = new URI(s"http://127.0.0.1:${server.getAddress.getPort}/health").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      require(health.getResponseCode == 200, "health probe failed")
      health.disconnect()
      Stats.secondsSince(t0)
    }
    val port = server.getAddress.getPort
    ctx.log(s"shacl_service: seed=${ctx.seed} clients=$Clients port=$port kinds=${mix.map(_.name).mkString(",")}")

    try {
      // untimed warm-up: one whole cycle of the mix, the same way the
      // window runs it (a single client leaves the concurrent paths cold),
      // then a full collection so the window starts from a clean heap
      val warm = clients(ctx, port, mix, 0L)
      ctx.log(f"warm-up cycle: ${warm.map(_.latencyMs).sum / 1000 / Clients}%.2fs, " +
        s"${warm.count(!_.ok)} failed")
      Stats.liveHeapMb()

      val solo = if (ctx.trace) soloPhase(ctx, all) else Map.empty[String, Double]
      val soloLatency = solo.collect { case (k, v) if k.startsWith("latency.") => k.stripPrefix("latency.") -> v }

      val t0 = System.nanoTime()
      val t0Ms = ctx.tracer.spans.nowMs()
      val untilNs = t0 + (ctx.seconds * 1e9).toLong
      // traced run: the listener joins halfway through the window, so the
      // first half's requests are the untraced baseline for the overhead
      if (ctx.trace) ctx.tracer.detach()
      val attachMs = t0Ms + ctx.seconds * 500
      val attacher = new Thread(() => {
        Thread.sleep((ctx.seconds * 500).toLong)
        if (ctx.trace) ctx.tracer.attach()
      })
      attacher.start()
      val reqs = clients(ctx, port, mix, untilNs)
      attacher.join()
      // a wrong or non-200 response is timed and counted as failed; a
      // request that got no response at all is only counted
      val endMs = reqs.map(r => r.startMs + r.latencyMs).max
      val done = reqs.filter(_.completed)
      val failed = reqs.count(!_.ok)
      val record = Seq(
        "clients" -> Clients.toString,
        "requests" -> Json.arr(reqs.map(r => Json.obj(Seq("client" -> r.client.toString,
          "kind" -> Json.str(r.kind), "start_ms" -> Json.num(r.startMs),
          "latency_ms" -> Json.num(r.latencyMs), "ok" -> r.ok.toString)))),
        "setup_seconds" -> Json.arr(setups.map(Json.num)))

      if (!ctx.trace) {
        val windowS = (endMs - t0Ms) / 1000
        val metrics = EndToEnd.metrics(Stats.median(setups),
          done.groupBy(_.kind).map { case (k, rs) => k -> rs.map(_.latencyMs) },
          opsPerS = done.size / windowS,
          triplesPerS = done.map(r => triplesOf(r.kind)).sum / windowS)
        Outcome(reqs.size, failed, metrics, record)
      } else {
        ctx.tracer.barrier()
        // HTTP worker threads carry no job group: the requests' jobs are the
        // ungrouped ones submitted after the listener joined, shared over
        // the part of each request that ran after that point
        val httpJobs = ctx.tracer.recorder.all.filter(j => j.group.isEmpty && j.submitMs >= attachMs)
        val n = math.max(1e-9, done.map { r =>
          val end = r.startMs + r.latencyMs
          math.max(0.0, end - math.max(r.startMs, attachMs)) / r.latencyMs
        }.sum)
        val traced = done.filter(_.startMs >= attachMs)
        val untraced = done.filter(_.startMs < attachMs)
        val waits = traced.map(r => r.latencyMs - soloLatency(r.kind))
        // per kind, traced over untraced median latency; geometric mean
        val ratios = traced.map(_.kind).distinct.flatMap { k =>
          val u = untraced.filter(_.kind == k).map(_.latencyMs)
          if (u.isEmpty) None
          else Some(math.log(Stats.median(traced.filter(_.kind == k).map(_.latencyMs)) / Stats.median(u)))
        }
        val layers = solo.filter(!_._1.startsWith("latency.")) ++ Layers.engine(httpJobs, n) ++ Map(
          "service.jobs_per_req" -> httpJobs.size / n,
          "service.wait_ms" -> (if (waits.isEmpty) 0.0 else Stats.median(waits)),
          "jvm.heap_live_mb" -> Stats.liveHeapMb(),
          "trace.ops" -> traced.size.toDouble,
          "trace.overhead_pct" -> (if (ratios.isEmpty) 0.0 else 100.0 * (math.exp(Stats.mean(ratios)) - 1)))
        Outcome(reqs.size, failed, Layers.complete(layers), record)
      }
    } finally server.stop(0)
  }

  /** Traced direct calls, one client, one request of each kind: the layers
    * of a request (schema parse, Turtle load, `Validator.run`) timed one by
    * one, then the whole `Service.validateToJson` on the same inputs. Its
    * time beyond the three layers is response building, which also forces
    * the verdict frames the validator left lazy. Values are means over the
    * concurrent mix's kinds; LUBM gets its own two numbers; `latency.<kind>`
    * entries carry the solo latencies for the shared-session wait. */
  private def soloPhase(ctx: Ctx, kinds: Seq[Kind]): Map[String, Double] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val sp = tr.spans
    tr.attach()
    val cfg = ValidatorConfig(selective = true, traversal = Traversal.DFS,
      heuristics = Traversal.DefaultHeuristics)
    val perKind = kinds.map { kind =>
      val op = s"svc/solo/${kind.name}"
      var stats: ValidationStats = null
      val parts = mutable.Map[String, Double]()
      sp.span(0, op, "service.request") { id =>
        def timed[T](name: String)(f: => T): T = {
          val t0 = System.nanoTime()
          val r = sp.span(id, op, name)(_ => tr.inGroup(s"$op/$name")(f))
          parts(name) = Stats.secondsSince(t0) * 1000
          r
        }
        // LUBM (about 20 s) gets the whole request only
        if (kind.name != "lubm") {
          val schema = timed("shacl.parse")(ShapeParser.parseDir(kind.schemaDir))
          val triples = timed("rdf.load")(TripleStore.fromTurtleFile(spark, kind.dataPath))
          val result = timed("shacl.validate")(new Validator(spark, triples, schema, cfg).run())
          stats = result.stats
          result.unpersist()
        }
        val body = timed("service.validateToJson")(Service.validateToJson(spark, kind.schemaDir, kind.dataPath))
        check(kind, 200, body).foreach(p => sys.error(s"solo ${kind.name}: $p"))
      }
      tr.barrier()
      val rec = tr.recorder
      val validateJobs = rec.inGroup(s"$op/shacl.validate")
      val jsonJobs = rec.inGroup(s"$op/service.validateToJson")
      val mb = 1024.0 * 1024.0
      if (kind.name == "lubm") kind.name -> Map(
        "latency" -> parts("service.validateToJson"), "jobs" -> jsonJobs.size.toDouble)
      else kind.name -> Map(
        "shacl.parse_ms" -> parts("shacl.parse"),
        "rdf.load_ms" -> parts("rdf.load"),
        "shacl.validate_s" -> parts("shacl.validate") / 1000,
        "shacl.plan_ms" -> stats.planMs.toDouble,
        "shacl.eval_ms" -> stats.evalMs.toDouble,
        "shacl.saturation_ms" -> stats.saturationMs.toDouble,
        "shacl.fixpoint_rounds" -> stats.fixpointIterations.toDouble,
        "shacl.queries" -> stats.totalQueries.toDouble,
        "shacl.jobs" -> validateJobs.size.toDouble,
        "shacl.shuffle_mb" -> validateJobs.map(_.shuffleWriteBytes).sum / mb,
        "service.render_ms" -> (parts("service.validateToJson") -
          parts("shacl.parse") - parts("rdf.load") - parts("shacl.validate")),
        "service.render_jobs" -> (jsonJobs.size - validateJobs.size).toDouble,
        "latency" -> parts("service.validateToJson"),
        "jobs" -> jsonJobs.size.toDouble)
    }.toMap
    require(perKind("recursion")("shacl.fixpoint_rounds") > 0, "recursion case ran no fixpoint round")
    val mix = perKind - "lubm"
    val keys = mix.values.head.keys.filter(k => k != "latency" && k != "jobs")
    keys.map(k => k -> Stats.mean(mix.values.map(_(k)).toSeq)).toMap ++ Map(
      "service.solo_p50_ms" -> Stats.median(mix.values.map(_("latency")).toSeq),
      "service.lubm_ms" -> perKind("lubm")("latency"),
      "service.lubm_jobs" -> perKind("lubm")("jobs")) ++
      mix.map { case (k, m) => s"latency.$k" -> m("latency") }
  }
}
