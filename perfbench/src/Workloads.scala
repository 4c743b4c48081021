package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.actors.PipelineActor
import graft.core.{CacheBin, Engine, GraftConfig}
import graft.dialect.Transpiler
import graft.evalx.ResultComparator
import graft.exec.SqlBackend
import graft.llm.MockLlm
import graft.operators.{CorpusPipeline, LineIndex, TextDedup}
import graft.serve.ServingServer

object Stats {
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** A generated question record and its mock-LLM answers. */
final case class Question(iid: String, text: String, gold: String,
    pred: String, repair: Option[String])

/** The Text-to-SQL side shared by `nl2sql_batch` and `serve_reward`: the
  * configured engine over the generated tables, a mock LLM whose
  * playbook answers each generated question, and the actor names.
  */
final class TextToSql(ctx: Ctx) {
  val questions: Seq[Question] = ctx.manifest.get("questions").asScala.toSeq.map { q =>
    Question(q.get("instance_id").asText(), q.get("question").asText(),
      q.get("gold_sql").asText(), q.get("pred").asText(),
      Option(q.get("repair")).filterNot(_.isNull).map(_.asText()))
  }
  // first matching key wins: repair prompts also contain the question
  // line, so their keys go first
  private val playbook =
    questions.flatMap(q => q.repair.map(r =>
      s"Fix the SQL for this question.\nQuestion: ${q.text}\n" -> r)) ++
      questions.map(q => s"Question: ${q.text}\n" -> q.pred) ++
      questions.map(q => s"Q: ${q.text}\n" -> "Schema_links: [customer.c_custkey, orders.o_custkey]")
  val llm = new CountingLlm(MockLlm(playbook))
  val cfg: GraftConfig = GraftConfig.fromPairs(Map(
    "data_id" -> "perfbench:tables",
    "sys_config" -> ctx.str("sys_config"),
    "parallelism" -> ctx.cores.toString,
    "eval_timeout_sec" -> "120",
    "sql_timeout_sec" -> "120"))
  val engine = new Engine(ctx.spark, cfg, llm)
  val stageNames = Seq("reduce", "parse", "generate", "optimize")

  def tracedActors: Seq[graft.actors.Actor] =
    engine.pipeline().actors.zip(stageNames).map { case (a, n) =>
      TracedActor(a, n, ctx.tracer)
    }

  /** Actor-layer metrics from spans named by pipeline stage. */
  def actorMetrics(r: Rollup, per: Double): Map[String, Any] = {
    val all = r.spansOf("actors")
    stageNames.map(n => s"actors.${n}_s" -> r.spansOf("actors", n).map(_.seconds).sum / per)
      .toMap ++ Map(
      "actors.jobs" -> r.jobsIn(all).size / per,
      "actors.driver_s" -> r.driverSeconds(all) / per)
  }

  def llmMetrics(items: Double, per: Double): Map[String, Any] = Map(
    "llm.calls" -> llm.calls.get / per,
    "llm.calls_per_item" -> llm.calls.get / items,
    "llm.busy_s" -> llm.busyNs.get / 1e9 / per)
}

/** `nl2sql_batch`: `Engine.execute` + `Engine.evaluate` over the whole
  * question set per pass.
  */
final class Nl2SqlBatch(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val t2s = new TextToSql(ctx)
  private val qdf = t2s.questions.map(q => (q.iid, q.text, q.gold))
    .toDF("instance_id", "question", "gold_sql")
  private val passS = ArrayBuffer[Double]()
  private val evalS = ArrayBuffer[Double]()
  private val drainS = ArrayBuffer[Double]()
  private val tracedS = ArrayBuffer[Double]()
  private val outcomes = ArrayBuffer[Map[String, Any]]()
  private val mismatches = ArrayBuffer[String]()
  private var warmupS = 0.0
  private var tablesS = 0.0
  private var done = 0L
  // traced-pass evaluation counters; result pairs are kept during the
  // pass and tallied after its timer stops
  private val pairs = new ConcurrentLinkedQueue[(Seq[Row], Seq[Row])]()
  private var compared = 0L
  private var rejected = 0L
  private val execFailed = new java.util.concurrent.atomic.AtomicLong()
  private lazy val backend = new SqlBackend(ctx.spark, t2s.cfg.evalTimeoutSec)

  def setup(): Unit = {
    tablesS = Stats.time(t2s.engine.schemaDf.count())._2
    warmupS = Stats.time(if (ctx.tracing) runDriven() else runPlain())._2
    outcomes.clear()
    evalS.clear()
    CacheBin.drain()
  }

  private def record(scores: Seq[(String, Option[Int], Boolean)]): Unit =
    outcomes += scores.map { case (iid, s, predErr) =>
      iid -> Map("ex" -> s, "pred_error" -> predErr)
    }.toMap

  private def runPlain(): Unit = {
    val answered = t2s.engine.execute(qdf)
    val ((outs, _), s) = Stats.time(t2s.engine.evaluate(answered))
    evalS += s
    record(outs.map(o => (o.instanceId, o.score, o.predError.isDefined)))
  }

  /** Untraced runs time the program's own `execute` + `evaluate`. A
    * traced run drives the evaluation itself on every pass, with the
    * tracer on in the traced passes only, so traced − untraced pass
    * wall is the cost of tracing alone; after each driven pass (outside
    * its timer) the program's `Engine.evaluate` scores the same items,
    * and any difference fails the run.
    */
  def pass(traced: Boolean): Unit = {
    val (scored, s) = Stats.time(if (ctx.tracing) Some(runDriven()) else { runPlain(); None })
    (if (traced) tracedS else passS) += s
    if (!traced) done += t2s.questions.size
    scored.foreach(crossCheck)
    pairs.asScala.foreach { case (p, g) =>
      compared += p.size + g.size
      if (ResultComparator.quickReject(p.map(_.toSeq), g.map(_.toSeq), ignoreOrder = false))
        rejected += 1
    }
    pairs.clear()
    drainS += Stats.time(ctx.tracer("core", "drain")(CacheBin.drain()))._2
  }

  /** The same work as `runPlain`, driven through the layers' public
    * functions so each call is a span when the tracer is on: every
    * actor's `act`, then `Engine.evaluate`'s per-item steps
    * (`Transpiler.forDialect`, `SqlBackend.runCollectRows`,
    * `ResultComparator.equivalentRows`) on a pool of the same size.
    */
  private def runDriven(): (Array[Row], Seq[(String, Option[Int], Boolean)]) = {
    t2s.llm.counting = ctx.tracer.enabled
    val tr = ctx.tracer
    val answered = t2s.engine.execute(qdf, t2s.tracedActors)
    val items = tr("actors", "collect")(
      answered.select("instance_id", "gold_sql", "pred_sql").collect())
    val pool = Executors.newFixedThreadPool(ctx.cores)
    val scores = try {
      items.toSeq.map { r =>
        pool.submit(() => evalOne(r.getString(0), r.getString(1), r.getString(2)))
      }.map(_.get())
    } finally pool.shutdown()
    record(scores)
    t2s.llm.counting = false
    (items, scores)
  }

  private def crossCheck(driven: (Array[Row], Seq[(String, Option[Int], Boolean)])): Unit = {
    val (items, scores) = driven
    val df = items.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toDF("instance_id", "gold_sql", "pred_sql")
    val want = t2s.engine.evaluate(df)._1
      .map(o => o.instanceId -> (o.score, o.predError.isDefined)).toMap
    scores.foreach { case (iid, s, e) =>
      if (!want.get(iid).contains((s, e)))
        mismatches += s"$iid: driven evaluation ($s, pred_error=$e) != Engine.evaluate ${want.get(iid)}"
    }
  }

  private def run(sql: String) = {
    val tr = ctx.tracer
    val t = tr("dialect", "forDialect")(Transpiler.forDialect(t2s.engine.dialect)(sql))
    val out = tr("exec", "runCollectRows")(
      backend.runCollectRows(() => ctx.spark.sql(t), sql, t2s.cfg.evalTimeoutSec))
    if (out.isLeft && tr.enabled) execFailed.incrementAndGet()
    out
  }

  private def evalOne(iid: String, gold: String, pred: String) =
    run(gold) match {
      case Left(_) => (iid, None, false)
      case Right(g) =>
        Option(pred).map(_.trim).filter(_.nonEmpty).map(run) match {
          case None | Some(Left(_)) => (iid, Some(0), true)
          case Some(Right(p)) =>
            val s = ctx.tracer("evalx", "equivalentRows")(ResultComparator
              .equivalentRows(p.rows, g.rows, p.columns.size, g.columns.size))
            if (ctx.tracer.enabled) pairs.add((p.rows, g.rows))
            (iid, Some(s), false)
        }
    }

  def items: Long = done

  def result(traced: Boolean): Map[String, Any] = {
    val base = Map[String, Any](
      "setup_parts_s" -> Map("tables" -> tablesS, "warmup" -> warmupS),
      "pass_s" -> passS.toSeq, "batch_s" -> evalS.toSeq,
      "attempted" -> (outcomes.size * t2s.questions.size),
      "failed" -> 0, "outcomes" -> outcomes.toSeq,
      "evaluator_mismatches" -> mismatches.toSeq)
    if (!traced) base
    else {
      val per = math.max(tracedS.size, 1).toDouble
      val r = new Rollup(ctx.tracer.spans, ctx.ledger)
      val exec = r.spansOf("exec")
      val execJobs = r.jobsIn(exec)
      val ev = r.spansOf("evalx")
      base ++ Map("traced_pass_s" -> tracedS.toSeq,
        "layer_samples" -> Map("core.drain_s" -> drainS.toSeq),
        "layers" -> (Map(
        "exec.calls" -> exec.size / per,
        "exec.busy_s" -> exec.map(_.seconds).sum / per,
        "exec.jobs" -> execJobs.size / per,
        "exec.tasks" -> r.tasksOf(execJobs).size / per,
        "exec.task_cpu_s" -> r.tasksOf(execJobs).map(_.cpuNs).sum / 1e9 / per,
        "exec.driver_s" -> r.driverSeconds(exec) / per,
        "exec.failed" -> execFailed.get / per,
        "dialect.calls" -> r.spansOf("dialect").size / per,
        "dialect.busy_s" -> r.spansOf("dialect").map(_.seconds).sum / per,
        "evalx.calls" -> ev.size / per,
        "evalx.busy_s" -> ev.map(_.seconds).sum / per,
        "evalx.rows_compared" -> compared / per,
        "evalx.quick_reject_share" -> rejected.toDouble / math.max(ev.size, 1))
        ++ t2s.actorMetrics(r, per)
        ++ t2s.llmMetrics(per * t2s.questions.size, per)))
    }
  }
}

/** `serve_reward`: an in-process `ServingServer` on loopback under a
  * closed loop of `cores` clients. One pass sends the generated request
  * schedule (see `runSchedule`).
  */
final class ServeReward(ctx: Ctx) extends Workload {
  private val t2s = new TextToSql(ctx)
  private val dataset = t2s.questions.map(q => q.iid -> (q.text, Option(q.gold))).toMap
  private val byId = t2s.questions.map(q => q.iid -> q).toMap
  private val schedule = ctx.manifest.get("requests").asScala.toSeq
  // a traced run serves every pass through the wrapped actors, with the
  // tracer on in the traced passes only, so traced − untraced pass wall
  // is the cost of tracing alone
  private val server = new ServingServer(ctx.spark,
    if (ctx.tracing) PipelineActor(t2s.tracedActors) else t2s.engine.pipeline(),
    port = 0, sqlTimeoutSec = 120, dataset = dataset, dialect = t2s.engine.dialect)
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).connectTimeout(Duration.ofSeconds(10)).build()
  private val pool = Executors.newFixedThreadPool(ctx.cores)
  private var port = 0

  final case class Sample(kind: String, id: String, latencyS: Double,
      status: Int, body: Option[JsonNode], traced: Boolean)
  private val samples = new ConcurrentLinkedQueue[Sample]()
  private val passS = ArrayBuffer[Double]()
  private val tracedPassS = ArrayBuffer[Double]()
  private val floorS = ArrayBuffer[Double]()
  private val tracedWindows = ArrayBuffer[(Long, Long)]()
  private var warmupS = 0.0

  def setup(): Unit = {
    t2s.engine.schemaDf.count()
    port = server.start()
    // warm-up: one pass, then drop its samples
    warmupS = Stats.time(runSchedule(schedule, false))._2
    samples.clear()
    CacheBin.drain()
  }

  private def body(req: JsonNode): String = {
    val m = Main.mapper
    if (req.get("kind").asText() == "run")
      m.writeValueAsString(Main.toJson(Map("instance_id" -> req.get("id").asText())))
    else m.writeValueAsString(Main.toJson(Map(req.get("id").asText() ->
      req.get("items").asScala.toSeq.map { i =>
        val q = byId(i.asText())
        Map("question" -> q.text, "gold_sql" -> q.gold)
      })))
  }

  private def send(req: JsonNode, tracedPass: Boolean): Unit = {
    val kind = req.get("kind").asText()
    val path = if (kind == "run") "/api/run" else "/api/run_batch"
    val http = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(150))
      .POST(HttpRequest.BodyPublishers.ofString(body(req))).build()
    val t0 = System.nanoTime()
    val s = try {
      val resp = client.send(http, HttpResponse.BodyHandlers.ofString())
      val lat = (System.nanoTime() - t0) / 1e9
      Sample(kind, req.get("id").asText(), lat, resp.statusCode(),
        Option(Main.mapper.readTree(resp.body())), tracedPass)
    } catch {
      case scala.util.control.NonFatal(_) =>
        Sample(kind, req.get("id").asText(), (System.nanoTime() - t0) / 1e9, -1, None,
          tracedPass)
    }
    samples.add(s)
  }

  /** Synchronous rollout steps: for a run entry, `cores` workers each
    * ask for the reward of that record and the next step starts when
    * every one has its answer; a batch entry is one request on its own.
    */
  private def runSchedule(reqs: Seq[JsonNode], tracedPass: Boolean): Unit =
    reqs.foreach { r =>
      val n = if (r.get("kind").asText() == "run") ctx.cores else 1
      Seq.fill(n)(pool.submit[Unit](() => send(r, tracedPass))).foreach(_.get())
    }

  def pass(tracedPass: Boolean): Unit =
    if (!tracedPass) passS += Stats.time(runSchedule(schedule, false))._2
    else {
      (0 until 5).foreach { _ =>
        val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/healthz"))
          .GET().build()
        floorS += Stats.time(client.send(req, HttpResponse.BodyHandlers.ofString()))._2
      }
      t2s.llm.counting = true
      val t0 = System.currentTimeMillis()
      tracedPassS += Stats.time(runSchedule(schedule, true))._2
      tracedWindows += ((t0, System.currentTimeMillis()))
      t2s.llm.counting = false
    }

  override def close(): Unit = {
    pool.shutdownNow()
    server.stop()
  }

  private def plainSamples = samples.asScala.toSeq.filterNot(_.traced)
  def items: Long = plainSamples.filter(_.status == 200).map(s =>
    if (s.kind == "run") 1L else byIdCount(s.id)).sum
  private val batchSize = schedule.filter(_.get("kind").asText() == "batch")
    .map(r => r.get("id").asText() -> r.get("items").size()).toMap
  private def byIdCount(id: String): Long = batchSize.getOrElse(id, 0).toLong
  private def duration(s: Sample) = s.body.get.get("duration_seconds").asDouble()

  def result(tracedRun: Boolean): Map[String, Any] = {
    val all = samples.asScala.toSeq
    val ok = (s: Sample) => s.status == 200
    val plainS = plainSamples
    val runs = plainS.filter(_.kind == "run")
    val base = Map[String, Any](
      "setup_parts_s" -> Map("warmup" -> warmupS),
      "pass_s" -> passS.toSeq,
      "request_s" -> runs.map(_.latencyS),
      "handle_s" -> runs.filter(ok).map(duration),
      "batch_s" -> plainS.filter(_.kind == "batch").map(_.latencyS),
      "attempted" -> all.size,
      "failed" -> all.count(s => !ok(s)),
      "runs" -> all.filter(s => s.kind == "run" && ok(s)).map(s => Seq(s.id,
        Option(s.body.get.get("execute_accuracy")).filterNot(_.isNull).map(_.asInt()))),
      "batches" -> all.filter(s => s.kind == "batch" && ok(s)).map { s =>
        val scores = s.body.get.get(s.id).asScala.toSeq.map(_.asDouble())
        val ids = schedule.find(_.get("id").asText() == s.id).get
          .get("items").asScala.toSeq.map(_.asText())
        Seq(ids, scores)
      })
    if (!tracedRun) base
    else {
      val tr = all.filter(_.traced)
      val trRuns = tr.filter(s => s.kind == "run" && ok(s))
      val trBatchItems = tr.filter(_.kind == "batch").map(s => byIdCount(s.id)).sum
      val per = math.max(tr.size, 1).toDouble
      val r = new Rollup(ctx.tracer.spans, ctx.ledger)
      // the evaluator's jobs cannot carry a span: take those submitted
      // during the traced passes
      val sqlJobs = r.jobsInGroups("graft-sql-").filter(j =>
        tracedWindows.exists { case (a, b) => j.submitMs >= a && j.submitMs <= b })
      val groups = sqlJobs.groupBy(_.group)
      val groupBusy = groups.values.map { js =>
        val end = js.map(j => ctx.ledger.jobEndMs.getOrDefault(j.jobId, j.submitMs)).max
        (end - js.map(_.submitMs).min) / 1000.0
      }
      val wait = trRuns.map(s => s.latencyS - duration(s))
      base ++ Map("traced_pass_s" -> tracedPassS.toSeq,
        "layer_samples" -> Map(
          "serve.handle_s" -> trRuns.map(duration),
          "serve.queue_wait_p50_s" -> wait,
          "serve.queue_wait_p90_s" -> wait,
          "serve.http_floor_s" -> floorS.toSeq),
        "layers" -> (Map(
        "exec.calls" -> groups.size / per,
        "exec.busy_s" -> groupBusy.sum / per,
        "exec.jobs" -> sqlJobs.size / per,
        "exec.tasks" -> r.tasksOf(sqlJobs).size / per,
        "exec.task_cpu_s" -> r.tasksOf(sqlJobs).map(_.cpuNs).sum / 1e9 / per,
        "serve.batch_unique_share" ->
          (t2s.llm.generateCalls.get - trRuns.size).toDouble / math.max(trBatchItems, 1))
        ++ t2s.actorMetrics(r, per)
        ++ t2s.llmMetrics(trRuns.size + trBatchItems, per)))
    }
  }
}

/** Shared operator-layer roll-up for the two corpus workloads. */
object OperatorMetrics {
  def apply(r: Rollup, per: Double): Map[String, Any] = {
    val build = r.spansOf("operators", "build")
    val action = r.spansOf("operators", "action")
    val both = build ++ action
    val bj = r.jobsIn(build)
    val aj = r.jobsIn(action)
    val tasks = r.tasksOf(bj ++ aj)
    val wall = both.map(_.seconds).sum
    Map(
      "operators.build_s" -> build.map(_.seconds).sum / per,
      "operators.action_s" -> action.map(_.seconds).sum / per,
      "operators.build_jobs" -> bj.size / per,
      "operators.action_jobs" -> aj.size / per,
      "operators.stages" -> r.stages(bj ++ aj) / per,
      "operators.tasks" -> tasks.size / per,
      "operators.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / per,
      "operators.parallelism" -> (if (wall > 0) tasks.map(_.runMs).sum / 1000.0 / wall else 0.0),
      "operators.driver_s" -> r.driverSeconds(both) / per,
      "operators.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum / per,
      "operators.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum / per,
      "operators.input_bytes" -> tasks.map(_.input).sum / per,
      "operators.spill_bytes" -> tasks.map(_.spill).sum / per,
      "operators.gc_s" -> tasks.map(_.gcMs).sum / 1000.0 / per)
  }

  def jobsBySource(r: Rollup, per: Double): Map[String, Double] =
    r.jobsBySource(r.jobsIn(r.spansOf("operators"))).map { case (k, v) => k -> v / per }
}

/** The `q_corpus_pipeline_modern` configuration. */
object ModernConfig {
  val cfg = CorpusPipeline.Config(
    langs = Seq("en", "de", "fr"), minChars = 100,
    jaccardThreshold = 0.5,
    boilerWindow = 5, boilerMinDocFreq = 3,
    spanDedupWindow = 5, spanDedupMinCount = 2,
    windowDedupN = 8,
    minQuality = 0.3,
    repetitionGate = true,
    classifierLabel = Some("__lab"), minQualityMicro = 20000L,
    classifierBuckets = 512, classifierIters = 2,
    splitLeakThreshold = 0.3,
    splits = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05),
    packTokens = 512L,
    temperatureMixDocs = 200L,
    chunkTokens = 32, chunkOverlap = 8,
    epochBudgetPerSource = 1500L, epochMaxEpochs = 3,
    nShards = 8)
}

/** `corpus_curate`: `CorpusPipeline.prepare` with the modern config over
  * the generated corpus, then the terminal write.
  */
final class CorpusCurate(ctx: Ctx) extends Workload {
  private val docsPath = ctx.str("docs")
  private val outDir = ctx.str("out")
  private val passS = ArrayBuffer[Double]()
  private val tracedS = ArrayBuffer[Double]()
  private val drainS = ArrayBuffer[Double]()
  private var warmupS = 0.0
  private var done = 0L
  private lazy val nDocs = ctx.spark.read.parquet(docsPath).count()

  def setup(): Unit = {
    nDocs
    warmupS = Stats.time(once())._2
    CacheBin.drain()
  }

  private def once(): Unit = {
    val tr = ctx.tracer
    val out = tr("operators", "build") {
      val docs = ctx.spark.read.parquet(docsPath)
        .withColumn("__lab", (col("source") === "src0").cast("int"))
      CorpusPipeline.prepare(docs, docs.limit(0), ModernConfig.cfg)
        .select(col("doc_id"), col("split"), col("epoch"),
          col("chunk_idx"), col("n_tokens"), col("bin_id"),
          col("bin_offset"), col("shard").cast("long").as("shard"),
          col("clean_text"))
        .orderBy(col("doc_id"), col("epoch"), col("chunk_idx"))
    }
    tr("operators", "action")(out.write.mode("overwrite").parquet(outDir))
  }

  def pass(traced: Boolean): Unit = {
    val (_, s) = Stats.time(once())
    (if (traced) tracedS else passS) += s
    if (!traced) done += nDocs
    drainS += Stats.time(ctx.tracer("core", "drain")(CacheBin.drain()))._2
  }

  def items: Long = done

  def result(traced: Boolean): Map[String, Any] = {
    val base = Map[String, Any](
      "setup_parts_s" -> Map("warmup" -> warmupS),
      "pass_s" -> passS.toSeq, "batch_s" -> passS.toSeq,
      "attempted" -> (passS.size + tracedS.size), "failed" -> 0,
      "oracle_sql" -> graft.SparkEntry.oracleSql("q_corpus_pipeline_modern"))
    if (!traced) base
    else {
      val per = math.max(tracedS.size, 1).toDouble
      val r = new Rollup(ctx.tracer.spans, ctx.ledger)
      base ++ Map("traced_pass_s" -> tracedS.toSeq,
        "jobs_by_source" -> OperatorMetrics.jobsBySource(r, per),
        "layer_samples" -> Map("core.drain_s" -> drainS.toSeq),
        "layers" -> OperatorMetrics(r, per))
    }
  }
}

/** `corpus_ingest`: a sequence of deltas through `prepareDelta` with
  * `appendAccepted = true` against a dedup index and a line index
  * bootstrapped from the base corpus, compacting the dedup index every
  * `compact_every` deltas. Each cycle through the deltas starts from
  * the setup snapshot of the index.
  */
final class CorpusIngest(ctx: Ctx) extends Workload {
  private val work = ctx.str("work")
  private val basePath = ctx.str("base")
  private val deltaPaths = ctx.manifest.get("deltas").asScala.toSeq.map(_.asText())
  private val compactEvery = ctx.int("compact_every")
  private val snap = s"$work/snapshot"
  private val live = s"$work/index"
  private val cfg = CorpusPipeline.Config(langs = Seq("en", "de", "fr"),
    minChars = 100, jaccardThreshold = 0.5,
    lineDedupMinDocFreq = 2, boilerMinDocFreq = 999)
  private val arts = CorpusPipeline.DeltaArtifacts(
    dedupIndexPath = s"$live/dedup", lineIndexPath = Some(s"$live/line"),
    appendAccepted = true)
  private val deltaS = ArrayBuffer[Double]()
  private val tracedS = ArrayBuffer[Double]()
  private val compactS = ArrayBuffer[Double]()
  private val drainS = ArrayBuffer[Double]()
  private var indexWriteS = 0.0
  private val indexFiles = ArrayBuffer[Long]()
  private val indexBytes = ArrayBuffer[Long]()
  private val appendPerDoc = ArrayBuffer[Double]()
  private var warmupS = 0.0
  private var next = 0
  private var cycle = 0
  private var done = 0L
  private var firstDeltaOut = ""
  private lazy val sizes = deltaPaths.map(p => ctx.spark.read.parquet(p).count())

  private def bootstrap(dir: String): Unit = {
    val old = ctx.spark.read.parquet(basePath)
    TextDedup.writeDedupIndex(old, "doc_id", "text", s"$dir/dedup",
      n = 3, h = 16, bands = 8)
    LineIndex.writeLineIndex(old, "doc_id", "text", s"$dir/line", minDocFreq = 2)
  }

  private def restore(): Unit = {
    FileUtils.deleteDirectory(new File(live))
    FileUtils.copyDirectory(new File(snap), new File(live))
  }

  private def dirStats(dir: String): (Long, Long) = {
    val fs = FileUtils.listFiles(new File(dir), null, true).asScala
    (fs.size.toLong, fs.map(_.length()).sum)
  }

  def setup(): Unit = {
    sizes
    indexWriteS = Stats.time(bootstrap(snap))._2
    restore()
    // two warm-up deltas: with one, the first timed delta is still
    // JIT-compiling and reads a fifth slower than the second
    warmupS = Stats.time { delta(0, false, s"$work/warmup"); delta(1, false, s"$work/warmup") }._2
    next = 0
    restore()
    deltaS.clear()
    compactS.clear()
    indexFiles.clear(); indexBytes.clear(); appendPerDoc.clear(); drainS.clear()
    CacheBin.drain()
  }

  private def delta(k: Int, traced: Boolean, out: String): Double = {
    val tr = ctx.tracer
    val before = dirStats(s"$live/dedup")
    val (_, s) = Stats.time {
      val docs = ctx.spark.read.parquet(deltaPaths(k))
      val accepted = tr("operators", "build")(
        CorpusPipeline.prepareDelta(docs, docs.limit(0), cfg, arts))
      tr("operators", "action")(accepted
        .select(col("doc_id"), col("lang"), col("source"), col("text").as("clean_text"))
        .orderBy(col("doc_id")).write.mode("overwrite").parquet(out))
    }
    val after = dirStats(s"$live/dedup")
    indexFiles += after._1
    indexBytes += after._2
    appendPerDoc += (after._2 - before._2).toDouble / sizes(k)
    drainS += Stats.time(tr("core", "drain")(CacheBin.drain()))._2
    s
  }

  def pass(traced: Boolean): Unit = {
    if (next == deltaPaths.size) { restore(); next = 0; cycle += 1 }
    val out = if (cycle == 0 && next == 0) {
      firstDeltaOut = s"$work/out/delta0"; firstDeltaOut
    } else s"$work/out/last"
    val s = delta(next, traced, out)
    (if (traced) tracedS else deltaS) += s
    if (!traced) done += sizes(next)
    next += 1
    if (next % compactEvery == 0)
      compactS += Stats.time(ctx.tracer("catalog", "compact")(
        TextDedup.compactDedupIndex(ctx.spark, s"$live/dedup")))._2
  }

  def items: Long = done

  def result(traced: Boolean): Map[String, Any] = {
    val base = Map[String, Any](
      "setup_parts_s" -> Map("index_write" -> indexWriteS,
        "warmup" -> warmupS),
      "pass_s" -> deltaS.toSeq, "batch_s" -> deltaS.toSeq,
      "compact_s" -> compactS.toSeq,
      "attempted" -> (deltaS.size + tracedS.size + compactS.size), "failed" -> 0,
      "first_delta_out" -> firstDeltaOut,
      "oracle_sql" -> graft.SparkEntry.oracleSql("q_corpus_delta"))
    if (!traced) base
    else {
      val per = math.max(tracedS.size, 1).toDouble
      val r = new Rollup(ctx.tracer.spans, ctx.ledger)
      base ++ Map("traced_pass_s" -> tracedS.toSeq,
        "jobs_by_source" -> OperatorMetrics.jobsBySource(r, per),
        "layer_samples" -> Map(
          "core.drain_s" -> drainS.toSeq,
          "catalog.compact_s" -> compactS.toSeq,
          "catalog.append_bytes_per_doc" -> appendPerDoc.toSeq),
        "layers" -> (OperatorMetrics(r, per) ++ Map(
          "catalog.index_write_s" -> indexWriteS,
          "catalog.index_files" -> indexFiles.lastOption.getOrElse(0L),
          "catalog.index_bytes" -> indexBytes.lastOption.getOrElse(0L))))
    }
  }
}
