package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.SparkSession

import graft.core.{GraftSession, MachineProbe}

/** One benchmark workload inside one JVM. `setup` prepares inputs and
  * warms up; `pass` runs and records one timed unit of work, traced or
  * not; `result` returns the samples, the outputs the correctness
  * checks need and, when traced, the layer metrics.
  */
trait Workload {
  def setup(): Unit
  def pass(traced: Boolean): Unit
  def items: Long
  def result(traced: Boolean): Map[String, Any]
  def close(): Unit = ()
}

/** Benchmark JVM entry: `Main <manifest.json> <result.json>`.
  *
  * The manifest (written by `run.py`) names the workload, the generated
  * inputs, the run length and whether to trace. The result file holds
  * raw samples; `run.py` turns them into metrics and checks outputs.
  */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val m = mapper.readTree(new File(args(0)))
    val seconds = m.get("seconds").asDouble()
    val traced = m.get("trace").asInt() == 1
    val cores = m.get("cores").asInt()
    val machineStart = machine()
    val t0 = System.nanoTime()
    val spark = GraftSession.build("perfbench", cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    val ledger = new Ledger
    if (traced) spark.sparkContext.addSparkListener(ledger)
    val ctx = Ctx(spark, m, tracer, ledger, cores)
    val w: Workload = m.get("workload").asText() match {
      case "nl2sql_batch"  => new Nl2SqlBatch(ctx)
      case "serve_reward"  => new ServeReward(ctx)
      case "corpus_curate" => new CorpusCurate(ctx)
      case "corpus_ingest" => new CorpusIngest(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val firstOpMs = System.currentTimeMillis()
    ledger.clear()
    tracer.clear()
    val gc0 = Jvm.gcSeconds
    val cpu0 = Jvm.cpuSeconds
    val start = System.nanoTime()
    // traced runs alternate untraced and traced passes, so one run gives
    // the layer metrics and the tracing overhead on the same inputs. At
    // least two passes (three when traced: untraced passes on both sides
    // of a traced one, so the overhead is not the warm-up trend); another
    // only if it would end no more than half a pass past the deadline,
    // so the pass count does not flip between runs on a small difference
    val minPasses = if (traced) 3 else 2
    var n = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (n < minPasses || elapsed + 0.5 * elapsed / n < seconds) {
      val tracedPass = traced && n % 2 == 1
      tracer.enabled = tracedPass
      w.pass(tracedPass)
      tracer.enabled = false
      n += 1
    }
    val timedS = (System.nanoTime() - start) / 1e9
    val cpuS = Jvm.cpuSeconds - cpu0
    val gcS = Jvm.gcSeconds - gc0
    val body = w.result(traced) ++ Map(
      "session_build_s" -> sessionS,
      "jvm_to_first_op_s" -> (firstOpMs - Jvm.startMs) / 1000.0,
      "timed_s" -> timedS,
      "passes" -> n,
      "cpu_s" -> cpuS,
      "items" -> w.items,
      "jvm_gc_s" -> gcS,
      "jvm_heap_after_gc_mb" -> Jvm.heapAfterGcMb,
      "warmup_done" -> true,
      "jvm_flags" -> Jvm.flags,
      "machine_start" -> machineStart,
      "machine_end" -> machine())
    if (traced)
      mapper.writeValue(new File(ctx.str("work"), "spans.json"), toJson(tracer.spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    w.close()
    spark.stop()
    val out = toJson(body ++ Map("peak_rss_mb" -> peakRssMb))
    mapper.writeValue(new File(args(1)), out)
    // client and server pools may hold non-daemon threads
    sys.exit(0)
  }

  private def machine(): Map[String, Any] = Map(
    "load_avg" -> MachineProbe.loadAvg(),
    "sibling_jvms" -> MachineProbe.siblingJvms(),
    "mem_available_mb" -> MachineProbe.memAvailableMb())

  /** VmHWM of this process, MiB. */
  private def peakRssMb: Double = {
    val s = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/status"))
    "VmHWM:\\s*(\\d+)\\s*kB".r.findFirstMatchIn(s).map(_.group(1).toDouble / 1024)
      .getOrElse(-1.0)
  }

  def toJson(v: Any): JsonNode = {
    val f = JsonNodeFactory.instance
    v match {
      case null | None => f.nullNode()
      case Some(x) => toJson(x)
      case m: Map[_, _] =>
        val o = f.objectNode()
        m.foreach { case (k, x) => o.set[JsonNode](k.toString, toJson(x)) }
        o
      case s: Iterable[_] =>
        val a = f.arrayNode()
        s.foreach(x => a.add(toJson(x)))
        a
      case a: Array[_] => toJson(a.toSeq)
      case b: Boolean => f.booleanNode(b)
      case i: Int => f.numberNode(i)
      case l: Long => f.numberNode(l)
      case d: Double => f.numberNode(d)
      case s: String => f.textNode(s)
      case other => f.textNode(other.toString)
    }
  }
}

/** What every workload gets from the entry point. */
final case class Ctx(spark: SparkSession, manifest: JsonNode, tracer: Tracer,
    ledger: Ledger, cores: Int) {
  def str(k: String): String = manifest.get(k).asText()
  def int(k: String): Int = manifest.get(k).asInt()
  /** Whether this run is traced (some of its passes record spans). */
  val tracing: Boolean = manifest.get("trace").asInt() == 1
}
