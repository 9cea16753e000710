package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String, samples: Int)

final case class WorkloadResult(endToEnd: Seq[Metric], perLayer: Seq[Metric])

/** Units of the per-layer metrics, from their naming convention. */
object LayerUnits {
  def apply(name: String): String =
    if (name.endsWith(".ms") || name.contains("_ms")) "ms"
    else if (name.contains("_us")) "us"
    else if (name.contains("_ns")) "ns"
    else if (name.endsWith("_bytes") || name.endsWith(".bytes")) "bytes"
    else if (name.endsWith("_share")) "share"
    else if (name.endsWith("_mb")) "MB"
    else "count"
}

/** Everything a workload needs from the harness. */
final class Ctx(
    val spark: SparkSession, val workload: String, val seed: Long, val seconds: Int,
    val trace: Boolean, val dataDir: String, val runDir: String,
    val hashes: Map[String, ResultHash.Fingerprint], launchedUs: Long,
    val recordDir: Option[String]) {
  val tracer = new Tracer(s"$workload-seed$seed-${launchedUs}", trace)
  val outcomes = new Outcomes
  val jvm = new JvmGauge
  /** `--record DIR`: fingerprints, result parquet and oracle SQL of the
    * warm-up pass are written there for record.py. */
  val recorded = mutable.LinkedHashMap.empty[String, ResultHash.Fingerprint]
  val recordedOracle = mutable.LinkedHashMap.empty[String, String]
  lazy val listener: LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    l
  }
  private val notes = mutable.ArrayBuffer.empty[String]
  @volatile private var timedStartUs = -1L

  def note(s: String): Unit = synchronized { notes += s }
  def allNotes: Seq[String] = synchronized(notes.toList)

  /** End of set-up: the first timed operation starts now. */
  def markTimedStart(): Unit = {
    timedStartUs = Main.nowUs
    jvm.start()
  }
  def setupSeconds: Double = {
    require(timedStartUs > 0, "workload never marked the start of its timed phase")
    (timedStartUs - launchedUs) / 1e6
  }
}

/** `java graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --run-dir DIR --hashes FILE --launched-us T [--record DIR]`
  *
  * Normally started by `run.py`, which builds the classpath, generates the
  * inputs and passes `--launched-us` (its clock just before exec) so
  * `setup_s` covers JVM start-up too. Prints one summary line per metric
  * and, last, the result JSON line.
  */
object Main {
  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    try run(opt, opts)
    catch { case e: Throwable =>
      e.printStackTrace()
      System.out.flush()
      sys.exit(1)
    }
    // Exit explicitly: a broker or client thread left running must not
    // keep the JVM alive after the result is out.
    sys.exit(0)
  }

  private def run(opt: String => String, opts: Map[String, String]): Unit = {
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val spark = Session.build(opt("run-dir"))
    val ctx = new Ctx(spark, workload, opt("seed").toLong, opt("seconds").toInt, trace,
      opt("data"), opt("run-dir"), readHashes(opt("hashes")), opt("launched-us").toLong,
      opts.get("record"))
    if (trace) ctx.listener // register before the first job
    val res = workload match {
      case "batch_catalog" => BatchCatalog.run(ctx)
      case "stream_steady" => Streams.steady(ctx)
      case "stream_burst"  => Streams.burst(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    val setup = Metric("setup_s", ctx.setupSeconds, "s", 1)
    val jvmLayer = Seq(
      Metric("jvm.gc_ms", ctx.jvm.gcMsSinceStart, "ms", 1),
      Metric("jvm.heap_peak_mb", ctx.jvm.heapPeakMb, "MB", 1))
    val endToEnd = setup +: res.endToEnd
    val perLayer = if (trace) Layout.complete(res.perLayer ++ jvmLayer) else Nil
    ctx.recordDir.foreach { dir =>
      writeHashes(s"$dir/hashes.json", ctx.recorded.toSeq)
      Files.write(Paths.get(s"$dir/oracle_sql.json"),
        Json.obj(ctx.recordedOracle.toSeq.map { case (k, v) => k -> Json.str(v) }).getBytes(UTF_8))
    }

    val out = ctx.outcomes
    ctx.allNotes.foreach(n => println(s"note: $n"))
    endToEnd.foreach(m => println(f"metric ${m.name} = ${m.value}%.6g ${m.unit} (n=${m.samples})"))
    println(f"metric fail_ratio = ${out.failRatio}%.6g (failed=${out.failed}, attempted=${out.attempted})")
    out.failureReasons.foreach { case (k, n) => println(s"failures: $k = $n") }
    if (trace) {
      perLayer.foreach(m => println(f"layer ${m.name} = ${m.value}%.6g ${m.unit} (n=${m.samples})"))
      val path = s"${opt("run-dir")}/trace.json"
      ctx.tracer.write(path, (endToEnd ++ perLayer).map(m => (m.name, m.value, m.unit)))
      println(s"trace: ${ctx.tracer.all.length} spans")
    }
    val shown = if (trace) perLayer else endToEnd
    println(Json.obj(Seq(
      "correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(shown.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
    System.out.flush()
    spark.stop()
  }

  private def readHashes(path: String): Map[String, ResultHash.Fingerprint] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
    root.get("queries").fields().asScala.map { e =>
      e.getKey -> ResultHash.Fingerprint(e.getValue.get("rows").asLong, e.getValue.get("sha256").asText)
    }.toMap
  }

  private def writeHashes(path: String, hs: Seq[(String, ResultHash.Fingerprint)]): Unit = {
    val body = hs.sortBy(_._1).map { case (k, f) =>
      s"    ${Json.str(k)}: {\"rows\": ${f.rows}, \"sha256\": ${Json.str(f.sha256)}}"
    }.mkString(",\n")
    Files.write(Paths.get(path), s"{\n  \"queries\": {\n$body\n  }\n}\n".getBytes(UTF_8))
  }
}

/** The per-layer metric set is the same for every workload, so a traced
  * run always reports every name; a layer the workload does not exercise
  * reads 0. */
object Layout {
  private val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets", "triggerExecution")
  val names: Seq[String] = Seq(
    "Tables.jobs", "Tables.ms", "build.ms", "build.jobs", "plan.ms",
    "exec.ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.output_bytes",
    "exec.busy_share", "exec.empty_task_share", "cache.blocks", "cache.bytes",
    "generator.late_ms_p99", "transport.publish_us_p50", "transport.publish_calls",
    "trigger.count") ++
    phases.flatMap(p => Seq(s"trigger.${p}_ms_p50", s"trigger.${p}_ms_p95")) ++ Seq(
    "trigger.tasks", "ledger.rows_per_trigger", "source.backlog_rows_max",
    "source.dropped_rows", "source.malformed_rows", "codec.parse_ns_per_row",
    "codec.encode_ns_per_row", "sink.arrival_span_ms", "jvm.gc_ms", "jvm.heap_peak_mb",
    "trace.overhead_share")

  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val byName = ms.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- names
    require(unknown.isEmpty, s"per-layer metrics missing from Layout.names: $unknown")
    names.map(n => byName.getOrElse(n, Metric(n, 0.0, LayerUnits(n), 0)))
  }
}
