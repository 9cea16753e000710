package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.queries.{QueryDef, Registry}

/** `batch_catalog`: benched Registry queries run by one closed-loop
  * client, one query in flight, each cache-cold as in `graft.Bench`.
  *
  * An untraced warm-up pass (part of set-up) collects every result and
  * checks its fingerprint against `hashes.json`; timed passes then
  * materialize each query through `noop` until the time budget is spent.
  * In a traced run, the traced passes split each query into build /
  * plan / exec spans and feed the listener windows, and the untraced ones
  * give the baseline for the tracing overhead.
  */
object BatchCatalog {
  /** Short queries bound by fixture resolution and planning (relational,
    * event time, near-dup text), one IVF-PQ serve query whose build phase
    * runs eager jobs and cache fills, and one export writer. Sized so
    * set-up plus two timed passes fit one run on a 4-core host; README.md
    * lists the queries left out and why. */
  val Selected: Seq[String] = Seq("q13", "q21", "q63", "q50", "q41", "q249", "q209")

  def defs: Seq[QueryDef] = Selected.map { p =>
    Registry.all.find(_.name.startsWith(p + "_"))
      .getOrElse(sys.error(s"no Registry query named ${p}_*"))
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): WorkloadResult = {
    val spark = ctx.spark
    val queries = new Random(ctx.seed).shuffle(defs)
    val expected = ctx.hashes

    // ---- set-up: warm-up pass, every result fingerprinted and checked
    queries.foreach { d =>
      ctx.outcomes.attempt()
      try {
        val got = ResultHash.of(d.build(spark, ctx.dataDir))
        ctx.recordDir.foreach { dir =>
          ctx.recorded(d.name) = got
          d.build(spark, ctx.dataDir).coalesce(1).write.mode("overwrite").parquet(s"$dir/${d.name}")
          d.oracle.foreach(sql => ctx.recordedOracle(d.name) = sql)
        }
        expected.get(d.name) match {
          case Some(want) if want == got => ()
          case Some(want) =>
            ctx.outcomes.fail("wrong result")
            ctx.note(s"${d.name}: result $got, expected $want")
          case None =>
            ctx.outcomes.fail("no recorded hash")
            ctx.note(s"${d.name}: no recorded hash (got $got)")
        }
      } catch { case e: Exception =>
        ctx.outcomes.fail("error")
        ctx.note(s"${d.name} failed in warm-up: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    ctx.markTimedStart()

    // ---- timed passes
    final case class Pass(traced: Boolean, seconds: Double, perQuery: Map[String, Double])
    val passes = ArrayBuffer.empty[Pass]
    val layer = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    def addLayer(k: String, v: Double): Unit = layer.getOrElseUpdate(k, ArrayBuffer.empty) += v
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    // At least two untraced passes per run. Traced runs go untraced,
    // traced, traced, untraced, ... so the overhead compares traced and
    // untraced passes with the warm-up drift cancelled out.
    val minPasses = if (ctx.trace) 4 else 2
    while (passes.length < minPasses || elapsedS < ctx.seconds) {
      val traced = ctx.trace && Set(1, 2)(passes.length % 4)
      val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val phases = ArrayBuffer.empty[(String, Long, Long)] // (phase, fromMs, toMs)
      var cacheBlocks, cacheBytes = 0L
      val p0 = System.nanoTime()
      queries.foreach { d =>
        ctx.outcomes.attempt()
        val q0 = System.nanoTime()
        try {
          if (!traced) materialize(d.build(spark, ctx.dataDir))
          else ctx.tracer.span(-1, d.name, "query") { qs =>
            def phase[T](name: String)(body: => T): T = {
              val from = System.currentTimeMillis()
              try ctx.tracer.span(qs, d.name, name)(_ => body)
              finally phases += ((name, from, System.currentTimeMillis()))
            }
            val df = phase("build")(d.build(spark, ctx.dataDir))
            phase("plan")(df.queryExecution.executedPlan)
            phase("exec")(materialize(df))
            spark.sparkContext.getRDDStorageInfo.foreach { r =>
              cacheBlocks += r.numCachedPartitions
              cacheBytes += r.memSize + r.diskSize
            }
          }
        } catch { case e: Exception =>
          ctx.outcomes.fail("error")
          ctx.note(s"${d.name} failed in a timed pass: ${e.getMessage}")
        }
        times(d.name) = (System.nanoTime() - q0) / 1e9
        spark.catalog.clearCache()
      }
      passes += Pass(traced, (System.nanoTime() - p0) / 1e9, times.toMap)
      if (traced) {
        val l = ctx.listener
        l.sync(spark.sparkContext)
        def sumOf(name: String)(f: LayerListener.Window => Double): Double =
          phases.filter(_._1 == name).map { case (_, a, b) => f(l.window(a, b)) }.sum
        def wallMs(name: String) = phases.filter(_._1 == name).map(p => (p._3 - p._2).toDouble).sum
        addLayer("Tables.jobs", sumOf("build")(_.tablesJobs))
        addLayer("Tables.ms", sumOf("build")(_.tablesMs))
        addLayer("build.ms", wallMs("build"))
        addLayer("build.jobs", sumOf("build")(w => w.jobs - w.tablesJobs))
        addLayer("plan.ms", wallMs("plan"))
        val ex = phases.filter(_._1 == "exec").map { case (_, a, b) => l.window(a, b) }
        val execMs = wallMs("exec")
        addLayer("exec.ms", execMs)
        addLayer("exec.jobs", ex.map(_.jobs).sum)
        addLayer("exec.stages", ex.map(_.stages).sum)
        addLayer("exec.tasks", ex.map(_.tasks).sum)
        addLayer("exec.shuffle_read_bytes", ex.map(_.shuffleRead).sum)
        addLayer("exec.shuffle_write_bytes", ex.map(_.shuffleWrite).sum)
        addLayer("exec.spill_bytes", ex.map(_.spill).sum)
        addLayer("exec.output_bytes", ex.map(_.output).sum)
        addLayer("exec.busy_share", ex.map(_.taskRunMs).sum / (execMs * Session.cores))
        addLayer("exec.empty_task_share",
          ex.map(_.emptyTasks).sum.toDouble / math.max(1L, ex.map(_.tasks).sum))
        addLayer("cache.blocks", cacheBlocks)
        addLayer("cache.bytes", cacheBytes)
      }
    }

    // ---- metrics from the untraced passes
    val plain = passes.filterNot(_.traced)
    val perQuery = queries.map(d => Stats.median(plain.map(_.perQuery(d.name)).toSeq))
    val passS = Stats.median(plain.map(_.seconds).toSeq)
    val e2e = Seq(
      Metric("latency_p50_ms", Stats.median(perQuery) * 1e3, "ms", perQuery.length),
      Metric("latency_p95_ms", Stats.percentile(perQuery, 95) * 1e3, "ms", perQuery.length),
      Metric("latency_geomean_ms", Stats.geomean(perQuery) * 1e3, "ms", perQuery.length),
      Metric("throughput_per_s", queries.length / passS, "1/s", plain.length))
    ctx.note("per-query median ms: " + queries.zip(perQuery)
      .map { case (d, t) => f"${d.name.takeWhile(_ != '_')}=${t * 1e3}%.0f" }.mkString(" "))
    ctx.note(f"batch_catalog: ${queries.length} queries, ${plain.length} untraced " +
      f"pass(es), median pass ${passS}%.3f s")
    val traced = passes.filter(_.traced)
    val perLayer =
      if (!ctx.trace) Nil
      else layer.toSeq.map { case (k, vs) => Metric(k, Stats.median(vs.toSeq), LayerUnits(k), vs.length) } :+
        Metric("trace.overhead_share",
          Stats.median(traced.map(_.seconds).toSeq) / passS - 1, "share", traced.length)
    WorkloadResult(e2e, perLayer)
  }
}
