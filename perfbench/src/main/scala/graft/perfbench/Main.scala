package graft.perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side. `run.py` builds it, prepares the oracle
  * hashes and launches it; see `perfbench/README.md` for the contract.
  *
  * Modes:
  *  - `oracle-sql`: fail on drift between the op lists and the query
  *    registry, else write the oracle SQL of every listed query as JSON;
  *  - `setup`: start the session, run the untimed warm-up and the
  *    workload's input preparation, report the set-up time and stop;
  *  - `run`: set up, then a fixed number of passes (the cold one, one
  *    that settles the JIT, then the warm ones), then the output checks;
  *    `--trace 1` interleaves traced and untraced warm passes and adds the
  *    kernel microbench.
  */
object Main {
  val Cores = 4
  val OpDeadlineS = 120L
  val MinWarmPasses = 3

  /** How many passes a run makes: `--seconds` over the workload's nominal
    * pass time, cold pass and warm-up included. The count is fixed by the
    * arguments, not by the clock: C2 keeps speeding passes up for about
    * 40 s, so a run that stopped at a deadline would time passes further
    * along that curve on a faster host and compound the host's drift. */
  def passCount(workload: String, seconds: Double): Int =
    math.max(2 + MinWarmPasses, math.round(seconds / Ops.PassSeconds(workload)).toInt)

  final case class OpRec(name: String, wallS: Double, constructS: Double, error: Option[String],
      source: Option[(String, String, Long)])
  final case class PassRec(wallS: Double, ops: Seq[OpRec], pinsPeakB: Long,
      pinsLeftB: Long, rddsLeft: Int, trace: Option[PassTrace])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val out = a("out")
    a.getOrElse("mode", "run") match {
      case "oracle-sql" => writeOracleSql(out)
      case mode => runWorkload(a, mode == "setup", out)
    }
  }

  private def failOnDrift(oracles: Set[String]): Unit = {
    val drift = Ops.drift(oracles)
    if (drift.nonEmpty) {
      drift.foreach(d => System.err.println(s"[perfbench] drift: $d"))
      sys.exit(2)
    }
  }

  private def writeOracleSql(out: String): Unit = {
    val sql = SparkEntry.oracleSql
    failOnDrift(sql.keySet)
    val names = (Ops.QueryWorkloads.values.flatten.toSeq :+ Ops.WarmUp).distinct.sorted
    writeFile(out, Json.obj(names.map(n => n -> Json.str(sql(n)))))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def runWorkload(a: Map[String, String], setupOnly: Boolean, out: String): Unit = {
    val launchMs = a("launch-ms").toLong
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val data = a("data")
    val work = a("work")
    val oracle = a.get("oracle").map(readOracle).getOrElse(Map.empty)
    if (!setupOnly) failOnDrift(oracle.keySet)

    val spark = session(work)
    try {
      SparkEntry.queries(Ops.WarmUp)(spark, data).write.format("noop").mode("overwrite").save()
      val tracer = if (traced) Some(new Trace(spark)) else None
      val plain = new Harness(spark, data, work, seed, oracle, None)
      val units = Ops.units(workload, plain, a.get("plant"))
      val setupS = (System.currentTimeMillis() - launchMs) / 1e3
      if (setupOnly) {
        writeFile(out, Json.obj(Seq("setup_s" -> Json.num(setupS))))
        return
      }
      val h = tracer.map(t => new Harness(spark, data, work, seed, oracle, Some(t))).getOrElse(plain)

      val canaries = mutable.ArrayBuffer[Double]()
      val ticks0 = Host.cpuTicks()
      val passes = mutable.ArrayBuffer[PassRec]()
      val tracedPass = mutable.ArrayBuffer[Boolean]()
      // traced runs follow the settling pass with untraced and traced
      // passes as T U U T, so the tracing overhead is measured in the same
      // JVM without favouring either side as the JIT settles
      val total = if (traced) 6 else passCount(workload, seconds)
      if (traced) Host.canary() // compiles the canary before it counts
      for (p <- 0 until total) {
        val withTrace = traced && (p % 4 == 2 || p % 4 == 1) && p > 1
        if (traced) canaries += Host.canary()
        val order = new Random(seed * 1000003L + p).shuffle(units).flatten
        order.foreach(_.prepare(p))
        spark.catalog.clearCache()
        System.gc()
        if (withTrace) tracer.get.attach()
        val rec = runPass(spark, if (withTrace) h else plain, order, tracer.filter(_ => withTrace))
        if (withTrace) tracer.get.detach()
        passes += rec
        tracedPass += withTrace
      }
      if (traced) canaries += Host.canary()
      val ticks1 = Host.cpuTicks()

      // what the last execution of each op left behind, outside every timed metric
      val ops = units.flatten
      val c0 = System.nanoTime()
      val checkFailures = ops.flatMap { op =>
        val v = try op.check(plain) catch { case e: Throwable => Some(s"check threw: ${e}") }
        v.map(op.name -> _)
      }.toMap
      System.err.println(f"[perfbench] checks took ${(System.nanoTime() - c0) / 1e9}%.1f s")
      val execs = passes.flatMap(_.ops)
      val failedExecs = execs.filter(o => o.error.nonEmpty || checkFailures.contains(o.name))
      execs.flatMap(o => o.error.map(o.name -> _)).distinct.foreach { case (n, e) =>
        System.err.println(s"[perfbench] op $n failed: $e")
      }
      checkFailures.foreach { case (n, e) => System.err.println(s"[perfbench] op $n failed its check: $e") }
      val warm = passes.drop(2).toSeq
      passes.drop(1).flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
        System.err.println(f"[perfbench] op $n: warm median ${median(rs.map(_.wallS).toSeq)}%.3f s, " +
          f"construct ${median(rs.map(_.constructS).toSeq)}%.3f s, cold ${passes.head.ops.find(_.name == n).map(_.wallS).getOrElse(0.0)}%.3f s")
      }

      System.err.println("[perfbench] pass walls: " + passes.map(p => f"${p.wallS}%.2f").mkString(" "))
      val metrics: Seq[(String, Double)] =
        if (!traced) endToEnd(warm, setupS, execs.size, failedExecs.size)
        else {
          val kernels = Kernels.run(spark, data, seed, docCopies = 20, vecCopies = 100)
          perLayer(passes.toSeq, tracedPass.toSeq, kernels, canaries.toSeq, Host.stealCores(ticks0, ticks1))
        }
      val warmSamples = warm.map(_.ops.size).sum
      writeFile(out, Json.obj(Seq(
        "attempted" -> Json.num(execs.size),
        "failed" -> Json.num(failedExecs.size),
        "failed_ops" -> Json.arr(failedExecs.map(_.name).distinct.toSeq.map(Json.str)),
        "passes" -> Json.num(passes.size),
        "warm_samples" -> Json.num(warmSamples),
        "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }))))
    } finally spark.stop()
  }

  /** Bytes (memory plus disk) and number of the cached RDDs: what
    * operators have pinned. */
  private def pins(spark: SparkSession): (Long, Int) = {
    val info = spark.sparkContext.getRDDStorageInfo
    (info.map(i => i.memSize + i.diskSize).sum, info.length)
  }

  /** Runs the ops in order. Verifying an output and sampling storage are
    * left out of the pass time. */
  private def runPass(spark: SparkSession, h: Harness, order: Seq[Op], trace: Option[Trace]): PassRec = {
    val t0 = System.nanoTime()
    var untimed = 0L
    var peak = 0L
    val recs = order.map { op =>
      val r = runOp(spark, h, op)
      val u0 = System.nanoTime()
      val verdict =
        if (r.error.nonEmpty) r.error
        else try op.verify(h) catch { case e: Throwable => Some(s"verify threw: $e") }
      peak = math.max(peak, pins(spark)._1)
      untimed += System.nanoTime() - u0
      r.copy(error = verdict)
    }
    val wall = (System.nanoTime() - t0 - untimed) / 1e9
    val (left, rdds) = pins(spark)
    PassRec(wall, recs, peak, left, rdds, trace.map(_.finishPass()))
  }

  /** One op on a fresh worker thread, so a deadline can cancel it without
    * leaving an interrupted thread behind for the next op. */
  private def runOp(spark: SparkSession, h: Harness, op: Op): OpRec = {
    val exec = Executors.newSingleThreadExecutor()
    val t0 = System.nanoTime()
    val task = exec.submit(new Callable[(Long, Long)] {
      def call(): (Long, Long) = { h.reset(); op.run(h); h.reset() }
    })
    def failed(msg: String) = {
      h.reset()
      OpRec(op.name, (System.nanoTime() - t0) / 1e9, 0.0, Some(msg), None)
    }
    try {
      val (c, w) = task.get(OpDeadlineS, TimeUnit.SECONDS)
      OpRec(op.name, (c + w) / 1e9, c / 1e9, None, op.sourceBytes(h))
    } catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(Trace.Construct)
        spark.sparkContext.cancelJobGroup(Trace.Write)
        task.cancel(true)
        failed(s"deadline of $OpDeadlineS s")
      case e: java.util.concurrent.ExecutionException => failed(String.valueOf(e.getCause))
    } finally exec.shutdownNow()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Linear interpolation between order statistics, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private val MB = 1024.0 * 1024.0

  private def endToEnd(warm: Seq[PassRec], setupS: Double, attempted: Int,
      failed: Int): Seq[(String, Double)] = {
    val samples = warm.flatMap(_.ops.map(_.wallS))
    Seq(
      "setup_s" -> setupS,
      "warm_pass_s" -> median(warm.map(_.wallS)),
      "op_p50_s" -> quantile(samples, 0.5),
      "op_p90_s" -> quantile(samples, 0.9),
      "ok_frac" -> (1.0 - failed.toDouble / math.max(1, attempted)))
  }

  private def perLayer(passes: Seq[PassRec], tracedPass: Seq[Boolean], kernels: Seq[(String, Double)],
      canaries: Seq[Double], steal: Double): Seq[(String, Double)] = {
    val both = passes.zip(tracedPass).drop(2)
    val traced = both.filter(_._2).map(_._1)
    val untraced = both.filterNot(_._2).map(_._1)
    val perPass: Seq[Seq[(String, Double)]] = traced.map { p =>
      val t = p.trace.get
      val opWall = p.ops.map(_.wallS).sum
      val construct = p.ops.map(_.constructS).sum
      val catalyst = t.analysisS + t.optimizationS + t.planningS
      val execS = opWall - construct - catalyst
      def rate(kind: String, fmt: String) = {
        val xs = p.ops.filter(_.source.exists(s => s._1 == kind && s._2 == fmt))
        val secs = xs.map(_.wallS).sum
        if (secs > 0) xs.map(_.source.get._3).sum / MB / secs else 0.0
      }
      val ingest = p.ops.filter(_.name == "ingest_records").map(_.wallS).sum
      Seq(
        "core.schema_jobs" -> t.schemaJobs.toDouble,
        "core.schema_s" -> t.schemaS,
        "operators.construct_s" -> construct,
        "operators.construct_jobs" -> t.constructJobs.toDouble,
        "operators.construct_share" -> construct / p.wallS,
        "catalyst.analysis_s" -> t.analysisS,
        "catalyst.optimization_s" -> t.optimizationS,
        "catalyst.planning_s" -> t.planningS,
        "exec.s" -> execS,
        "exec.jobs" -> t.execJobs.toDouble,
        "exec.stages" -> t.execStages.toDouble,
        "exec.stages_skipped" -> t.stagesSkipped.toDouble,
        "exec.tasks" -> t.tasks.toDouble,
        "exec.task_run_s" -> t.taskRunS,
        "exec.task_cpu_s" -> t.taskCpuS,
        "exec.gc_s" -> t.gcS,
        "exec.shuffle_read_mb" -> t.shuffleReadB / MB,
        "exec.shuffle_write_mb" -> t.shuffleWriteB / MB,
        "exec.spill_mb" -> t.spillB / MB,
        "exec.input_mb" -> t.inputB / MB,
        "exec.core_util" -> (if (execS > 0) t.taskRunS / (execS * Cores) else 0.0),
        "storage.peak_mb" -> p.pinsPeakB / MB,
        "storage.pins_left_mb" -> p.pinsLeftB / MB,
        "storage.rdds_left" -> p.rddsLeft.toDouble,
        "storage.imr_scans" -> t.imrScans.toDouble,
        "sources.ingest_rows_per_s" ->
          (if (ingest > 0) IngestStream.IngestRows / ingest else 0.0)) ++
        (for (kind <- Seq("dump", "load"); fmt <- IngestStream.Formats :+ "npy")
          yield s"sources.${kind}_mb_per_s.$fmt" -> rate(kind, fmt)) ++
        Seq(
          "streaming.batches" -> t.batches.toDouble,
          "streaming.batch_p50_s" -> median(t.batchS.toSeq),
          "streaming.add_batch_s" -> t.addBatchS,
          "streaming.query_planning_s" -> t.queryPlanningS,
          "streaming.wal_commit_s" -> t.walCommitS,
          "streaming.state_rows" -> t.stateRows.toDouble,
          "trace.unattributed_frac" ->
            (opWall - construct - catalyst - t.qeExecS - t.batchS.sum) / opWall)
    }
    val names = perPass.head.map(_._1)
    names.map(n => n -> median(perPass.map(_.toMap.apply(n)))) ++
      kernels.map { case (k, v) => s"functions.$k.ns_per_row" -> v } ++
      Seq(
        "jvm.cold_pass_s" -> passes.head.wallS,
        "host.canary_ratio" -> canaries.max / canaries.min,
        "host.canary_s" -> median(canaries),
        "host.steal_cores" -> steal,
        "trace.overhead_frac" -> (mean(traced.map(_.wallS)) / mean(untraced.map(_.wallS)) - 1))
  }

  private def readOracle(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.split('\t')).collect { case Array(k, v) => k -> v }.toMap
    finally src.close()
  }

  private def writeFile(path: String, s: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.println(s) finally w.close()
  }
}

/** Just enough JSON to write the result file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(n: Int): String = n.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
