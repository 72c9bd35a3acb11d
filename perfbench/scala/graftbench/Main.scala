package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.graftbench.BusShim

/** Benchmark harness: runs one workload against graft's public functions
  * in one Spark process and writes every raw measurement as JSON; the
  * Python front end (perfbench/run.py) turns them into metrics.
  *
  * Sequence: session start, workload set-up, one discarded warm-up pass,
  * then `--passes` timed passes, then the checks (outside the timed region:
  * they write the oracle lanes' results for tools/check.py). An op
  * is timed as build (graft builds the DataFrame; jobs it runs eagerly
  * count here), plan (Catalyst plans the consuming digest query) and exec
  * (the digest runs). With `--trace 1` the timed passes mix untraced and
  * traced ones, so the tracing overhead is measured in the same process.
  *
  * Usage: graftbench.Main --workload <name> --data <dir> --passes <n>
  *   --trace <0|1> --check <dir> --out <file>
  */
object Main {
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val json = new ObjectMapper()
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  /** Epoch ms with sub-ms resolution, on the listener's clock. */
  private def nowMs(): Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  private def cpuS(): Double = cpuBean.getProcessCpuTime / 1e9

  type Rec = java.util.LinkedHashMap[String, Any]
  private def rec(kv: (String, Any)*): Rec = {
    val m = new Rec()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  private def jlist(xs: Iterable[Any]): java.util.List[Any] = {
    val l = new java.util.ArrayList[Any]()
    xs.foreach(l.add)
    l
  }

  /** High-water resident set of this JVM, as the kernel reports it. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024 // kB
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val dataDir = opt("data")
    val nPasses = opt("passes").toInt
    val traced = opt("trace") == "1"
    val checkDir = opt("check")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val sc = spark.sparkContext
    val progress = new Progress
    spark.streams.addListener(progress)
    val trace = new Trace

    val setupT0 = System.nanoTime()
    val w = workloadName match {
      case n if n.startsWith("lanes") => Workloads.lanesWorkload(n, spark, dataDir)
      case n if n.startsWith("cdc") => Workloads.cdcWorkload(n, spark, dataDir)
      case n => throw new IllegalArgumentException(s"unknown workload $n")
    }
    val workloadS = (System.nanoTime() - setupT0) / 1e9

    val digests = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Map[String, String]]]
    var opSeq = 0

    def runOp(op: Op, pass: Int, tracedPass: Boolean): Rec = {
      spark.catalog.clearCache()
      opSeq += 1
      val tag = s"$pass/${op.name}/$opSeq"
      sc.setLocalProperty(Trace.TagKey, if (tracedPass) tag else null)
      sc.setJobGroup(tag, op.name)
      progress.drain()
      val t0 = nowMs()
      val r = rec("name" -> op.name, "layer" -> op.layer, "pass" -> pass,
        "traced" -> tracedPass, "tag" -> tag, "t0_ms" -> t0)
      try {
        val out = op.run()
        val t1 = nowMs()
        val frame = Digest.frame(out.df, out.groups, out.flags)
        frame.queryExecution.executedPlan
        val t2 = nowMs()
        val d = Digest.read(frame, out.groups.map(_._1), out.flags.map(_._1))
        val t3 = nowMs()
        digests.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += d
        r.put("t1_ms", t1); r.put("t2_ms", t2); r.put("t3_ms", t3)
        r.put("s", (t3 - t0) / 1000); r.put("build_s", (t1 - t0) / 1000)
        r.put("plan_s", (t2 - t1) / 1000); r.put("exec_s", (t3 - t2) / 1000)
        r.put("ok", true)
        val m = new Rec(); d.foreach { case (k, v) => m.put(k, v) }
        r.put("digests", m)
      } catch {
        case e: Throwable =>
          r.put("s", (nowMs() - t0) / 1000); r.put("ok", false)
          r.put("error", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally {
        sc.clearJobGroup()
        sc.setLocalProperty(Trace.TagKey, null)
      }
      BusShim.drain(sc)
      r.put("triggers", jlist(progress.drain().map { p =>
        def dur(k: String): Double = Option(p.durationMs.get(k)).fold(0.0)(_.longValue / 1000.0)
        rec("trigger_s" -> dur("triggerExecution"), "add_batch_s" -> dur("addBatch"),
          "query_planning_s" -> dur("queryPlanning"), "get_batch_s" -> dur("getBatch"),
          "wal_commit_s" -> dur("walCommit"), "commit_offsets_s" -> dur("commitOffsets"),
          "rows" -> p.numInputRows, "rows_per_s" -> p.processedRowsPerSecond,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }))
      if (tracedPass) trace.countersOf(tag).foreach { c =>
        r.put("counters", rec("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_run_s" -> c.taskRunMs / 1000.0, "task_cpu_s" -> c.taskCpuNs / 1e9,
          "shuffle_read_bytes" -> c.shuffleReadBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "spill_bytes" -> c.spillBytes, "peak_exec_mem_bytes" -> c.peakExecMemBytes,
          "input_bytes" -> c.inputBytes, "output_bytes" -> c.outputBytes))
      }
      r
    }

    def runPass(pass: Int, tracedPass: Boolean): Rec = {
      if (tracedPass) sc.addSparkListener(trace)
      val c0 = cpuS()
      val t0 = nowMs()
      val ops = w.ops.map(runOp(_, pass, tracedPass))
      val t1 = nowMs()
      val c1 = cpuS()
      if (tracedPass) { BusShim.drain(sc); sc.removeSparkListener(trace) }
      rec("pass" -> pass, "traced" -> tracedPass, "t0_ms" -> t0, "t1_ms" -> t1,
        "wall_s" -> (t1 - t0) / 1000, "cpu_s" -> (c1 - c0), "ops" -> jlist(ops))
    }

    val warm = runPass(0, tracedPass = false)
    // a traced run interleaves untraced and traced passes as U T T U, so a
    // drift across the run (the JIT still compiling after the warm-up)
    // cancels out of the tracing overhead
    val passes = (0 until (if (traced) math.max(nPasses, 4) else nPasses)).map { i =>
      runPass(i + 1, tracedPass = traced && Set(1, 2)(i % 4))
    }

    // checks, outside the timed region
    Files.createDirectories(Paths.get(checkDir))
    val checks = mutable.ArrayBuffer.empty[Check]
    val oracle = new Rec()
    // a check that throws fails the ops it covers instead of the run
    def guarded(ops: Seq[String], name: String)(body: => Seq[Check]): Seq[Check] =
      try body catch {
        case e: Exception => ops.map(Check(_, name, ok = false, String.valueOf(e.getMessage).take(200)))
      }
    w.oracleLanes.foreach { case (lane, op) =>
      val path = s"$checkDir/$lane"
      oracle.put(lane, graft.SparkEntry.oracleSql(lane))
      checks ++= guarded(Seq(op), s"${lane}_written") {
        graft.SparkEntry.queries(lane)(spark, dataDir).write.mode("overwrite").parquet(path)
        // a lane timed as an op must have digested what the oracle checks
        if (lane != op) Nil
        else digests.get(op).toSeq.map { ds =>
          val want = Digest.read(Digest.frame(spark.read.parquet(path)), Nil, Nil)("all")
          Check(op, s"${op}_matches_checked_output", ds.head("all") == want,
            s"${ds.head("all")} vs $want")
        }
      }
    }
    Files.write(Paths.get(checkDir, "oracle_sql.json"),
      json.writeValueAsString(oracle).getBytes(StandardCharsets.UTF_8))
    checks ++= Workloads.sameEveryPass(digests.toMap.map { case (op, ds) => op -> ds.toSeq })
    val firsts = digests.map { case (op, ds) => op -> ds.head }.toMap
    if (w.ops.forall(o => firsts.contains(o.name)))
      checks ++= guarded(w.ops.map(_.name), "workload_checks")(w.checks(firsts, checkDir))

    val out = rec(
      "workload" -> w.name, "peak_rss_mb" -> peakRssMb(), "cores" -> cores, "session_s" -> sessionS,
      "workload_setup_s" -> workloadS,
      "warmup" -> warm, "passes" -> jlist(passes),
      "checks" -> jlist(checks.map(c =>
        rec("op" -> c.op, "name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))),
      "oracle_lanes" -> jlist(w.oracleLanes.map { case (l, o) => jlist(Seq(l, o)) }),
      "jobs" -> jlist(trace.jobSpans.map(j =>
        rec("tag" -> j.tag, "job" -> j.jobId, "t0_ms" -> j.startMs, "t1_ms" -> j.endMs)))
    )
    Files.write(Paths.get(opt("out")), json.writeValueAsString(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
