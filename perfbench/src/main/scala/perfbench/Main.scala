package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** JVM side of the benchmark: runs one workload over inputs already
  * generated into `--data` and writes everything it measured to `--out`
  * as JSON. `run.py` generates the inputs, starts this, checks the
  * outputs and turns the record into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --out FILE
  *
  * Load shape: one driver thread calling the library in a closed loop,
  * one session from `graft.util.Sessions.local`. The fixed operation
  * sequence (`Workload.unit`) repeats until `--seconds` of measuring
  * time is used. With `--trace 1` every other unit runs with the
  * listeners on, so traced and untraced units interleave over the same
  * stretch of the run and their ratio is the tracing overhead.
  */
object Main {
  private def now(): Long = System.nanoTime()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val data = Paths.get(opts("data")).toAbsolutePath.toString
    val out = opts("out")

    val jvmStartMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    val loadBefore = graft.util.Host.loadavg()
    val spark = graft.util.Sessions.local(graft.util.Sessions.cpus(
      Runtime.getRuntime.availableProcessors().toString))
    // JVM start to a ready session, class loading included
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rec = new Recorder(spark)
    val wl = Workload(workload, spark, data, seed, rec)

    val tPrep = now()
    wl.prepare()
    val prepareS = (now() - tPrep) / 1e9
    val tWarm = now()
    wl.warm()
    val warmS = (now() - tWarm) / 1e9

    // timed region
    val units = collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var failure: Option[String] = None
    val budget = (seconds * 1e9).toLong
    val start = now()
    var i = 0
    while (failure.isEmpty && i < wl.maxUnits &&
           (i == 0 || now() - start < budget)) {
      val tracedUnit = traced && i % 2 == 1
      rec.trace(tracedUnit)
      val s = now()
      try wl.unit(i)
      catch {
        case e: Throwable =>
          failure = Some(s"unit $i: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
      }
      units += Map("unit" -> i, "traced" -> tracedUnit, "start_ns" -> s,
        "end_ns" -> now())
      i += 1
    }
    rec.trace(false)
    val measuredS = (now() - start) / 1e9

    val tFinish = now()
    val finish =
      try wl.finish(i)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Map("error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    val finishS = (now() - tFinish) / 1e9
    val phases = if (traced) rec.phaseSpans else Nil

    val conf = spark.conf
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced,
      "env" -> Map(
        "effective_cpus" -> spark.sparkContext.defaultParallelism,
        "master" -> spark.sparkContext.master,
        "spark_version" -> spark.version,
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "adaptive_enabled" -> conf.get("spark.sql.adaptive.enabled"),
        "excluded_rules" ->
          conf.getOption("spark.sql.optimizer.excludedRules").getOrElse(""),
        "loadavg_jvm_start" -> loadBefore,
        "loadavg_jvm_end" -> graft.util.Host.loadavg()),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS,
        "warm_s" -> warmS),
      "measured_s" -> measuredS, "finish_s" -> finishS,
      "failure" -> failure,
      "units" -> units,
      "ops" -> rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "layer" -> o.layer, "unit" -> o.unit, "traced" -> o.traced,
        "start_ns" -> o.startNs, "end_ns" -> o.endNs, "ok" -> o.ok)),
      "spans" -> (rec.spans.toSeq ++ phases).map(s => Map("op" -> s.op,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)),
      "counts" -> rec.counts.map { case (op, c) => op.toString -> Map(
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_run_ms" -> c.taskRunMs,
        "task_gc_ms" -> c.taskGcMs, "task_deser_ms" -> c.taskDeserMs,
        "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "input_bytes" -> c.inputBytes,
        "single_task_stage_ms" -> c.singleTaskStageMs,
        "single_task_stages" -> c.singleTaskStages,
        "sink_writes" -> c.sinkWrites.size) },
      "finish" -> finish,
      "peak_rss_kb" -> vmHwmKb())
    spark.stop()
    Files.write(Paths.get(out), Json.render(record)
      .getBytes(StandardCharsets.UTF_8))
  }

  /** VmHWM of this process in kB, or -1 where /proc is unavailable. */
  private def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }
}
