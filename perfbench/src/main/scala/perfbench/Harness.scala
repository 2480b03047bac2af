package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{BenchUtil, Goldens, GraftSession, SparkEntry, Tables}

/** One benchmark run in one JVM, driven by `run.py`:
  *
  *   1. Set-up: a session (`GraftSession.create`) and its tables
  *      (`Tables.register`). `setup_s` runs from JVM start until the
  *      tables are registered.
  *   2. The output check: one untimed pass that hashes every entry's
  *      result with `Goldens.checksum` and compares it with the expected
  *      hash. It is also the entries' first, cold run.
  *   3. Passes, one closed loop with a single client: each entry's
  *      frame built and sunk with a `noop` write. [[WarmupPasses]]
  *      uncounted passes come first; counted passes follow until they
  *      have taken `--seconds` and at least [[MinPasses]] have run. With
  *      `--trace 1` the counted passes run untraced, traced, traced,
  *      untraced, at least [[TracedPasses]] of them. After every entry,
  *      outside its window, [[calibrate]] samples the host's speed; the
  *      time metrics are scaled by [[ReferenceCalibrationS]] over the
  *      median sample.
  *
  * It prints `RECORD <json>` (the run record) and `RESULT <json>` (the
  * metrics) on stdout and writes the spans of traced passes to
  * `--spans`. */
object Harness {
  /** Uncounted passes after the output check: the JIT compiles most
    * heavily in the pass after the first, cold one. */
  val WarmupPasses = 1
  /** Counted passes a run makes at least: four, so that a workload's
    * tail percentile does not change with the host's speed (ten entries
    * give 40 entry runs, enough for p75). */
  val MinPasses = 4
  val TracedPasses = 4

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val vmThreadName = "^(C\\d CompilerThre|GC Thread|G1 )".r
  private val isVmThread = mutable.Map[String, Boolean]()

  /** CPU ns of the JVM's JIT compiler and GC threads, by thread id, from
    * `/proc/self/task`. Their time moves with compilation and collection
    * timing from run to run, not with the work the program does. */
  private def vmThreadCpuNs(): Map[String, Long] = {
    val tasks = Paths.get("/proc/self/task")
    val tids = Option(tasks.toFile.list()).map(_.toSeq).getOrElse(Nil)
    tids.filter { tid =>
      isVmThread.getOrElseUpdate(tid, scala.util.Try(Files.readString(tasks.resolve(s"$tid/comm")))
        .toOption.exists(c => vmThreadName.findPrefixOf(c).isDefined))
    }.flatMap { tid =>
      scala.util.Try(Files.readString(tasks.resolve(s"$tid/schedstat")).split(" ")(0).toLong)
        .toOption.map(tid -> _)
    }.toMap
  }

  /** A point from which [[cpuSince]] counts. */
  final case class CpuMark(process: Long, vm: Map[String, Long])
  private def cpuMark(): CpuMark = CpuMark(processCpuNs, vmThreadCpuNs())

  /** CPU seconds of the process since `m`, less its JIT compiler and GC
    * threads: the driver, tasks, listeners, and threads that ended in
    * between, such as a streaming query's own thread. */
  private def cpuSince(m: CpuMark): Double = {
    val process = processCpuNs - m.process
    val vm = vmThreadCpuNs().map { case (tid, ns) => ns - m.vm.getOrElse(tid, 0L) }.sum
    (process - vm) / 1e9
  }

  /** Named fields of a `/proc/self/<file>` in `key: value` form. */
  private def proc(file: String): Map[String, Long] =
    Files.readAllLines(Paths.get(s"/proc/self/$file")).toArray.toSeq.map(_.toString)
      .flatMap { line =>
        line.split(":\\s+", 2) match {
          case Array(k, v) => v.trim.split("\\s+").headOption.flatMap(_.toLongOption).map(k -> _)
          case _ => None
        }
      }.toMap

  private def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case x => json(x.toString)
  }

  /** The calibration kernel's CPU time that the reported time metrics
    * are scaled to: about its median on the 4-core host measured in
    * README.md. */
  val ReferenceCalibrationS = 0.04

  private val calData = { val r = new java.util.Random(1); Array.fill(100000)(r.nextDouble()) }

  /** CPU seconds of one run of a fixed kernel that calls no program
    * code: boxing, hashing, sorting and string building over 100k
    * doubles. Its time follows the shared host's speed, which moves by
    * a third within minutes, and nothing the program does. */
  private def calibrate(): Double = {
    val mx = ManagementFactory.getThreadMXBean
    val c0 = mx.getCurrentThreadCpuTime
    val m = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    var i = 0
    while (i < calData.length) { m.put((calData(i) * 1e12).toLong, calData(i)); i += 1 }
    val a = calData.clone()
    java.util.Arrays.sort(a)
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < 30000) { sb.append(a(i * 3)); i += 1 }
    require(m.size > 0 && sb.length > 0)
    (mx.getCurrentThreadCpuTime - c0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dir = opt("data")
    val nproc = opt("nproc")
    val expectedPath = Paths.get(opt("expected"))
    val expected: Map[String, (Long, String)] =
      if (Files.exists(expectedPath))
        Goldens.parseTsv(Files.readString(expectedPath)).collect {
          case ((ds, n), v) if ds == wl.dataset => n -> v
        }
      else Map.empty
    // The output check and the warm-up passes run the entries in the
    // workload's listed order, so that every run warms the JIT the same
    // way; each counted pass runs them in its own order drawn from the
    // seed, so that no one order's effect decides a run's figures.
    val orderSeeds = new java.util.Random(seed)
    val orders = ArrayBuffer[Seq[String]]()
    def nextOrder(): Seq[String] = {
      orders += Stats.seededOrder(wl.entries, orderSeeds.nextLong())
      orders.last
    }
    val fns = SparkEntry.queries
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer[String]()
    val observed = mutable.Map[String, (Long, String)]()

    // -- set-up, then the output check -------------------------------
    val sessionT0 = System.nanoTime()
    val spark = GraftSession.create(nproc)
    val sessionS = secs(sessionT0)
    val registerT0 = System.nanoTime()
    Tables.register(spark, dir)
    val registerS = secs(registerT0)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val checkT0 = System.nanoTime()
    val checkTimes = mutable.LinkedHashMap[String, Double]()
    wl.entries.foreach { name =>
      attempted += 1
      val t = System.nanoTime()
      try {
        val got = Goldens.checksum(fns(name)(spark, dir))
        observed(name) = got
        if (!expected.get(name).contains(got)) {
          failed += 1
          failures += s"$name: got ${got._1} rows ${got._2.take(12)}, expected " +
            expected.get(name).map(e => s"${e._1} rows ${e._2.take(12)}").getOrElse("none")
        }
      } catch {
        case e: Throwable =>
          failed += 1
          failures += s"$name: check pass threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      checkTimes(name) = secs(t)
    }
    val coldPass = secs(checkT0)
    System.err.println(f"[perfbench] set-up $setupS%.2f s; check pass $coldPass%.2f s")
    val checkFailures = failed

    // -- timed passes -------------------------------------------------
    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val sentinel = new BenchUtil.SentinelProbe(spark, dir)
    sentinel.prime()
    final case class Sample(traced: Boolean, frame: Double, sink: Double, cpu: Double)
    val samples = mutable.Map[String, ArrayBuffer[Sample]]()
    final case class PassStat(traced: Boolean, wall: Double, work: Double, cpu: Double,
                              jit: Double, liveMb: Double, cal: Double, io: Map[String, Long],
                              layers: Map[String, Double])
    val passes = ArrayBuffer[PassStat]()
    val spans = ArrayBuffer[Span]()
    val passesNeeded = WarmupPasses + (if (traced) TracedPasses else MinPasses)
    var pass = 0
    var countedSince = 0L
    while (pass < passesNeeded || System.nanoTime() - countedSince < seconds * 1e9) {
      pass += 1
      if (pass == WarmupPasses + 1) countedSince = System.nanoTime()
      // untraced, traced, traced, untraced after the warm-up passes: a
      // drift that is linear over the passes cancels out of
      // trace.overhead_s
      val counted = pass > WarmupPasses
      val tracing = traced && counted && Set(1, 2)((pass - WarmupPasses - 1) % 4)
      // every pass starts from a collected heap; what is still in use
      // after the collection is the memory the session keeps between
      // entries (tables, caches, metastore, session artifacts)
      System.gc()
      val liveMb = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0
      tracer.filter(_ => tracing).foreach(_.attach())
      val io0 = proc("io")
      val process0 = processCpuNs
      val jit0 = jitS
      val work0 = cpuMark()
      var wall = 0.0
      val layers = mutable.Map[String, Double]()
      // the host's speed, sampled after every entry, outside its window
      val cal = ArrayBuffer[Double]()
      (if (counted) nextOrder() else wl.entries).foreach { name =>
        val trace = s"p$pass/$name"
        attempted += 1
        sc.setJobGroup(trace, name)
        tracer.filter(_ => tracing).foreach(_.begin(trace))
        val cpu0 = cpuMark()
        val t0 = Clock.nowUs
        val run = try {
          val df: DataFrame = fns(name)(spark, dir)
          val t1 = Clock.nowUs
          val analysis = df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs * 1000).getOrElse(0L)
          df.write.format("noop").mode("overwrite").save()
          Some(EntryRun(trace, name, t0, t1, Clock.nowUs, analysis))
        } catch {
          case e: Throwable =>
            failed += 1
            failures += s"$name: pass $pass threw ${e.getClass.getSimpleName}: ${e.getMessage}"
            None
        }
        val entryCpu = cpuSince(cpu0)
        sc.clearJobGroup()
        run.foreach { r =>
          wall += (r.t2 - r.t0) / 1e6
          if (counted) samples.getOrElseUpdate(name, ArrayBuffer()) +=
            Sample(tracing, (r.t1 - r.t0) / 1e6, (r.t2 - r.t1) / 1e6, entryCpu)
        }
        tracer.filter(_ => tracing).foreach { tr =>
          val timeouts = tr.end(trace)
          layers("check.wait_timeouts") = layers.getOrElse("check.wait_timeouts", 0.0) + timeouts
          run.foreach { r =>
            val (ss, m) = tr.summarize(r)
            spans ++= ss
            m.foreach { case (k, v) => layers(k) = layers.getOrElse(k, 0.0) + v }
          }
        }
        cal += calibrate()
      }
      val cpu = (processCpuNs - process0) / 1e9 - cal.sum
      val jit = jitS - jit0
      val work = cpuSince(work0) - cal.sum
      val io1 = proc("io")
      tracer.filter(_ => tracing).foreach(_.detach())
      sentinel.probe()
      if (counted) passes += PassStat(tracing, wall, work, cpu, jit, liveMb, Stats.median(cal.toSeq),
        Seq("rchar", "wchar").map(k => k -> (io1(k) - io0(k))).toMap,
        layers.toMap)
      val kind = if (!counted) " (warm-up)" else if (tracing) " (traced)" else ""
      System.err.println(f"[perfbench] pass $pass$kind: $wall%.2f s, work cpu $work%.2f s, " +
        f"process cpu $cpu%.2f s, jit $jit%.2f s")
    }

    // -- metrics ------------------------------------------------------
    val untracedNames = wl.entries.filter(n => samples.get(n).exists(_.exists(!_.traced)))
    def entryTime(n: String, tr: Boolean): Double =
      Stats.median(samples(n).filter(_.traced == tr).map(s => s.frame + s.sink).toSeq)
    val perEntry = untracedNames.map(n => n -> entryTime(n, tr = false)).toMap
    val perEntryCpu = untracedNames.map(n =>
      n -> Stats.median(samples(n).filterNot(_.traced).map(_.cpu).toSeq)).toMap
    // p50 and tail are over every untraced entry run, wall_s over the
    // per-entry medians
    val untracedSamples = samples.values.flatten.filterNot(_.traced).toSeq
    val times = untracedSamples.map(s => s.frame + s.sink)
    val cpuTimes = untracedSamples.map(_.cpu)
    val tailP = Stats.tailPercentile(times.size)
    val hwmMb = proc("status")("VmHWM") / 1024.0
    val untracedPasses = passes.filterNot(_.traced).toSeq
    // times are reported at the reference host speed
    val calibrationS = Stats.median(passes.map(_.cal).toSeq)
    val scale = ReferenceCalibrationS / calibrationS
    val wallS = perEntry.values.sum

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS * scale, "s"),
        ("wall_s", wallS * scale, "s"),
        ("entry_p50_s", Stats.percentile(times, 50.0) * scale, "s"),
        ("entry_tail_s", Stats.percentile(times, tailP) * scale, "s"),
        ("cpu_s", Stats.median(untracedPasses.map(_.work)) * scale, "s"),
        ("entry_cpu_p50_s", Stats.percentile(cpuTimes, 50.0) * scale, "s"),
        ("entry_cpu_tail_s", Stats.percentile(cpuTimes, tailP) * scale, "s"),
        ("live_heap_mb", untracedPasses.map(_.liveMb).max, "MB"),
        ("ok_frac", 1.0 - failed.toDouble / attempted, "1"))
      else {
        val tracedPasses = passes.filter(_.traced).toSeq
        def layer(k: String): Double = Stats.median(tracedPasses.map(_.layers.getOrElse(k, 0.0)))
        val tracedWall = wl.entries.filter(n => samples.get(n).exists(_.exists(_.traced)))
          .map(n => entryTime(n, tr = true)).sum
        val cores = nproc.toDouble
        Seq(
          ("setup.session_s", sessionS, "s"),
          ("setup.register_s", registerS, "s"),
          ("setup.cold_pass_s", coldPass, "s"),
          ("entry.wall_s", layer("entry.wall_s"), "s"),
          ("entry.frame_s", layer("entry.frame_s"), "s"),
          ("entry.sink_s", layer("entry.sink_s"), "s"),
          ("catalyst.execs", layer("catalyst.execs"), "count"),
          ("catalyst.analysis_s", layer("catalyst.analysis_s"), "s"),
          ("catalyst.optimizer_s", layer("catalyst.optimizer_s"), "s"),
          ("catalyst.planning_s", layer("catalyst.planning_s"), "s"),
          ("sched.jobs", layer("sched.jobs"), "count"),
          ("sched.stages", layer("sched.stages"), "count"),
          ("sched.tasks", layer("sched.tasks"), "count"),
          ("sched.one_task_stage_frac", Stats.median(tracedPasses.map(p =>
            p.layers.getOrElse("sched.one_task_stages", 0.0) /
              math.max(1.0, p.layers.getOrElse("sched.stages", 0.0)))), "1"),
          ("sched.task_wait_s", layer("sched.task_wait_s"), "s"),
          ("sched.failed_tasks", layer("sched.failed_tasks"), "count"),
          ("sched.driver_gap_s", layer("sched.driver_gap_s"), "s"),
          ("exec.run_s", layer("exec.run_s"), "s"),
          ("exec.cpu_s", layer("exec.cpu_s"), "s"),
          ("exec.gc_s", layer("exec.gc_s"), "s"),
          ("exec.busy_frac", Stats.median(tracedPasses.map(p =>
            p.layers.getOrElse("exec.run_s", 0.0) / (p.layers.getOrElse("entry.wall_s", 1.0) * cores))), "1"),
          ("scan.bytes", layer("scan.bytes"), "B"),
          ("scan.rows", layer("scan.rows"), "count"),
          ("shuffle.write_bytes", layer("shuffle.write_bytes"), "B"),
          ("shuffle.read_bytes", layer("shuffle.read_bytes"), "B"),
          ("spill.bytes", layer("spill.bytes"), "B"),
          ("metastore.ddl_ops", layer("metastore.ddl_ops"), "count"),
          ("metastore.ddl_s", layer("metastore.ddl_s"), "s"),
          ("stream.batches", layer("stream.batches"), "count"),
          ("stream.trigger_s", layer("stream.trigger_s"), "s"),
          ("stream.idle_s", layer("stream.idle_s"), "s"),
          ("io.read_bytes", Stats.median(tracedPasses.map(_.io("rchar").toDouble)), "B"),
          ("io.write_bytes", Stats.median(tracedPasses.map(_.io("wchar").toDouble)), "B"),
          ("trace.overhead_s", tracedWall - wallS, "s"),
          ("trace.coverage", layer("trace.self_s") / layer("entry.wall_s"), "1"))
      }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "dataset" -> wl.dataset, "seed" -> seed, "nproc" -> nproc.toInt,
      "trace" -> traced, "entries" -> wl.entries.size, "orders" -> orders,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "local_tunings" -> GraftSession.localTunings(sc.master).toMap,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024), "rss_peak_mb" -> hwmMb,
      "sentinel_floor_s" -> (if (sentinel.samples.isEmpty) None else Some(sentinel.samples.min)),
      "sentinel_max_s" -> (if (sentinel.samples.isEmpty) None else Some(sentinel.samples.max)),
      "sentinel_n" -> sentinel.samples.size,
      "setup_s" -> setupS, "setup_session_s" -> sessionS, "setup_register_s" -> registerS, "check_pass_s" -> coldPass, "check_entry_s" -> checkTimes, "passes" -> passes.size,
      "pass_wall_s" -> passes.map(_.wall), "pass_work_cpu_s" -> passes.map(_.work),
      "pass_process_cpu_s" -> passes.map(_.cpu), "pass_jit_s" -> passes.map(_.jit),
      "pass_calibration_s" -> passes.map(_.cal), "calibration_s" -> calibrationS, "cpu_scale" -> scale,
      "cpu_s_raw" -> Stats.median(untracedPasses.map(_.work)),
      "entry_cpu_p50_s_raw" -> Stats.percentile(cpuTimes, 50.0),
      "entry_cpu_tail_s_raw" -> Stats.percentile(cpuTimes, tailP),
      "pass_traced" -> passes.map(_.traced), "pass_live_heap_mb" -> passes.map(_.liveMb),
      "tail_percentile" -> tailP, "tail_n" -> times.size,
      "wall_s" -> wallS, "entry_p50_s" -> Stats.percentile(times, 50.0),
      "entry_tail_s" -> Stats.percentile(times, tailP),
      "check_failures" -> checkFailures, "failures" -> failures.take(50),
      "entry_s" -> perEntry, "entry_cpu_s" -> perEntryCpu)
    if (traced) {
      val tracedPasses = passes.filter(_.traced).toSeq
      val keys = tracedPasses.flatMap(_.layers.keys).distinct.sorted
      record("traced_layers") = keys.map(k =>
        k -> Stats.median(tracedPasses.map(_.layers.getOrElse(k, 0.0)))).toMap
      Files.write(Paths.get(opt("spans")), spans.map { s =>
        json(Map("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end))
      }.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    Files.writeString(Paths.get(opt("observed")),
      Goldens.toTsv(wl.dataset, observed.toSeq))
    val correct = failed == 0 && expected.nonEmpty && wl.entries.forall(expected.contains)
    println("RECORD " + json(record))
    println("RESULT " + json(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
      }: _*))))
    spark.stop()
  }
}
