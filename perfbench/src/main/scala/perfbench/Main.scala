package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import graft.core.CacheRegistry
import graft.queries.{Query, Registry}

/** Closed-loop benchmark with one client: the main thread forces one
  * registered query at a time, `Query.build` → `executedPlan` → `toRdd`,
  * then releases the session's caches, pass after pass over a workload's
  * query list. Before the timed passes come the output gate and one untimed
  * warm-up pass.
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` attaches a
  * [[Tracer]] on every even pass, prints the per-layer metrics from the
  * traced passes, the tracing overhead against the untraced ones and the
  * kernel leg, and writes the spans to `<out>/spans-<workload>-<seed>.jsonl`.
  * The last stdout line is the result JSON. */
object Main {
  /** A query still running after this is cancelled and counted as failed;
    * a failed query enters the latency median at this value. */
  private val QueryTimeoutS = 60.0
  private val MinPasses = 3
  private val MiB = 1024.0 * 1024.0

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, data: String, work: String, out: String, expected: String)

  /** Wall seconds of each phase of one timed query. */
  final case class Run(query: String, build: Double, plan: Double, exec: Double,
                       release: Double, ok: Boolean) {
    def wall: Double = if (ok) build + plan + exec + release else QueryTimeoutS
  }

  def session(cores: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ui.retainedExecutions", "10")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "200")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload <name> --seed <n> --seconds <s> " +
      "--trace <0|1> --cores <n> --data <dir> --work <dir> --out <dir> --expected <file>")
    sys.exit(2)
  }

  private def parse(argv: Array[String]): Opts = {
    if (argv.length % 2 != 0) usage("arguments come in --key value pairs")
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    try Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") match { case "0" => false; case "1" => true; case t => usage(s"--trace $t") },
      get("cores").toInt, get("data"), get("work"), get("out"), get("expected"))
    catch { case e: NumberFormatException => usage(e.getMessage) }
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val wl = Workloads.byName(o.workload).getOrElse(
      usage(s"unknown workload '${o.workload}' (known: ${Workloads.all.map(_.name).mkString(", ")})"))
    val registry = Registry.all.map(q => q.name -> q).toMap
    val queries = wl.queries.map(n => registry.getOrElse(n, usage(s"query $n is not registered")))
    val expected = Digest.load(Paths.get(o.expected))
    val runDir = Paths.get(o.work, s"seed-${o.seed}")
    deleteTree(runDir)
    Files.createDirectories(runDir)
    val spark = session(o.cores, o.work)
    spark.sparkContext.setLogLevel("ERROR")
    val result =
      try new Runner(spark, o, wl, queries, expected, runDir).run()
      finally {
        spark.stop()
        deleteTree(runDir)
      }
    System.out.println(result)
    System.out.flush()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Largest heap occupancy right after any collection, while armed. */
  final class HeapWatch {
    @volatile var armed = false
    private var peak = 0L
    private val listener: NotificationListener = (n, _) =>
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        synchronized { peak = math.max(peak, used) }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
    def peakBytes: Long = synchronized(peak)
  }

  private final class Runner(spark: SparkSession, o: Opts, wl: Workload, queries: Seq[Query],
                             expected: Map[String, String], runDir: Path) {
    private val sc = spark.sparkContext
    private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    }
    private val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val heap = new HeapWatch
    private val tracer = new Tracer
    private val failures = mutable.ArrayBuffer.empty[String]

    private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

    /** Runs `body` under a job group that the watchdog cancels after the
      * query timeout. */
    private def guarded[A](group: String)(body: => A): A = {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      val cancel = watchdog.schedule((() => sc.cancelJobGroup(group)): Runnable,
        (QueryTimeoutS * 1000).toLong, TimeUnit.MILLISECONDS)
      try body
      finally { cancel.cancel(false); sc.clearJobGroup() }
    }

    private def release(): Unit = {
      CacheRegistry.releaseAll()
      spark.catalog.clearCache()
    }

    /** Output gate, once per query outside the timed passes, `cores` queries
      * at a time with construction serialized, as in `graft.Verify`. It is
      * also the first warm-up of the JIT and the tables, and on `warm` it
      * fills the session memos. Caches are released once all have finished. */
    private def gate(): Unit = {
      val pool = Executors.newFixedThreadPool(o.cores)
      val buildLock = new Object
      val checks = queries.map { q =>
        q -> pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            try guarded(s"gate-${q.name}")(Digest.of(buildLock.synchronized(q.build(spark, o.data))))
            catch { case e: Throwable => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        })
      }
      try checks.foreach { case (q, check) =>
        val got = check.get()
        val want = expected.getOrElse(q.name, "no expected digest")
        if (got != want) {
          failures += s"gate:${q.name}"
          log(s"output mismatch: ${q.name}: got [$got], expected [$want]")
        }
      } finally {
        pool.shutdown()
        release()
      }
    }

    /** A byte-identical copy of the tables at a new path. */
    private def freshCopy(pass: Int): String = {
      val dir = Files.createDirectories(runDir.resolve(s"pass-$pass"))
      val s = Files.list(Paths.get(o.data))
      try s.iterator.asScala.filter(_.toString.endsWith(".parquet"))
        .foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
      finally s.close()
      dir.toString
    }

    private def timeQuery(q: Query, dir: String, pass: Int, passSpan: Option[Span]): Run = {
      val qSpan = passSpan.map(p => tracer.open("query", q.name, p.id))
      val secs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def phase[A](name: String)(body: => A): A = {
        val s = qSpan.map(p => tracer.open(name, q.name, p.id))
        s.foreach(x => sc.setLocalProperty(Tracer.SpanProperty, x.id.toString))
        val t0 = System.nanoTime()
        try body
        finally {
          secs(name) = (System.nanoTime() - t0) / 1e9
          s.foreach(tracer.close)
        }
      }
      val ok =
        try guarded(s"pass-$pass-${q.name}") {
          val df = phase("build")(q.build(spark, dir))
          phase("plan")(df.queryExecution.executedPlan)
          phase("exec")(df.queryExecution.toRdd.foreach(_ => ()))
          true
        } catch {
          case e: Throwable =>
            failures += s"pass-$pass:${q.name}"
            log(s"query failed: ${q.name} (pass $pass): ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
        } finally phase("release") {
          if (qSpan.isDefined) trackedBytes += CacheRegistry.trackedBytes(spark).map(_._2).sum
          release()
        }
      sc.setLocalProperty(Tracer.SpanProperty, null)
      qSpan.foreach(tracer.close)
      Run(q.name, secs("build"), secs("plan"), secs("exec"), secs("release"), ok)
    }

    private var trackedBytes = 0L

    def run(): String = {
      gate()
      val runs = mutable.ArrayBuffer.empty[Run]
      val passSecs = mutable.ArrayBuffer.empty[(Boolean, Double)] // (traced, seconds)
      val cpuSecs = mutable.ArrayBuffer.empty[Double]
      val passSpans = mutable.ArrayBuffer.empty[Span]
      var copySecs = 0.0
      def prepare(pass: Int): String =
        if (!wl.freshCopy) o.data
        else {
          val t0 = System.nanoTime()
          val d = freshCopy(pass)
          copySecs += (System.nanoTime() - t0) / 1e9
          d
        }
      // untimed warm-up pass over the timed passes' own kind of input: the
      // gate forces a digest, this forces the bare plans the passes time
      var dir = prepare(0)
      val warmup = new Random(o.seed * 1000003L).shuffle(queries).map(q => timeQuery(q, dir, 0, None))
      if (wl.freshCopy) deleteTree(runDir.resolve("pass-0"))
      dir = prepare(1)
      val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      val t0 = System.nanoTime()
      var pass = 0
      // A pass is never cut short. At least three run, so the median pass is
      // not the first one, which still carries some JIT warm-up. Another
      // starts only if a pass of the mean length so far still ends within
      // --seconds.
      def another: Boolean = {
        val elapsed = (System.nanoTime() - t0) / 1e9
        pass < MinPasses || elapsed + elapsed / pass <= o.seconds
      }
      while (another) {
        pass += 1
        if (pass > 1) dir = prepare(pass)
        val traced = o.trace && pass % 2 == 0
        if (traced) sc.addSparkListener(tracer)
        val passSpan = if (traced) Some(tracer.open("pass", s"pass-$pass", -1)) else None
        val order = new Random(o.seed * 1000003L + pass).shuffle(queries)
        heap.armed = true
        val cpu0 = cpu.getProcessCpuTime
        val p0 = System.nanoTime()
        order.foreach(q => runs += timeQuery(q, dir, pass, passSpan))
        passSecs += ((traced, (System.nanoTime() - p0) / 1e9))
        cpuSecs += (cpu.getProcessCpuTime - cpu0) / 1e9
        heap.armed = false
        passSpan.foreach { s =>
          tracer.close(s)
          passSpans += s
          org.apache.spark.PerfbenchBus.drain(sc)
          sc.removeSparkListener(tracer)
        }
        if (wl.freshCopy) deleteTree(runDir.resolve(s"pass-$pass"))
      }
      watchdog.shutdownNow()
      summarize(runs.toSeq)
      val walls = runs.map(_.wall).toSeq
      log(f"${wl.name} seed=${o.seed}: ${passSecs.size} timed passes, ${walls.size} query samples, " +
        f"setup ${setupS + copySecs}%.2f s (fresh copies ${copySecs}%.2f s), pass seconds " +
        passSecs.map(p => f"${p._2}%.2f").mkString(" "))
      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) Seq(
          ("pass_s", median(passSecs.map(_._2).toSeq), "s"),
          ("query_p50_s", median(walls), "s"),
          ("cpu_s", median(cpuSecs.toSeq), "s"),
          ("peak_heap_mb", heap.peakBytes / MiB, "MiB"),
          ("setup_s", setupS + copySecs, "s"))
        else {
          // the first pass is untraced and left out: it carries JIT warm-up
          val tracedS = passSecs.collect { case (true, s) => s }.toSeq
          val plainS = passSecs.drop(1).collect { case (false, s) => s }.toSeq
          layers(passSpans.size) ++ Kernels.run(spark, o.data).toSeq.sortBy(_._1).map {
            case (k, v) => (s"kernel.$k.rows_per_s", v, "rows/s")
          } :+ (("trace.overhead_frac", median(tracedS) / median(plainS) - 1, "ratio"))
        }
      val attempted = queries.size + warmup.size + runs.size
      Json.result(failures.isEmpty, attempted, failures.size, metrics)
    }

    /** Per-query medians on stderr, for reading a run by eye. */
    private def summarize(runs: Seq[Run]): Unit = runs.groupBy(_.query).toSeq.sortBy(_._1).foreach {
      case (q, rs) =>
        log(f"  $q%-40s wall ${median(rs.map(_.wall))}%7.3f  build ${median(rs.map(_.build))}%7.3f" +
          f"  plan ${median(rs.map(_.plan))}%6.3f  exec ${median(rs.map(_.exec))}%7.3f")
    }

    /** Per-pass layer metrics from the traced passes' spans. */
    private def layers(passes: Int): Seq[(String, Double, String)] = {
      val (spans, jobs, unattributed) = tracer.snapshot
      val children = spans.groupBy(_.parent)
      val byId = spans.map(s => s.id -> s).toMap
      def dur(s: Span) = (s.endNs - s.startNs) / 1e9
      def self(s: Span) = Tracer.selfNs(s, children.getOrElse(s.id, Nil)) / 1e9
      val phases = spans.filter(s => Set("build", "plan", "exec", "release")(s.kind)).groupBy(_.kind)
        .withDefaultValue(Nil)
      val jobsOf = spans.filter(_.kind == "job").groupBy(j => byId.get(j.parent).map(_.kind).getOrElse("none"))
        .withDefaultValue(Nil).map { case (k, js) => k -> js.flatMap(j => jobs.get(j.id)) }
        .withDefaultValue(Nil)
      val allJobs = jobs.values.toSeq
      val per = 1.0 / math.max(passes, 1)
      def wall(kind: String) = phases(kind).map(dur).sum * per
      def selfS(kind: String) = phases(kind).map(self).sum * per
      def sumJ(kind: String)(f: JobStats => Double) = jobsOf(kind).map(f).sum * per
      val execTaskS = sumJ("exec")(_.taskMs / 1000.0)
      writeSpans(spans, jobs, self)
      Seq(
        ("build.wall_s", wall("build"), "s"),
        ("build.self_s", selfS("build"), "s"),
        ("build.jobs", jobsOf("build").size * per, "count"),
        ("build.task_s", sumJ("build")(_.taskMs / 1000.0), "s"),
        ("build.failed", sumJ("build")(j => if (j.failed || j.cancelled) 1 else 0), "count"),
        ("plan.wall_s", wall("plan"), "s"),
        ("exec.wall_s", wall("exec"), "s"),
        ("exec.self_s", selfS("exec"), "s"),
        ("exec.jobs", jobsOf("exec").size * per, "count"),
        ("exec.stages", sumJ("exec")(_.stages.toDouble), "count"),
        ("exec.tasks", sumJ("exec")(_.tasks.toDouble), "count"),
        ("exec.task_s", execTaskS, "s"),
        ("exec.idle_core_s", wall("exec") * o.cores - execTaskS, "s"),
        ("exec.failed", sumJ("exec")(j => if (j.failed) 1 else 0), "count"),
        ("exec.cancelled", sumJ("exec")(j => if (j.cancelled) 1 else 0), "count"),
        ("shuffle.write_mb", allJobs.map(_.shuffleWrite).sum * per / MiB, "MiB"),
        ("shuffle.read_mb", allJobs.map(_.shuffleRead).sum * per / MiB, "MiB"),
        ("spill.mb", allJobs.map(_.spill).sum * per / MiB, "MiB"),
        ("exec.peak_task_mem_mb", jobsOf("exec").map(_.peakTaskMem).maxOption.getOrElse(0L) / MiB, "MiB"),
        ("cache.tracked_mb", trackedBytes * per / MiB, "MiB"),
        ("cache.release_s", wall("release"), "s"),
        ("trace.unattributed_jobs", unattributed * per, "count"))
    }

    /** All spans, once, as JSON lines; times in ms from the first span. */
    private def writeSpans(spans: Seq[Span], jobs: Map[Int, JobStats], self: Span => Double): Unit = {
      val base = spans.map(_.startNs).minOption.getOrElse(0L)
      val lines = spans.map { s =>
        val fields = Seq[(String, Any)]("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> (s.startNs - base) / 1e6,
          "dur_ms" -> (s.endNs - s.startNs) / 1e6, "self_ms" -> self(s) * 1e3) ++
          jobs.get(s.id).toSeq.flatMap(j => Seq[(String, Any)]("stages" -> j.stages, "tasks" -> j.tasks,
            "task_ms" -> j.taskMs, "shuffle_read_b" -> j.shuffleRead, "shuffle_write_b" -> j.shuffleWrite,
            "spill_b" -> j.spill, "peak_task_mem_b" -> j.peakTaskMem, "failed" -> j.failed,
            "cancelled" -> j.cancelled))
        Json.obj(fields)
      }
      val out = Files.createDirectories(Paths.get(o.out)).resolve(s"spans-${wl.name}-${o.seed}.jsonl")
      Files.write(out, lines.asJava)
      log(s"wrote ${spans.size} spans to $out")
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed)) .dropRight(1) +
      ", \"metrics\": " + metrics.map { case (k, v, u) =>
        s"${str(k)}: ${obj(Seq("value" -> v, "unit" -> u))}"
      }.mkString("{", ", ", "}") + "}"
}
