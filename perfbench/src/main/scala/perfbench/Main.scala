package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** One operation of a workload's closed loop. `run` is the timed call;
  * `check` compares its result with the expected one, untimed, and returns
  * the mismatches. */
trait Op {
  def kind: String
  def layer: String
  def run(): Any
  def check(result: Any): Seq[String] = Nil
}

/** What each workload provides to the runner. */
trait Workload {
  /** The program's set-up work, repeated for the set-up median; each call
    * starts from nothing. */
  def setup(rep: Int): Unit
  /** Untimed, checked runs after the set-up that load classes, compile
    * hot code and fill caches before timing; returns failed checks. */
  def warmup(): Seq[String]
  /** The ops of cycle `c`; the loop runs whole cycles, and ends early when
    * a workload has no more. */
  def cycle(c: Int): Seq[Op]
  /** The first cycle the timed loop runs. */
  def firstCycle: Int = 0
  /** Per-layer metrics of a traced loop, beyond the Spark counters. */
  def layerMetrics(tr: Tracer, recs: Seq[OpRec]): Map[String, Double]
  /** Extra facts for the result file (sizes, chosen queries). */
  def facts: Map[String, Any] = Map.empty
}

final case class OpRec(kind: String, layer: String, startNs: Long, endNs: Long,
                       cpuNs: Long, procCpuNs: Long, errors: Seq[String], span: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Benchmark harness entry point. Usage:
  * `perfbench.Main <workload> <inputDir> <seconds> <trace 0|1> <resultFile>`.
  * Reads the inputs and plan the generator wrote to `inputDir`, runs the
  * workload's closed loop for about `seconds` seconds on one client thread,
  * and writes raw timings, checks and counters to `resultFile` as JSON. */
object Main {
  val mapper: JsonMapper with ClassTagExtensions =
    JsonMapper.builder().addModule(DefaultScalaModule).build() :: ClassTagExtensions

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, secs, traceFlag, outFile) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val plan = mapper.readValue[Map[String, Any]](
      Files.readString(Paths.get(inDir, "plan.json")))
    val cpus = plan("cpus").asInstanceOf[Int]
    val work = Paths.get(inDir, "work")
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val result = mutable.LinkedHashMap[String, Any]("session_s" -> sessionS)
    val cal = new Calibration(cpus)
    val failures = mutable.ArrayBuffer[String]()
    def workloadOf(name: String): Workload = name match {
      case "etl_elt_dag" => new EtlDag(spark, inDir, plan)
      case "store_lifecycle" => new StoreLifecycle(spark, inDir, plan)
      case "query_mix" => new QueryMix(spark, inDir, plan)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (workload == "train") {
      // load the classes every workload uses, for the JVM's class-data
      // sharing archive; nothing is measured
      try Seq("etl_elt_dag", "store_lifecycle", "query_mix").foreach { n =>
        val w = workloadOf(n)
        w.setup(0)
        w.warmup()
      }
      finally spark.stop()
      Files.writeString(Paths.get(outFile), "{}")
      return
    }
    try {
      val w = workloadOf(workload)
      // the repeated set-up, each in wall and in CPU seconds; the last one
      // is the state the warm-up and the loop start from
      val reps = (0 until plan("setup_reps").asInstanceOf[Int]).map { i =>
        val cpu0 = appCpuNs()
        val (_, s) = timed(w.setup(i))
        (s, (appCpuNs() - cpu0) / 1e9)
      }
      result("setup_rep_s") = reps.map(_._1)
      result("setup_rep_cpu_s") = reps.map(_._2)
      val (warmErrors, warmS) = timed(w.warmup())
      result("warmup_s") = warmS
      failures ++= warmErrors.map("warmup: " + _)
      cal.warm()
      (0 until Calibration.Edge).foreach(_ => cal.sample())
      val traced = traceFlag == "1"
      if (traced) {
        // the same loop untraced and traced, half the time each: the
        // difference in throughput is the tracing overhead
        val half = secs.toDouble / 2
        val plain = loop(spark, w, new Tracer(spark.sparkContext, false), half, w.firstCycle, cal)
        val tr = new Tracer(spark.sparkContext, true)
        val recs = loop(spark, w, tr, half, w.firstCycle + plain.cycles, cal)
        val layers = mutable.LinkedHashMap[String, Double]()
        org.apache.spark.ListenerDrain(spark.sparkContext)
        tr.attribute()
        // the benchmark's own reads and replays, under a span of their own
        layers ++= tr.span("check", "layer_metrics")(w.layerMetrics(tr, recs.recs))
        org.apache.spark.ListenerDrain(spark.sparkContext)
        val unattributed = tr.attribute()
        tr.stop()
        result("ops") = recs.recs.map(opJson)
        result("untraced_ops") = plain.recs.map(opJson)
        failures ++= plain.recs.flatMap(r => r.errors.map(s"untraced ${r.kind}: " + _))
        result("leaked_rdds") = plain.leaked + recs.leaked
        layers ++= sparkMetrics(tr, recs.recs)
        layers("spark.leaked_rdds") = recs.leaked.toDouble
        layers("spark.unattributed_jobs") = unattributed.toDouble
        val plainRate = plain.recs.size / plain.recs.map(_.seconds).sum
        val tracedRate = recs.recs.size / recs.recs.map(_.seconds).sum
        layers("trace.overhead_ops_per_s") = plainRate - tracedRate
        result("layers") = layers
        result("self_s_by_layer") = tr.selfTimeByLayer
        writeSpans(tr, Paths.get(inDir, "spans.json"))
      } else {
        val recs = loop(spark, w, new Tracer(spark.sparkContext, false),
          secs.toDouble, w.firstCycle, cal)
        result("ops") = recs.recs.map(opJson)
        result("leaked_rdds") = recs.leaked
      }
      (0 until Calibration.Edge).foreach(_ => cal.sample())
      result("calib_s") = cal.samples.map(_ / 1e9).toSeq
      cal.stop()
      result("heap_mb") = oldGenAfterGc()
      result("facts") = w.facts
    } catch {
      case e: Throwable =>
        failures += s"harness: $e"
        e.printStackTrace()
    } finally {
      result("failures") = failures.toSeq
      Files.writeString(Paths.get(outFile), mapper.writeValueAsString(result))
      cal.stop()
      spark.stop()
    }
  }

  /** Runs independent warm-up tasks on up to four threads at once; returns
    * their errors. Only for untimed work: the loop itself is one client. */
  def parallel(tasks: Seq[() => Seq[String]]): Seq[String] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(4, tasks.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(tasks)(t => Future {
      try t() catch { case e: Throwable => Seq(e.toString) }
    }), Duration.Inf).flatten
    finally pool.shutdown()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  final case class LoopResult(recs: Seq[OpRec], cycles: Int, leaked: Int)

  /** The closed loop: whole cycles until `seconds` have passed, at least
    * one, or until the workload has no further cycle. Each op is timed
    * alone, after a calibration sample; its check and the cache sweep run
    * after the clock stops. */
  def loop(spark: SparkSession, w: Workload, tr: Tracer, seconds: Double,
           firstCycle: Int, cal: Calibration): LoopResult = {
    val recs = mutable.ArrayBuffer[OpRec]()
    var leaked = 0
    val t0 = System.nanoTime()
    var c = firstCycle
    var ops = w.cycle(c)
    while (ops.nonEmpty && (c == firstCycle || (System.nanoTime() - t0) / 1e9 < seconds)) {
      ops.foreach { op =>
        var spanId = 0L
        cal.sample()
        val cpu0 = appCpuNs()
        val proc0 = processCpuNs()
        val start = System.nanoTime()
        val res = scala.util.Try(tr.span(op.layer, op.kind) {
          spanId = tr.spans.lastOption.map(_.id).getOrElse(0L)
          op.run()
        })
        val end = System.nanoTime()
        val proc = processCpuNs() - proc0
        val cpu = appCpuNs() - cpu0
        val errors = res match {
          case scala.util.Success(v) =>
            try tr.span("check", op.kind)(op.check(v))
            catch { case e: Throwable => Seq(s"check threw $e") }
          case scala.util.Failure(e) => Seq(s"failed: $e")
        }
        leaked += sweep(spark)
        recs += OpRec(op.kind, op.layer, start, end, cpu, proc, errors, spanId)
      }
      c += 1
      ops = w.cycle(c)
    }
    LoopResult(recs.toSeq, c - firstCycle, leaked)
  }

  /** The between-op hygiene of `graft.Bench`: unpersist every cached RDD,
    * blocking, then count RDDs whose blocks survived. */
  def sweep(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    sc.getRDDStorageInfo.count(_.isCached)
  }

  /** Old-generation heap in use after a full GC. A first GC lets Spark's
    * context cleaner release broadcast and shuffle state of finished ops;
    * the second then measures what is still live. */
  def oldGenAfterGc(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    Thread.sleep(500)
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.filter(p => p.getName.contains("Old Gen") ||
      p.getName.contains("Tenured"))
    val bytes = if (old.nonEmpty) old.map(_.getUsage.getUsed).sum
      else java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed
    bytes / 1048576.0
  }

  def opJson(r: OpRec): Map[String, Any] =
    Map("kind" -> r.kind, "s" -> r.seconds, "cpu_s" -> r.cpuNs / 1e9,
      "proc_cpu_s" -> r.procCpuNs / 1e9, "errors" -> r.errors)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM, JIT compiler and GC threads included. */
  def processCpuNs(): Long = os.getProcessCpuTime

  // HotSpot's own account of its internal threads (JIT compiler, GC, VM
  // thread); `sun.management` is opened to the harness by the launcher
  private val internalTimes: () => java.util.Map[String, java.lang.Long] = {
    val bean = Class.forName("sun.management.ManagementFactoryHelper")
      .getMethod("getHotspotThreadMBean").invoke(null)
    val m = Class.forName("sun.management.HotspotThreadMBean")
      .getMethod("getInternalThreadCpuTimes")
    () => m.invoke(bean).asInstanceOf[java.util.Map[String, java.lang.Long]]
  }

  /** CPU time of the JVM's application threads (driver, Spark executor and
    * scheduler threads, pools the engine starts, ended ones included): the
    * process's CPU time less that of HotSpot's internal threads. Unlike
    * wall time it does not grow when other tenants of the machine take the
    * CPUs, and unlike process CPU it leaves out the JIT compiler, which
    * still compiles Spark's generated code for seconds after the warm-up
    * and was half the process CPU of a timed store op. */
  def appCpuNs(): Long = {
    import scala.jdk.CollectionConverters._
    val internal = internalTimes().values.asScala.map(_.longValue).sum
    processCpuNs() - internal
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The `spark` layer: listener counters per op of the traced loop. */
  def sparkMetrics(tr: Tracer, recs: Seq[OpRec]): Map[String, Double] = {
    val n = recs.size.toDouble
    val roots = recs.map(_.span).toSet
    val jobs = tr.jobs.filter(j => j.span > 0 && roots.exists(tr.under(j.span, _)))
    val st = tr.stages.filter(s => s.jobSpan > 0 && roots.exists(tr.under(s.jobSpan, _)))
    val opSpans = tr.spans.filter(s => roots.contains(s.id))
    val skews = st.filter(_.tasks >= 2).map(_.taskSkew)
    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> st.size / n,
      "spark.tasks" -> st.map(_.tasks).sum / n,
      "spark.executor_run_s" -> st.map(_.runNs).sum / 1e9 / n,
      "spark.executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> st.map(_.gcNs).sum / 1e9 / n,
      "spark.driver_gap_s" -> opSpans.map(tr.driverGapNs).sum / 1e9 / n,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum / n,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleRead).sum / n,
      "spark.input_bytes" -> st.map(_.input).sum / n,
      "spark.output_bytes" -> st.map(_.output).sum / n,
      "spark.spill_bytes" -> st.map(_.spill).sum / n,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else median(skews.toSeq)))
  }

  def writeSpans(tr: Tracer, path: Path): Unit = {
    val jobsBySpan = tr.jobs.groupBy(_.span)
    val out = tr.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "jobs" -> jobsBySpan.getOrElse(s.id, Nil).map(j =>
          Map("job" -> j.id, "start_ns" -> j.start, "end_ns" -> j.end)))
    }
    Files.writeString(path, mapper.writeValueAsString(Map(
      "spans" -> out, "self_s_by_layer" -> tr.selfTimeByLayer)))
  }

  /** Size in bytes of every regular file under `dir`. */
  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Data files (`.parquet`) under `dir`, with their sizes. */
  def dataFiles(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
}

/** The machine's speed during a run, sampled between ops: the CPU time a
  * fixed kernel (copying a fixed array of 200,000 longs into a buffer and
  * sorting it, three times) takes on `threads` threads at once, as many as
  * the Spark session has. On a machine shared with other tenants the CPU
  * time of the same work moves with their load (caches, memory bandwidth
  * and sibling hyperthreads are shared); the benchmark scales its CPU times
  * by the inverse of the run's median sample, so that such moves cancel
  * and changes to the program remain. */
final class Calibration(threads: Int) {
  val samples = mutable.ArrayBuffer[Long]()
  private var base = {
    val r = new java.util.Random(1)
    Array.fill(200000)(r.nextLong())
  }
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads,
    (r: Runnable) => {
      val t = new Thread(r, "perfbench-calibration")
      t.setDaemon(true)
      t
    })
  private val bean = java.lang.management.ManagementFactory.getThreadMXBean

  // each thread sorts in a buffer of its own, allocated once: the kernel
  // allocates nothing, so the heap's state does not move its time
  private val buffer = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](base.length))

  private def kernel(): Long = {
    val a = buffer.get()
    val c0 = bean.getCurrentThreadCpuTime
    var k = 0
    while (k < 3) {
      System.arraycopy(base, 0, a, 0, a.length)
      java.util.Arrays.sort(a)
      k += 1
    }
    bean.getCurrentThreadCpuTime - c0
  }

  /** Compiles the kernel before the first sample that counts. */
  def warm(): Unit = {
    (0 until 5).foreach(_ => sample())
    samples.clear()
  }

  /** Runs the kernel once on every thread; records the CPU time summed. */
  def sample(): Unit = {
    val fs = (0 until threads).map(_ =>
      pool.submit(new java.util.concurrent.Callable[Long] { def call(): Long = kernel() }))
    samples += fs.map(_.get()).sum
  }

  /** Ends the threads and lets the kernel's arrays be collected, so that
    * they are not in the heap the benchmark reports. */
  def stop(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    base = null
  }
}

object Calibration {
  /** Samples taken before and after the loop, beside one per op, so that
    * a workload with few ops still has a steady median. */
  val Edge = 5
}
