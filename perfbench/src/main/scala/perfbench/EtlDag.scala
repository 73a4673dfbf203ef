package perfbench

import java.nio.file.Paths
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.app.EtlEltWine
import graft.flow.Pipeline.{RunConfig, RunResult, Skipped, Succeeded}
import graft.ml.WinePipelines
import graft.ops.{ChartOps, KdeOps, WineOps}
import graft.sources.TableStore

/** `etl_elt_dag`: repeated `EtlEltWine.runAll` over the generated wine CSV.
  * One cycle is two runs: a report day (Sunday: no ML, downstream reads
  * the keyed store) into a fresh `TableStore` root, then an ML day
  * (Monday: `ml_train` + `print_report`, downstream reads the raw copy)
  * rerun into the same root, where the keyed append must add no row. */
final class EtlDag(spark: SparkSession, inDir: String, plan: Map[String, Any])
    extends Workload {
  private val csv = s"$inDir/wine.csv"
  /** Facts the generator computed from the CSV's rows. */
  private val expect = plan("wine").asInstanceOf[Map[String, Any]]
  private val hq = expect("high_quality_rows").asInstanceOf[Int].toLong
  private val eltRows = expect("elt_rows").asInstanceOf[Int].toLong
  private val report = expect("report").asInstanceOf[Seq[Map[String, Any]]]
  /** RunConfig seed of every run: picks the ML candidate subset. */
  private val configSeed = plan("ml_config_seed").asInstanceOf[Int].toLong
  private val reportDay = LocalDate.of(2024, 1, 7)   // a Sunday
  private val mlDay = LocalDate.of(2024, 1, 8)       // a Monday
  private val roots = Paths.get(inDir, "work", "stores")
  private var rootN = 0
  private var store: TableStore = _
  /** (run, skipped, failed) stage counts of every checked DAG run, in order. */
  private val outcomeCounts = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()

  private def freshStore(): TableStore = {
    if (store != null) Main.deleteTree(Paths.get(store.path("")))
    rootN += 1
    store = new TableStore(spark, roots.resolve(s"r$rootN").toString)
    store
  }

  private def config(day: LocalDate) = RunConfig(clock = () => day, seed = configSeed)

  /** One DAG run: a fresh or reused store, on an ML or report day. */
  private final class DagRun(ml: Boolean, fresh: Boolean) extends Op {
    val kind: String = (if (ml) "ml" else "report") + (if (fresh) "_fresh" else "_rerun")
    val layer = "app"
    private var s: TableStore = _
    def run(): Any = {
      s = if (fresh || store == null) freshStore() else store
      new EtlEltWine(spark, s, csv).runAll(config(if (ml) mlDay else reportDay))
    }
    override def check(result: Any): Seq[String] = {
      val (etl, down) = result.asInstanceOf[(RunResult, Option[RunResult])]
      val errs = Seq.newBuilder[String]
      val all = etl.outcomes.values ++ down.toSeq.flatMap(_.outcomes.values)
      outcomeCounts += ((all.count(_.isInstanceOf[Succeeded]), all.count(_ == Skipped),
        all.count(o => !o.isInstanceOf[Succeeded] && o != Skipped)))
      def expectOutcomes(r: RunResult, ran: Set[String], skipped: Set[String]): Unit = {
        r.outcomes.foreach { case (name, o) =>
          val want = if (skipped(name)) "Skipped" else "Succeeded"
          val got = o match { case Succeeded(_) => "Succeeded"; case Skipped => "Skipped"; case f => f.toString }
          if (want != got) errs += s"$kind: stage $name is $got, expected $want"
        }
        (ran ++ skipped).diff(r.outcomes.keySet).foreach(n => errs += s"$kind: stage $n missing")
      }
      val etlStages = Set("create_wine_table", "extract", "transform", "load_duckdb",
        "branch", "print_report", "load_postgres", "transform_in_store")
      expectOutcomes(etl, etlStages, if (ml) Set() else Set("ml_train"))
      down match {
        case None => errs += s"$kind: downstream pipeline did not fire"
        case Some(d) => expectOutcomes(d, Set("branch", "chart_kde"),
          Set(if (ml) "extract_duckdb" else "extract_pg"))
      }
      val res = errs.result()
      if (res.nonEmpty) return res
      val more = Seq.newBuilder[String]
      val loaded = etl.value[Map[String, Long]]("load_duckdb")("row_count")
      if (loaded != hq) more += s"$kind: load_duckdb batch has $loaded rows, expected $hq"
      val elt = etl.value[Long]("transform_in_store")
      if (elt != eltRows) more += s"$kind: ELT filter kept $elt rows, expected $eltRows"
      val stored = s.read("wine_data").count()
      if (stored != hq)
        more += s"$kind: wine_data holds $stored rows after the run, expected $hq" +
          (if (!fresh) " (the rerun must append 0 rows)" else "")
      more ++= checkReport(WineOps.flagshipReport(s.read("wine_data")))
      if (ml) {
        val chosen = WinePipelines.chooseCandidates(WinePipelines.modelGrid, configSeed)
        val n = s.read("ml_metrics").count()
        if (n != chosen.size) more += s"$kind: ml_metrics has $n rows, expected ${chosen.size}"
      }
      more.result()
    }
  }

  private def checkReport(df: DataFrame): Seq[String] = {
    val got = df.collect().map(r => (0 until r.length).map(r.get)).toSeq
    if (got.size != report.size)
      return Seq(s"flagship report has ${got.size} classes, expected ${report.size}")
    got.zip(report).flatMap { case (row, want) =>
      val fields = Seq("quality", "mean_v", "median_v", "std_v", "min_v", "max_v", "n")
      fields.zip(row).flatMap { case (f, g) =>
        val w = want(f)
        val same = (g, w) match {
          case (null, null) => true
          case (a: Number, b: Number) => math.abs(a.doubleValue - b.doubleValue) <= 1e-6
          case _ => false
        }
        if (same) None else Some(s"flagship report quality ${want("quality")}: $f is $g, expected $w")
      }
    }
  }

  def setup(rep: Int): Unit = {
    // what a deployment does before its first scheduled run: create the
    // store and its keyed table, and parse the source file once
    val s = freshStore()
    s.createIfNotExists("wine_data", new EtlEltWine(spark, s, csv).wineTableSchema)
    WineOps.extract(spark, csv).count()
  }

  /** One untimed ML-day run into a fresh store: it runs every stage a
    * report day runs, plus the ML branch. */
  def warmup(): Seq[String] = {
    val op = new DagRun(ml = true, fresh = true)
    op.check(op.run())
  }

  def cycle(c: Int): Seq[Op] =
    Seq(new DagRun(ml = false, fresh = true), new DagRun(ml = true, fresh = false))

  /** Per-layer replay: each stage's public op called with the DAG's
    * arguments on a store of its own, timed alone (median of 3). */
  def layerMetrics(tr: Tracer, recs: Seq[OpRec]): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    // flow: stage outcomes and driver gap of the traced DAG runs
    val counts = outcomeCounts.takeRight(recs.size)
    val n = recs.size.toDouble
    out("flow.stages_run") = counts.map(_._1).sum / n
    out("flow.stages_skipped") = counts.map(_._2).sum / n
    out("flow.stages_failed") = counts.map(_._3).sum / n
    val reportSpans = recs.filter(_.kind.startsWith("report")).map(_.span).toSet
    out("flow.driver_gap_s") = Main.median(tr.spans.filter(s => reportSpans(s.id))
      .map(s => tr.driverGapNs(s) / 1e9).toSeq)

    val replay = new TableStore(spark, roots.resolve("replay").toString)
    def med3(layer: String, name: String)(body: => Any): Double =
      Main.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        tr.span(layer, name)(body)
        val s = (System.nanoTime() - t0) / 1e9
        Main.sweep(spark)
        s
      })
    val grid = (16 to 29).map(_ * 0.5)
    out("ops.wine_extract_s") = med3("ops", "wine_extract")(WineOps.extract(spark, csv).count())
    out("ops.wine_transform_s") = med3("ops", "wine_transform")(
      WineOps.transform(7)(WineOps.extract(spark, csv)).count())
    val batch = WineOps.transform(7)(WineOps.extract(spark, csv))
    val wineSchema = new EtlEltWine(spark, replay, csv).wineTableSchema
    val typed = batch.select(wineSchema.fieldNames.map(col).toIndexedSeq: _*)
    // tablestore: the DAG's keyed append (fresh, then idempotent rerun),
    // raw overwrite and re-read, with files and bytes written
    var appended = 0L
    val before = Main.dataFiles(Paths.get(replay.path("")))
    out("tablestore.append_keyed_s") = Main.median((1 to 3).map { i =>
      replay.createIfNotExists(s"wine_data_$i", wineSchema)
      val t0 = System.nanoTime()
      appended += tr.span("tablestore", "append_keyed")(replay.appendKeyed(s"wine_data_$i", "id", typed))
      val fresh = (System.nanoTime() - t0) / 1e9
      appended += tr.span("tablestore", "append_keyed")(replay.appendKeyed(s"wine_data_$i", "id", typed))
      fresh
    })
    out("tablestore.rows_appended") = appended / 3.0
    out("tablestore.overwrite_s") = med3("tablestore", "overwrite")(
      replay.overwrite("wine_raw", WineOps.extract(spark, csv)))
    val after = Main.dataFiles(Paths.get(replay.path("")))
    val written = after.filter { case (p, _) => !before.contains(p) }
    out("tablestore.files_written") = written.size / 9.0
    out("tablestore.bytes_written") = written.values.sum / 9.0
    out("tablestore.read_s") = med3("tablestore", "read")(replay.read("wine_data_1").count())
    // ops: report, ELT transform, KDE and chart on the replayed tables
    out("ops.flagship_report_s") = med3("ops", "flagship_report")(
      WineOps.flagshipReport(replay.read("wine_data_1")).collect())
    out("ops.elt_transform_s") = med3("ops", "elt_transform")(
      WineOps.eltTransform(replay.read("wine_raw")).count())
    out("ops.kde_by_class_s") = med3("ops", "kde_by_class")(
      replay.overwrite("kde_chart", KdeOps.kdeByClass("quality", "alcohol", grid)(
        replay.read("wine_data_1").select("quality", "alcohol"))))
    out("ops.render_kde_png_s") = med3("ops", "render_kde_png")(
      ChartOps.renderKdePng(replay.read("kde_chart"), "quality"))
    // ml: the candidate subset of the DAG's seed, trained once
    val chosen = WinePipelines.chooseCandidates(WinePipelines.modelGrid, configSeed)
    val t0 = System.nanoTime()
    val mlSpan = tr.span("ml", "train_evaluate") {
      WinePipelines.trainAndEvaluate(replay.read("wine_data_1"), chosen).collect()
      tr.spans.last.id
    }
    out("ml.train_evaluate_s") = (System.nanoTime() - t0) / 1e9
    org.apache.spark.ListenerDrain(spark.sparkContext)
    out("ml.candidates") = chosen.size.toDouble
    out("ml.jobs") = tr.jobsUnder(mlSpan).size.toDouble
    out("ml.input_bytes") = tr.stagesUnder(mlSpan).map(_.input).sum.toDouble
    Main.deleteTree(Paths.get(replay.path("")))
    out.toMap
  }

  override def facts: Map[String, Any] = Map(
    "wine_rows" -> expect("rows"), "high_quality_rows" -> hq,
    "ml_candidates" -> WinePipelines.chooseCandidates(
      WinePipelines.modelGrid, configSeed).map(_.name))
}
