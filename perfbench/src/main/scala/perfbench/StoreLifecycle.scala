package perfbench

import java.nio.file.{Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.CdcOps
import graft.sources.{SnapshotSql, SnapshotStore}

/** `store_lifecycle`: the generated op sequence on one `SnapshotStore`
  * table `li` (lineitem plus a unique key `lk`, keyed with
  * `commitOverwriteKeyed` into 16 zoned files, bloom on `l_partkey`).
  * Writes and reads alternate; every write is followed, untimed, by a
  * row count and checksum compared with the generator's reference model,
  * and every read's own result is compared with the model. */
final class StoreLifecycle(spark: SparkSession, inDir: String, plan: Map[String, Any])
    extends Workload {
  private val cfg = plan("store").asInstanceOf[Map[String, Any]]
  private val ops = cfg("ops").asInstanceOf[Seq[Map[String, Any]]]
  private val cycleLen = cfg("cycle_len").asInstanceOf[Int]
  private val T = "li"
  private val root = Paths.get(inDir, "work", "snapshot")
  private var rootN = 0
  private var store: SnapshotStore = _
  private def tableDir: Path = root.resolve(s"s$rootN").resolve(T)
  private def dataDir: Path = tableDir.resolve("data")
  private val payload = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  // per-op observations the untimed checks record for the traced metrics
  private val written = mutable.ArrayBuffer[(String, Int, Long)]()     // kind, files, bytes
  private val reused = mutable.ArrayBuffer[Int]()
  private val scanned = mutable.ArrayBuffer[(Int, Int)]()              // files read, files in version
  private val reclaimed = mutable.ArrayBuffer[Long]()
  private val changedRows = mutable.ArrayBuffer[Long]()
  private val sqlTimes = mutable.ArrayBuffer[(Double, Double)]()       // plan, exec
  private val compactTimes = mutable.ArrayBuffer[Double]()
  private var files = Map.empty[String, Long]

  private def num(x: Any): Long = x.asInstanceOf[Number].longValue

  private val checksum: org.apache.spark.sql.Column =
    sum(expr("(lk * 2654435761 + CAST(l_quantity AS BIGINT) * 40503 + " +
      "l_partkey * 97 + l_suppkey * 13 + l_linenumber) % 1000000007"))

  private def state(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), checksum).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def expectState(what: String, got: (Long, Long), want: Map[String, Any]): Seq[String] = {
    val w = (num(want("rows")), num(want("checksum")))
    if (got == w) Nil else Seq(s"$what: (rows, checksum) is $got, model has $w")
  }

  private def build(s: SnapshotStore, name: String, df: DataFrame): Unit = {
    s.declareBloom(name, "l_partkey")
    s.commitOverwriteKeyed(name, "lk", df, numFiles = 16)
  }

  def setup(rep: Int): Unit = {
    if (store != null) Main.deleteTree(root.resolve(s"s$rootN"))
    rootN += 1
    store = new SnapshotStore(spark, root.resolve(s"s$rootN").toString)
    build(store, T, spark.read.parquet(s"$inDir/base.parquet"))
    require(store.currentVersion(T) == 1L, s"initial build made v${store.currentVersion(T)}")
    files = Main.dataFiles(dataDir)
  }

  /** The first cycle of the sequence, checked but untimed; the loop goes
    * on from the second. */
  def warmup(): Seq[String] = cycle(0).flatMap { op =>
    val errs = op.check(op.run())
    Main.sweep(spark)
    errs
  }

  override def firstCycle: Int = 1

  def cycle(c: Int): Seq[Op] =
    if ((c + 1) * cycleLen > ops.size) Nil
    else ops.slice(c * cycleLen, (c + 1) * cycleLen).map(opFor)

  private def opFor(o: Map[String, Any]): Op = {
    val k = o("kind").asInstanceOf[String]
    val want = o.get("expect").map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
    def v = num(o("version"))
    k match {
      case "append" | "delete_where" | "update_where" | "merge_cow" | "delete_keys" |
           "maintenance" => new Write(k, o, want)
      case "current" => new Read(k, want, store.readCurrent(T))
      case "time_travel" => new Read(k, want, store.readVersion(T, v))
      case "predicate" => new Count(k, want("rows"),
        store.readVersionWherePredicate(T, v, o("predicate").asInstanceOf[String]), v)
      case "point" => new Count(k, want("rows"), store.readVersionPoint(T, v,
        o("column").asInstanceOf[String], o("values").asInstanceOf[Seq[Any]].map(num)), v)
      case "changes" => new Changes(num(o("from")), num(o("to")), want)
      case "sql" => new Sql(o("sql").asInstanceOf[String], want)
    }
  }

  /** A commit; its check compares the new current version with the model
    * and records the files it wrote. */
  private final class Write(val kind: String, o: Map[String, Any], want: Map[String, Any])
      extends Op {
    val layer = "snapshot"
    private var reclaim = 0L
    def run(): Any = kind match {
      case "append" => store.commitAppend(T, spark.read.parquet(o("path").toString))
      case "delete_where" =>
        val r = store.commitDeleteWhere(T, o("predicate").toString)
        reused += r._2; r._1
      case "update_where" =>
        val r = store.commitUpdateWhere(T, o("predicate").toString,
          o("set").asInstanceOf[Map[String, String]])
        reused += r._2; r._1
      case "merge_cow" =>
        val del = o("delete_keys").asInstanceOf[Seq[Any]].map(num)
        val upd = o("update_keys").asInstanceOf[Seq[Any]].map(num)
        val old = store.readCurrent(T).filter(col("lk").isin(del ++ upd: _*))
        val next = old.filter(col("lk").isin(upd: _*))
          .withColumn("l_quantity", expr(o("update_set").toString))
          .unionByName(spark.read.parquet(o("insert_path").toString))
        val r = store.commitMergeCow(T, "lk", CdcOps.snapshotDiff(old, next, "lk", payload)
          .filter(col("change_type") =!= "unchanged"))
        reused += r._2; r._1
      case "delete_keys" =>
        import spark.implicits._
        store.commitDeleteKeys(T, o("keys").asInstanceOf[Seq[Any]].map(num).toDF("lk"))
      case "maintenance" =>
        val t0 = System.nanoTime()
        val v = store.compactKeyed(T, "lk", 16)
        compactTimes += (System.nanoTime() - t0) / 1e9
        val before = Main.treeBytes(tableDir)
        store.expireVersions(T, num(o("keep_from")))
        store.vacuum(T)
        reclaim = before - Main.treeBytes(tableDir)
        v
    }
    override def check(result: Any): Seq[String] = {
      val now = Main.dataFiles(dataDir)
      val fresh = now.filter { case (p, _) => !files.contains(p) }
      files = now
      written += ((kind, fresh.size, fresh.values.sum))
      changedRows += num(o("changed"))
      if (kind == "maintenance") reclaimed += reclaim
      val got = num(result)
      if (got != num(o("version"))) Seq(s"$kind committed v$got, model expects v${o("version")}")
      else expectState(s"$kind v$got", state(store.readCurrent(T)), want)
    }
  }

  /** A full read of one version, checked by count and checksum. */
  private final class Read(val kind: String, want: Map[String, Any], df: => DataFrame)
      extends Op {
    val layer = "snapshot"
    def run(): Any = state(df)
    override def check(result: Any): Seq[String] =
      expectState(kind, result.asInstanceOf[(Long, Long)], want)
  }

  /** A pruned read, checked by its row count; records files opened. */
  private final class Count(val kind: String, rows: Any, df: => DataFrame, v: Long)
      extends Op {
    val layer = "snapshot"
    private var read: DataFrame = _
    def run(): Any = { read = df; read.count() }
    override def check(result: Any): Seq[String] = {
      scanned += ((read.inputFiles.length, store.readVersion(T, v).inputFiles.length))
      if (num(result) == num(rows)) Nil
      else Seq(s"$kind read $result rows, model has $rows")
    }
  }

  private final class Changes(from: Long, to: Long, want: Map[String, Any]) extends Op {
    val kind = "changes"
    val layer = "snapshot"
    def run(): Any = store.changesBetween(T, from, to).groupBy("_change").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    override def check(result: Any): Seq[String] = {
      val got = result.asInstanceOf[Map[String, Long]]
      val ins = got.getOrElse("insert", 0L)
      val del = got.getOrElse("delete", 0L)
      val w = (num(want("inserted")), num(want("deleted")))
      if ((ins, del) == w) Nil
      else Seq(s"changes v$from..v$to: (inserted, deleted) is ($ins, $del), model has $w")
    }
  }

  /** A `SnapshotSql` statement: planned (until `sql` returns) and executed. */
  private final class Sql(text: String, want: Map[String, Any]) extends Op {
    val kind = "sql"
    val layer = "snapshotsql"
    def run(): Any = {
      val t0 = System.nanoTime()
      val df = SnapshotSql.sql(store, text)
      val t1 = System.nanoTime()
      val r = df.collect().head
      sqlTimes += (((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      r
    }
    override def check(result: Any): Seq[String] = {
      val r = result.asInstanceOf[Row]
      val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      val w = (num(want("n")), num(want("q")))
      if (got == w) Nil else Seq(s"sql '$text': (n, q) is $got, model has $w")
    }
  }

  def layerMetrics(tr: Tracer, recs: Seq[OpRec]): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val n = recs.size
    def med(kind: String) = Main.median(recs.filter(_.kind == kind).map(_.seconds))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    // the traced loop's share of the observations: the last `n` ops
    val writes = recs.filter(_.layer == "snapshot").filter(r =>
      Set("append", "delete_where", "update_where", "merge_cow", "delete_keys",
        "maintenance")(r.kind))
    Seq("append", "delete_where", "update_where", "merge_cow", "delete_keys")
      .foreach(k => out(s"snapshot.commit_s.$k") = med(k))
    out("snapshot.commit_s.compact") = Main.median(compactTimes.takeRight(
      writes.count(_.kind == "maintenance")).toSeq)
    val spans = tr.spans.filter(s => writes.exists(_.span == s.id))
    out("snapshot.jobs_per_commit") = mean(spans.map(s => tr.jobsUnder(s.id).size.toDouble).toSeq)
    out("snapshot.driver_gap_per_commit_s") = mean(spans.map(s => tr.driverGapNs(s) / 1e9).toSeq)
    val w = written.takeRight(writes.size)
    out("snapshot.files_written_per_commit") = mean(w.map(_._2.toDouble).toSeq)
    out("snapshot.bytes_written_per_commit") = mean(w.map(_._3.toDouble).toSeq)
    val (liveRows, liveBytes) = (state(store.readCurrent(T))._1,
      store.readCurrent(T).inputFiles.map(p => java.nio.file.Files.size(
        Paths.get(new java.net.URI(p)))).sum)
    val changed = changedRows.takeRight(writes.size).sum
    out("snapshot.write_amp") =
      if (changed == 0) 0.0 else w.map(_._3).sum / (changed * liveBytes.toDouble / liveRows)
    val ru = reused.takeRight(writes.count(r =>
      Set("delete_where", "update_where", "merge_cow")(r.kind)))
    out("snapshot.files_reused_per_commit") = mean(ru.map(_.toDouble).toSeq)
    Seq("current", "time_travel", "predicate", "point", "changes")
      .foreach(k => out(s"snapshot.read_s.$k") = med(k))
    val sc = scanned.takeRight(recs.count(r => r.kind == "predicate" || r.kind == "point"))
    out("snapshot.files_scanned_per_read") = mean(sc.map(_._1.toDouble).toSeq)
    out("snapshot.prune_ratio") =
      if (sc.isEmpty) 0.0 else 1.0 - sc.map(_._1).sum.toDouble / sc.map(_._2).sum
    out("snapshot.vacuum_bytes_reclaimed") = mean(reclaimed.takeRight(
      writes.count(_.kind == "maintenance")).map(_.toDouble).toSeq)
    out("snapshot.space_amp") = spaceAmp(liveBytes)
    val sq = sqlTimes.takeRight(recs.count(_.kind == "sql"))
    out("snapshotsql.plan_s") = Main.median(sq.map(_._1).toSeq)
    out("snapshotsql.exec_s") = Main.median(sq.map(_._2).toSeq)
    out.toMap
  }

  private def spaceAmp(liveBytes: Long): Double =
    Main.treeBytes(tableDir).toDouble / liveBytes

  override def facts: Map[String, Any] = {
    val live = store.readCurrent(T).inputFiles.map(p =>
      java.nio.file.Files.size(Paths.get(new java.net.URI(p)))).sum
    Map("space_amp" -> spaceAmp(live), "live_bytes" -> live,
      "store_bytes" -> Main.treeBytes(tableDir),
      "version" -> store.currentVersion(T))
  }
}
