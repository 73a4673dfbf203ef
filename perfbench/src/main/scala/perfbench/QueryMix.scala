package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.{Env, SparkEntry}

/** `query_mix`: a seeded sample of the registered driver queries that
  * write no store, each forced with `count()` as `graft.Bench` does. The
  * untimed warm-up runs every sampled query once and writes its output as
  * parquet, with the oracle SQL beside it, for the DuckDB comparison the
  * runner makes after the loop. */
final class QueryMix(spark: SparkSession, inDir: String, plan: Map[String, Any])
    extends Workload {
  private val cfg = plan("query").asInstanceOf[Map[String, Any]]
  private val sample = cfg("sample").asInstanceOf[Seq[String]]
  private val family = cfg("family").asInstanceOf[Map[String, String]]
  private val tables = s"$inDir/tables"
  private val outDir = Paths.get(inDir, "query_out")
  private lazy val registry = SparkEntry.queries
  private val warmRows = scala.collection.concurrent.TrieMap[String, Long]()
  private val warmS = scala.collection.concurrent.TrieMap[String, Double]()

  def setup(rep: Int): Unit = {
    // the registry and a first read of every table the queries scan
    val env = Env(spark, tables)
    Seq(env.region, env.nation, env.customer, env.supplier, env.part, env.orders,
      env.lineitem, env.events, env.table("documents"), env.table("embeddings"))
      .foreach(_.count())
    require(sample.forall(registry.contains), "sample names an unknown query")
  }

  /** Every sampled query once, four at a time, its output written for the
    * oracle comparison. */
  def warmup(): Seq[String] = {
    Files.createDirectories(outDir)
    val errors = Main.parallel(sample.distinct.map { name => () =>
      val t0 = System.nanoTime()
      try {
        val out = outDir.resolve(name).toString
        registry(name)(spark, tables).coalesce(1).write.mode("overwrite").parquet(out)
        warmRows(name) = spark.read.parquet(out).count()
        Nil
      } catch { case e: Throwable => Seq(s"$name: $e") }
      finally warmS(name) = (System.nanoTime() - t0) / 1e9
    })
    Main.sweep(spark)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => sample.contains(k) }
    Files.writeString(outDir.resolve("oracle_sql.json"), Main.mapper.writeValueAsString(oracle))
    errors
  }

  def cycle(c: Int): Seq[Op] = sample.map(name => new Op {
    val kind: String = name
    val layer = "queries"
    def run(): Any = registry(name)(spark, tables).count()
    override def check(result: Any): Seq[String] = {
      val n = result.asInstanceOf[Long]
      val want = warmRows.getOrElse(name, -1L)
      if (n != want) Seq(s"$name counted $n rows, its checked output has $want")
      else if (n == 0 && !SparkEntry.oracleSql.contains(name)) Seq(s"$name returned no rows")
      else Nil
    }
  })

  def layerMetrics(tr: Tracer, recs: Seq[OpRec]): Map[String, Double] =
    recs.groupBy(r => family(r.kind)).map { case (f, rs) =>
      s"queries.p50_s.$f" -> Main.median(rs.map(_.seconds))
    }

  override def facts: Map[String, Any] = Map("sample" -> sample, "warmup_s" -> warmS)
}
