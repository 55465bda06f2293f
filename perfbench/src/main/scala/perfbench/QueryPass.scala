package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The gate-query workload over seeded star-schema tables. */
final class QueryPass(spark: SparkSession, seed: Long, work: String) {
  val dir = s"$work/data/query_pass/seed=$seed"

  /** Two queries per name-prefix group (those the recent plan rewrites
    * touched where there are any). A full 74-query pass costs ~95 s cold
    * plus ~37 s warm on 4 cores at sf0.001, more than one run may take. */
  val Slice: Seq[String] = Seq("q_window_firsthit", "q_topic_count", "kg_triples",
    "kg_graph_by_page", "dedup_simhash_near", "dedup_minhash_lsh", "sim_kmeans",
    "sim_cosine_topk", "text_quality_filter", "text_tokens", "mm_features",
    "mm_byte_meta", "events_sessionize", "events_asof_join")

  def ensureTables(): Unit =
    if (!Files.exists(s"$dir/_done")) {
      Gen.queryTables(seed).foreach { case (name, schema, rows) =>
        Gen.write(spark, rows, schema, s"$dir/$name.parquet", 1)
      }
      Files.write(s"$dir/_done", "")
    }

  private val queries = graft.SparkEntry.queries

  /** Materialise one query: through a no-op sink (every column computed),
    * or as parquet under `out/<name>` for the oracle check. */
  def run(name: String, out: Option[String] = None): Double = {
    val t0 = System.nanoTime()
    val w = queries(name)(spark, dir).write
    out match {
      case Some(o) => w.parquet(s"$o/$name")
      case None => w.format("noop").mode("overwrite").save()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** `out/oracle.json`: the input tables and each query's DuckDB oracle SQL,
    * beside the results `run` wrote there. */
  def writeOracle(names: Seq[String], out: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val oracle = mapper.createObjectNode()
    oracle.put("tables", new java.io.File(dir).getAbsolutePath)
    val sql = oracle.putObject("queries")
    names.foreach(n => sql.put(n, graft.SparkEntry.oracleSql(n)))
    Files.write(s"$out/oracle.json", mapper.writeValueAsString(oracle))
  }

  /** One traced pass: per-group wall time, jobs, shuffle, and the
    * exchanges and scans of each executed (AQE-final) plan. */
  def traced(names: Seq[String], probe: TaskProbe, spans: Spans): Map[String, Double] = {
    val plans = mutable.ArrayBuffer[(String, SparkPlan)]()
    @volatile var current = ""
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += ((current, qe.executedPlan)) }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val wall = mutable.Map[String, Double]().withDefaultValue(0.0)
    try names.foreach { n =>
      current = n
      val (_, secs) = spans(spark, s"query.$n") { run(n) }
      TaskProbe.drain(spark)
      wall(Layers.groupOf(n)) += secs
    } finally {
      TaskProbe.drain(spark)
      spark.listenerManager.unregister(listener)
    }
    val helper = new AdaptiveSparkPlanHelper {}
    val out = mutable.LinkedHashMap[String, Double]()
    for ((g, _) <- Layers.QueryGroups) {
      val qs = names.filter(n => Layers.groupOf(n) == g).toSet
      val ps = plans.filter(p => qs(p._1)).map(_._2)
      out(s"query.$g.wall_s") = wall(g)
      out(s"query.$g.jobs") = probe.jobs(j => qs(j.stripPrefix("query.")))
      out(s"query.$g.exchanges") = ps.map(p =>
        helper.collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size).sum
      out(s"query.$g.scans") = ps.map(p => helper.collectWithSubqueries(p) {
        case s: FileSourceScanExec => s; case s: BatchScanExec => s }.size).sum
      out(s"query.$g.shuffle_mb") = probe.tasksOf(j => qs(j.stripPrefix("query.")))
        .map(_.shuffleBytes).sum / 1048576.0
    }
    out.toMap
  }
}
