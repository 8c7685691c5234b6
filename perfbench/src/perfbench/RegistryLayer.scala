package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

import graft.SparkEntry

import Main._

/** The registry layer (`SparkEntry.queries` over `ops/`), measured in
  * every traced run: one sequential pass over a fixed query list at
  * sf0.001, each query consumed through `graft.Bench`'s
  * `bit_xor(xxhash64(struct(*)))` checksum and timed from a cold plan
  * cache. Each result is also written as parquet, with its oracle SQL
  * beside it, for the DuckDB comparison `perfbench/oracle.py` makes
  * after the run. */
object RegistryLayer {
  /** The nine queries with a `LoopKernels` lane. */
  val Loops: Seq[String] = Seq("graph_pagerank_converged", "graph_bfs_converged",
    "graph_kcore", "graph_lpa_converged", "graph_scc_pivot", "graph_scc_full",
    "graph_condensation_dag", "graph_topo_layers", "dedup_cluster_converged")
  /** Every `EtlQueries` entry. */
  def etlOps: Seq[String] = graft.ops.EtlQueries.queries.keys.toSeq.sorted
  def names: Seq[String] = Loops ++ etlOps

  private def checksum(df: DataFrame): Long = {
    val r = df.agg(bit_xor(xxhash64(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))))
      .collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  private def writeOracle(dump: Path): Unit = {
    val oracle = SparkEntry.oracleSql
    val missing = names.filterNot(oracle.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val body = names.map(q => s"  ${str(q)}: ${str(oracle(q))}").mkString("{\n", ",\n", "\n}\n")
    Files.write(dump.resolve("oracle_sql.json"), body.getBytes("UTF-8"))
  }

  /** Runs the pass; returns its metrics and the number of queries that
    * threw. Results that disagree with the oracle are counted after the
    * run, by `perfbench/run.py`. */
  def measure(spark: SparkSession, tr: Tracer, sf: String, dump: Path): (Seq[Metric], Int) = {
    Files.createDirectories(dump)
    writeOracle(dump)
    val failed = names.count { q =>
      attempt(q) {
        // building the frame runs the iterative queries' loops, so the
        // span covers it as well as the checksum
        val df = tr.span(s"registry.$q") {
          val df = SparkEntry.queries(q)(spark, sf).persist()
          checksum(df)
          df
        }
        try df.write.mode("overwrite").parquet(dump.resolve(q).toString)
        finally df.unpersist()
      }.isEmpty
    }
    tr.drain()
    val spans = names.map(q => q -> tr.named(s"registry.$q").lastOption)
    val secs = spans.map { case (q, s) => q -> s.map(_.seconds).getOrElse(Double.NaN) }.toMap
    val stats = new SpanStats
    spans.flatMap(_._2).foreach(s => stats += tr.stats(s))
    val ms = names.map(q => Metric(s"registry.$q.s", secs(q), "s")) ++ Seq(
      Metric("registry.loops.s", Loops.map(secs).sum, "s"),
      Metric("registry.etl_ops.s", etlOps.map(secs).sum, "s"),
      Metric("registry.jobs", stats.jobs, "count"),
      Metric("registry.shuffle_bytes", stats.shuffleRead + stats.shuffleWrite, "bytes"))
    (ms, failed)
  }
}
