package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.sources.Tables

/** Read-only passes over a fixed list of `SparkEntry` queries: the
  * iterative many-job graph and dedup queries plus single-job relational
  * ones. No commit path and no tracker; the control for changes to the
  * engine and the table format. The first pass's results are compared
  * with `SparkEntry.oracleSql` evaluated by DuckDB, later passes' with
  * the first's. */
final class QueryMix extends Workload {
  val name = "query_mix"

  val Queries: Seq[String] = Seq("p19_triangle_count", "d07_dup_clusters",
    "q02_join_revenue_by_nation", "q05_window_row_number", "q08_union_distinct",
    "q47_full_outer_join")

  private val reference = mutable.Map.empty[String, Seq[Row]]

  /** The program's set-up: a scan of every input table through its
    * source layer (`Tables.load`), as the queries read them. */
  def prepare(ctx: Ctx): Unit = {
    reference.clear()
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem", "documents").foreach(t => Tables.load(ctx.spark, ctx.fixtures, t).count())
  }

  def cycle(ctx: Ctx, c: Int): Unit = Queries.foreach { q =>
    ctx.op(s"query.$q") {
      val df = SparkEntry.queries(q)(ctx.spark, ctx.fixtures)
      (df, df.collect().toSeq)
    }.foreach { case (df, rows) =>
      reference.get(q) match {
        case None =>
          reference(q) = rows
          ctx.check(rows.nonEmpty, s"$q returned no rows")
          ctx.oracle(q, SparkEntry.oracleSql(q), df, rows)
        case Some(ref) =>
          ctx.check(rows == ref, s"$q: ${rows.size} rows differ from the first pass (${ref.size} rows)")
      }
    }
  }

  /** the workload writes nothing of its own */
  def storedBytes(c: Int): Long = 0L

  def opFigures(ctx: Ctx, cycles: Seq[Int]): Seq[Metric] = {
    val pass = Stats.median(cycles.map(c => ctx.samples.filter(s => s.cycle == c && !s.failed).map(_.wallMs).sum / 1e3))
    val perQuery = Queries.map { q =>
      Metric(s"query.${q}_s", Stats.median(ctx.samples.filter(s => cycles.contains(s.cycle) &&
        s.op == s"query.$q" && !s.failed).map(_.wallMs / 1e3).toSeq), "s")
    }
    val spent = ctx.tracer.toSeq.flatMap { t =>
      val cs = cycles.map(c => t.cost(c, _.startsWith("query.")))
      Seq(Metric("queries.cpu_s", Stats.median(cs.map(_.cpuNs / 1e9)), "s"),
        Metric("queries.gc_s", Stats.median(cs.map(_.gcMs / 1e3)), "s"))
    }
    Metric("query_s", pass, "s") +: (perQuery ++ spent)
  }

  def layerMetrics(ctx: Ctx, cycles: Seq[Int]): Map[String, Double] = ctx.tracer match {
    case None => Map.empty
    case Some(t) =>
      val cs = cycles.map(c => t.cost(c, _.startsWith("query.")))
      def med(f: Cost => Double) = Stats.median(cs.map(f))
      Map("queries.jobs" -> med(_.jobs.toDouble), "queries.tasks" -> med(_.tasks.toDouble),
        "queries.shuffle_mb" -> med(_.shuffleBytes / 1048576.0),
        "queries.input_mb" -> med(_.inputBytes / 1048576.0))
  }
}
