package vcbench

import org.apache.spark.sql.Row

/** SQL requests as a user sends them, traced as Catalyst planning (which
  * includes the candidate jobs the planner rule runs) and then execution. */
object Serve {

  /** A query vector as a SQL array literal; Float.toString round-trips, so
    * the engine sees exactly the generated floats. */
  def vec(q: Array[Float]): String =
    q.map(x => java.lang.Float.toString(x) + "F").mkString("array(", ", ", ")")

  /** Runs `text`; when traced, also reports whether the planner served it
    * from an index (a decline runs the exact plan and is no failure). */
  def sql(ctx: Ctx, m: Meter, req: Long, text: String): Array[Row] = {
    val df = ctx.tracer.span("plans", req) {
      val df = ctx.spark.sql(text)
      df.queryExecution.executedPlan
      df
    }
    val rows = ctx.tracer.span("exec", req)(df.collect())
    if (ctx.tracer.on) m.probe {
      m.sqlRequests += 1
      if (graft.plans.AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString))
        m.served += 1
      m.resultRows += rows.length
    }
    rows
  }

  /** The id, distance pairs of rows shaped (id, dist, ...). */
  def idDist(rows: Array[Row]): Array[(Long, Double)] =
    rows.map(r => (r.getLong(0), r.getDouble(1)))
}
