package perfbench;

import java.util.Map;

import org.apache.spark.sql.catalyst.QueryPlanningTracker;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.util.QueryExecutionListener;
import scala.jdk.javaapi.CollectionConverters;

/** Catalyst phase times (analysis, optimization, planning) per query, as a
 * child span of the query's SQL execution. */
public final class QueryTracer implements QueryExecutionListener {
  @Override
  public void onSuccess(String funcName, QueryExecution qe, long durationNs) {
    record(funcName, qe, durationNs, true);
  }

  @Override
  public void onFailure(String funcName, QueryExecution qe, Exception e) {
    record(funcName, qe, 0L, false);
  }

  private static void record(String funcName, QueryExecution qe, long durationNs, boolean ok) {
    Map<String, Object> span = Trace.span("plan:" + qe.id(), "plan", "sql:" + qe.id());
    Trace.put(span, "func", funcName);
    Trace.put(span, "ok", ok);
    Trace.put(span, "duration_ns", durationNs);
    for (Map.Entry<String, QueryPlanningTracker.PhaseSummary> p :
        CollectionConverters.asJava(qe.tracker().phases()).entrySet()) {
      Trace.put(span, p.getKey() + "_ms", p.getValue().durationMs());
    }
  }
}
