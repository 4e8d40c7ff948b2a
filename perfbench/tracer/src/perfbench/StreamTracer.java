package perfbench;

import java.util.Map;

import org.apache.spark.sql.streaming.StateOperatorProgress;
import org.apache.spark.sql.streaming.StreamingQueryListener;
import org.apache.spark.sql.streaming.StreamingQueryProgress;

/** One span per streaming query run and one per trigger (micro-batch),
 * with the trigger's duration phases and state-operator figures. */
public final class StreamTracer extends StreamingQueryListener {
  @Override
  public void onQueryStarted(QueryStartedEvent e) {
    Trace.put(Trace.span("query:" + e.id(), "query", "run"), "start", System.currentTimeMillis());
  }

  @Override
  public void onQueryProgress(QueryProgressEvent e) {
    StreamingQueryProgress p = e.progress();
    Map<String, Object> span = Trace.span(
        "batch:" + p.id() + ":" + p.batchId(), "batch", "query:" + p.id());
    Trace.put(span, "ts", p.timestamp());
    Trace.put(span, "rows", p.numInputRows());
    for (Map.Entry<String, Long> d : p.durationMs().entrySet())
      Trace.put(span, d.getKey() + "_ms", d.getValue());
    long rows = 0, bytes = 0, commit = 0;
    for (StateOperatorProgress s : p.stateOperators()) {
      rows += s.numRowsTotal();
      bytes += s.memoryUsedBytes();
      commit += s.commitTimeMs();
    }
    Trace.put(span, "state_rows", rows);
    Trace.put(span, "state_bytes", bytes);
    Trace.put(span, "state_commit_ms", commit);
  }

  @Override
  public void onQueryTerminated(QueryTerminatedEvent e) {
    Map<String, Object> span = Trace.span("query:" + e.id(), "query", "run");
    Trace.put(span, "end", System.currentTimeMillis());
    Trace.put(span, "ok", e.exception().isEmpty());
  }
}
