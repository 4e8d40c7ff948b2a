package perfbench;

import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Map;
import java.util.Properties;

import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.JobSucceeded$;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerApplicationEnd;
import org.apache.spark.scheduler.SparkListenerApplicationStart;
import org.apache.spark.scheduler.SparkListenerEvent;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerStageSubmitted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.StageInfo;
import org.apache.spark.sql.execution.SparkPlanInfo;
import org.apache.spark.sql.execution.metric.SQLMetricInfo;
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart;
import scala.jdk.javaapi.CollectionConverters;

/**
 * Scheduler and SQL-execution spans: one span per SQL execution, job and
 * stage attempt, with task metrics summed per stage. A job's parent is its
 * SQL execution or streaming micro-batch; an execution carries the
 * {@code graft.*} frames of its call site (innermost first) and the
 * accumulator ids of the plan nodes that run the map side of the
 * visibility-averaging aggregates.
 */
public final class JobTracer extends SparkListener {
  private final Map<Integer, String> stageJob = new HashMap<>();

  public JobTracer() {
    Trace.put(Trace.span("run", "run", null), "start",
        Long.parseLong(System.getProperty("perfbench.launch.ms", "0")));
  }

  @Override
  public void onApplicationStart(SparkListenerApplicationStart e) {
    Trace.put(Trace.span("app", "app", "run"), "start", e.time());
  }

  @Override
  public void onApplicationEnd(SparkListenerApplicationEnd e) {
    Trace.put(Trace.span("app", "app", "run"), "end", e.time());
  }

  @Override
  public void onJobStart(SparkListenerJobStart e) {
    Properties p = e.properties();
    String exec = p == null ? null : p.getProperty("spark.sql.execution.id");
    String query = p == null ? null : p.getProperty("sql.streaming.queryId");
    String batch = query == null ? null : "batch:" + query + ":" + p.getProperty("streaming.sql.batchId");
    String parent = exec != null ? "sql:" + exec : batch != null ? batch : "run";
    String id = "job:" + e.jobId();
    Map<String, Object> job = Trace.span(id, "job", parent);
    Trace.put(job, "start", e.time());
    if (batch != null) {
      Trace.put(job, "batch", batch);
      Map<String, Object> sql = exec == null ? null : Trace.find("sql:" + exec);
      if (sql != null) Trace.put(sql, "parent", batch);
    }
    List<Object> stages = new ArrayList<>();
    StageInfo result = null;
    for (StageInfo s : CollectionConverters.asJava(e.stageInfos())) {
      stages.add(s.stageId());
      stageJob.putIfAbsent(s.stageId(), id);
      if (result == null || s.stageId() > result.stageId()) result = s;
    }
    Trace.put(job, "stages", stages);
    if (result != null) {
      Trace.put(job, "frames", graftFrames(result.details()));
      Trace.put(job, "result_stage", result.stageId());
    }
  }

  @Override
  public void onJobEnd(SparkListenerJobEnd e) {
    Map<String, Object> job = Trace.span("job:" + e.jobId(), "job", "run");
    Trace.put(job, "end", e.time());
    Trace.put(job, "ok", e.jobResult() == JobSucceeded$.MODULE$);
  }

  private Map<String, Object> stage(StageInfo s) {
    String parent = stageJob.getOrDefault(s.stageId(), "run");
    return Trace.span("stage:" + s.stageId() + "." + s.attemptNumber(), "stage", parent);
  }

  @Override
  public void onStageSubmitted(SparkListenerStageSubmitted e) {
    StageInfo s = e.stageInfo();
    Map<String, Object> span = stage(s);
    Trace.put(span, "stage", s.stageId());
    Trace.put(span, "start", s.submissionTime().isDefined() ? s.submissionTime().get() : null);
    Trace.put(span, "tasks", s.numTasks());
  }

  @Override
  public void onStageCompleted(SparkListenerStageCompleted e) {
    StageInfo s = e.stageInfo();
    Map<String, Object> span = stage(s);
    Trace.put(span, "stage", s.stageId());
    Trace.put(span, "tasks", s.numTasks());
    Trace.put(span, "end", s.completionTime().isDefined() ? s.completionTime().get() : null);
    Trace.put(span, "ok", s.failureReason().isEmpty());
    Trace.put(span, "accums", new ArrayList<Object>(
        CollectionConverters.asJava(s.accumulables()).keySet()));
  }

  @Override
  public void onTaskEnd(SparkListenerTaskEnd e) {
    Map<String, Object> span = Trace.span(
        "stage:" + e.stageId() + "." + e.stageAttemptId(), "stage",
        stageJob.getOrDefault(e.stageId(), "run"));
    TaskMetrics m = e.taskMetrics();
    Trace.add(span, "tasks_ended", 1);
    if (m == null) return;
    Trace.add(span, "run_ms", m.executorRunTime());
    Trace.add(span, "cpu_ns", m.executorCpuTime());
    Trace.add(span, "task_gc_ms", m.jvmGCTime());
    Trace.add(span, "input_bytes", m.inputMetrics().bytesRead());
    Trace.add(span, "output_bytes", m.outputMetrics().bytesWritten());
    Trace.add(span, "shuffle_read_bytes",
        m.shuffleReadMetrics().remoteBytesRead() + m.shuffleReadMetrics().localBytesRead());
    Trace.add(span, "shuffle_write_bytes", m.shuffleWriteMetrics().bytesWritten());
    Trace.add(span, "spill_disk_bytes", m.diskBytesSpilled());
  }

  @Override
  public void onOtherEvent(SparkListenerEvent e) {
    if (e instanceof SparkListenerSQLExecutionStart) {
      SparkListenerSQLExecutionStart s = (SparkListenerSQLExecutionStart) e;
      Map<String, Object> span = Trace.span("sql:" + s.executionId(), "sql", "run");
      Trace.put(span, "start", s.time());
      Trace.put(span, "frames", graftFrames(s.details()));
      addAggAccums(span, s.sparkPlanInfo());
    } else if (e instanceof SparkListenerSQLAdaptiveExecutionUpdate) {
      SparkListenerSQLAdaptiveExecutionUpdate u = (SparkListenerSQLAdaptiveExecutionUpdate) e;
      addAggAccums(Trace.span("sql:" + u.executionId(), "sql", "run"), u.sparkPlanInfo());
    } else if (e instanceof SparkListenerSQLExecutionEnd) {
      SparkListenerSQLExecutionEnd x = (SparkListenerSQLExecutionEnd) e;
      Trace.put(Trace.span("sql:" + x.executionId(), "sql", "run"), "end", x.time());
    }
  }

  /** The graft.* frames of a long call site, innermost first, no repeats. */
  static List<Object> graftFrames(String callSite) {
    List<Object> out = new ArrayList<>();
    if (callSite == null) return out;
    for (String line : callSite.split("\n")) {
      String l = line.trim();
      int paren = l.indexOf('(');
      if (l.startsWith("graft.") && paren > 0) {
        String frame = l.substring(0, paren);
        if (!out.contains(frame)) out.add(frame);
      }
    }
    return out;
  }

  @SuppressWarnings("unchecked")
  private static void addAggAccums(Map<String, Object> span, SparkPlanInfo plan) {
    List<Object> ids = new ArrayList<>();
    collect(plan, ids);
    if (ids.isEmpty()) return;
    synchronized (Trace.class) {
      List<Object> have = (List<Object>) span.computeIfAbsent("agg_accums", k -> new ArrayList<>());
      for (Object id : ids) if (!have.contains(id)) have.add(id);
    }
  }

  private static void collect(SparkPlanInfo node, List<Object> ids) {
    String s = node.simpleString();
    if (s.contains("partial_graft_vis_avg") || s.contains("partial_graft_row_avg"))
      for (SQLMetricInfo m : CollectionConverters.asJava(node.metrics())) ids.add(m.accumulatorId());
    for (SparkPlanInfo c : CollectionConverters.asJava(node.children())) collect(c, ids);
  }
}
