package perfbench;

import java.io.IOException;
import java.io.Writer;
import java.lang.management.GarbageCollectorMXBean;
import java.lang.management.ManagementFactory;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator;

/**
 * In-memory span store shared by the three listeners. Spans are kept as
 * ordered maps and written once, as JSON lines, by a JVM shutdown hook to
 * the file named by {@code -Dperfbench.trace.out}. Every span carries the
 * run id ({@code -Dperfbench.run.id}) and the id of the span that caused it.
 */
public final class Trace {
  static final String RUN = System.getProperty("perfbench.run.id", "run");
  private static final Map<String, Map<String, Object>> SPANS = new LinkedHashMap<>();

  static {
    Runtime.getRuntime().addShutdownHook(new Thread(Trace::flush, "perfbench-trace"));
  }

  private Trace() {}

  /** The span with this id, created with its parent on first use. */
  static synchronized Map<String, Object> span(String id, String kind, String parent) {
    return SPANS.computeIfAbsent(id, k -> {
      Map<String, Object> s = new LinkedHashMap<>();
      s.put("run", RUN);
      s.put("id", id);
      s.put("kind", kind);
      s.put("parent", parent);
      return s;
    });
  }

  static synchronized Map<String, Object> find(String id) {
    return SPANS.get(id);
  }

  static synchronized void put(Map<String, Object> span, String key, Object value) {
    span.put(key, value);
  }

  /** Adds {@code delta} to a numeric attribute of the span. */
  static synchronized void add(Map<String, Object> span, String key, double delta) {
    Object v = span.get(key);
    span.put(key, (v == null ? 0.0 : ((Number) v).doubleValue()) + delta);
  }

  private static void flush() {
    String out = System.getProperty("perfbench.trace.out");
    if (out == null) return;
    long gcMs = 0;
    for (GarbageCollectorMXBean gc : ManagementFactory.getGarbageCollectorMXBeans())
      gcMs += Math.max(0, gc.getCollectionTime());
    Map<String, Object> exit;
    List<Map<String, Object>> all;
    synchronized (Trace.class) {
      exit = span("exit", "exit", "run");
      exit.put("start", System.currentTimeMillis());
      exit.put("gc_ms", gcMs);
      exit.put("codegen_ns", CodeGenerator.compileTime());
      all = new ArrayList<>(SPANS.values());
    }
    try (Writer w = Files.newBufferedWriter(Paths.get(out), StandardCharsets.UTF_8)) {
      for (Map<String, Object> s : all) {
        w.write(json(s));
        w.write('\n');
      }
    } catch (IOException e) {
      System.err.println("perfbench: trace not written: " + e);
    }
  }

  static String json(Object v) {
    if (v == null) return "null";
    if (v instanceof Number || v instanceof Boolean) return v.toString();
    if (v instanceof Map) {
      StringBuilder b = new StringBuilder("{");
      for (Map.Entry<?, ?> e : ((Map<?, ?>) v).entrySet()) {
        if (b.length() > 1) b.append(',');
        b.append(json(String.valueOf(e.getKey()))).append(':').append(json(e.getValue()));
      }
      return b.append('}').toString();
    }
    if (v instanceof List) {
      StringBuilder b = new StringBuilder("[");
      for (Object o : (List<?>) v) {
        if (b.length() > 1) b.append(',');
        b.append(json(o));
      }
      return b.append(']').toString();
    }
    String s = v.toString();
    StringBuilder b = new StringBuilder("\"");
    for (int i = 0; i < s.length(); i++) {
      char c = s.charAt(i);
      if (c == '"' || c == '\\') b.append('\\').append(c);
      else if (c < 0x20) b.append(String.format("\\u%04x", (int) c));
      else b.append(c);
    }
    return b.append('"').toString();
  }
}
