package sbspark;

import java.util.ArrayList;
import java.util.List;
import java.util.concurrent.ConcurrentHashMap;
import org.apache.spark.sql.api.java.UDF2;

/**
 * sb_subword(token, "minn;maxn;nbuckets") -> array&lt;int&gt; of FNV-1a
 * bucket ids for every character n-gram of "&lt;token&gt;" (angle-bracket
 * boundary markers), n in [minn, maxn] — fastText's subword expansion
 * (Bojanowski et al. 2017) compiled (an interpreted Catalyst
 * higher-order-function chain of CodegenFallback expressions
 * dominated the q172 wall). Pinned by test against an independent
 * Python reference:
 * codepoints (not UTF-8 bytes) feed the fold, emission order is n
 * ascending then position ascending, duplicates kept, tokens shorter
 * than n contribute nothing for that n, null token -> null.
 */
public class SubwordUdf implements UDF2<String, String, List<Integer>> {
  // Executor-lifetime cache; bounded like CentTable.CACHE so a caller
  // sweeping n_buckets/minn/maxn can't accumulate entries forever.
  // Entries are 3 ints, so a small bound suffices; strictly over the
  // cap one arbitrary entry evicts (never the whole map — a full
  // clear() at exactly MAX_ENTRIES live specs would thrash every
  // insert and drop hot entries under a wide sweep; ADVICE r9).
  static final int MAX_ENTRIES = 256;
  private static final ConcurrentHashMap<String, int[]> SPECS = new ConcurrentHashMap<>();

  private static int[] parse(String spec) {
    if (SPECS.size() > MAX_ENTRIES) {
      java.util.Iterator<String> it = SPECS.keySet().iterator();
      if (it.hasNext()) {
        it.next();
        it.remove();
      }
    }
    return SPECS.computeIfAbsent(
        spec,
        s -> {
          String[] parts = s.split(";");
          int minn = Integer.parseInt(parts[0]);
          int maxn = Integer.parseInt(parts[1]);
          int buckets = Integer.parseInt(parts[2]);
          if (minn < 1 || maxn < minn || buckets < 1) {
            throw new IllegalArgumentException("bad subword spec: " + s);
          }
          return new int[] {minn, maxn, buckets};
        });
  }

  @Override
  public List<Integer> call(String token, String spec) {
    if (token == null) return null;
    int[] cfg = parse(spec);
    int minn = cfg[0];
    int maxn = cfg[1];
    int buckets = cfg[2];
    int[] cps = ("<" + token + ">").codePoints().toArray();
    int len = cps.length;
    List<Integer> out = new ArrayList<>();
    for (int n = minn; n <= maxn; n++) {
      for (int i = 0; i + n <= len; i++) {
        // FNV-1a over the n-gram's codepoints: offset basis 2166136261,
        // prime 16777619, folded mod 2^32 — identical to fnv1a32's
        // (h XOR cp) * prime % 2^32 Catalyst fold
        long h = 2166136261L;
        for (int j = i; j < i + n; j++) {
          h = ((h ^ cps[j]) * 16777619L) & 0xFFFFFFFFL;
        }
        out.add((int) (h % buckets));
      }
    }
    return out;
  }
}
