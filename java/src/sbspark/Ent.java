package sbspark;

import java.io.IOException;
import java.util.ArrayList;
import java.util.Iterator;
import java.util.List;
import java.util.concurrent.ConcurrentHashMap;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;

/**
 * Entropy window scan kernel — the engine's only entropy fold
 * (reference semantics:
 * src/entropy.rs:19-91 — non-overlapping windows of window_size bytes,
 * emit windows with Shannon entropy &gt;= threshold; the region merge
 * stays a Catalyst gaps-and-islands downstream).
 *
 * Bit-exact parity with the numpy oracle (tests/oracles/entropy.py)
 * is BY CONSTRUCTION, the same
 * strategy as Strs' printability table: the per-count entropy
 * contribution table t[c] = -(c/N * log2(c/N)) is computed IN PYTHON
 * (numpy log2) and exported in the spec string as raw IEEE-754 bits,
 * and the per-window sum over the 256 byte-count contributions
 * replicates numpy's pairwise summation tree (PW_BLOCKSIZE 128,
 * 8-accumulator unrolled inner loop) so the rounding of every partial
 * sum matches. Differential fuzz in tests/test_entropy_kernel.py pins
 * exact equality.
 *
 * Spec: "windowSize;threshold;merged;span;tableBits" where tableBits
 * is (windowSize+1) x 16 hex chars, entry c = Double bits of t[c],
 * and merged=1 pre-merges contiguous qualifying windows into islands
 * INSIDE the scan (the reference's own per-chunk merge,
 * src/entropy.rs:26-73) so the distributed gaps-and-islands merge
 * downstream sees ~islands instead of ~windows (~100x fewer rows).
 * `span` is the merge's level-1 bucket width in WINDOWS
 * (entropy._LEVEL_SPAN, exported so the two sides cannot desync):
 * islands split when crossing a span-bucket boundary, preserving the
 * distributed merge's escalation invariant — every input row pokes at
 * most one window past a bucket edge (the slack the merge absorbs),
 * exactly like the single-window rows it was designed for.
 * Parsed specs cache per executor (bounded); the cache key is the
 * short PREFIX of the spec, so the ~64 KiB table is not re-hashed
 * per row.
 */
final class Ent {
  private static final ConcurrentHashMap<String, Ent> CACHE = new ConcurrentHashMap<>();
  private static final int MAX_SPECS = 16;

  final int windowSize;
  final double threshold;
  final boolean merged;
  final long spanBytes; // level-1 bucket width (bytes)
  private final double[] table; // t[c] for c in 0..windowSize

  static Ent get(String spec) {
    // key on the short prefix (windowSize;threshold;merged;span) —
    // the table is a pure function of windowSize
    int p = -1;
    for (int i = 0; i < 4; i++) p = spec.indexOf(';', p + 1);
    String key = spec.substring(0, p);
    Ent e = CACHE.get(key);
    if (e == null) {
      if (CACHE.size() > MAX_SPECS) {
        Iterator<String> it = CACHE.keySet().iterator();
        if (it.hasNext()) {
          it.next();
          it.remove();
        }
      }
      e = new Ent(spec, p);
      Ent prev = CACHE.putIfAbsent(key, e);
      if (prev != null) e = prev;
    }
    return e;
  }

  private Ent(String spec, int fourth) {
    int first = spec.indexOf(';');
    int second = spec.indexOf(';', first + 1);
    int third = spec.indexOf(';', second + 1);
    windowSize = Integer.parseInt(spec.substring(0, first));
    threshold = Double.parseDouble(spec.substring(first + 1, second));
    merged = spec.charAt(second + 1) == '1';
    spanBytes = (long) windowSize * Long.parseLong(spec.substring(third + 1, fourth));
    String bits = spec.substring(fourth + 1);
    table = new double[windowSize + 1];
    if (bits.length() != table.length * 16) {
      throw new IllegalArgumentException(
          "entropy table length " + bits.length() + " != " + table.length * 16);
    }
    for (int c = 0; c <= windowSize; c++) {
      table[c] =
          Double.longBitsToDouble(Long.parseUnsignedLong(bits, c * 16, c * 16 + 16, 16));
    }
  }

  /** Positioned-read source for the evidence path. */
  interface Io {
    byte[] read(long pos, int len) throws IOException;
  }

  /**
   * numpy pairwise summation (numpy/core/src/umath/loops_utils: n &lt; 8
   * sequential; n &lt;= 128 8-accumulator unrolled; else split at
   * n/2 rounded down to a multiple of 8) — replicated so the partial-
   * sum rounding matches np.ndarray.sum() bit for bit.
   */
  static double pairwiseSum(double[] a, int off, int n) {
    if (n < 8) {
      double res = 0.0;
      for (int i = 0; i < n; i++) res += a[off + i];
      return res;
    }
    if (n <= 128) {
      double r0 = a[off], r1 = a[off + 1], r2 = a[off + 2], r3 = a[off + 3];
      double r4 = a[off + 4], r5 = a[off + 5], r6 = a[off + 6], r7 = a[off + 7];
      int i = 8;
      for (; i + 8 <= n; i += 8) {
        r0 += a[off + i];
        r1 += a[off + i + 1];
        r2 += a[off + i + 2];
        r3 += a[off + i + 3];
        r4 += a[off + i + 4];
        r5 += a[off + i + 5];
        r6 += a[off + i + 6];
        r7 += a[off + i + 7];
      }
      double res = ((r0 + r1) + (r2 + r3)) + ((r4 + r5) + (r6 + r7));
      for (; i < n; i++) res += a[off + i];
      return res;
    }
    int n2 = (n / 2) - ((n / 2) % 8);
    return pairwiseSum(a, off, n2) + pairwiseSum(a, off + n2, n - n2);
  }

  /** Entropy of data[from, from+windowSize) via the exported table. */
  private double windowEntropy(byte[] data, int from, int[] counts, double[] contrib) {
    java.util.Arrays.fill(counts, 0);
    int to = from + windowSize;
    for (int i = from; i < to; i++) counts[data[i] & 0xFF]++;
    for (int c = 0; c < 256; c++) contrib[c] = table[counts[c]];
    return pairwiseSum(contrib, 0, 256);
  }

  /**
   * Qualifying-window sink: per-window rows, or (merged=1) contiguous
   * qualifying windows pre-merged into island rows (start, end, max
   * entropy) — associative with the downstream distributed merge, so
   * regions are identical either way (pytest-pinned).
   */
  private final class Emitter {
    final List<Row> out = new ArrayList<>();
    private long islandStart = -1;
    private long islandEnd = -1;
    private double islandEnt;

    void window(long ws, double ent) {
      if (ent < threshold) return;
      if (!merged) {
        out.add(RowFactory.create(ws, ws + windowSize - 1, ent));
        return;
      }
      if (islandStart >= 0 && ws == islandEnd + 1 && ws / spanBytes == islandStart / spanBytes) {
        // same level-1 merge bucket: extend (the split at span
        // boundaries keeps every emitted row poking <= one window
        // past a bucket edge — the downstream escalation invariant)
        islandEnd = ws + windowSize - 1;
        if (ent > islandEnt) islandEnt = ent;
      } else {
        flush();
        islandStart = ws;
        islandEnd = ws + windowSize - 1;
        islandEnt = ent;
      }
    }

    private void flush() {
      if (islandStart >= 0) {
        out.add(RowFactory.create(islandStart, islandEnd, islandEnt));
        islandStart = -1;
      }
    }

    List<Row> done() {
      flush();
      return out;
    }
  }

  /**
   * Qualifying windows of data[0, validLength) as (win_start, win_end,
   * entropy) rows; window grid anchored at `start` (the chunk start),
   * trailing partial window dropped — identical to the Python fold.
   */
  List<Row> scanBytes(byte[] data, long start, long validLength) {
    int vlen = (int) Math.min(validLength, data.length);
    int nWindows = vlen / windowSize;
    Emitter em = new Emitter();
    int[] counts = new int[256];
    double[] contrib = new double[256];
    for (int w = 0; w < nWindows; w++) {
      double ent = windowEntropy(data, w * windowSize, counts, contrib);
      em.window(start + (long) w * windowSize, ent);
    }
    return em.done();
  }

  /**
   * Evidence path: positioned read of the sub-chunk, then the same
   * window loop. Reads in bounded blocks (window-aligned) so a large
   * granule never materializes more than blockBytes at once; island
   * state carries ACROSS blocks (one call = one sub-chunk).
   */
  List<Row> scanEvidence(Io io, long mediaSize, long start, long validLength)
      throws IOException {
    long vlen = Math.min(validLength, Math.max(0, mediaSize - start));
    long nWindows = vlen / windowSize;
    Emitter em = new Emitter();
    if (nWindows == 0) return em.done();
    // 16 MiB block, rounded down to a whole number of windows
    long blockWindows = Math.max(1, (16L << 20) / windowSize);
    int[] counts = new int[256];
    double[] contrib = new double[256];
    for (long w0 = 0; w0 < nWindows; w0 += blockWindows) {
      long wn = Math.min(blockWindows, nWindows - w0);
      long pos = start + w0 * windowSize;
      byte[] block = io.read(pos, (int) (wn * windowSize));
      if (block.length < wn * windowSize) {
        // vlen was clamped to the media size above, so every block read
        // lies fully inside the media — a short read means the source
        // was truncated or a chunk is corrupt. Fail loudly instead of
        // advancing past the gap (silent skipped windows could split an
        // island across the hole) — ADVICE r11.
        throw new IOException(
            "entropy scan: short read at "
                + pos
                + " ("
                + block.length
                + " of "
                + (wn * windowSize)
                + " bytes)");
      }
      int got = block.length / windowSize;
      for (int w = 0; w < got; w++) {
        double ent = windowEntropy(block, w * windowSize, counts, contrib);
        em.window(pos + (long) w * windowSize, ent);
      }
    }
    return em.done();
  }
}
