package sbspark;

import java.util.ArrayList;
import java.util.List;
import java.util.concurrent.ConcurrentHashMap;

/**
 * Multi-pattern scan kernel: Aho-Corasick with a dense goto table.
 *
 * One pass over the input finds every (overlapping) occurrence of every
 * pattern — the JVM replacement for the engine's Python/numpy kernel
 * (swiftbeaver_spark/scanner.py scan_blob; reference semantics:
 * src/scanner/cpu.rs per-pattern memchr scan, all overlapping matches,
 * several patterns may match at one offset).
 *
 * Spec string: "cap;hex,hex,...[;tag=i:j:...[;tag=...]]" — hit cap,
 * then the pattern byte strings hex-encoded in engine order, then
 * optional trailer sections naming pattern indices whose hits the
 * one-pass evidence scan validates through ScanGates (tags: m3 = mp3
 * 3-valid-frames rule, bm = bmp header cascade, ic = ico directory
 * prefix — each a hoisted prefix of its carver's own rejection
 * cascade). A tag may carry a numeric parameter ("bm@200=i:j", r14):
 * for bm it is the type's min_size, hoisting finalize()'s min-size
 * rejection into the gate (stored per pattern in gateParam).
 * Automatons are cached per spec for the executor lifetime.
 * Hits are packed (localOffset << 16 | idx) longs so the UDF returns
 * a flat array&lt;bigint&gt; that Catalyst decodes with shift/mask —
 * no struct marshalling.
 */
public final class Ac {
  private static final ConcurrentHashMap<String, Ac> CACHE = new ConcurrentHashMap<>();

  // dense goto flattened to one row-major array; entries are the next
  // state, with the sign bit set when that state has outputs — the hot
  // loop is ONE load plus a rarely-taken branch per input byte
  final int[] flat;
  final int[][] out; // merged pattern indices ending at state
  final int[] patLen;
  final int cap;
  final byte[] gateKind; // per pattern: ScanGates kind (NONE/MP3/BMP/ICO) for the evidence scan
  final long[] gateParam; // per pattern: gate parameter (bm: min_size), 0 = none
  final boolean anyGate;
  private static final int OUT_BIT = 1 << 31;

  public static Ac get(String spec) {
    Ac ac = CACHE.get(spec);
    if (ac == null) {
      ac = new Ac(spec);
      CACHE.putIfAbsent(spec, ac);
    }
    return ac;
  }

  private Ac(String spec) {
    int semi = spec.indexOf(';');
    this.cap = Integer.parseInt(spec.substring(0, semi));
    String body = spec.substring(semi + 1);
    String trailer = null;
    int semi2 = body.indexOf(';');
    if (semi2 >= 0) {
      trailer = body.substring(semi2 + 1);
      body = body.substring(0, semi2);
    }
    String[] hexes = body.isEmpty() ? new String[0] : body.split(",");
    byte[][] pats = new byte[hexes.length][];
    patLen = new int[hexes.length];
    int totalLen = 1;
    for (int i = 0; i < hexes.length; i++) {
      pats[i] = fromHex(hexes[i]);
      patLen[i] = pats[i].length;
      totalLen += pats[i].length;
    }
    // trie build (children as -1-initialised dense rows; node count is
    // bounded by total pattern bytes + root, tiny for signature sets)
    int[][] go = new int[totalLen][];
    List<List<Integer>> outs = new ArrayList<>(totalLen);
    int[] fail = new int[totalLen];
    int nodes = 1;
    go[0] = newRow();
    outs.add(new ArrayList<>());
    for (int p = 0; p < pats.length; p++) {
      int s = 0;
      for (byte bb : pats[p]) {
        int c = bb & 0xFF;
        if (go[s][c] == -1) {
          go[nodes] = newRow();
          outs.add(new ArrayList<>());
          go[s][c] = nodes++;
        }
        s = go[s][c];
      }
      outs.get(s).add(p);
    }
    // BFS: resolve fail links and densify goto in place
    int[] queue = new int[nodes];
    int qh = 0, qt = 0;
    for (int c = 0; c < 256; c++) {
      int v = go[0][c];
      if (v == -1) {
        go[0][c] = 0;
      } else {
        fail[v] = 0;
        queue[qt++] = v;
      }
    }
    while (qh < qt) {
      int u = queue[qh++];
      outs.get(u).addAll(outs.get(fail[u]));
      for (int c = 0; c < 256; c++) {
        int v = go[u][c];
        if (v == -1) {
          go[u][c] = go[fail[u]][c];
        } else {
          fail[v] = go[fail[u]][c];
          queue[qt++] = v;
        }
      }
    }
    out = new int[nodes][];
    for (int s = 0; s < nodes; s++) {
      List<Integer> o = outs.get(s);
      out[s] = new int[o.size()];
      for (int i = 0; i < o.size(); i++) out[s][i] = o.get(i);
    }
    flat = new int[nodes << 8];
    for (int s = 0; s < nodes; s++) {
      for (int c = 0; c < 256; c++) {
        int v = go[s][c];
        flat[(s << 8) | c] = out[v].length != 0 ? (v | OUT_BIT) : v;
      }
    }
    gateKind = new byte[hexes.length];
    gateParam = new long[hexes.length];
    boolean any = false;
    if (trailer != null && !trailer.isEmpty()) {
      for (String section : trailer.split(";")) {
        int eq = section.indexOf('=');
        if (eq <= 0) continue;
        String tag = section.substring(0, eq);
        long param = 0;
        int at = tag.indexOf('@');
        if (at >= 0) {
          param = Long.parseLong(tag.substring(at + 1));
          tag = tag.substring(0, at);
        }
        byte kind = ScanGates.kindFor(tag);
        for (String tok : section.substring(eq + 1).split(":")) {
          if (!tok.isEmpty()) {
            int pi = Integer.parseInt(tok);
            gateKind[pi] = kind;
            gateParam[pi] = param;
            any = true;
          }
        }
      }
    }
    anyGate = any;
  }

  private static int[] newRow() {
    int[] r = new int[256];
    java.util.Arrays.fill(r, -1);
    return r;
  }

  private static byte[] fromHex(String hex) {
    byte[] b = new byte[hex.length() / 2];
    for (int i = 0; i < b.length; i++) {
      b[i] = (byte) Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16);
    }
    return b;
  }

  /** Scan buf[from,to): append packed (offset<<16|patIdx) hits at base + (i - from). */
  int scanRange(byte[] buf, int from, int len, long base, int state, List<Long> hits) {
    final int[] f = this.flat;
    final long shift = base - from;
    int i = from;
    while (i < len) {
      if (state == 0) {
        // root skip: the table index no longer depends on the previous
        // load, so iterations pipeline — bytes that start no pattern
        // (the vast majority on any content) cost ~1 cycle instead of
        // one dependent table-walk each
        while (i < len && f[buf[i] & 0xFF] == 0) i++;
        if (i >= len) break;
      }
      int t = f[(state << 8) | (buf[i] & 0xFF)];
      if (t >= 0) {
        state = t;
      } else {
        state = t & ~OUT_BIT;
        for (int p : out[state]) {
          if (hits.size() >= cap) return state;
          hits.add(((shift + i - patLen[p] + 1) << 16) | p);
        }
      }
      i++;
    }
    return state;
  }

  public List<Long> scanBytes(byte[] data) {
    List<Long> hits = new ArrayList<>();
    scanRange(data, 0, data.length, 0, 0, hits);
    return hits;
  }
}
