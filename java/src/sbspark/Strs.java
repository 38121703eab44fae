package sbspark;

import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.Iterator;
import java.util.List;
import java.util.concurrent.ConcurrentHashMap;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;

/**
 * String span scan kernel — the engine's only span scanner (reference
 * semantics:
 * src/strings/cpu.rs:42-216 — ASCII printable runs, validated UTF-8
 * runs with at least one multibyte char, UTF-16LE/BE byte-pair runs at
 * both alignments; max_len piece grids anchored at run starts; hint
 * flags). Bit-identical rows to the Python oracle
 * (tests/oracles/strings.py) are pinned by differential fuzz tests; UTF-8 printability uses a codepoint table
 * EXPORTED FROM PYTHON (str.isprintable) in the spec string, so parity
 * cannot drift with JVM Unicode versions.
 *
 * Spec: "minLen;maxLen;utf16(0/1);chunkSize;overlap;printIntervals"
 * where printIntervals is "lo-hi,lo-hi,..." hex codepoint ranges
 * (cp >= 0x80) that Python considers printable. Parsed specs cache per
 * executor (bounded).
 */
final class Strs {
  private static final ConcurrentHashMap<String, Strs> CACHE = new ConcurrentHashMap<>();
  private static final int MAX_SPECS = 64;

  final int minLen;
  final int maxLen;
  final boolean utf16;
  final long chunkSize;
  final long overlap;
  private final long[] printable; // bitset over codepoints [0, 0x110000)

  static Strs get(String spec) {
    Strs s = CACHE.get(spec);
    if (s == null) {
      if (CACHE.size() > MAX_SPECS) {
        Iterator<String> it = CACHE.keySet().iterator();
        if (it.hasNext()) {
          it.next();
          it.remove();
        }
      }
      s = new Strs(spec);
      Strs prev = CACHE.putIfAbsent(spec, s);
      if (prev != null) s = prev;
    }
    return s;
  }

  private Strs(String spec) {
    String[] parts = spec.split(";", 6);
    minLen = Integer.parseInt(parts[0]);
    maxLen = Integer.parseInt(parts[1]);
    utf16 = parts[2].equals("1");
    chunkSize = Long.parseLong(parts[3]);
    overlap = Long.parseLong(parts[4]);
    printable = new long[(0x110000 + 63) / 64];
    if (parts.length > 5 && !parts[5].isEmpty()) {
      for (String iv : parts[5].split(",")) {
        int dash = iv.indexOf('-');
        int lo = Integer.parseInt(iv.substring(0, dash), 16);
        int hi = Integer.parseInt(iv.substring(dash + 1), 16);
        for (int cp = lo; cp <= hi; cp++) {
          printable[cp >> 6] |= 1L << (cp & 63);
        }
      }
    }
  }

  private boolean isPrintable(int cp) {
    return (printable[cp >> 6] & (1L << (cp & 63))) != 0;
  }

  private static boolean asciiRun(int b) {
    return b == 0x09 || (b >= 0x20 && b <= 0x7E);
  }

  private static boolean cont(int b) {
    return b >= 0x80 && b <= 0xBF;
  }

  /** Positioned-read source for the evidence path (null => bytes path). */
  interface Io {
    byte[] read(long pos, int len) throws IOException;
  }

  // ---- row assembly ---------------------------------------------------

  private static Row row(long globalStart, byte[] raw, int off, int len, String enc) {
    byte[] flagSrc;
    String content;
    if (enc.equals("utf-16le") || enc.equals("utf-16be")) {
      int phase = enc.equals("utf-16le") ? 0 : 1;
      byte[] sel = new byte[len / 2];
      for (int i = 0; i < sel.length; i++) sel[i] = raw[off + 2 * i + phase];
      flagSrc = sel;
      content = new String(sel, StandardCharsets.UTF_8);
    } else {
      flagSrc = java.util.Arrays.copyOfRange(raw, off, off + len);
      content = new String(flagSrc, StandardCharsets.UTF_8);
    }
    boolean urlLike = containsLower(flagSrc, HTTP) || containsLower(flagSrc, WWW);
    boolean emailLike = false;
    int digits = 0;
    for (byte b : flagSrc) {
      if (b == '@') emailLike = true;
      if (b >= '0' && b <= '9') digits++;
    }
    return RowFactory.create(
        globalStart, len, content, enc, urlLike, emailLike, digits >= 10);
  }

  private static final byte[] HTTP = {'h', 't', 't', 'p'};
  private static final byte[] WWW = {'w', 'w', 'w', '.'};

  private static boolean containsLower(byte[] hay, byte[] needle) {
    outer:
    for (int i = 0; i + needle.length <= hay.length; i++) {
      for (int j = 0; j < needle.length; j++) {
        int c = hay[i + j] & 0xFF;
        if (c >= 'A' && c <= 'Z') c += 32;
        if (c != needle[j]) continue outer;
      }
      return true;
    }
    return false;
  }

  // ---- scans -----------------------------------------------------------

  /**
   * All span rows owned by [ownStart, ownEnd) in a window blob covering
   * [base, base+blob.length) of the evidence. eCap = parent read end
   * (runs truncate there); io enables UTF-8 forward extension past the
   * window (null on the bytes path, where the blob IS the parent read).
   * Rows equal strings_scan._blob_spans over the parent chunk blob.
   */
  List<Row> scanWindow(byte[] blob, long base, long ownStart, long ownEnd, long eCap, Io io)
      throws IOException {
    List<Row> out = new ArrayList<>();
    ascii(blob, base, ownStart, ownEnd, out);
    utf8(blob, base, ownStart, ownEnd, eCap, io, out);
    if (utf16) {
      utf16(blob, base, ownStart, ownEnd, true, out);
      utf16(blob, base, ownStart, ownEnd, false, out);
    }
    return out;
  }

  private void ascii(byte[] b, long base, long ownStart, long ownEnd, List<Row> out) {
    int i = 0;
    int n = b.length;
    while (i < n) {
      if (!asciiRun(b[i] & 0xFF)) {
        i++;
        continue;
      }
      int s = i;
      while (i < n && asciiRun(b[i] & 0xFF)) i++;
      for (int pos = s; pos < i; pos += maxLen) {
        int end = Math.min(pos + maxLen, i);
        long g = base + pos;
        if (end - pos >= minLen && g >= ownStart && g < ownEnd) {
          out.add(row(g, b, pos, end - pos, "ascii"));
        }
      }
    }
  }

  private void utf16(
      byte[] b, long base, long ownStart, long ownEnd, boolean le, List<Row> out) {
    int n = b.length;
    int step = 2 * maxLen;
    String enc = le ? "utf-16le" : "utf-16be";
    int i = 0;
    while (i + 1 < n) {
      int c0 = b[i] & 0xFF;
      int c1 = b[i + 1] & 0xFF;
      boolean pair = le ? (asciiRun(c0) && c0 != 0x00 && c1 == 0x00)
                        : (c0 == 0x00 && asciiRun(c1));
      if (!pair) {
        i++;
        continue;
      }
      int s = i;
      while (i + 1 < n) {
        int a0 = b[i] & 0xFF;
        int a1 = b[i + 1] & 0xFF;
        boolean ok = le ? (asciiRun(a0) && a1 == 0x00) : (a0 == 0x00 && asciiRun(a1));
        if (!ok) break;
        i += 2;
      }
      for (int pos = s; pos < i; pos += step) {
        int end = Math.min(pos + step, i);
        long g = base + pos;
        if ((end - pos) / 2 >= minLen && g >= ownStart && g < ownEnd) {
          out.add(row(g, b, pos, end - pos, enc));
        }
      }
    }
  }

  /** Length of the structural UTF-8 unit at i, or 0 (regex-alternation parity). */
  private static int unit(byte[] b, int i, int n) {
    int c = b[i] & 0xFF;
    if (asciiRun(c)) return 1;
    if (c >= 0xC2 && c <= 0xDF) return i + 1 < n && cont(b[i + 1] & 0xFF) ? 2 : 0;
    if (c >= 0xE0 && c <= 0xEF) {
      return i + 2 < n && cont(b[i + 1] & 0xFF) && cont(b[i + 2] & 0xFF) ? 3 : 0;
    }
    if (c >= 0xF0 && c <= 0xF4) {
      return i + 3 < n && cont(b[i + 1] & 0xFF) && cont(b[i + 2] & 0xFF)
              && cont(b[i + 3] & 0xFF)
          ? 4
          : 0;
    }
    return 0;
  }

  private void utf8(
      byte[] blob, long base, long ownStart, long ownEnd, long eCap, Io io, List<Row> out)
      throws IOException {
    int i = 0;
    int n = blob.length;
    while (i < n) {
      int u = unit(blob, i, n);
      if (u == 0) {
        i++;
        continue;
      }
      int rs = i;
      boolean hasMb = false;
      while (i < n) {
        int step = unit(blob, i, n);
        if (step == 0) break;
        if (step > 1) hasMb = true;
        i += step;
      }
      long runG = base + rs;
      if (runG >= ownEnd) break;
      if (base + i <= ownStart) continue;
      // owned pieces' bytes lie in [ownStart, run end) — no multibyte
      // lead there => nothing emittable => skip before extension
      if (!mbLeadIn(blob, (int) Math.max(rs, ownStart - base), i)) continue;
      byte[] run;
      // extend when the run reaches the window end OR ends within 3
      // bytes of it: a multibyte unit straddling the window cut leaves
      // a dangling prefix the structural scan excludes, but the
      // parent-geometry run continues through it (mirrors the Python
      // kernel; extendRun's truncated-unit logic reassembles it or
      // ends the run where it truly ends)
      if (io != null && base + n < eCap && n - i <= 3) {
        run = extendRun(io, runG, blob, rs, n, eCap);
      } else {
        run = java.util.Arrays.copyOfRange(blob, rs, i);
      }
      if (hasMbAnywhere(run) && validPrintable(run)) {
        pieces(run, runG, ownStart, ownEnd, out);
      }
    }
  }

  private static boolean mbLeadIn(byte[] b, int from, int to) {
    for (int i = Math.max(from, 0); i < to; i++) {
      int c = b[i] & 0xFF;
      if (c >= 0xC2 && c <= 0xF4) return true;
    }
    return false;
  }

  private static boolean hasMbAnywhere(byte[] b) {
    return mbLeadIn(b, 0, b.length);
  }

  /** Structural forward extension to the run's true end, capped at eCap. */
  private static byte[] extendRun(Io io, long runG, byte[] blob, int rs, int n, long eCap)
      throws IOException {
    java.io.ByteArrayOutputStream buf = new java.io.ByteArrayOutputStream();
    buf.write(blob, rs, n - rs);
    byte[] cur = buf.toByteArray();
    int q = 0; // end of last complete unit
    while (true) {
      while (q < cur.length) {
        int step = unit(cur, q, cur.length);
        if (step == 0) break;
        q += step;
      }
      if (q < cur.length) {
        // mid-buffer break: either invalid (run ends) or a truncated
        // trailing unit that more bytes might complete
        int c = cur[q] & 0xFF;
        boolean truncated =
            (c >= 0xC2 && c <= 0xF4) && cur.length - q < 4 && runG + cur.length < eCap;
        if (!truncated) return java.util.Arrays.copyOfRange(cur, 0, q);
      }
      if (runG + cur.length >= eCap) return java.util.Arrays.copyOfRange(cur, 0, q);
      int want = (int) Math.min(Math.max(1 << 20, cur.length), eCap - runG - cur.length);
      byte[] more = io.read(runG + cur.length, want);
      if (more.length == 0) return java.util.Arrays.copyOfRange(cur, 0, q);
      buf.write(more, 0, more.length);
      cur = buf.toByteArray();
    }
  }

  /** Strict-decode validity + Python-table printability for the WHOLE run. */
  private boolean validPrintable(byte[] run) {
    int i = 0;
    int n = run.length;
    while (i < n) {
      int c = run[i] & 0xFF;
      if (asciiRun(c)) { // \t and 0x20-0x7E are always printable-or-tab
        i++;
        continue;
      }
      int cp;
      int len;
      if (c >= 0xC2 && c <= 0xDF) {
        cp = ((c & 0x1F) << 6) | (run[i + 1] & 0x3F);
        len = 2;
      } else if (c >= 0xE0 && c <= 0xEF) {
        cp = ((c & 0x0F) << 12) | ((run[i + 1] & 0x3F) << 6) | (run[i + 2] & 0x3F);
        len = 3;
        if (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF)) return false; // overlong/surrogate
      } else {
        cp = ((c & 0x07) << 18) | ((run[i + 1] & 0x3F) << 12) | ((run[i + 2] & 0x3F) << 6)
            | (run[i + 3] & 0x3F);
        len = 4;
        if (cp < 0x10000 || cp > 0x10FFFF) return false;
      }
      if (!isPrintable(cp)) return false;
      i += len;
    }
    return true;
  }

  /** max_len-CHAR piece grid from the run start; emit owned pieces. */
  private void pieces(byte[] run, long runG, long ownStart, long ownEnd, List<Row> out) {
    int i = 0;
    int n = run.length;
    long bytePos = runG;
    while (i < n && bytePos < ownEnd) {
      int chars = 0;
      int s = i;
      boolean mb = false;
      while (i < n && chars < maxLen) {
        int step = unit(run, i, n);
        if (step > 1) mb = true;
        i += step;
        chars++;
      }
      if (bytePos >= ownStart && chars >= minLen && mb) {
        out.add(row(bytePos, run, s, i - s, "utf-8"));
      }
      bytePos += i - s;
    }
  }

  // ---- evidence-path windowing (sub-chunk continuation) ---------------
  //
  // The one-pass scan plans ~16 MiB sub-chunks, but row semantics stay
  // pinned to the chunkSize geometry (the chunk-table path and the
  // reference's build_chunks anchor runs and maxLen piece grids at chunk
  // starts): a sub-chunk starting mid-run must not re-emit the run's
  // tail as a fresh fragment. Each sub-chunk therefore (a) extends its
  // window backward to a position no run can cross (a byte outside every
  // run alphabet, or a 00 00 pair), capped at the parent chunk start,
  // (b) scans the extended window with the same run/piece code, and (c)
  // emits only pieces starting in [start, start+vlen). UTF-8 runs carry
  // run-global checks (strict decode + printability), so a run touching
  // the window end extends forward to its true end, capped at the parent
  // read end.

  /** Barrier-aware backward window start (no run crosses w0-1 -> w0). */
  long findWindowStart(Io io, long p, long loCap, long total) throws IOException {
    int block = 256 * 1024;
    long hi = p;
    while (hi > loCap) {
      long lo = Math.max(loCap, hi - block);
      int want = (int) (hi - lo) + (hi < total ? 1 : 0);
      byte[] buf = io.read(lo, want);
      int m = (int) (hi - lo);
      for (int q = Math.min(m, buf.length) - 1; q >= 0; q--) {
        int c = buf[q] & 0xFF;
        boolean runish =
            c == 0x09 || (c >= 0x20 && c <= 0x7E) || (c >= 0x80 && c <= 0xBF)
                || (c >= 0xC2 && c <= 0xF4) || (utf16 && c == 0x00);
        boolean pairNul =
            utf16 && c == 0x00 && q + 1 < buf.length && buf[q + 1] == 0x00;
        if (!runish || pairNul) return lo + q + 1;
      }
      hi = lo;
      block = Math.min(block * 2, 64 * 1024 * 1024);
    }
    return loCap;
  }

  List<Row> scanEvidence(Io io, long total, long start, long vlen) throws IOException {
    long cPar = (start / chunkSize) * chunkSize;
    long eCap = Math.min(cPar + chunkSize + overlap, total);
    long ownEnd = start + vlen;
    long w1 = Math.min(ownEnd + Math.max(overlap, 4L * maxLen), eCap);
    long w0 = start > cPar ? findWindowStart(io, start, cPar, total) : start;
    byte[] blob = io.read(w0, Math.toIntExact(w1 - w0));
    return scanWindow(blob, w0, start, ownEnd, eCap, io);
  }
}
