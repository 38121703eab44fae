package sbspark;

import java.io.IOException;
import java.io.RandomAccessFile;
import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.List;
import java.util.concurrent.ConcurrentHashMap;
import java.util.zip.Adler32;
import java.util.zip.DataFormatException;
import java.util.zip.Inflater;

/**
 * EWF/E01 (Expert Witness Format) reader for the JVM scan path — the
 * same publicly documented container the Python reader implements
 * (swiftbeaver_spark/ewf.py; 13-byte segment header, 76-byte section
 * descriptors with Adler-32, `volume` geometry, `sectors` chunk data
 * zlib-compressed or raw+Adler-32, `table` chunk index with MSB
 * compression flag). Metadata parses once per executor; readAt serves
 * the one-pass scan's positioned reads from decompressed chunks, so E01
 * evidence takes the fast JVM path end to end.
 */
final class EwfImage {
  private static final ConcurrentHashMap<String, EwfImage> CACHE = new ConcurrentHashMap<>();
  static final byte[] SIGNATURE = {'E', 'V', 'F', 0x09, 0x0d, 0x0a, (byte) 0xff, 0x00};

  final long chunkSize;
  final long mediaSize;
  private final String[] chunkPath;
  private final long[] chunkOffset;
  private final boolean[] chunkCompressed;

  // Scratch buffers are STATIC per-thread and grow to the largest
  // chunk geometry the thread has touched: tying them to the image
  // instance (which lives forever in the static CACHE) would cost
  // threads x images x 2 x chunkSize across a long-lived executor
  // that opens many E01 files.
  private static final ThreadLocal<byte[]> RAW_BUF = ThreadLocal.withInitial(() -> new byte[0]);
  private static final ThreadLocal<byte[]> OUT_BUF = ThreadLocal.withInitial(() -> new byte[0]);

  private static byte[] scratch(ThreadLocal<byte[]> tl, int need) {
    byte[] b = tl.get();
    if (b.length < need) {
      b = new byte[need];
      tl.set(b);
    }
    return b;
  }

  // Bounded per-thread LRU of DECOMPRESSED chunks. Positioned reads on
  // EWF pay inflate per touched chunk, and several access patterns
  // re-touch the same chunks within one task: carve hits clustered in
  // a region (each hit's window read re-inflates its chunks), the
  // strings kernel's backward-barrier / forward-extension reads, and
  // adjacent sub-chunk reads sharing a boundary chunk. Per-thread (no
  // locking — the reference instead serializes ALL readers behind one
  // libewf mutex, src/evidence.rs:165-400). ONE static cache keyed by
  // (image, chunk idx) serves every image, tracking ACTUAL cached
  // bytes against the budget (-Dsbspark.ewf.cacheBytes, default 8 MiB
  // per thread), so worst-case heap is threads x budget — NOT
  // threads x images x budget, which is what a per-instance structure
  // would cost given that EwfImage instances are cached per path for
  // the executor lifetime (ADVICE r12). 0 disables.
  private static final long CACHE_BYTES = Long.getLong("sbspark.ewf.cacheBytes", 8L << 20);

  private static final class ChunkKey {
    final EwfImage img; // canonical per path (static CACHE) — identity works
    final int idx;

    ChunkKey(EwfImage img, int idx) {
      this.img = img;
      this.idx = idx;
    }

    @Override
    public boolean equals(Object o) {
      if (!(o instanceof ChunkKey)) return false;
      ChunkKey k = (ChunkKey) o;
      return k.img == img && k.idx == idx;
    }

    @Override
    public int hashCode() {
      return System.identityHashCode(img) * 31 + idx;
    }
  }

  private static final class ChunkLru extends java.util.LinkedHashMap<ChunkKey, byte[]> {
    long bytes;

    ChunkLru() {
      super(64, 0.75f, true);
    }

    @Override
    public byte[] put(ChunkKey k, byte[] v) {
      byte[] prev = super.put(k, v);
      bytes += v.length - (prev == null ? 0 : prev.length);
      java.util.Iterator<java.util.Map.Entry<ChunkKey, byte[]>> it = entrySet().iterator();
      while (bytes > CACHE_BYTES && it.hasNext()) {
        bytes -= it.next().getValue().length;
        it.remove();
      }
      return prev;
    }
  }

  private static final ThreadLocal<ChunkLru> CHUNK_CACHE = ThreadLocal.withInitial(ChunkLru::new);

  static EwfImage get(String path) throws IOException {
    EwfImage img = CACHE.get(path);
    if (img == null) {
      img = new EwfImage(path);
      EwfImage prev = CACHE.putIfAbsent(path, img);
      if (prev != null) img = prev;
    }
    return img;
  }

  static boolean isEwf(String path) throws IOException {
    try (RandomAccessFile f = new RandomAccessFile(path, "r")) {
      byte[] head = new byte[8];
      if (f.read(head) < 8) return false;
      return java.util.Arrays.equals(head, SIGNATURE);
    }
  }

  private EwfImage(String path) throws IOException {
    List<String> segs = segmentPaths(path);
    List<String> paths = new ArrayList<>();
    List<Long> offs = new ArrayList<>();
    List<Boolean> comps = new ArrayList<>();
    long cs = 0, sectors = 0, bps = 0;
    int nChunks = 0;
    for (int segNo = 1; segNo <= segs.size(); segNo++) {
      String seg = segs.get(segNo - 1);
      try (RandomAccessFile f = new RandomAccessFile(seg, "r")) {
        byte[] head = new byte[13];
        f.readFully(head);
        for (int i = 0; i < 8; i++) {
          if (head[i] != SIGNATURE[i]) throw new IOException(seg + ": not an EWF file");
        }
        int segField = (head[9] & 0xFF) | ((head[10] & 0xFF) << 8);
        if (segField != segNo) {
          throw new IOException(seg + ": segment number " + segField + ", expected " + segNo);
        }
        long off = 13;
        while (true) {
          byte[] desc = new byte[76];
          f.seek(off);
          f.readFully(desc);
          ByteBuffer bb = ByteBuffer.wrap(desc).order(ByteOrder.LITTLE_ENDIAN);
          byte[] typeRaw = new byte[16];
          bb.get(typeRaw);
          long nextOff = bb.getLong();
          bb.getLong(); // section size (unused here)
          bb.position(72);
          long adler = bb.getInt() & 0xFFFFFFFFL;
          Adler32 a = new Adler32();
          a.update(desc, 0, 72);
          if (a.getValue() != adler) {
            throw new IOException(seg + ": section descriptor checksum mismatch at " + off);
          }
          String typ = new String(typeRaw, StandardCharsets.US_ASCII).split("\0", 2)[0];
          if ((typ.equals("volume") || typ.equals("disk")) && cs == 0) {
            byte[] body = new byte[1052];
            f.seek(off + 76);
            f.readFully(body);
            ByteBuffer vb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN);
            nChunks = vb.getInt(4);
            long spc = vb.getInt(8) & 0xFFFFFFFFL;
            bps = vb.getInt(12) & 0xFFFFFFFFL;
            sectors = vb.getLong(16);
            cs = spc * bps;
          } else if (typ.equals("table")) {
            f.seek(off + 76);
            byte[] th = new byte[24];
            f.readFully(th);
            ByteBuffer tb = ByteBuffer.wrap(th).order(ByteOrder.LITTLE_ENDIAN);
            int nEntries = tb.getInt(0);
            long base = tb.getLong(8);
            byte[] entries = new byte[4 * nEntries + 4];
            f.readFully(entries);
            Adler32 ea = new Adler32();
            ea.update(entries, 0, 4 * nEntries);
            ByteBuffer eb = ByteBuffer.wrap(entries).order(ByteOrder.LITTLE_ENDIAN);
            long echeck = eb.getInt(4 * nEntries) & 0xFFFFFFFFL;
            if (ea.getValue() != echeck) {
              throw new IOException(seg + ": table entries checksum mismatch");
            }
            for (int i = 0; i < nEntries; i++) {
              long e = eb.getInt(4 * i) & 0xFFFFFFFFL;
              paths.add(seg);
              offs.add(base + (e & 0x7FFFFFFFL));
              comps.add((e & 0x80000000L) != 0);
            }
          }
          if (typ.equals("next") || typ.equals("done") || nextOff == 0 || nextOff == off) break;
          off = nextOff;
        }
      }
    }
    if (cs == 0) throw new IOException(path + ": no volume section found");
    if (paths.size() < nChunks) {
      throw new IOException(path + ": table entries " + paths.size() + " < chunks " + nChunks);
    }
    chunkSize = cs;
    mediaSize = sectors * bps;
    chunkPath = paths.toArray(new String[0]);
    chunkOffset = new long[offs.size()];
    chunkCompressed = new boolean[comps.size()];
    for (int i = 0; i < offs.size(); i++) {
      chunkOffset[i] = offs.get(i);
      chunkCompressed[i] = comps.get(i);
    }
  }

  /** libewf extension progression: E01..E99 -> EAA..EZZ -> FAA.. */
  static String nextExt(String ext3) {
    char first = ext3.charAt(0);
    String rest = ext3.substring(1);
    if (Character.isDigit(rest.charAt(0))) {
      int n = Integer.parseInt(rest);
      return n < 99 ? String.format("%c%02d", first, n + 1) : first + "AA";
    }
    char a = rest.charAt(0), b = rest.charAt(1);
    if (b != 'Z') return "" + first + a + (char) (b + 1);
    if (a != 'Z') return "" + first + (char) (a + 1) + 'A';
    return "" + (char) (first + 1) + "AA";
  }

  private static List<String> segmentPaths(String path) {
    List<String> out = new ArrayList<>();
    int dot = path.lastIndexOf('.');
    String ext = dot >= 0 ? path.substring(dot) : "";
    if (ext.length() != 4 || Character.toUpperCase(ext.charAt(1)) != 'E') {
      out.add(path);
      return out;
    }
    String base = path.substring(0, dot);
    boolean lower = Character.isLowerCase(ext.charAt(1));
    String canon = ext.substring(1).toUpperCase(java.util.Locale.ROOT);
    while (true) {
      String cand = base + "." + (lower ? canon.toLowerCase(java.util.Locale.ROOT) : canon);
      if (!new java.io.File(cand).exists()) break;
      out.add(cand);
      canon = nextExt(canon);
    }
    if (out.isEmpty()) out.add(path);
    return out;
  }

  private static final ConcurrentHashMap<String, java.nio.channels.FileChannel> FILES =
      new ConcurrentHashMap<>();

  private static java.nio.channels.FileChannel channel(String path) throws IOException {
    java.nio.channels.FileChannel ch = FILES.get(path);
    if (ch == null) {
      ch =
          java.nio.channels.FileChannel.open(
              java.nio.file.Paths.get(path), java.nio.file.StandardOpenOption.READ);
      java.nio.channels.FileChannel prev = FILES.putIfAbsent(path, ch);
      if (prev != null) {
        ch.close();
        ch = prev;
      }
    }
    return ch;
  }

  private static boolean adlerOk(byte[] raw, int dataLen) {
    Adler32 a = new Adler32();
    a.update(raw, 0, dataLen);
    ByteBuffer cb = ByteBuffer.wrap(raw, dataLen, 4).order(ByteOrder.LITTLE_ENDIAN);
    return a.getValue() == (cb.getInt() & 0xFFFFFFFFL);
  }

  /** Decompressed chunk idx into out (reusable); returns valid length. */
  private int chunk(int idx, byte[] out) throws IOException {
    ChunkLru cache = CACHE_BYTES >= chunkSize ? CHUNK_CACHE.get() : null;
    ChunkKey key = null;
    if (cache != null) {
      key = new ChunkKey(this, idx);
      byte[] hit = cache.get(key);
      if (hit != null) {
        System.arraycopy(hit, 0, out, 0, hit.length);
        return hit.length;
      }
    }
    int n = chunkUncached(idx, out);
    if (cache != null) {
      cache.put(key, java.util.Arrays.copyOfRange(out, 0, n));
    }
    return n;
  }

  private int chunkUncached(int idx, byte[] out) throws IOException {
    int cs = (int) chunkSize;
    byte[] raw = scratch(RAW_BUF, cs + 4096);
    {
      // positional FileChannel reads are thread-safe; channels cache per
      // segment path for the executor lifetime
      java.nio.channels.FileChannel f = channel(chunkPath[idx]);
      // compressed: zlib never grows a chunk past cs + slack; raw may be
      // a shared scratch larger than this image's geometry, so bound the
      // read by the geometry, not the buffer
      int want = chunkCompressed[idx] ? cs + 4096 : cs + 4;
      ByteBuffer bb = ByteBuffer.wrap(raw, 0, want);
      int got = 0;
      while (got < want) {
        int n = f.read(bb, chunkOffset[idx] + got);
        if (n <= 0) break;
        got += n;
      }
      if (chunkCompressed[idx]) {
        Inflater inf = new Inflater();
        try {
          inf.setInput(raw, 0, got);
          int produced = 0;
          while (produced < cs && !inf.finished()) {
            int n = inf.inflate(out, produced, cs - produced);
            if (n == 0) break;
            produced += n;
          }
          return produced;
        } catch (DataFormatException ex) {
          throw new IOException("chunk " + idx + ": bad zlib stream", ex);
        } finally {
          inf.end();
        }
      } else {
        int dataLen = Math.min(got, cs);
        if (got >= cs + 4 && !adlerOk(raw, cs)) {
          // real acquisitions may store the FINAL chunk short (media not
          // a multiple of chunk size); retry that interpretation
          long tailL = mediaSize - (long) idx * chunkSize;
          int tail = (int) tailL;
          if (tailL > 0 && tailL < cs && got >= tail + 4 && adlerOk(raw, tail)) {
            dataLen = tail;
          } else {
            throw new IOException("chunk " + idx + ": data checksum mismatch");
          }
        }
        System.arraycopy(raw, 0, out, 0, dataLen);
        return dataLen;
      }
    }
  }

  /**
   * Positioned read of decompressed media [pos, pos+len), clamped at the
   * media end — the random-access primitive for the JVM strings kernel
   * (chunk decompression reuses the per-thread buffers).
   */
  byte[] readAt(long pos, int len) throws IOException {
    if (pos >= mediaSize || len <= 0) return new byte[0];
    len = (int) Math.min(len, mediaSize - pos);
    byte[] dst = new byte[len];
    byte[] out = scratch(OUT_BUF, (int) chunkSize);
    int copied = 0;
    while (copied < len) {
      long abs = pos + copied;
      int idx = (int) (abs / chunkSize);
      if (idx >= chunkPath.length) break;
      int valid = chunk(idx, out);
      int lo = (int) (abs - (long) idx * chunkSize);
      int take = (int) Math.min((long) valid - lo, (long) len - copied);
      if (take <= 0) break;
      System.arraycopy(out, lo, dst, copied, take);
      copied += take;
    }
    return copied == len ? dst : java.util.Arrays.copyOfRange(dst, 0, copied);
  }
}
