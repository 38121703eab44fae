package sbspark;

import java.io.IOException;
import java.nio.ByteBuffer;
import java.nio.channels.FileChannel;
import java.nio.file.Paths;
import java.nio.file.StandardOpenOption;
import java.util.ArrayList;
import java.util.List;
import java.util.concurrent.ConcurrentHashMap;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF4;

/**
 * sb_scan_all(path, start, valid_length, spec) -&gt;
 * struct&lt;hits:array&lt;bigint&gt;, spans:array&lt;...&gt;, ents:array&lt;...&gt;&gt;.
 *
 * ONE positioned read per sub-chunk feeds all three evidence scans —
 * the signature scan (Ac), the string-span scan (Strs, continuation-
 * aware) and the entropy window scan (Ent) — so each chunk of evidence
 * is read once (3x less corpus egress at object-store scale than one
 * pass per scan). The sub-chunk block [start - backMargin, start +
 * valid_length + overlap) loads once into a BlockIo; the three kernels
 * run unchanged against it (Strs' rare backward-barrier / forward-
 * extension reads outside the block fall through to the underlying
 * source). Rows equal sb_scan_all_bytes' over cfg.chunk_size chunk rows
 * (ScanAllBytesUdf, the chunk-table entry; differential-pinned in
 * tests/test_fused_scan.py).
 *
 * Per-kernel semantics:
 *  - hits: packed (localOffset &lt;&lt; 16 | patIdx) with offsets relative
 *    to the SUB-CHUNK start; the scan covers [start, start+vlen+
 *    overlap) with a fresh automaton state, and the caller's
 *    normalize_hits drops localOffset &gt;= valid_length — exactly the
 *    parent-geometry dedup rule, so the union over sub-chunks equals
 *    the chunk-planned scan (overlap &gt;= max pattern length is the
 *    parent path's own cross-boundary requirement). The Ac hit cap
 *    applies per sub-chunk here vs per chunk there — divergent only
 *    past 1e6 hits per sub-chunk.
 *  - spans: Strs.scanEvidence, continuation-aware, so rows stay pinned
 *    to the chunk_size geometry whatever the sub-chunk tiling.
 *  - ents: Ent.scanEvidence — identical because the Python planner
 *    tiles sub-chunks at entropy-window multiples.
 *
 * Spec: overlap + "\n" + acSpec + "\n" + strsSpec + "\n" + entSpec
 * (no sub-spec contains a newline). An empty strsSpec / entSpec skips
 * that scan and returns empty spans / ents.
 */
public class ScanAllEvidenceUdf implements UDF4<String, Long, Long, String, Row> {
  private static final ConcurrentHashMap<String, Boolean> IS_EWF = new ConcurrentHashMap<>();
  private static final int BACK_MARGIN = 256 * 1024;

  /** Underlying positioned-read source (raw file or EWF). */
  private interface Src {
    byte[] read(long pos, int len) throws IOException;

    long length() throws IOException;
  }

  private static final class RawSrc implements Src {
    private final FileChannel ch;

    RawSrc(FileChannel ch) {
      this.ch = ch;
    }

    @Override
    public byte[] read(long pos, int len) throws IOException {
      byte[] out = new byte[len];
      ByteBuffer bb = ByteBuffer.wrap(out);
      int got = 0;
      while (got < len) {
        int n = ch.read(bb, pos + got);
        if (n <= 0) break;
        got += n;
      }
      return got == len ? out : java.util.Arrays.copyOfRange(out, 0, got);
    }

    @Override
    public long length() throws IOException {
      return ch.size();
    }
  }

  private static final class EwfSrc implements Src {
    private final EwfImage img;

    EwfSrc(EwfImage img) {
      this.img = img;
    }

    @Override
    public byte[] read(long pos, int len) throws IOException {
      return img.readAt(pos, len);
    }

    @Override
    public long length() {
      return img.mediaSize;
    }
  }

  /**
   * One preloaded block serving every in-range read; out-of-range
   * reads (Strs' backward barrier walk past the margin, forward run
   * extension past the block) fall through to the source, preserving
   * exact kernel semantics.
   */
  private static final class BlockIo implements Strs.Io, Ent.Io {
    private final Src src;
    private final byte[] block;
    private final long blockStart;

    BlockIo(Src src, byte[] block, long blockStart) {
      this.src = src;
      this.block = block;
      this.blockStart = blockStart;
    }

    @Override
    public byte[] read(long pos, int len) throws IOException {
      long rel = pos - blockStart;
      if (rel >= 0 && rel + len <= block.length) {
        return java.util.Arrays.copyOfRange(block, (int) rel, (int) (rel + len));
      }
      return src.read(pos, len);
    }
  }

  @Override
  public Row call(String path, Long start, Long validLength, String spec) throws Exception {
    String[] lines = spec.split("\n", -1);
    long overlap = Long.parseLong(lines[0]);
    Ac ac = Ac.get(lines[1]);
    // empty line = scan disabled (string scan off / entropy detection
    // off): skip that kernel and return an empty array
    Strs strs = lines[2].isEmpty() ? null : Strs.get(lines[2]);
    Ent ent = lines[3].isEmpty() ? null : Ent.get(lines[3]);

    Boolean ewf = IS_EWF.get(path);
    if (ewf == null) {
      ewf = EwfImage.isEwf(path);
      IS_EWF.putIfAbsent(path, ewf);
    }
    if (ewf) {
      EwfSrc src = new EwfSrc(EwfImage.get(path));
      return scanAll(src, overlap, ac, strs, ent, start, validLength);
    }
    // per-call channel: each call scans a whole sub-chunk (>= MiBs),
    // which amortizes the open; an unbounded per-path cache would leak
    // one fd per evidence file for the executor lifetime (a directory
    // sweep over thousands of images hits ulimit). EwfImage stays
    // cached: its value is the parsed chunk TABLE, and image counts
    // are small.
    try (FileChannel ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)) {
      return scanAll(new RawSrc(ch), overlap, ac, strs, ent, start, validLength);
    }
  }

  private static Row scanAll(
      Src src, long overlap, Ac ac, Strs strs, Ent ent, long start, long vlen)
      throws IOException {
    long total = src.length();
    // only the span scan's backward barrier walk reads before start
    long blockStart = strs == null ? start : Math.max(0, start - BACK_MARGIN);
    // overlap: the parent-geometry read margin shared by the hit scan
    // (cross-boundary matches) and most of the span scan's forward window
    long blockEnd = Math.min(start + vlen + overlap, total);
    byte[] block =
        blockEnd > blockStart ? src.read(blockStart, (int) (blockEnd - blockStart)) : new byte[0];
    BlockIo io = new BlockIo(src, block, blockStart);

    // hits: fresh-state scan of [start, blockEnd) within the block;
    // emitted offsets are sub-chunk-relative (base 0 with from=sOff)
    List<Long> hits = new ArrayList<>();
    if (start < blockStart + block.length && start < total) {
      int sOff = (int) (start - blockStart);
      ac.scanRange(block, sOff, block.length, 0, 0, hits);
      // loose-signature gates (mp3/bmp/ico): validation reads usually
      // land inside the preloaded block (BlockIo falls through to the
      // source past it); absolute offset = start + sub-chunk-relative
      // hit offset. Overlap-tail hits (offset >= vlen) skip validation
      // — normalize_hits discards them downstream.
      hits = ScanGates.filter(ac, io::read, start, hits, vlen);
    }

    List<Row> spans =
        strs == null ? new ArrayList<>() : strs.scanEvidence(io, total, start, vlen);
    List<Row> ents =
        ent == null ? new ArrayList<>() : ent.scanEvidence(io, total, start, vlen);
    return RowFactory.create(hits, spans, ents);
  }
}
