package sbspark;

import java.util.ArrayList;
import java.util.List;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF4;

/**
 * sb_scan_all_bytes(data, start, valid_length, spec) -&gt; the same
 * struct&lt;hits, spans, ents&gt; as sb_scan_all, over one chunk-table row.
 *
 * The row's bytes (its valid region plus its overlap tail) feed all
 * three scans in one call. Each row is its own parent chunk, whatever
 * chunk_size the spec names: hits are packed (localOffset &lt;&lt; 16 |
 * patIdx) over the whole row, span runs anchor at the row start and
 * truncate at its end with pieces owned by [start, start+valid_length),
 * and entropy windows tile [start, start+valid_length) from the row
 * start. The spec is sb_scan_all's; its overlap line is unused (the row
 * already carries its tail) and an empty strings / entropy line skips
 * that scan.
 */
public class ScanAllBytesUdf implements UDF4<byte[], Long, Long, String, Row> {
  @Override
  public Row call(byte[] data, Long start, Long validLength, String spec) throws Exception {
    String[] lines = spec.split("\n", -1);
    List<Long> hits = new ArrayList<>();
    List<Row> spans = new ArrayList<>();
    List<Row> ents = new ArrayList<>();
    if (data != null) {
      long s = start;
      hits = Ac.get(lines[1]).scanBytes(data);
      if (!lines[2].isEmpty()) {
        spans = Strs.get(lines[2]).scanWindow(data, s, s, s + validLength, s + data.length, null);
      }
      if (!lines[3].isEmpty()) {
        ents = Ent.get(lines[3]).scanBytes(data, s, validLength);
      }
    }
    return RowFactory.create(hits, spans, ents);
  }
}
